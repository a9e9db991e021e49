"""Wire protocol: the six-sublanguage S-expression command surface.

The reference's listener reads one tagged S-expression per command and
dispatches on the envelope tag to a sublanguage module
(lib/listener.ml:17-28, lib/envelope.ml). This module provides the same
surface as a library: ``Server.execute("(dml (InsertTuple ...))")`` parses
the statement (same record-sexp spelling as the OCaml [@@deriving sexp]
encoders, verified against the reference's own parse tests), executes it
against the versioned Database, and returns the listener's response shape —
relations serialize at most 16 tuples with a truncated flag
(lib/listener.ml:64,111-123), and every successful mutation advances the
HEAD branch tip (lib/listener.ml:47-51).

Concurrency mirrors the reference's optimistic CAS loop
(lib/listener.ml:53-59): every response carries the db hash; a writer may
pin the ``base_hash`` it executed against, and a mutation whose base is
stale (another writer advanced the head in between) is rejected with
``errors.Conflict`` — nothing is applied. Commands are serialized by a
server lock (the analogue of the reference's atomic head cell); the CAS
check runs inside it.

``TcpFrontend`` is the socket transport (lib/transport.ml parity): one
thread per connection (the reference spawns one OCaml domain per
connection, lib/listener.ml:174-187), one S-expression per command, one
newline-terminated S-expression response.
"""

from __future__ import annotations

import os
import socket
import stat
import threading
from typing import Any

from pyspark.sql import SparkSession

from sakura_spark import errors
from sakura_spark.database import Database
from sakura_spark.drl import compile_query
from sakura_spark.drl.parser import ParseError, _atom_str, _build, _value, read_sexp
from sakura_spark.icl import ast as icl_ast
from sakura_spark.management.branches import BranchManager
from sakura_spark.management.merge import PREFER_LEFT, PREFER_RIGHT, REVERT_TO_ANCESTOR
from sakura_spark.scl import DEFAULT_BATCH, SessionRegistry

RESULT_LIMIT = 16  # lib/listener.ml:64


def _fields(items: list, start: int = 1) -> dict[str, Any]:
    """Record-sexp fields: (Tag (field1 v1) (field2 v2) ...) -> dict."""
    out = {}
    for it in items[start:]:
        if not (isinstance(it, list) and len(it) >= 1 and isinstance(it[0], str)):
            raise ParseError(f"expected (field value), got {it!r}")
        out[_atom_str(it[0])] = it[1] if len(it) == 2 else it[1:]
    return out


def _attr_values(x) -> dict:
    """((name (Str "Alice")) (age (Int 30))) -> {"name": "Alice", "age": 30}"""
    return {_atom_str(p[0]): _value(p[1]) for p in x}


# --- ICL wire AST -> icl.ast (And/Or are n-ary lists in the wire form) ------


def _binding(x) -> icl_ast.Binding:
    if isinstance(x, list) and len(x) == 2 and x[0] == "Var":
        return icl_ast.Var(_atom_str(x[1]))
    if isinstance(x, list) and len(x) == 2 and x[0] == "Const":
        return icl_ast.ConstVal(_value(x[1]))
    raise ParseError(f"bad binding expr: {x!r}")


def parse_constraint_body(x) -> icl_ast.Body:
    tag = x[0]
    if tag == "MemberOf":
        f = _fields(x)
        return icl_ast.MemberOf(
            _atom_str(f["target"]),
            tuple((_atom_str(p[0]), _binding(p[1])) for p in f["binding"]),
        )
    if tag == "Not":
        f = _fields(x)
        # The wire form carries a universe relation; violations-compilation
        # makes the closed world implicit (SURVEY §2.4).
        return icl_ast.Not(parse_constraint_body(f["body"]))
    if tag in ("And", "Or"):
        parts = [parse_constraint_body(p) for p in x[1]]
        if not parts:
            raise ParseError(f"empty {tag}")
        cls = icl_ast.And if tag == "And" else icl_ast.Or
        out = parts[0]
        for p in parts[1:]:
            out = cls(out, p)
        return out
    if tag in ("Exists", "Forall"):
        f = _fields(x)
        cls = icl_ast.Exists if tag == "Exists" else icl_ast.Forall
        return cls(
            _atom_str(f["variable"]), _atom_str(f["quantifier"]), parse_constraint_body(f["body"])
        )
    raise ParseError(f"unknown constraint body: {tag!r}")


_STRATEGIES = {
    "PreferLeft": PREFER_LEFT,
    "PreferRight": PREFER_RIGHT,
    "RevertToAncestor": REVERT_TO_ANCESTOR,
}


def _sexp_atom(v) -> str:
    if isinstance(v, bool):
        return "true" if v else "false"
    if v is None:
        return "()"
    if isinstance(v, str):
        return '"' + v.replace("\\", "\\\\").replace('"', '\\"') + '"'
    return str(v)


def _atom(v) -> str:
    """sexplib-style atom: quoted only when it must be (whitespace, parens,
    quotes, empty); simple symbols — tags, hashes, relation names — render
    bare, exactly as the reference's serialized responses do."""
    s = str(v)
    if s and not any(c in s for c in ' \t\n\r()";|'):
        return s
    return _sexp_atom(s)


def _ocaml_float(f: float) -> str:
    """OCaml ``string_of_float`` parity for tuple values: %.12g with a
    trailing '.' on integral results ("2." not "2.0"); NaN and infinities
    collapse to "nan" (Conventions.AbstractValue.sexp_of_t,
    lib/conventions.ml:37-40)."""
    import math

    if math.isnan(f) or math.isinf(f):
        return "nan"
    s = "%.12g" % f
    return s if ("." in s or "e" in s or "E" in s) else s + "."


def _value_atom(v) -> str:
    """One tuple attribute value, rendered the way the reference's
    AbstractValue serializer does (lib/conventions.ml:31-41): ints bare
    (OCaml bools are immediate ints -> 1/0), floats via string_of_float,
    strings as sexplib atoms (quoted only when needed), anything the
    reference could not represent as <opaque>."""
    if isinstance(v, bool):
        return "1" if v else "0"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        return _ocaml_float(v)
    if v is None:
        return "<opaque>"
    return _atom(v)


def _parsed_sexp_str(x) -> str:
    """Re-render a read_sexp() value structurally — the inverse of the
    parser's representation (quoted atoms carry a leading '\"' sentinel).
    Used to embed the offending expression in malformed-expression the way
    lib/error.ml:30 embeds the parsed Sexp.t, not the source text."""
    if isinstance(x, list):
        return "(" + " ".join(_parsed_sexp_str(i) for i in x) + ")"
    return _atom(x[1:] if isinstance(x, str) and x.startswith('"') else x)


def error_sexp(e: Exception) -> str:
    """Render an exception as the reference listener's error response:
    ``(error (<kebab-variant> (field value) ...))`` — the single-List wrap
    of lib/listener.ml:98, variant atoms and field spellings exactly per
    lib/error.ml:17-33 (relation-not-found, relation-already-exists,
    tuple-not-found, duplicate-tuple, constraint-violation,
    unrecognized-sublanguage, malformed-expression, syntax-error, conflict,
    sublanguage-error). SCL cursor failures nest the sublanguage's own
    error sexp — (sublanguage-error (error (cursor-error ...))) — matching
    Error.SublanguageError (lib/scl/executor.ml:24-28). Non-Sakura
    exceptions (Py4J, bugs) keep the InternalError extension — the
    reference's OCaml type system has no analogue of an escaping runtime
    exception."""

    def render(tag: str, *fields: tuple[str, object]) -> str:
        payload = "".join(f" ({k} {_atom(v)})" for k, v in fields)
        return f"(error ({tag}{payload}))"

    if isinstance(e, errors.UnknownRelation):
        return render("relation-not-found", ("relation", str(e)))
    if isinstance(e, errors.RelationExists):
        return render("relation-already-exists", ("relation", str(e)))
    if isinstance(e, errors.UnknownTuple):
        return render("tuple-not-found", ("hash", str(e)))
    if isinstance(e, errors.DuplicateTuple):
        return render("duplicate-tuple", ("hash", str(e)))
    if isinstance(e, errors.ConstraintViolation):
        return render("constraint-violation", ("message", str(e)))
    if isinstance(e, errors.UnrecognizedSublanguage):
        return render("unrecognized-sublanguage", ("tag", str(e)))
    if isinstance(e, errors.MalformedExpression):
        # lib/error.ml:30 embeds the PARSED sexp structurally, not the
        # quoted source text; the raiser attaches it as e.sexp.
        inner = getattr(e, "sexp", None)
        embedded = _parsed_sexp_str(inner) if inner is not None else _atom(str(e))
        return f"(error (malformed-expression (expression {embedded})))"
    if isinstance(e, errors.Conflict):
        return render(
            "conflict",
            ("old-hash", e.expected or "--"),
            ("new-hash", e.actual or "--"),
        )
    if isinstance(e, ParseError):
        return render("syntax-error", ("message", str(e)))
    if isinstance(e, errors.CursorError):
        # lib/scl/executor.ml:28 (cursor-error <msg>) nested under the
        # listener's SublanguageError wrap (lib/listener.ml:38).
        return f"(error (sublanguage-error (error (cursor-error {_atom(str(e))}))))"
    if isinstance(e, errors.BranchNotFound):
        # lib/dcl/executor.ml:19 (branch-not-found <name>) under the
        # listener's SublanguageError wrap.
        return (
            f"(error (sublanguage-error (error (branch-not-found {_atom(str(e))}))))"
        )
    if isinstance(e, errors.StorageError):
        # lib/dcl/executor.ml:22 (storage-error <msg>) under the same
        # wrap — the UpdateBranchTip missing-branch path among others.
        return (
            f"(error (sublanguage-error (error (storage-error {_atom(str(e))}))))"
        )
    if isinstance(e, errors.SclParseError):
        # lib/scl/executor.ml:24-26 (parse-error <msg>) under the same
        # SublanguageError wrap — the validate() rejection path
        # (lib/scl/parser.ml:3-7).
        return f"(error (sublanguage-error (error (parse-error {_atom(str(e))}))))"
    if isinstance(e, errors.SakuraError):
        # Any other engine diagnostic wraps like the reference's
        # SublanguageError catch-all (lib/error.ml:31).
        return render("sublanguage-error", ("error", str(e)))
    return render("InternalError", ("message", f"{type(e).__name__}: {e}"))




class Server:
    """The engine assembled the way lib/system.ml wires the reference:
    database + branch registry + cursor sessions behind one dispatcher."""

    def __init__(
        self,
        spark: SparkSession,
        name: str = "db",
        store=None,
        snapshot_on_mutation: bool = True,
    ):
        self.spark = spark
        self.db = Database(spark, name, store=store, snapshot_on_mutation=snapshot_on_mutation)
        self.branches = BranchManager(self.db.store)
        self.sessions = SessionRegistry()
        self.result_limit = RESULT_LIMIT
        # The analogue of the reference's `Atomic.make db` head cell
        # (lib/listener.ml:181): commands serialize on this lock and the
        # CAS base-hash check runs inside it.
        self._lock = threading.RLock()

    # --- public API --------------------------------------------------------

    # DCL statements that mutate server state (the rest are reads).
    _MUTATING_DCL = {"CreateBranch", "Checkout", "UpdateBranchTip", "Merge"}

    def _is_mutation(self, tag: str, stmt) -> bool:
        if tag in ("ddl", "dml", "icl"):
            return True
        if tag == "dcl":
            s = stmt[0] if isinstance(stmt, list) else stmt
            return s in self._MUTATING_DCL
        return False

    def execute(self, text: str, base_hash: str | None = None) -> dict:
        """One wire command: '(tag statement)'.

        ``base_hash`` is the optimistic-concurrency pin: the db hash this
        writer last observed (returned in every response). If another
        writer advanced the head since, a mutation fails with
        ``errors.Conflict`` BEFORE anything is applied — the
        compare-and-set of lib/listener.ml:53-59. Readers and un-pinned
        writers (base_hash=None, last-writer-wins) are unaffected.

        Remote writers express the pin in-band with the ``(cas <hash>
        (tag statement))`` envelope. The reference's listener runs the
        same compare-and-set server-side on its atomic head cell
        (lib/listener.ml:56: each connection's domain races on the head);
        our server lock removes that race, so the envelope carries the
        head the CLIENT observed instead — same contract, same Conflict
        response, same retry-by-re-reading-the-head loop.
        """
        sexp = read_sexp(text)
        if isinstance(sexp, list) and len(sexp) == 3 and sexp[0] == "cas":
            base_hash = _atom_str(sexp[1])
            sexp = sexp[2]
        if not (isinstance(sexp, list) and len(sexp) == 2 and isinstance(sexp[0], str)):
            # lib/listener.ml:44-45 — MalformedExpression carries the
            # PARSED sexp (lib/error.ml:30 embeds it structurally).
            exc = errors.MalformedExpression(text.strip())
            exc.sexp = sexp
            raise exc
        tag, stmt = sexp
        handler = getattr(self, f"_exec_{tag}", None)
        if handler is None:
            # lib/listener.ml:33-34 — UnrecognizedSublanguage carries the tag.
            raise errors.UnrecognizedSublanguage(tag)
        with self._lock:
            if (
                base_hash is not None
                and self._is_mutation(tag, stmt)
                and self.db.hash is not None
                and base_hash != self.db.hash
            ):
                raise self._conflict(base_hash, tag, stmt, handler)
            result = handler(stmt)
            self._advance_head()
        return result

    def _conflict(self, base_hash: str, tag: str, stmt, handler) -> Exception:
        """Build the Conflict for a stale-base mutation with the REFERENCE's
        field semantics (lib/listener.ml:53-58): old-hash is the stale base
        the command executed against, new-hash is the db hash the command
        WOULD have produced from that base (Conflict.new_db is the rejected
        transition result, not the head that won the race). We check the
        CAS before applying, so the would-be result is computed by
        speculatively replaying the command against the stale snapshot —
        loaded from the store, mutated, discarded; the live head is never
        touched, and content-addressed writes of the speculative snapshot
        are harmless. Restricted to pure db transitions (ddl/dml/icl);
        DCL mutations also move branch state, which a speculative replay
        must not do — for those, new-hash reports the winning head and the
        divergence is documented here. If the stale manifest is not in the
        store (snapshot-off servers), same fallback."""
        if tag not in ("ddl", "dml", "icl"):
            return errors.Conflict(expected=base_hash, actual=self.db.hash)
        try:
            stale = Database.load(self.spark, base_hash, self.db.store, name=self.db.name)
        except Exception:
            return errors.Conflict(expected=base_hash, actual=self.db.hash)
        live = self.db
        try:
            self.db = stale
            handler(stmt)
            out = self.db  # handlers may rebind self.db (CreateDatabase)
            would_be = out.hash if out.hash is not None else out.commit()
        except errors.SakuraError as exc:
            # Reference ordering: execution happens BEFORE the CAS
            # (lib/listener.ml perform), so a command that fails on its
            # stale base surfaces ITS error, not Conflict.
            return exc
        except Exception:
            return errors.Conflict(expected=base_hash, actual=live.hash)
        finally:
            self.db = live
        return errors.Conflict(expected=base_hash, actual=would_be)

    # --- DRL ---------------------------------------------------------------

    def _branch_name(self) -> str:
        """HEAD branch name or "--" (lib/listener.ml get_branch)."""
        try:
            return self.branches.get_head()
        except errors.UnknownBranch:
            return "--"

    def _relation_response(self, df, name: str = "derived", schema_pairs=None) -> dict:
        """Query response, field-for-field the reference's serialize shape
        (lib/listener.ml:111-123): name, schema, rows, row_count,
        truncated, db_hash, db_name, branch.

        Truncation edge per lib/listener.ml:67-83 (materialize_generator):
        the flag means "collection STOPPED at the limit", which is true as
        soon as `limit` rows were gathered — a relation of EXACTLY 16 rows
        reports truncated=true (the generator is never advanced past the
        16th row to learn it was the last). We fetch limit+1 and keep 16,
        so the flag is >= limit, reproducing that edge.

        ``schema_domains`` carries (attr, declared-domain) pairs for the
        listener sexp shape (the reference serializes Relation.schema's
        domain names); derived queries fall back to the Spark-type ->
        domain mapping used by the sakura:attribute catalog."""
        from sakura_spark.domains import domain_for_spark_type

        rows = df.limit(self.result_limit + 1).collect()
        truncated = len(rows) >= self.result_limit
        kept = rows[: self.result_limit]
        if schema_pairs is None:
            schema_pairs = [
                (f.name, domain_for_spark_type(f.dataType)) for f in df.schema.fields
            ]
        return {
            "relation": name,
            "schema": df.columns,
            "schema_domains": [tuple(p) for p in schema_pairs],
            "rows": [list(r) for r in kept],
            "row_count": len(kept),
            "truncated": truncated,
            "db_hash": self.db.hash,
            "db_name": self.db.name,
            "branch": self._branch_name(),
        }

    def _exec_drl(self, stmt) -> dict:
        q = _build(stmt)
        df = compile_query(self.spark, q, self.db.resolver, gate=True)
        # A plain (Base "x") serializes under the stored relation's name
        # and declared schema domains, like the reference's Query result
        # (rel.Relation.name / rel.Relation.schema); derived queries are
        # anonymous.
        name, pairs = "derived", None
        if isinstance(stmt, list) and len(stmt) == 2 and stmt[0] == "Base":
            name = _atom_str(stmt[1])
            rel = self.db.state.relations.get(name)
            if rel is not None:
                pairs = rel.schema_pairs
        return self._relation_response(df, name=name, schema_pairs=pairs)

    # --- DDL ---------------------------------------------------------------

    def _exec_ddl(self, stmt) -> dict:
        tag = stmt[0]
        if tag == "CreateDatabase":
            # One database per server in this assembly; recreate = reset.
            self.db = Database(
                self.spark, _atom_str(stmt[1]), store=self.db.store,
                snapshot_on_mutation=self.db.snapshot_on_mutation,
            )
            return self._ok(f"Database created: {self.db.name}")
        if tag == "CreateRelation":
            f = _fields(stmt)
            schema = [(_atom_str(p[0]), _atom_str(p[1])) for p in f["schema"]]
            self.db.create_relation(_atom_str(f["name"]), schema)
            return self._ok(f"Relation created: {_atom_str(f['name'])}")
        if tag == "RetractRelation":
            self.db.retract_relation(_atom_str(stmt[1]))
            return self._ok(f"Relation retracted: {_atom_str(stmt[1])}")
        if tag == "ClearRelation":
            self.db.clear_relation(_atom_str(stmt[1]))
            return self._ok(f"Relation cleared: {_atom_str(stmt[1])}")
        if tag == "RegisterDomain":
            from sakura_spark.domains import Domain
            from pyspark.sql import types as T

            f = _fields(stmt)
            card = f["cardinality"]
            card_name = card if isinstance(card, str) else card[0]
            # Opaque user domains accept any value (shallow checking,
            # lib/manipulation.ml:20-33); stored as strings.
            self.db.register_domain(
                Domain(_atom_str(f["name"]), T.StringType(), cardinality=card_name.lower())
            )
            return self._ok(f"Domain registered: {_atom_str(f['name'])}")
        raise ParseError(f"unknown ddl statement: {tag!r}")

    # --- DML ---------------------------------------------------------------

    def _exec_dml(self, stmt) -> dict:
        tag = stmt[0]
        if tag == "InsertTuple":
            f = _fields(stmt)
            self.db.insert_tuples(_atom_str(f["relation"]), [_attr_values(f["attributes"])])
            return self._ok()
        if tag == "InsertTuples":
            f = _fields(stmt)
            rows = [_attr_values(t) for t in f["tuples"]]
            self.db.insert_tuples(_atom_str(f["relation"]), rows)
            return self._ok()
        if tag == "DeleteTuple":
            f = _fields(stmt)
            self.db.delete_tuples(_atom_str(f["relation"]), [_attr_values(f["attributes"])])
            return self._ok()
        if tag == "Assign":
            f = _fields(stmt)
            df = compile_query(self.spark, _build(f["body"]), self.db.resolver)
            self.db.assign(_atom_str(f["target"]), df)
            return self._ok()
        if tag == "InsertFrom":
            f = _fields(stmt)
            df = compile_query(self.spark, _build(f["source"]), self.db.resolver)
            self.db.insert_from(_atom_str(f["target"]), df)
            return self._ok()
        if tag == "DeleteWhere":
            f = _fields(stmt)
            df = compile_query(self.spark, _build(f["predicate"]), self.db.resolver)
            self.db.delete_where(_atom_str(f["target"]), df)
            return self._ok()
        raise ParseError(f"unknown dml statement: {tag!r}")

    # --- ICL ---------------------------------------------------------------

    def _exec_icl(self, stmt) -> dict:
        if stmt[0] != "RegisterConstraint":
            raise ParseError(f"unknown icl statement: {stmt[0]!r}")
        f = _fields(stmt)
        self.db.register_constraint(
            _atom_str(f["constraint_name"]),
            _atom_str(f["relation_name"]),
            parse_constraint_body(f["body"]),
        )
        return self._ok(f"Constraint registered: {_atom_str(f['constraint_name'])}")

    # --- DCL ---------------------------------------------------------------

    def _exec_dcl(self, stmt) -> dict:
        tag = stmt[0]
        if tag == "CreateBranch":
            f = _fields(stmt)
            h = _atom_str(f["hash"]) if "hash" in f else self.db.hash or self.db.commit()
            self.branches.create_branch(_atom_str(f["name"]), h)
            return self._ok(f"Branch {_atom_str(f['name'])} created")
        if tag == "Checkout":
            self.db = self.branches.checkout(self.spark, _atom_str(stmt[1]))
            return self._ok(f"HEAD:{_atom_str(stmt[1])}")
        if tag == "GetHead":
            # lib/dcl/executor.ml:61-62: an unset HEAD is not an error —
            # the Transition message says so ("HEAD is unset").
            try:
                head = self.branches.get_head()
            except errors.UnknownBranch:
                return {"head": None, "db_hash": self.db.hash, "message": "HEAD is unset"}
            return {"head": head, "db_hash": self.db.hash, "message": f"HEAD:{head}"}
        if tag == "GetBranchTip":
            tip = self.branches.get_branch_tip(_atom_str(stmt[1]))
            return {"tip": tip, "message": f"branch:{_atom_str(stmt[1])}={tip}"}
        if tag == "UpdateBranchTip":
            f = _fields(stmt)
            self.branches.update_branch_tip(_atom_str(f["name"]), _atom_str(f["hash"]))
            return self._ok(f"Branch {_atom_str(f['name'])} updated")
        if tag == "Merge":
            f = _fields(stmt)
            strategy = _STRATEGIES[
                f["strategy"] if isinstance(f["strategy"], str) else f["strategy"][0]
            ]
            merged, conflicts = self.branches.merge(
                self.spark, _atom_str(f["left"]), _atom_str(f["right"]), strategy
            )
            if self.branches.get_head() == _atom_str(f["left"]):
                self.db = merged
            return {
                "conflicts": conflicts,
                "db_hash": merged.hash,
                "message": f"Merged:{_atom_str(f['right'])}\u2192{_atom_str(f['left'])}",
            }
        raise ParseError(f"unknown dcl statement: {tag!r}")

    # --- SCL ---------------------------------------------------------------

    @staticmethod
    def _scl_limit(f) -> int:
        """Optional (limit N) field with the reference parser's validation
        (lib/scl/parser.ml:3-7): an explicit non-positive limit is a
        statement-level rejection with the verbatim message, BEFORE any
        execution — absent limit falls back to the 50-row default
        (lib/scl/executor.ml:1)."""
        if "limit" not in f:
            return DEFAULT_BATCH
        limit = int(_atom_str(f["limit"]))
        if limit <= 0:
            raise errors.SclParseError(
                "The provision of `limit` is expected to be positive."
            )
        return limit

    def _exec_scl(self, stmt) -> dict:
        tag = stmt[0]
        if tag == "Begin":
            f = _fields(stmt)
            q = _build(f["query"])
            limit = self._scl_limit(f)
            df = compile_query(self.spark, q, self.db.resolver)
            cid, batch = self.sessions.begin(
                df, query=str(f["query"]), db_hash=self.db.hash, limit=limit
            )
            return self._cursor_response(cid, batch, schema=df.columns)
        if tag == "Fetch":
            f = _fields(stmt)
            limit = self._scl_limit(f)
            cid = _atom_str(f["cursor"])
            batch = self.sessions.fetch(cid, limit)
            return self._cursor_response(cid, batch)
        if tag == "Close":
            f = _fields(stmt)
            self.sessions.close(_atom_str(f["cursor"]))
            return self._ok("cursor closed")
        raise ParseError(f"unknown scl statement: {tag!r}")

    # --- internals ---------------------------------------------------------

    def _ok(self, message: str = "updated") -> dict:
        """Transition response (lib/listener.ml serialize Ok Transition):
        ok + message + db_hash + db_name + branch. Message strings follow
        the reference executors verbatim (lib/ddl/executor.ml:34-61
        "Relation created: N" etc., lib/dml/sublanguage.ml:19 "updated",
        lib/icl/executor.ml:52 "Constraint registered: N",
        lib/dcl/executor.ml:42-96, lib/scl/sublanguage.ml:22
        "cursor closed")."""
        return {
            "ok": True,
            "message": message,
            "db_hash": self.db.hash,
            "db_name": self.db.name,
            "branch": self._branch_name(),
        }

    def _cursor_response(self, cid: str, batch, schema: list[str] | None = None) -> dict:
        """Cursor response (lib/listener.ml serialize Ok Cursor): id, rows,
        row_count, has_more, db_hash, db_name, branch. The schema rides
        along in the dict (column names for the listener sexp's
        attribute-pair row shape — the reference's Cursor serialize has no
        schema field; its rows carry attribute names in-band)."""
        if schema is None and batch:
            schema = list(batch[0].__fields__)
        return {
            "cursor": cid,
            "rows": [list(r) for r in batch],
            "row_count": len(batch),
            "has_more": cid in self.sessions.open_cursors(),
            "db_hash": self.db.hash,
            "db_name": self.db.name,
            "branch": self._branch_name(),
            "schema": schema or [],
        }

    def _listener_sexp(self, d: dict) -> str:
        """Render a response dict as the reference listener's EXACT output
        shape (lib/listener.ml:96-130 serialize): a tagged list
        ``(relation ...)`` / ``(cursor ...)`` / ``(ok ...)`` whose rows are
        attribute-name-sorted (attr value) pairs (tuple_to_sexp over the
        AttributeMap) with AbstractValue-style value atoms. The richer
        dict from :meth:`execute` stays the in-process API; this is the
        byte-level wire surface."""

        def pair(k, v):
            return f"({k} {_atom(v)})"

        def bool_atom(b):
            return "true" if b else "false"

        def row_pairs(schema, row):
            cells = sorted(zip(schema, row), key=lambda kv: kv[0])
            return "(" + " ".join(f"({a} {_value_atom(v)})" for a, v in cells) + ")"

        db_hash = d.get("db_hash") or "--"
        tail = (
            f"{pair('db_hash', db_hash)} "
            f"{pair('db_name', d.get('db_name', self.db.name))} "
            f"{pair('branch', d.get('branch', self._branch_name()))}"
        )
        if "relation" in d:
            schema = "(" + " ".join(f"({a} {dom})" for a, dom in d["schema_domains"]) + ")"
            rows = "(" + " ".join(row_pairs(d["schema"], r) for r in d["rows"]) + ")"
            return (
                f"(relation (name {_atom(d['relation'])}) (schema {schema}) "
                f"(rows {rows}) (row_count {d['row_count']}) "
                f"(truncated {bool_atom(d['truncated'])}) {tail})"
            )
        if "cursor" in d:
            rows = "(" + " ".join(row_pairs(d["schema"], r) for r in d["rows"]) + ")"
            return (
                f"(cursor (id {_atom(d['cursor'])}) (rows {rows}) "
                f"(row_count {d['row_count']}) "
                f"(has_more {bool_atom(d['has_more'])}) {tail})"
            )
        if d.get("conflicts"):
            # The reference's Merge surfaces conflicts as the DCL
            # sublanguage error (lib/dcl/executor.ml:84-91) wrapped by the
            # listener's SublanguageError (lib/listener.ml:38); the dict
            # API returns them in-band instead.
            msg = "Merge failed: " + "; ".join(str(c) for c in d["conflicts"])
            return f"(error (sublanguage-error (error (conflict {_sexp_atom(msg)}))))"
        # Transition / informational: (ok (message M) (db_hash ...) ...)
        # — GetHead/GetBranchTip are Transitions whose payload is the
        # message string ("HEAD:main", "branch:n=h"), lib/dcl/executor.ml:62,68.
        msg = d.get("message", "updated")
        return f"(ok (message {_atom(msg)}) {tail})"

    def execute_sexp(self, text: str, base_hash: str | None = None) -> str:
        """Full listener parity: execute and render the response as an
        S-expression string — the reference's serialize shapes
        (lib/listener.ml:96-130) via :meth:`_listener_sexp`; errors render
        single-wrapped with the reference's kebab-case variant atoms and
        (field value) payloads (lib/error.ml:17-33) via
        :func:`error_sexp`."""
        try:
            return self._listener_sexp(self.execute(text, base_hash=base_hash))
        except Exception as e:  # noqa: BLE001 — listener parity: EVERY
            # failure serializes as a response (lib/listener.ml renders all
            # exceptions); letting a Py4J/AnalysisException escape would
            # kill the connection thread and leave the client hanging.
            return error_sexp(e)

    def _advance_head(self) -> None:
        """HEAD branch tip follows the database head (lib/listener.ml:47-51)."""
        try:
            head = self.branches.get_head()
        except errors.UnknownBranch:
            return
        if self.db.hash and self.branches.get_branch_tip(head) != self.db.hash:
            try:
                self.branches.update_branch_tip(head, self.db.hash)
            except (errors.UnknownBranch, errors.StorageError):
                pass


# --- TCP transport (lib/transport.ml / lib/listener.ml:174-187 parity) ------


def _split_complete_sexp(buf: str) -> tuple[str | None, str]:
    """Return (first complete S-expression, remainder) or (None, buf) if the
    buffer does not yet hold a balanced expression. Paren depth is tracked
    outside double-quoted strings (with backslash escapes) — the streaming
    framing the reference gets from Sexplib.Sexp.input_sexp."""
    depth = 0
    in_str = False
    esc = False
    started = False
    for i, ch in enumerate(buf):
        if in_str:
            if esc:
                esc = False
            elif ch == "\\":
                esc = True
            elif ch == '"':
                in_str = False
            continue
        if ch == '"':
            in_str = True
            started = True
        elif ch == "(":
            depth += 1
            started = True
        elif ch == ")":
            depth -= 1
            if depth == 0 and started:
                return buf[: i + 1], buf[i + 1 :]
            if depth < 0:
                raise ParseError("unbalanced ')' in stream")
    return None, buf


class TcpFrontend:
    """Thin socket listener around :class:`Server` (lib/transport.ml:14-74 +
    lib/listener.ml:174-187): accept loop in one thread, one handler thread
    per connection (the reference spawns one OCaml domain each), one
    S-expression in, one newline-terminated S-expression response out
    (lib/listener.ml's output_response appends the newline). All command
    execution funnels through ``Server.execute`` so the CAS/lock semantics
    are identical to in-process use.

    Like the reference's transport (lib/transport.ml:23-29, parse at
    :31-50), the listener binds either an INET ``(address, port)`` pair or
    an AF_UNIX socket ``path`` — supplying both is a configuration error
    (transport.ml:38 rejects the mix with the same message)."""

    def __init__(
        self,
        server: Server,
        host: str | None = None,
        port: int | None = None,
        path: str | None = None,
    ):
        self.server = server
        if path is not None:
            if host is not None or port is not None:
                # lib/transport.ml:38
                raise ValueError("transport/tcp: use (address + port) or (path), not both")
            self._sock = socket.socket(socket.AF_UNIX, socket.SOCK_STREAM)
            # A crashed prior run leaves its socket file behind (unlink
            # only runs on clean stop), and bind would fail EADDRINUSE with
            # no listener alive. Standard unix-listener practice: remove a
            # stale path first — but only if it actually is a socket, so a
            # mistyped path never deletes a regular file.
            try:
                if stat.S_ISSOCK(os.stat(path).st_mode):
                    os.unlink(path)
            except FileNotFoundError:
                pass
            self._sock.bind(path)
            self.host: str | None = None
            self.port: int | None = None
            self.path: str | None = path
        else:
            self._sock = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
            self._sock.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
            self._sock.bind((host or "127.0.0.1", port or 0))
            self.host, self.port = self._sock.getsockname()
            self.path = None
        self._sock.listen(5)  # lib/transport.ml:66
        self._stop = threading.Event()
        self._threads: list[threading.Thread] = []
        self._conns: set[socket.socket] = set()  # open client connections
        self._accept_thread: threading.Thread | None = None

    def start(self) -> "TcpFrontend":
        self._accept_thread = threading.Thread(target=self._accept_loop, daemon=True)
        self._accept_thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        # Closing a socket does not wake a thread blocked in accept() or
        # recv() on it; shutting it down does, so the joins below return
        # at once instead of running out their timeouts.
        for s in [self._sock, *list(self._conns)]:
            try:
                s.shutdown(socket.SHUT_RDWR)
            except OSError:
                pass
        try:
            self._sock.close()
        except OSError:
            pass
        if self.path is not None:
            try:
                os.unlink(self.path)
            except OSError:
                pass
        if self._accept_thread is not None:
            self._accept_thread.join(timeout=5)
        for t in self._threads:
            t.join(timeout=5)

    def __enter__(self) -> "TcpFrontend":
        return self.start()

    def __exit__(self, *exc) -> None:
        self.stop()

    def _accept_loop(self) -> None:
        while not self._stop.is_set():
            try:
                conn, _ = self._sock.accept()
            except OSError:
                return  # socket closed by stop()
            self._conns.add(conn)
            t = threading.Thread(target=self._handle_client, args=(conn,), daemon=True)
            t.start()
            # Prune finished handlers so a long-lived server's thread list
            # stays O(live connections), not O(all connections ever).
            self._threads = [x for x in self._threads if x.is_alive()]
            self._threads.append(t)

    def _handle_client(self, conn: socket.socket) -> None:
        import codecs

        # Incremental decoder: a multi-byte UTF-8 sequence split across
        # recv() boundaries must not be mangled by per-chunk decoding.
        decoder = codecs.getincrementaldecoder("utf-8")(errors="replace")
        buf = ""
        try:
            while not self._stop.is_set():
                try:
                    data = conn.recv(65536)
                except OSError:
                    return
                if not data:
                    return  # End_of_file -> connection done (lib/listener.ml:169)
                buf += decoder.decode(data)
                while True:
                    try:
                        cmd, buf = _split_complete_sexp(buf)
                    except ParseError as e:
                        conn.sendall((error_sexp(e) + "\n").encode())
                        buf = ""
                        break
                    if cmd is None:
                        break
                    resp = self.server.execute_sexp(cmd)
                    conn.sendall((resp + "\n").encode())
        finally:
            self._conns.discard(conn)
            try:
                conn.close()
            except OSError:
                pass
