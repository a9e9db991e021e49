"""The versioned Database — DDL, DML, constraints, catalog, history.

Capability-parity with the reference's management/manipulation layer
(lib/management/database.ml, lib/manipulation.ml), re-architected for Spark:

* a relation's extension is a DataFrame with set semantics enforced on the
  write path (duplicate rejection via tuple-hash anti-join, not per-tuple
  Merkle lookups);
* every committed state is a content-addressed snapshot: relation parquet
  keyed by relation hash, database manifest keyed by the Merkle-root
  database hash — giving time travel, branches, diff and 3-way merge
  (management/*);
* relation hashes are incremental: each Relation keeps the set-homomorphic
  Digest its hash is finalized from (hashing.Digest), and every statement
  adds the digest of the tuples it inserts or removes to the aggregate it
  already runs, so it knows the new hash without an extra job. A snapshot
  of such a relation is one staged parquet write, or nothing when the
  store already holds that hash. Only a relation whose digest is unknown
  (a mounted frame, a merged relation, a load this process never hashed)
  is rescanned by ``relation_hash``, once;
* constraint enforcement is whole-batch: each ICL constraint compiles to a
  violations-DataFrame (icl/compiler), with polarity-driven cascade
  narrowing (SURVEY §4.3) instead of the reference's per-tuple focused
  re-checks. Each statement (register_constraint, insert, delete, assign,
  commit) gathers all of its checks — immediate, cascade, deferred at
  commit — and validates them with one tagged Spark job
  (``_run_violation_checks``);
* mutations are validate-then-apply: the new state is only installed after
  every immediate constraint passes, which has the same observable
  semantics as the reference's apply-then-rollback CAS loop.

History depth is capped at 128 states (lib/management/database.ml:45).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from sakura_spark import errors
from sakura_spark.algebra import local_frame
from sakura_spark.domains import Domain, DomainRegistry, schema_to_struct
from sakura_spark.hashing import (
    TUPLE_HASH_COL,
    Digest,
    database_hash,
    digest_word_sums,
    relation_hash,
    schema_signature,
    tuple_hash_expr,
    with_tuple_hash,
)
from sakura_spark.icl import ast as icl_ast
from sakura_spark.icl import compiler as icl_compiler
from sakura_spark.management.store import SnapshotStore

HISTORY_CAP = 128

IMMEDIATE = "immediate"
DEFERRED = "deferred"

# The catalog relations' attributes, all strings (lib/prelude/catalog.ml).
CATALOG_SCHEMAS = {
    name: StructType([StructField(a, StringType()) for a in attrs])
    for name, attrs in {
        "sakura:relation": ["name"],
        "sakura:domain": ["name"],
        "sakura:attribute": ["relation_name", "attr_name", "domain_name"],
        "sakura:constraint": ["name", "relation_name"],
        "sakura:on": ["event"],
        "sakura:timing": ["timing"],
    }.items()
}

# One constraint check: (constraint name, relation, message, violations df).
Check = tuple[str, str, str, DataFrame]


def _at_union_types(df: DataFrame, batch: DataFrame) -> tuple[DataFrame, DataFrame]:
    """df and batch, each cast to the column types of
    ``df.unionByName(batch)`` — the types the stored union takes — and
    returned as the same object when it already has them. A tuple hash is
    over each value cast to string, which depends on its type (3 is "3" as
    a bigint, "3.0" as a double), so duplicates and digests are only
    comparable at the stored types. A driver-side schema compare; no job."""
    types = {f.name: f.dataType for f in df.schema.fields}
    if all(types[f.name] == f.dataType for f in batch.schema.fields):
        return df, batch
    types = {f.name: f.dataType for f in df.unionByName(batch).schema.fields}

    def cast(frame: DataFrame) -> DataFrame:
        if all(types[f.name] == f.dataType for f in frame.schema.fields):
            return frame
        return frame.select(*[F.col(c).cast(types[c]).alias(c) for c in frame.columns])

    return cast(df), cast(batch)


@dataclass
class Constraint:
    name: str
    relation: str
    body: icl_ast.Body
    timing: str = IMMEDIATE


@dataclass
class Relation:
    name: str
    schema_pairs: list[tuple[str, str]]  # (attr, domain)
    df: DataFrame
    hash: str | None = None  # computed lazily on snapshot
    # The hashing Digest of df's extension, kept through every statement;
    # None when unknown. Known implies df is duplicate-free.
    digest: Digest | None = None

    @property
    def attrs(self) -> list[str]:
        return [a for a, _ in self.schema_pairs]


@dataclass
class _State:
    """One immutable database state (what a db hash points to)."""

    relations: dict[str, Relation] = field(default_factory=dict)
    constraints: dict[str, Constraint] = field(default_factory=dict)


class Database:
    def __init__(
        self,
        spark: SparkSession,
        name: str,
        store: SnapshotStore | None = None,
        snapshot_on_mutation: bool = True,
    ):
        self.spark = spark
        self.name = name
        self.store = store or SnapshotStore()
        self.registry = DomainRegistry()
        self.state = _State()
        self.history: list[str] = []  # most recent first, <= HISTORY_CAP
        self.hash: str | None = None
        self.deferred_pending: set[str] = set()
        # Per-mutation snapshotting mirrors the reference (every write is a
        # new persisted state). The documented BULK-INGEST default is
        # snapshot_on_mutation=False + one commit() at the batch boundary:
        # the write path then costs one aggregation job per insert and one
        # snapshot total. Tests run with the faithful per-mutation default.
        self.snapshot_on_mutation = snapshot_on_mutation
        if snapshot_on_mutation:
            self._snapshot()

    # ------------------------------------------------------------------ DDL

    def create_relation(self, name: str, schema_pairs: list[tuple[str, str]]) -> None:
        if name in self.state.relations:
            raise errors.RelationExists(name)
        for _, dom in schema_pairs:
            if dom not in self.registry:
                raise errors.UnknownDomain(dom)
        struct = schema_to_struct(schema_pairs, self.registry)
        empty = local_frame(self.spark, [], struct)
        self.state.relations[name] = Relation(name, list(schema_pairs), empty, digest=Digest())
        self._mutated(name)

    def retract_relation(self, name: str) -> None:
        self._rel(name)
        del self.state.relations[name]
        self.state.constraints = {
            cn: c for cn, c in self.state.constraints.items() if c.relation != name
        }
        self._mutated(None)

    def clear_relation(self, name: str) -> None:
        rel = self._rel(name)
        rel.df = local_frame(self.spark, [], rel.df.schema)
        rel.digest = Digest()
        self._mutated(name)

    def register_domain(self, domain: Domain) -> None:
        self.registry.register(domain)

    def register_external(self, name: str, df: DataFrame) -> None:
        """Mount an existing DataFrame (e.g. a parquet table) as a relation:
        schema derived from the Spark types, contents read-through (not
        snapshotted until a mutation touches it). The Spark-native analogue
        of the reference's immutable generator-backed relations
        (lib/manipulation.ml:815-837). The frame may be a bag: its digest
        is unknown until the first snapshot rescans it, and that snapshot
        stores its distinct rows."""
        from sakura_spark.domains import domain_for_spark_type

        if name in self.state.relations:
            raise errors.RelationExists(name)
        pairs = [(f.name, domain_for_spark_type(f.dataType)) for f in df.schema.fields]
        self.state.relations[name] = Relation(name, pairs, df)

    # ------------------------------------------------------------------ ICL

    def register_constraint(
        self,
        name: str,
        relation: str,
        body: icl_ast.Body,
        timing: str = IMMEDIATE,
    ) -> None:
        rel = self._rel(relation)
        if timing == IMMEDIATE:
            self._run_violation_checks(
                [(name, relation, "existing rows violate",
                  icl_compiler.violations(rel.df, body, self.resolver))]
            )
        self.state.constraints[name] = Constraint(name, relation, body, timing)
        self._mutated(None)

    # ------------------------------------------------------------------ DML

    def insert_tuples(self, relation: str, rows: list[dict] | DataFrame) -> int:
        """InsertTuple(s) (lib/dml/executor.ml:59-70). Whole-batch:
        domain checks, duplicate rejection, immediate constraints, cascade.

        The batch count, in-batch duplicate check, against-extension
        duplicate check, domain check and the batch's hash Digest all fold
        into ONE aggregation (a left join of batch hashes against existing
        hashes) — the bulk-ingest path launches a single Spark action up to
        the constraint checks. An accepted batch is duplicate-free and
        disjoint from the extension, so its digest adds to the relation's.
        For bulk loads also construct the Database with
        ``snapshot_on_mutation=False`` and snapshot once at ``commit()``.
        """
        from sakura_spark.domains import domain_violation_cond

        rel = self._rel(relation)
        base, batch = _at_union_types(rel.df, self._as_batch(rel, rows))
        hashed_batch = with_tuple_hash(batch, relation)
        existing_hashes = (
            with_tuple_hash(base, relation)
            .select(TUPLE_HASH_COL)
            .withColumn("__exists", F.lit(1))
        )
        stats = (
            hashed_batch.join(existing_hashes, on=TUPLE_HASH_COL, how="left")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.countDistinct(F.col(TUPLE_HASH_COL)).alias("n_distinct"),
                F.count("__exists").alias("dup_existing"),
                F.sum(
                    F.when(domain_violation_cond(rel.schema_pairs, self.registry), 1).otherwise(0)
                ).alias("domain_bad"),
                *digest_word_sums(),
            )
            .collect()[0]
        )
        n = stats["n"]
        if not n:
            return 0
        # Set semantics (lib/manipulation.ml:539-540): duplicates within the
        # batch or against the stored extension are rejected.
        if stats["n_distinct"] != n:
            raise errors.DuplicateTuple(f"duplicate rows within insert batch for {relation}")
        if stats["dup_existing"]:
            raise errors.DuplicateTuple(
                f"{stats['dup_existing']} rows already present in {relation}"
            )
        if stats["domain_bad"]:
            raise errors.DomainViolation(
                f"{stats['domain_bad']} rows violate domain checks on {relation}"
            )

        new_df = base.unionByName(batch)
        resolver = self._resolver_with(relation, new_df)
        # Immediate constraints on the new rows, then the cascade:
        # constraints referencing this relation with insert-triggered
        # polarity re-check their own relation's rows (narrowed).
        self._run_violation_checks(
            self._immediate_checks(relation, batch, resolver, "inserted rows violate")
            + self._cascade(relation, batch, event="insert", resolver=resolver)
        )
        # Widening the extension's own types re-spells its stored values,
        # so its digest no longer sums them: the snapshot rescans once.
        widened = base is not rel.df
        rel.df = new_df
        if rel.digest is not None:
            rel.digest = None if widened else rel.digest + Digest.of_row(stats)
        self._mutated(relation)
        return n

    def delete_tuples(self, relation: str, rows: list[dict] | DataFrame) -> int:
        """DeleteTuple (lib/dml/executor.ml:71-78): delete by full-tuple
        match; missing tuples are an error (retract_tuple semantics)."""
        rel = self._rel(relation)
        batch = self._as_batch(rel, rows).dropDuplicates()
        # One job for batch count + presence check + the Digest of the
        # matched extension rows (a relation with a known digest is a set,
        # so the left join cannot fan out). The join keeps the EXTENSION's
        # values and the tuple hashes are taken after it, so the digest
        # sums exactly what the anti-join removes, and only the matched
        # rows are hashed, not the whole extension.
        keys = batch.select(*[F.col(a).alias(f"__k{i}") for i, a in enumerate(rel.attrs)])
        extension = rel.df.select(*rel.attrs).withColumn("__present", F.lit(1))
        on = [F.col(f"__k{i}") == F.col(a) for i, a in enumerate(rel.attrs)]
        stats = (
            keys.join(extension, on=on, how="left")
            .withColumn(TUPLE_HASH_COL, tuple_hash_expr(rel.attrs, relation))
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.count("__present").alias("present"),
                *digest_word_sums(),
            )
            .collect()[0]
        )
        n, present = stats["n"], stats["present"]
        if present != n:
            raise errors.UnknownTuple(
                f"delete_tuples: {n - present} tuples not present in {relation}"
            )
        return self._apply_delete(rel, relation, batch, Digest.of_row(stats))

    def _apply_delete(
        self, rel: "Relation", relation: str, batch: DataFrame, removed: Digest
    ) -> int:
        """Shared delete tail: cascade, then swap in the anti-joined
        extension; returns the number of deleted tuples. `batch` must be
        duplicate-free rows known present in the extension, and `removed`
        the digest of the extension rows they match (delete_tuples proves
        both with its presence job; delete_where's semijoin guarantees
        them by construction)."""
        new_df = rel.df.join(batch, on=rel.attrs, how="left_anti")
        resolver = self._resolver_with(relation, new_df)
        self._run_violation_checks(
            self._cascade(relation, batch, event="delete", resolver=resolver)
        )
        rel.df = new_df
        if rel.digest is not None:
            rel.digest -= removed
        self._mutated(relation)
        return removed.n

    def assign(self, relation: str, df: DataFrame) -> int:
        """Assign (lib/dml/executor.ml:79-88): materialize a query and
        replace the target's contents (clear + insert).

        The domain check, the returned row count and the new extension's
        hash Digest fold into ONE aggregation (the same fold insert_tuples
        does)."""
        from sakura_spark.domains import domain_violation_cond

        rel = self._rel(relation)
        batch = df.select(*rel.attrs).dropDuplicates()
        stats = with_tuple_hash(batch, relation).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.when(domain_violation_cond(rel.schema_pairs, self.registry), 1).otherwise(0)
            ).alias("domain_bad"),
            *digest_word_sums(),
        ).collect()[0]
        if stats["domain_bad"]:
            raise errors.DomainViolation(
                f"{stats['domain_bad']} rows violate domain checks on {rel.name}"
            )
        resolver = self._resolver_with(relation, batch)
        # Validate-then-apply: the immediate checks and BOTH cascades
        # (insert polarity on the new contents, delete polarity on the rows
        # the overwrite removes) run before the relation is touched, so a
        # ConstraintViolation leaves the old extension intact — same
        # atomicity as insert/delete paths.
        removed = rel.df.join(batch, on=rel.attrs, how="left_anti")
        self._run_violation_checks(
            self._immediate_checks(relation, batch, resolver, "rows violate")
            + self._cascade(relation, batch, event="insert", resolver=resolver)
            + self._cascade(relation, removed, event="delete", resolver=resolver)
        )
        rel.df = batch
        rel.digest = Digest.of_row(stats)
        self._mutated(relation)
        return stats["n"]

    def insert_from(self, relation: str, df: DataFrame) -> int:
        """InsertFrom — INSERT ... SELECT (lib/dml/executor.ml:89-97)."""
        return self.insert_tuples(relation, df)

    def delete_where(self, relation: str, predicate_rel: DataFrame) -> int:
        """DeleteWhere (lib/dml/executor.ml:98-126): delete rows matching a
        predicate relation on their common attributes (semijoin form).

        The doomed rows are a semijoin OF the extension, so they are
        present and duplicate-free BY CONSTRUCTION — delete_tuples'
        presence check would re-prove what the semijoin already
        guarantees. One aggregate over them gives both the count (which
        doubles as the empty-predicate early exit) and their Digest."""
        rel = self._rel(relation)
        common = [c for c in rel.attrs if c in predicate_rel.columns]
        if not common:
            return 0
        doomed = rel.df.join(
            predicate_rel.select(*common).dropDuplicates(), on=common, how="left_semi"
        )
        stats = with_tuple_hash(doomed, relation).agg(
            F.count(F.lit(1)).alias("n"), *digest_word_sums()
        ).collect()[0]
        n = stats["n"]
        if not n:
            return 0
        return self._apply_delete(rel, relation, doomed, Digest.of_row(stats))

    # ------------------------------------------------------------ queries

    @property
    def resolver(self):
        def resolve(name: str) -> DataFrame:
            if name in self.state.relations:
                return self.state.relations[name].df
            return self._catalog_frame(name)

        return resolve

    def relation(self, name: str) -> DataFrame:
        return self.resolver(name)

    def drl(self, text: str, gate: bool = True) -> DataFrame:
        from sakura_spark.drl import compile_query, parse

        return compile_query(self.spark, parse(text), self.resolver, gate=gate)

    # ------------------------------------------------------------ catalog

    def _catalog_frame(self, name: str) -> DataFrame:
        """One of the six self-describing catalog relations
        (lib/prelude/catalog.ml:10-55), queryable like user tables; any
        other name is an UnknownRelation."""
        if name == "sakura:relation":
            rows = [(n,) for n in sorted(self.state.relations)]
        elif name == "sakura:domain":
            rows = [(n,) for n in self.registry.names()]
        elif name == "sakura:attribute":
            rows = [
                (r.name, a, d) for r in self.state.relations.values() for a, d in r.schema_pairs
            ]
        elif name == "sakura:constraint":
            rows = [(c.name, c.relation) for c in self.state.constraints.values()]
        elif name == "sakura:on":
            rows = [("insert",), ("update",), ("delete",)]
        elif name == "sakura:timing":
            rows = [(IMMEDIATE,), (DEFERRED,)]
        else:
            raise errors.UnknownRelation(name)
        return local_frame(self.spark, rows, CATALOG_SCHEMAS[name])

    # ------------------------------------------------------------ commit

    def commit(self) -> str:
        """Check deferred constraints (lib/manipulation.ml:965-1027), then
        snapshot; returns the new database hash."""
        pending = [self.state.constraints.get(n) for n in sorted(self.deferred_pending)]
        self._run_violation_checks([
            (c.name, c.relation, "rows violate at commit",
             icl_compiler.violations(self._rel(c.relation).df, c.body, self.resolver))
            for c in pending if c is not None
        ])
        self.deferred_pending.clear()
        return self._snapshot()

    # ------------------------------------------------------------ snapshots

    def _snapshot(self) -> str:
        manifest: dict = {"name": self.name, "relations": {}, "constraints": {}}
        for rname, rel in sorted(self.state.relations.items()):
            if rel.hash is None:
                self._store_relation(rel)
            else:
                self.store.put_relation(rel.hash, rel.df)
            manifest["relations"][rname] = {
                "hash": rel.hash,
                "schema": rel.schema_pairs,
            }
        for cname, c in sorted(self.state.constraints.items()):
            manifest["constraints"][cname] = {
                "relation": c.relation,
                "timing": c.timing,
                "body": icl_ast.body_to_json(c.body),
            }
        manifest["history"] = self.history[: HISTORY_CAP - 1]
        new_hash = database_hash(
            {n: e["hash"] for n, e in manifest["relations"].items()}
        )
        manifest["hash"] = new_hash
        self.store.put_manifest(new_hash, manifest)
        if not self.history or self.history[0] != new_hash:
            self.history = [new_hash] + self.history
            self.history = self.history[:HISTORY_CAP]
        self.hash = new_hash
        return new_hash

    def _store_relation(self, rel: Relation) -> None:
        """Give a changed relation its hash and its snapshot, then point
        its frame at the snapshot (later readers scan the parquet instead
        of re-running the mutation chain — the state Database.load would
        rebuild).

        With a known Digest the hash is arithmetic, and the snapshot is
        one staged write through ``put_relation`` — or nothing, when the
        store already holds that hash (insert-then-delete, a revert).
        Otherwise the frame is written once to staging and the WRITTEN
        parquet is rescanned by ``relation_hash`` (a cheap scan, not a
        second run of the mutation lineage); a frame that held duplicate
        rows (a mounted bag) is stored deduplicated, so every snapshot —
        and so every relation with a known digest — is a set."""
        sig = schema_signature(rel.schema_pairs)
        schema = rel.df.schema
        if rel.digest is not None:
            rel.hash = rel.digest.hash(rel.name, sig)
            self.store.put_relation(rel.hash, rel.df)
        else:
            with self.store.staging() as staged:
                rel.df.write.parquet(staged)
                written = self.spark.read.schema(schema).parquet(staged)
                h = relation_hash(written, rel.name, sig)
                rel.hash, rel.digest = str(h), h.digest
                if h.had_duplicates:
                    self.store.put_relation(rel.hash, written.dropDuplicates())
                else:
                    self.store.publish(staged, rel.hash)
        self.store.remember(rel.hash, schema, rel.digest)
        rel.df = self.store.get_relation(self.spark, rel.hash)

    @classmethod
    def load(
        cls, spark: SparkSession, db_hash: str, store: SnapshotStore, name: str | None = None
    ) -> "Database":
        """Time travel / checkout: rebuild a Database from any manifest
        (lib/management/database.ml load-from-hash)."""
        manifest = store.get_manifest(db_hash)
        db = cls.__new__(cls)
        db.spark = spark
        db.name = name or manifest["name"]
        db.store = store
        db.registry = DomainRegistry()
        db.state = _State()
        db.deferred_pending = set()
        db.snapshot_on_mutation = True
        for rname, entry in manifest["relations"].items():
            pairs = [tuple(p) for p in entry["schema"]]
            df = store.get_relation(spark, entry["hash"])
            db.state.relations[rname] = Relation(
                rname, pairs, df, hash=entry["hash"], digest=store.digest(entry["hash"])
            )
        for cname, centry in manifest.get("constraints", {}).items():
            db.state.constraints[cname] = Constraint(
                cname, centry["relation"], icl_ast.body_from_json(centry["body"]), centry["timing"]
            )
        db.history = [db_hash] + manifest.get("history", [])
        db.hash = db_hash
        return db

    # ------------------------------------------------------------ internals

    def _rel(self, name: str) -> Relation:
        try:
            return self.state.relations[name]
        except KeyError:
            raise errors.UnknownRelation(name) from None

    def _as_batch(self, rel: Relation, rows: list[dict] | DataFrame) -> DataFrame:
        """Statement rows as a frame in the relation's attribute order.
        Dict values bind by attribute NAME, whatever order the statement
        listed them in; a missing attribute is a NULL, which the
        non-nullable schema rejects."""
        if isinstance(rows, DataFrame):
            return rows.select(*rel.attrs)
        attrs = rel.attrs
        ordered = []
        for r in rows:
            unknown = set(r) - set(attrs)
            if unknown:
                raise ValueError(f"unknown attributes {sorted(unknown)} for relation {rel.name}")
            ordered.append(tuple(r.get(a) for a in attrs))
        struct = schema_to_struct(rel.schema_pairs, self.registry)
        return local_frame(self.spark, ordered, struct)

    def _immediate_checks(
        self, relation: str, rows: DataFrame, resolver, message: str
    ) -> list[Check]:
        """Checks of `relation`'s immediate constraints over `rows`; its
        deferred constraints are marked pending for commit instead."""
        checks = []
        for c in self.state.constraints.values():
            if c.relation != relation:
                continue
            if c.timing == DEFERRED:
                self.deferred_pending.add(c.name)
            else:
                violations = icl_compiler.violations(rows, c.body, resolver)
                checks.append((c.name, relation, message, violations))
        return checks

    def _resolver_with(self, relation: str, df: DataFrame):
        def resolve(name: str) -> DataFrame:
            if name == relation:
                return df
            return self.resolver(name)

        return resolve

    # Above this many changed rows the cascade falls back to the general
    # (unsubstituted) whole-batch recheck: per-transition substitution is a
    # single-tuple technique (the reference mutates one tuple at a time).
    SUBSTITUTE_MAX_ROWS = 32

    def _run_violation_checks(self, checks: list[Check]) -> None:
        """Run a statement's per-constraint violation queries as ONE Spark
        action — the only place constraint checks reach Spark.

        Every violations frame is projected to a literal tag column,
        unioned, and aggregated with a single ``groupBy(tag).count()``
        action, whatever the number of checks (a per-constraint
        ``.count()`` launches K jobs per mutation on a K-constraint schema
        — pure scheduler overhead at ingest rates). A grouped count also
        lets Catalyst fold a check over a driver-side batch (a filter on a
        ``LocalRelation``) into an empty local result that needs no job,
        which a global ``count()`` would still run. No checks, no action.
        The first violated check in submission order raises.
        """
        if not checks:
            return
        tagged = None
        for i, (*_, df) in enumerate(checks):
            t = df.select(F.lit(i).alias("__constraint"))
            tagged = t if tagged is None else tagged.unionAll(t)
        try:
            got = {r["__constraint"]: r["n"] for r in
                   tagged.groupBy("__constraint").agg(F.count(F.lit(1)).alias("n")).collect()}
            counts = [got.get(i, 0) for i in range(len(checks))]
        except Exception:
            # A runtime error in any single constraint's query fails the
            # whole batched job as a raw Spark error — masking WHICH
            # constraint is broken, and masking a genuine violation an
            # earlier-ordered constraint would have raised first. Fall
            # back to sequential, lazy counts: ordered attribution is
            # restored, a genuine earlier violation raises
            # ConstraintViolation, and the broken query's own error
            # surfaces from its position in the order. The sequential
            # pass is authoritative: if every check runs clean, the
            # batched failure was job-level (not a constraint), and
            # validation legitimately passes.
            counts = (df.count() for *_, df in checks)
        for (name, relation, message, _), bad in zip(checks, counts):
            if bad:
                raise errors.ConstraintViolation(name, relation, f"{bad} {message}")

    def _cascade(self, mutated: str, changed_rows: DataFrame, event: str, resolver) -> list[Check]:
        """Polarity-driven re-check (SURVEY §4.3, lib/manipulation.ml:479-521).

        After mutating `mutated`, re-validate constraints on other relations
        that reference it with the triggered polarity. Three narrowing
        techniques, mirroring the reference's cascade:

        1. trigger-constant early bail (lib/constraint.ml:390-412): Const
           bindings targeting `mutated` are fixed-value preconditions — if
           no changed row carries those values, skip the constraint without
           scanning anything;
        2. focused filters (lib/constraint.ml:355-383): only constrained
           tuples whose bound attrs intersect the changed values re-check;
        3. transition substitution (lib/constraint.ml:428-546): for small
           INSERT batches, quantifiers over `mutated` have "var.attr"
           references replaced by the transition tuple's constants, so the
           recheck plan never crossJoins the full quantifier (the
           compiler's degenerate-quantifier path takes over). Deletes never
           substitute — a removed tuple is not a binding the constraint
           must hold for; an Exists recheck needs the surviving quantifier.

        Returns the rechecks for the statement's `_run_violation_checks`
        call; deferred constraints it triggers are marked pending instead.
        """
        trigger = (
            {icl_compiler.NEGATIVE, icl_compiler.BOTH}
            if event == "insert"
            else {icl_compiler.POSITIVE, icl_compiler.BOTH}
        )
        transitions_cache: list | None = None  # collected once, shared
        all_checks: list[Check] = []
        for c in self.state.constraints.values():
            pol = icl_compiler.polarity(c.body).get(mutated)
            if pol not in trigger:
                continue
            if c.timing == DEFERRED:
                self.deferred_pending.add(c.name)
                continue
            target_rel = self.state.relations.get(c.relation)
            if target_rel is None:
                continue
            # Trigger-constant early bail: the mutation can only affect this
            # constraint through rows matching ALL const preconditions.
            consts = [
                (a, v)
                for a, v in icl_compiler.trigger_constants(c.body, mutated)
                if a in changed_rows.columns
            ]
            focus_rows = changed_rows
            if consts:
                cond = None
                for a, v in consts:
                    cc = F.col(a) == F.lit(v)
                    cond = cc if cond is None else (cond & cc)
                focus_rows = changed_rows.filter(cond)
                if not focus_rows.take(1):
                    continue  # early exit: no changed row can trigger it
            rows = resolver(c.relation) if c.relation == mutated else target_rel.df
            # Focused filter: only constrained tuples whose bound attrs
            # intersect the changed values need re-checking.
            focus = [
                (attr, var)
                for tgt, attr, var in icl_compiler.focused_values(c.body)
                if tgt == mutated
            ]
            if focus:
                keys = focus_rows.select(
                    *[F.col(attr).alias(f"__f_{i}") for i, (attr, _) in enumerate(focus)]
                ).dropDuplicates()
                cond = None
                for i, (_, var) in enumerate(focus):
                    cc = rows[f"`{var}`"] == keys[f"__f_{i}"]
                    cond = cc if cond is None else (cond | cc)
                narrowed = rows.join(keys, on=cond, how="left_semi")
            else:
                narrowed = rows
            # Transition substitution: small batches recheck a substituted
            # body per changed row instead of crossJoining the quantifier.
            # Sound ONLY for inserts: a freshly inserted tuple is the only
            # NEW quantifier binding, so checking the substituted body per
            # transition covers exactly the new obligations. For deletes the
            # quantifier must be re-evaluated WITHOUT the removed tuple (an
            # Exists needs a surviving witness, which substituting the
            # deleted tuple can never establish), so deletes always take the
            # general narrowed recheck below.
            checks: list[tuple[DataFrame, object]] = [(narrowed, c.body)]
            if event == "insert" and icl_compiler.has_quantifier_over(c.body, mutated):
                if transitions_cache is None and not consts:
                    transitions_cache = changed_rows.limit(
                        self.SUBSTITUTE_MAX_ROWS + 1
                    ).collect()
                transitions = (
                    transitions_cache
                    if transitions_cache is not None and not consts
                    else focus_rows.limit(self.SUBSTITUTE_MAX_ROWS + 1).collect()
                )
                if len(transitions) <= self.SUBSTITUTE_MAX_ROWS:
                    # Per-transition narrowing: the body substituted with
                    # transition r only obligates constrained rows whose
                    # focused attrs match r's values — a shared narrowed set
                    # built from ALL transitions would check r1's body
                    # against rows only r2 can affect.
                    checks = []
                    for r in transitions:
                        rd = r.asDict()
                        body_r = icl_compiler.substitute_transition(c.body, mutated, rd)
                        pairs = [(attr, var) for attr, var in focus if attr in rd]
                        if pairs:
                            cond = None
                            for attr, var in pairs:
                                cc = F.col(f"`{var}`") == F.lit(rd[attr])
                                cond = cc if cond is None else (cond | cc)
                            checks.append((rows.filter(cond), body_r))
                        else:
                            checks.append((rows, body_r))
            for check_rows, body in checks:
                all_checks.append(
                    (c.name, c.relation, f"rows violate after {event} on {mutated}",
                     icl_compiler.violations(check_rows, body, resolver))
                )
        return all_checks

    def _mutated(self, relation: str | None) -> None:
        if relation is not None and relation in self.state.relations:
            self.state.relations[relation].hash = None
        if self.snapshot_on_mutation:
            self._snapshot()
