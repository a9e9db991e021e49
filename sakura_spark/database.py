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

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from sakura_spark import errors
from sakura_spark.algebra import local_frame
from sakura_spark.domains import Domain, DomainRegistry, schema_to_struct
from sakura_spark.hashing import (
    TUPLE_HASH_COL,
    database_hash,
    relation_hash,
    schema_signature,
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
        self.state.relations[name] = Relation(name, list(schema_pairs), empty)
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
        self._mutated(name)

    def register_domain(self, domain: Domain) -> None:
        self.registry.register(domain)

    def register_external(self, name: str, df: DataFrame) -> None:
        """Mount an existing DataFrame (e.g. a parquet table) as a relation:
        schema derived from the Spark types, contents read-through (not
        snapshotted until a mutation touches it). The Spark-native analogue
        of the reference's immutable generator-backed relations
        (lib/manipulation.ml:815-837)."""
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
        duplicate check and domain check all fold into ONE aggregation job
        (a left join of batch hashes against existing hashes feeding four
        aggregates) — the bulk-ingest path launches a single Spark job up to
        the constraint checks. For bulk loads also construct the Database
        with ``snapshot_on_mutation=False`` and snapshot once at
        ``commit()``.
        """
        from sakura_spark.domains import domain_violation_cond

        rel = self._rel(relation)
        batch = self._as_batch(rel, rows)
        hashed_batch = with_tuple_hash(batch, relation)
        existing_hashes = (
            with_tuple_hash(rel.df, relation)
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

        new_df = rel.df.unionByName(batch)
        resolver = self._resolver_with(relation, new_df)
        # Immediate constraints on the new rows, then the cascade:
        # constraints referencing this relation with insert-triggered
        # polarity re-check their own relation's rows (narrowed).
        self._run_violation_checks(
            self._immediate_checks(relation, batch, resolver, "inserted rows violate")
            + self._cascade(relation, batch, event="insert", resolver=resolver)
        )
        rel.df = new_df
        self._mutated(relation)
        return n

    def delete_tuples(self, relation: str, rows: list[dict] | DataFrame) -> int:
        """DeleteTuple (lib/dml/executor.ml:71-78): delete by full-tuple
        match; missing tuples are an error (retract_tuple semantics)."""
        rel = self._rel(relation)
        batch = self._as_batch(rel, rows).dropDuplicates()
        # One job for batch count + presence check (the extension is a set,
        # so the left join cannot fan out).
        stats = (
            batch.join(
                rel.df.select(*rel.attrs).withColumn("__present", F.lit(1)),
                on=rel.attrs,
                how="left",
            )
            .agg(F.count(F.lit(1)).alias("n"), F.count("__present").alias("present"))
            .collect()[0]
        )
        n, present = stats["n"], stats["present"]
        if present != n:
            raise errors.UnknownTuple(
                f"delete_tuples: {n - present} tuples not present in {relation}"
            )
        return self._apply_delete(rel, relation, batch, n)

    def _apply_delete(self, rel: "Relation", relation: str, batch: DataFrame, n: int) -> int:
        """Shared delete tail: cascade, then swap in the anti-joined
        extension. `batch` must be duplicate-free rows known present in
        the extension (delete_tuples proves it with its presence job;
        delete_where's semijoin guarantees it by construction)."""
        new_df = rel.df.join(batch, on=rel.attrs, how="left_anti")
        resolver = self._resolver_with(relation, new_df)
        self._run_violation_checks(
            self._cascade(relation, batch, event="delete", resolver=resolver)
        )
        rel.df = new_df
        self._mutated(relation)
        return n

    def assign(self, relation: str, df: DataFrame) -> int:
        """Assign (lib/dml/executor.ml:79-88): materialize a query and
        replace the target's contents (clear + insert).

        The domain check and the returned row count fold into ONE
        aggregation job (round-13 optimization — the same fold
        insert_tuples already does); the old shape paid a
        domain-violations count() plus a separate rel.df.count() after
        the swap."""
        from sakura_spark.domains import domain_violation_cond

        rel = self._rel(relation)
        batch = df.select(*rel.attrs).dropDuplicates()
        stats = batch.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.when(domain_violation_cond(rel.schema_pairs, self.registry), 1).otherwise(0)
            ).alias("domain_bad"),
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
        self._mutated(relation)
        return stats["n"]

    def insert_from(self, relation: str, df: DataFrame) -> int:
        """InsertFrom — INSERT ... SELECT (lib/dml/executor.ml:89-97)."""
        return self.insert_tuples(relation, df)

    def delete_where(self, relation: str, predicate_rel: DataFrame) -> int:
        """DeleteWhere (lib/dml/executor.ml:98-126): delete rows matching a
        predicate relation on their common attributes (semijoin form).

        One validation job, not three (round-13 optimization, guide §1.2
        scheduler overhead): the doomed rows are a semijoin OF the
        extension, so they are present and duplicate-free BY CONSTRUCTION
        — delete_tuples' presence-check job and its dropDuplicates
        exchange would re-prove what the semijoin already guarantees.
        A single count() doubles as the empty-predicate early exit."""
        rel = self._rel(relation)
        common = [c for c in rel.attrs if c in predicate_rel.columns]
        if not common:
            return 0
        doomed = rel.df.join(
            predicate_rel.select(*common).dropDuplicates(), on=common, how="left_semi"
        )
        n = doomed.count()
        if not n:
            return 0
        return self._apply_delete(rel, relation, doomed, n)

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
            sig = schema_signature(rel.schema_pairs)
            if rel.hash is None:
                # Round-13 optimization (guide §2.4/§5): write FIRST to a
                # temp dir (one execution of the mutation lineage), hash
                # the WRITTEN parquet (a cheap re-scan, not a second run
                # of the anti-join/union chain), then move the dir to its
                # content-addressed key. The old order — hash-over-
                # lineage then write-over-lineage — executed every
                # mutation chain twice per commit (and AQE splits each
                # into several jobs: the DCL fixture build dropped from
                # 131 to ~90 Spark jobs). relation_hash is a commutative
                # reduction over per-tuple sha256s, so hashing the
                # read-back yields the identical hash (content-equal,
                # order-free by construction).
                import shutil
                import tempfile

                tmp = tempfile.mkdtemp(
                    dir=os.path.join(self.store.root, "relations"),
                    prefix="__staging_",
                )
                staged = os.path.join(tmp, "data")
                rel.df.write.mode("overwrite").parquet(staged)
                written = self.spark.read.parquet(staged)
                rel.hash = relation_hash(written, rname, sig)
                final = self.store.relation_path(rel.hash)
                if os.path.exists(final):
                    shutil.rmtree(tmp, ignore_errors=True)
                else:
                    os.replace(staged, final)
                    shutil.rmtree(tmp, ignore_errors=True)
                # Seed the store's per-hash schema cache from the write we
                # just made, so the read-back below (and every later
                # reader) skips the parquet schema-inference job.
                self.store._schema_cache.setdefault(rel.hash, written.schema)
                # Truncate the lineage: later readers (diff, merge, the
                # entry's final select) scan the snapshot instead of
                # re-running the mutation chain — the exact state
                # Database.load would rebuild.
                rel.df = self.store.get_relation(self.spark, rel.hash)
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
            db.state.relations[rname] = Relation(rname, pairs, df, hash=entry["hash"])
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
        if isinstance(rows, DataFrame):
            return rows.select(*rel.attrs)
        struct = schema_to_struct(rel.schema_pairs, self.registry)
        return local_frame(self.spark, [Row(**r) for r in rows], struct)

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
        job — the only place constraint checks reach Spark.

        Instead of one `.count()` action per constraint (K+ job launches per
        mutation on a K-constraint schema — pure scheduler overhead at
        ingest rates), every violations frame is projected to a literal tag
        column, unioned, and aggregated with a single `groupBy(tag).count()`
        action; a single check is one `.count()`. The first violated check
        in submission order raises.
        """
        # Sequential and lazy: a single check, or the fallback below.
        counts = (df.count() for *_, df in checks)
        if len(checks) > 1:
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
                # back to the sequential counts: ordered attribution is
                # restored, a genuine earlier violation raises
                # ConstraintViolation, and the broken query's own error
                # surfaces from its position in the order. The sequential
                # pass is authoritative: if every check runs clean, the
                # batched failure was job-level (not a constraint), and
                # validation legitimately passes.
                pass
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
