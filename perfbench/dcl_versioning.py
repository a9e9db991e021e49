"""dcl_versioning: in-process ``Database``/``BranchManager`` in the bulk-ingest
mode (``snapshot_on_mutation=False``, one commit per state).

Every round builds the same history in a fresh snapshot store:

1. bulk ``insert_tuples`` of ``cust`` and ``ord`` (customer- and
   orders-derived) under an immediate foreign key ``ord.o_custkey -> cust``,
   plus a small ``nat`` relation;
2. commit of the ancestor, then branches ``left`` and ``right`` at it;
3. on each branch (``checkout``), ``EDITS`` seeded pairs of ``delete_where``
   and ``insert_tuples`` on ``ord``, one edit of ``nat`` (``left`` retracts
   it, ``right`` inserts into it: a drop-vs-modify conflict), then a commit;
4. the three merge strategies from the same two tips, and a time-travel
   ``Database.load`` of the ancestor.

After the timed rounds the last round's states are checked against DuckDB
SQL that spells out the same set algebra on the generated parquet files and
the edit lists, and against a database built directly with the expected
content: its hash must equal each merge's.
"""

from __future__ import annotations

import time

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import datagen
from common import Result, dir_bytes, p50, stopwatch, timed_rounds
from spans import Recorder, operation

SF = 0.01
SMOKE_SF = 0.001
EDITS = 2  # delete_where + insert_tuples pairs per branch
EDIT_ROWS = 8  # orders each edit deletes or inserts
NAT_NEW = 3  # nations the right branch adds

SCHEMAS = {
    "cust": [("c_custkey", "integer"), ("c_nationkey", "integer"), ("c_mktsegment", "string")],
    "ord": [("o_orderkey", "integer"), ("o_custkey", "integer"), ("o_orderpriority", "string")],
    "nat": [("n_nationkey", "integer"), ("n_name", "string")],
}
STRATEGIES = ["prefer_left", "prefer_right", "revert_to_ancestor"]


def make_inputs(seed: int, sf: float) -> tuple[dict[str, pd.DataFrame], dict]:
    """The ancestor's three relations and each branch's edits, from the
    seed: ``{side: {"delete": [key lists], "insert": [frames], "nat": frame}}``."""
    t = datagen.make_tables(seed, sf)
    base = {
        "cust": t["customer"].select(["c_custkey", "c_nationkey", "c_mktsegment"]).to_pandas(),
        "ord": t["orders"].select(["o_orderkey", "o_custkey", "o_orderpriority"]).to_pandas(),
        "nat": t["nation"].select(["n_nationkey", "n_name"]).to_pandas(),
    }
    for df in base.values():
        for c in df.columns:
            if df[c].dtype.kind == "i":
                df[c] = df[c].astype("int64")
    rng = np.random.default_rng([seed, 3])
    keys = base["ord"]["o_orderkey"].to_numpy()
    doomed = rng.choice(keys, size=2 * EDITS * EDIT_ROWS, replace=False).reshape(2, EDITS, -1)
    next_key = int(keys.max()) + 1
    ncust = len(base["cust"])
    edits = {}
    for s, side in enumerate(("left", "right")):
        inserts = []
        for _ in range(EDITS):
            inserts.append(pd.DataFrame({
                "o_orderkey": np.arange(next_key, next_key + EDIT_ROWS, dtype="int64"),
                "o_custkey": rng.integers(0, ncust, EDIT_ROWS).astype("int64"),
                "o_orderpriority": np.array(datagen.PRIORITIES)[rng.integers(0, 5, EDIT_ROWS)],
            }))
            next_key += EDIT_ROWS
        edits[side] = {"delete": [d.tolist() for d in doomed[s]], "insert": inserts}
    edits["right"]["nat"] = pd.DataFrame({
        "n_nationkey": np.arange(100, 100 + NAT_NEW, dtype="int64"),
        "n_name": [f"NEW_{i}" for i in range(NAT_NEW)],
    })
    return base, edits


class History:
    """Runs rounds; keeps every operation's time and the last round's
    store, state hashes, merge conflicts and loaded ancestor."""

    def __init__(self, ctx, frames: dict, edits: dict):
        self.ctx = ctx
        self.frames = frames  # name -> Spark DataFrame of the ancestor's rows
        self.edits = edits
        self.times: dict[str, list[float]] = {}
        self.rows_ingested = 0
        self.store_root = None
        self.store = None
        self.loaded = None
        self.hashes: dict[str, str] = {}
        self.conflicts: dict[str, list[str]] = {}

    def op(self, kind: str, fn):
        with operation(self.ctx.rec, kind):
            t0 = time.perf_counter()
            out = fn()
            self.times.setdefault(kind, []).append(time.perf_counter() - t0)
        return out

    def round(self, i: int) -> int:
        from sakura_spark.database import Database
        from sakura_spark.icl import ast
        from sakura_spark.management.branches import BranchManager
        from sakura_spark.management.store import SnapshotStore

        spark = self.ctx.spark
        self.store_root = self.ctx.path(f"store-{i}", "x")[:-2]
        store = SnapshotStore(self.store_root)
        ops = 0

        db = Database(spark, "dcl", store=store, snapshot_on_mutation=False)
        for name, pairs in SCHEMAS.items():
            db.create_relation(name, pairs)
        db.register_constraint("ord_cust_fk", "ord", ast.MemberOf(
            "cust", (("c_custkey", ast.Var("o_custkey")),)))
        for name in SCHEMAS:
            self.rows_ingested += self.op("ingest", lambda n=name: db.insert_tuples(
                n, self.frames[n]))
        anc = self.op("commit", db.commit)
        ops += len(SCHEMAS) + 1

        mgr = BranchManager(store)
        tips = {}
        for side in ("left", "right"):
            mgr.create_branch(side, anc)
        for side in ("left", "right"):
            bdb = self.op("checkout", lambda s=side: mgr.checkout(spark, s))
            bdb.snapshot_on_mutation = False  # Database.load turns it on
            e = self.edits[side]
            for doomed, new in zip(e["delete"], e["insert"]):
                pred = spark.createDataFrame([(k,) for k in doomed], "o_orderkey long")
                self.op("edit_delete", lambda p=pred: bdb.delete_where("ord", p))
                batch = spark.createDataFrame(new, "o_orderkey long, o_custkey long, "
                                                   "o_orderpriority string")
                self.op("edit_insert", lambda b=batch: bdb.insert_tuples("ord", b))
                ops += 2
            if side == "left":
                self.op("edit_retract", lambda: bdb.retract_relation("nat"))
            else:
                nat = spark.createDataFrame(e["nat"], "n_nationkey long, n_name string")
                self.op("edit_insert", lambda: bdb.insert_tuples("nat", nat))
            tips[side] = self.op("commit", bdb.commit)
            mgr.update_branch_tip(side, tips[side])
            ops += 3

        for strategy in STRATEGIES:
            mgr.create_branch(strategy, tips["left"])
            _, conflicts = self.op("merge", lambda s=strategy: mgr.merge(spark, s, "right", s))
            self.hashes[strategy] = mgr.get_branch_tip(strategy)
            self.conflicts[strategy] = conflicts
            ops += 1
        self.loaded = self.op("load", lambda: Database.load(spark, anc, store))
        self.store = store
        self.hashes.update(anc=anc, **tips)
        return ops + 1


def _sql_list(keys: list[int]) -> str:
    return ", ".join(str(k) for k in keys)


def expected(con, edits: dict) -> dict[str, dict[str, str]]:
    """DuckDB SQL for each state's relations: the set algebra of the edits
    over the ancestor's parquet files."""
    def ord_after(*sides):
        dels = [k for s in sides for d in edits[s]["delete"] for k in d]
        q = f"SELECT * FROM a_ord WHERE o_orderkey NOT IN ({_sql_list(dels)})"
        for s in sides:
            for j in range(EDITS):
                q += f" UNION ALL SELECT * FROM ins_{s}_{j}"
        return q

    anc = {n: f"SELECT * FROM a_{n}" for n in SCHEMAS}
    merged_ord = ord_after("left", "right")
    return {
        "anc": anc,
        "left": {"cust": anc["cust"], "ord": ord_after("left")},
        "right": {"cust": anc["cust"], "ord": ord_after("right"),
                  "nat": "SELECT * FROM a_nat UNION ALL SELECT * FROM nat_right"},
        # nat: left dropped it, right added rows; each strategy resolves
        # the conflict its own way, ord merges both sides' edits.
        "prefer_left": {"cust": anc["cust"], "ord": merged_ord},
        "prefer_right": {"cust": anc["cust"], "ord": merged_ord,
                         "nat": "SELECT * FROM a_nat UNION ALL SELECT * FROM nat_right"},
        "revert_to_ancestor": {"cust": anc["cust"], "ord": merged_ord, "nat": anc["nat"]},
    }


def verify(ctx, hist: History, con, edits: dict) -> list[str]:
    """Compare every state of the last round with DuckDB, and each merge's
    hash with that of a database built directly with the expected content."""
    from scripts.check_correctness import compare

    from sakura_spark.database import Database
    from sakura_spark.management.store import SnapshotStore

    spark = ctx.spark
    want = expected(con, edits)
    problems = []
    for state, rels in want.items():
        manifest = hist.store.get_manifest(hist.hashes[state])["relations"]
        if sorted(manifest) != sorted(rels):
            problems.append(f"{state}: relations {sorted(manifest)} != {sorted(rels)}")
            continue
        for name, sql in rels.items():
            got = hist.store.get_relation(spark, manifest[name]["hash"]).toPandas()
            problems += [f"{state}.{name}: {p}" for p in compare(name, got, con.execute(sql).df())]
    loaded = hist.loaded
    if loaded.hash != hist.hashes["anc"] or sorted(loaded.state.relations) != sorted(SCHEMAS):
        problems.append("time travel: the loaded ancestor is not the ancestor")
    else:
        for name, sql in want["anc"].items():
            got = loaded.relation(name).toPandas()
            problems += [f"load.{name}: {p}" for p in compare(name, got, con.execute(sql).df())]
    for strategy in STRATEGIES:
        if hist.conflicts[strategy] != ["nat: drop_vs_modify"]:
            problems.append(f"{strategy}: conflicts {hist.conflicts[strategy]}")

    # The expected merged states built directly, one commit each; equal
    # content must give equal hashes.
    direct = Database(spark, "direct", store=SnapshotStore(ctx.path("direct", "x")[:-2]),
                      snapshot_on_mutation=False)
    built: dict[str, str] = {}
    for strategy in ("prefer_right", "revert_to_ancestor", "prefer_left"):
        for name, sql in want[strategy].items():
            if built.get(name) == sql:
                continue
            if name in built:
                direct.clear_relation(name)
            else:
                direct.create_relation(name, SCHEMAS[name])
            direct.insert_tuples(name, spark.createDataFrame(con.execute(sql).df()))
            built[name] = sql
        for name in list(direct.state.relations):
            if name not in want[strategy]:
                direct.retract_relation(name)
                del built[name]
        if direct.commit() != hist.hashes[strategy]:
            problems.append(f"{strategy}: merge hash differs from the directly built state's")
    return problems


def run(ctx) -> Result:
    sf = SMOKE_SF if ctx.smoke else SF
    elapsed = stopwatch()
    base, edits = make_inputs(ctx.seed, sf)
    data_dir = ctx.path("data", "x")[:-2]
    con = duckdb.connect()
    for name, df in base.items():
        path = f"{data_dir}/{name}.parquet"
        pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path)
        con.execute(f"CREATE VIEW a_{name} AS SELECT * FROM '{path}'")
    for side in ("left", "right"):
        for j, df in enumerate(edits[side]["insert"]):
            con.register(f"ins_{side}_{j}", df)
    con.register("nat_right", edits["right"]["nat"])
    frames = {n: ctx.spark.read.parquet(f"{data_dir}/{n}.parquet") for n in SCHEMAS}
    setup_s, setup_cpu_s = elapsed()

    # Warm-up outside the timed region: one round on tiny inputs runs
    # every code path once.
    warm_base, warm_edits = make_inputs(ctx.seed, SMOKE_SF)
    warm = History(ctx, {n: ctx.spark.createDataFrame(df) for n, df in warm_base.items()},
                   warm_edits)
    warm.round(-1)

    hist = History(ctx, frames, edits)
    counter = Recorder(ctx.spark)
    mark = counter.job_mark()
    rounds, cpu, ops, timed_s = timed_rounds(ctx, hist.round)
    jobs = counter.jobs_since(mark)[0] / len(rounds)
    store_bytes = dir_bytes(hist.store_root)
    try:
        wrong = verify(ctx, hist, con, edits)
    finally:
        con.close()

    t = hist.times
    ctx.report.update({
        "dcl_ingest_rows_per_s": (hist.rows_ingested / sum(t["ingest"]), "rows/s"),
        "dcl_edit_p50_s": (p50(t["edit_delete"] + t["edit_insert"]), "s"),
        "dcl_commit_s": (sum(t["commit"]) / len(rounds), "s"),
        "dcl_merge_s": (sum(t["merge"]) / len(rounds), "s"),
        "dcl_load_s": (p50(t["load"]), "s"),
        "dcl_spark_jobs": (jobs, "jobs"),
        "store_mb": (store_bytes / 1e6, "MB"),
        "ord_rows": (len(base["ord"]), "rows"),
    })
    ctx.layer["store.bytes_written"] = store_bytes
    return Result(attempted=ops, failed=len(wrong), problems=wrong,
                  round_s=rounds, round_cpu_s=cpu, setup_s=setup_s,
                  setup_cpu_s=setup_cpu_s, timed_s=timed_s)
