"""analytic_read: read-only work over the seeded star schema.

Every round runs the same operations: each DRL query's first page and
its drain through SCL cursor pages, then every entry (one operation each).

1. A DRL query set, sent over the wire to a server that mounts the parquet
   tables (``register_external``). Each query is answered as the
   interactive first page ``(drl ...)`` and drained in full through SCL
   cursor pages. DuckDB answers the same queries on the same files.
2. The frozen ``bench.py`` HEADLINE entries through the Python API, on the
   ``count()`` protocol (``noop`` sink for ``HEADLINE_NOOP``), checked
   against their ``oracle_sql()`` DuckDB twins.

``range_join`` and ``events_sessionize`` are left out: both compare
whole-second ``unix_timestamp`` values where their DuckDB twins compare
exact epochs, so on some seeds a gap a fraction of a second past the
window (300 s, 1800 s) changes the answer and the check fails.
"""

from __future__ import annotations

import time

import duckdb

import datagen
from common import (
    CheckFailed, Result, WireClient, atom, check, fields, p50, row_tuple, stopwatch,
    timed_rounds,
)

SF = 0.01
SMOKE_SF = 0.001
PAGE = 1000  # cursor page size of a drain

_LEFT_OUT = {"range_join", "events_sessionize"}


def _headline() -> tuple[list[str], set[str]]:
    import bench

    return [e for e in bench.HEADLINE if e not in _LEFT_OUT], set(bench.HEADLINE_NOOP)


try:
    ENTRIES, NOOP = _headline()
except ImportError:  # outside a checkout: the names are only needed to list metrics
    ENTRIES, NOOP = [], set()

_URGENT = "(Const ((o_orderpriority (Str 1-URGENT))))"
# name -> (DRL query, attributes of a result row, DuckDB twin, exact?)
QUERIES = {
    "join_rename_project": (
        "(Project (c_name n_name) (Join (nk) (Rename ((c_nationkey nk)) (Base customer)) "
        "(Rename ((n_nationkey nk)) (Base nation))))",
        ["c_name", "n_name"],
        "SELECT c_name, n_name FROM customer JOIN nation ON c_nationkey = n_nationkey", True),
    "select_const": (
        f"(Project (o_orderkey o_custkey) (Select {_URGENT} (Base orders)))",
        ["o_orderkey", "o_custkey"],
        "SELECT o_orderkey, o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'", True),
    "union": (
        "(Union (Project (c_custkey) (Select (Const ((c_mktsegment (Str BUILDING)))) "
        "(Base customer))) (Project (c_custkey) (Select (Const ((c_mktsegment "
        "(Str MACHINERY)))) (Base customer))))",
        ["c_custkey"],
        "SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING' UNION ALL "
        "SELECT c_custkey FROM customer WHERE c_mktsegment = 'MACHINERY'", True),
    "diff": (
        "(Diff (Project (c_custkey c_mktsegment) (Base customer)) (Project (c_custkey "
        "c_mktsegment) (Select (Const ((c_mktsegment (Str BUILDING)))) (Base customer))))",
        ["c_custkey", "c_mktsegment"],
        "SELECT DISTINCT c_custkey, c_mktsegment FROM customer EXCEPT "
        "SELECT c_custkey, c_mktsegment FROM customer WHERE c_mktsegment = 'BUILDING'", True),
    "take": (
        "(Take 40 (Project (l_orderkey l_linenumber l_quantity) (Base lineitem)))",
        ["l_orderkey", "l_linenumber", "l_quantity"],
        "SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem", False),
    "prelude_join": (
        "(Take 30 (Join (a b) (Rename ((l_linenumber a) (l_suppkey b)) (Project "
        "(l_orderkey l_linenumber l_suppkey) (Base lineitem))) (Base plus)))",
        ["l_orderkey", "a", "b", "sum"],
        "SELECT l_orderkey, l_linenumber AS a, l_suppkey AS b, l_linenumber + l_suppkey AS sum "
        "FROM lineitem", False),
}
_TAKE_N = {"take": 40, "prelude_join": 30}
MOUNTED = ["customer", "nation", "orders", "lineitem"]


def _rows(resp: list, attrs: list[str]) -> list[tuple]:
    return [row_tuple(r, attrs) for r in fields(resp)["rows"]]


class DrlSet:
    """Sends the query set and keeps each answer for the DuckDB check."""

    def __init__(self, client: WireClient):
        self.c = client
        self.answers: dict[str, tuple[list, list]] = {}
        self.drained = 0
        self.drain_s = 0.0

    def run(self) -> int:
        """Each query as its first page, then drained; returns the
        operations (two per query)."""
        for name, (q, attrs, _, _) in QUERIES.items():
            page = self.c.send("drl_query", f"(drl {q})")
            t0 = time.perf_counter()
            r = self.c.send("scl_begin", f"(scl (Begin (query {q}) (limit {PAGE})))")
            rows = _rows(r, attrs) if r[0] == "cursor" else []
            while r[0] == "cursor" and fields(r)["has_more"] == "true":
                r = self.c.send("scl_fetch", f"(scl (Fetch (cursor {fields(r)['id']}) "
                                             f"(limit {PAGE})))")
                rows += _rows(r, attrs) if r[0] == "cursor" else []
            self.drain_s += time.perf_counter() - t0
            self.drained += len(rows)
            check(r[0] == "cursor", f"{name}: cursor error {r}")
            self.answers[name] = (page, rows)
        return 2 * len(QUERIES)

    def verify(self, con) -> list[str]:
        problems = []
        for name, (page, drained) in self.answers.items():
            _, attrs, sql, exact = QUERIES[name]
            want = [tuple(atom(v) for v in row) for row in con.execute(sql).fetchall()]
            full = len(want) if exact else min(_TAKE_N[name], len(want))
            try:
                check(page[0] == "relation", f"{name}: interactive answer {page}")
                if exact:
                    check(sorted(drained) == sorted(want),
                          f"{name}: drained {len(drained)} rows differ from DuckDB's {len(want)}")
                else:
                    check(len(drained) == full and set(drained) <= set(want)
                          and len(set(drained)) == len(drained),
                          f"{name}: {len(drained)} drained rows are not a subset of DuckDB's")
                first = _rows(page, attrs)
                check(set(first) <= set(want) and len(first) == min(16, full),
                      f"{name}: interactive page of {len(first)} rows is not "
                      f"{min(16, full)} answer rows")
            except CheckFailed as e:
                problems.append(str(e))
        return problems


# --- headline entries --------------------------------------------------------


def minhash_property(pairs_pdf, docs_pdf) -> str | None:
    """LSH must propose every pair of documents with identical text (equal
    shingle sets collide in every band), as ``id_a < id_b``, once each."""
    got = list(zip(pairs_pdf["id_a"].tolist(), pairs_pdf["id_b"].tolist()))
    if any(a >= b for a, b in got) or len(set(got)) != len(got):
        return "candidate pairs are not distinct (id_a < id_b) pairs"
    by_text: dict[str, list[int]] = {}
    for doc_id, text in zip(docs_pdf["doc_id"].tolist(), docs_pdf["text"].tolist()):
        by_text.setdefault(text, []).append(doc_id)
    need = {(a, b) for ids in by_text.values() for a in ids for b in ids if a < b}
    missing = need - set(got)
    return f"{len(missing)} identical-text pairs not proposed" if missing else None


def check_entries(ctx, data_dir: str, con) -> list[str]:
    """Run every entry once (this doubles as the warm-up) and compare its
    rows with its DuckDB twin or, for the MinHash pairs, with the property."""
    import __spark_entry__ as entrymod
    from scripts.check_correctness import compare

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    problems = []
    for name in ENTRIES:
        got = qs[name](ctx.spark, data_dir).toPandas()
        if name in oracles:
            want = con.execute(oracles[name]).df()
            problems += [f"{name}: {p}" for p in compare(name, got, want)]
        else:
            err = minhash_property(got, con.execute("SELECT doc_id, text FROM documents").df())
            if err:
                problems.append(f"{name}: {err}")
    return problems


def run_entry(ctx, fn, name: str, data_dir: str) -> dict:
    """One entry on the frozen protocol: build, then ``count()`` (or the
    ``noop`` sink); with tracing also its Catalyst plan time and jobs."""
    from spans import catalyst_phases, operation

    with operation(ctx.rec, "entry") as sp:
        t0 = time.perf_counter()
        df = fn(ctx.spark, data_dir)
        t1 = time.perf_counter()
        plan_s = 0.0
        if sp is not None:
            df._jdf.queryExecution().executedPlan()
            plan_s = sum(catalyst_phases(df).values())
        t2 = time.perf_counter()
        if name in NOOP:
            df.write.format("noop").mode("overwrite").save()
        else:
            df.count()
        t3 = time.perf_counter()
    out = {"total": (t1 - t0) + (t3 - t2), "build_s": t1 - t0, "plan_s": plan_s,
           "exec_s": t3 - t2}
    if sp is not None:
        out["jobs"] = sp.attrs["jobs"]
    return out


def run(ctx) -> Result:
    from sakura_spark import system
    from sakura_spark.session import load_table

    import __spark_entry__ as entrymod

    sf = SMOKE_SF if ctx.smoke else SF
    data_dir = ctx.path("data", "x")[:-2]
    store_root = ctx.path("store")
    cfg = ctx.path("server.sexp")
    with open(cfg, "w") as fh:
        fh.write(f'(server (storage (directory (path "{store_root}"))) '
                 '(transport (tcp (address 127.0.0.1) (port 0))))')

    elapsed = stopwatch()
    counts = datagen.write_tables(data_dir, ctx.seed, sf)
    frontend, server = system.assemble(system.load_config(cfg, ["storage", "transport"]),
                                       spark=ctx.spark)
    for t in MOUNTED:
        server.db.register_external(t, load_table(ctx.spark, f"{data_dir}/{t}.parquet"))
    frontend.start()
    setup_s, setup_cpu_s = elapsed()

    con = duckdb.connect()
    for t in datagen.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    client = WireClient(frontend.port, ctx.rec)
    qs = entrymod.queries()
    problems: list[str] = []
    try:
        # Warm-up outside the timed region: each query's first page, and
        # every entry once, collected and checked against DuckDB.
        for q, *_ in QUERIES.values():
            client.send("warm_up", f"(drl {q})")
        problems += check_entries(ctx, data_dir, con)

        drl = DrlSet(client)
        client.latencies.clear()
        entry_times: dict[str, list[dict]] = {e: [] for e in ENTRIES}

        def one_round(i: int) -> int:
            ops = drl.run()
            for name in ENTRIES:
                r = run_entry(ctx, qs[name], name, data_dir)
                if i >= 0:
                    entry_times[name].append(r)
                ops += 1
            return ops

        rounds, cpu, ops, timed_s = timed_rounds(ctx, one_round)
        wrong = drl.verify(con)
    finally:
        client.close()
        frontend.stop()
        con.close()

    lat = client.latencies
    ctx.report.update({
        "drl_query_p50_s": (p50(lat.get("drl_query", [])), "s"),
        "cursor_rows_per_s": (drl.drained / drl.drain_s if drl.drain_s else 0.0, "rows/s"),
        "operators_total_s": (sum(p50(r["total"] for r in v) for v in entry_times.values()), "s"),
        "lineitem_rows": (counts["lineitem"], "rows"),
    })
    for name, v in entry_times.items():
        for part in ("build_s", "plan_s", "exec_s", "jobs"):
            ctx.layer[f"op.{name}.{part}"] = p50(r.get(part, 0) for r in v)
    return Result(attempted=ops, failed=len(wrong), problems=problems + wrong,
                  round_s=rounds, round_cpu_s=cpu, setup_s=setup_s,
                  setup_cpu_s=setup_cpu_s, timed_s=timed_s)
