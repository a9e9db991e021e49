"""Benchmark entry point.

    python3 perfbench/run.py --workload wire_oltp --seed 1 --seconds 20 --trace 0

Runs one workload against the ``sakura_spark`` package of the checkout it
is started from (the parent of this directory), on ``local[N]`` with
N = the number of usable cores, and prints one line per measured figure
followed by a last line of JSON:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones of BENCHMARK.json; with ``--trace 1`` the
per-layer ones, measured by a span recorder that wraps the package's
functions from outside. ``--smoke`` runs one round on tiny inputs.

Every file the run writes lives under ``.bench_work/`` in the working
directory and is removed at exit.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORKLOADS = ["wire_oltp", "dcl_versioning", "analytic_read"]

END_TO_END = {
    "round_cpu_s": "s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
}

_LAYER_S = [
    "wire.execute_s", "wire.self_s", "wire.transport_s",
    "drl.parse_s", "drl.gate_s", "drl.compile_s", "drl.self_s",
    "algebra.self_s",
    "scl.begin_s", "scl.fetch_s", "scl.self_s",
    "database.insert_s", "database.delete_s", "database.commit_s", "database.snapshot_s",
    "database.validate_s", "database.cascade_s", "database.self_s",
    "icl.violations_build_s", "icl.self_s",
    "hashing.relation_hash_s", "hashing.self_s",
    "store.put_relation_s", "store.get_relation_s", "store.put_manifest_s", "store.self_s",
    "merge.find_ancestor_s", "merge.diff_s", "merge.plan_s", "merge.self_s",
    "branches.merge_s", "branches.checkout_s", "branches.self_s",
    "spark.build_s", "spark.analysis_s", "spark.optimization_s", "spark.planning_s",
    "spark.exec_s",
    "trace.round_s", "trace.round_cpu_s", "trace.overhead_s",
]
_LAYER_COUNTS = {
    "algebra.calls": "count",
    "scl.rows_per_fetch": "rows",
    "database.jobs_per_insert": "jobs",
    "database.jobs_per_delete": "jobs",
    "database.jobs_per_commit": "jobs",
    "icl.checks_per_stmt": "count",
    "hashing.relation_hash_calls": "count",
    "hashing.rehash_per_changed_relation": "ratio",
    "store.bytes_written": "bytes",
    "store.write_skip_ratio": "ratio",
    "merge.jobs": "jobs",
    "spark.jobs": "jobs",
    "spark.stages": "stages",
    "spark.tasks": "tasks",
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric with its unit, in a fixed order."""
    from analytic_read import ENTRIES

    units = {k: "s" for k in _LAYER_S}
    units.update(_LAYER_COUNTS)
    for e in ENTRIES:
        for part in ("build_s", "plan_s", "exec_s"):
            units[f"op.{e}.{part}"] = "s"
        units[f"op.{e}.jobs"] = "jobs"
    return units


def per_layer(ctx, res) -> dict[str, float]:
    """Per-layer figures of a traced run; a layer the workload does not
    reach reads 0."""
    from spans import Summary, median

    s = Summary(ctx.rec)
    rounds = max(1, len(res.round_s))
    out = {k: 0.0 for k in per_layer_units()}
    c = ctx.rec.counters
    for name in ("drl.parse", "drl.gate", "drl.compile", "scl.begin", "scl.fetch",
                 "database.insert", "database.delete", "database.commit", "database.snapshot",
                 "database.validate", "database.cascade", "hashing.relation_hash",
                 "store.put_relation", "store.get_relation", "store.put_manifest",
                 "merge.find_ancestor", "merge.diff", "merge.plan", "branches.merge",
                 "branches.checkout"):
        out[f"{name}_s"] = s.p50(name)
    out["icl.violations_build_s"] = s.p50("icl.violations")
    for layer in ("wire", "drl", "algebra", "scl", "database", "icl", "hashing", "store",
                  "merge", "branches"):
        out[f"{layer}.self_s"] = s.layer_self(layer)
    execs = {sp.parent: sp for sp in s.outer("wire.execute")}
    wire_ops = [op for op in s.ops if op.id in execs]
    out["wire.execute_s"] = s.p50("wire.execute")
    out["wire.transport_s"] = median(op.dur - execs[op.id].dur for op in wire_ops)
    out["algebra.calls"] = s.calls("algebra.op") / rounds
    out["scl.rows_per_fetch"] = c.get("scl.rows", 0) / max(1, c.get("scl.fetches", 0))
    out["database.jobs_per_insert"] = median(s.jobs_of({"op.insert", "op.edit_insert"}))
    out["database.jobs_per_delete"] = median(s.jobs_of({"op.delete", "op.edit_delete"}))
    out["database.jobs_per_commit"] = median(
        sp.attrs["jobs"] for sp in s.outer("database.commit"))
    dml = s.calls("database.insert") + s.calls("database.delete")
    out["icl.checks_per_stmt"] = c.get("icl.checks", 0) / max(1, dml)
    hashes = s.calls("hashing.relation_hash")
    out["hashing.relation_hash_calls"] = hashes / rounds
    out["hashing.rehash_per_changed_relation"] = (
        hashes / c["database.changed_relations"] if c.get("database.changed_relations") else 0.0)
    attempts = c.get("store.put_attempts", 0)
    out["store.write_skip_ratio"] = c.get("store.put_hits", 0) / attempts if attempts else 0.0
    out["merge.jobs"] = median(s.jobs_of({"op.merge"}))
    for k, v in s.spark_per_op().items():
        out[f"spark.{k}"] = v
    out["trace.round_s"] = median(res.round_s)
    out["trace.round_cpu_s"] = median(res.round_cpu_s)
    # Time the recorder spent counting jobs (listener-bus waits and tracker
    # calls), per round; the wrappers themselves cost microseconds. The
    # traced-minus-untraced difference is `trace.round_cpu_s` against the
    # untraced runs' `round_cpu_s` on the same seeds (`trace.round_s`
    # against the `round_s` report line in wall time).
    out["trace.overhead_s"] = c.get("trace.bookkeeping_s", 0.0) / rounds
    out.update(ctx.layer)
    return out


def end_to_end(ctx, res, setup_cpu_s: float) -> dict[str, float]:
    from common import peak_rss_mb
    from spans import median

    return {
        "round_cpu_s": median(res.round_cpu_s),
        "setup_s": setup_cpu_s,
        "peak_rss_mb": peak_rss_mb(ctx.spark),
    }


def _usable_cores() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def _stop(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true", help="one round on tiny inputs")
    args = ap.parse_args(argv)

    sys.path.insert(0, REPO)
    import sakura_spark  # noqa: F401 - fail before writing anything if the package is absent

    work = os.path.join(os.getcwd(), ".bench_work", f"{args.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cores = _usable_cores()
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": "2g",
    })
    spark = None
    try:
        from common import Context, stopwatch
        from spans import Recorder, median

        from sakura_spark import get_spark

        elapsed = stopwatch()
        spark = get_spark(f"perfbench-{args.workload}", cpus=cores, extra_conf={
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        })
        spark_start_s, spark_start_cpu_s = elapsed()
        ctx = Context(spark=spark, work=work, seed=args.seed, seconds=args.seconds,
                      trace=bool(args.trace), smoke=args.smoke, spark_start_s=spark_start_s)
        if args.trace:
            ctx.rec = Recorder(spark)
        res = importlib.import_module(args.workload).run(ctx)

        ctx.report["spark_start_s"] = (spark_start_s, "s")
        ctx.report["setup_wall_s"] = (spark_start_s + res.setup_s, "s")
        ctx.report["rounds"] = (len(res.round_s), "count")
        ctx.report["round_s"] = (median(res.round_s), "s")
        ctx.report["ops_per_s"] = (res.attempted / res.timed_s, "1/s")
        if args.trace:
            units = per_layer_units()
            metrics = {k: {"value": v, "unit": units[k]} for k, v in per_layer(ctx, res).items()}
        else:
            setup_cpu_s = spark_start_cpu_s + res.setup_cpu_s
            metrics = {k: {"value": v, "unit": END_TO_END[k]}
                       for k, v in end_to_end(ctx, res, setup_cpu_s).items()}
        for name, (value, unit) in ctx.report.items():
            print(f"{args.workload}  {name} = {value:.6g} {unit}")
        for p in res.problems:
            print(f"{args.workload}  WRONG: {p}")
        print(f"{args.workload}  attempted = {res.attempted}  failed = {res.failed}")
        print(json.dumps({
            "correct": not res.problems,
            "attempted": res.attempted,
            "failed": res.failed,
            "metrics": metrics,
        }), flush=True)
        return 0
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass


if __name__ == "__main__":
    sys.exit(main())
