"""Steadiness check: run each workload repeatedly in two sets and print
each end-to-end metric's spread against its bound in BENCHMARK.json.

    python3 perfbench/steady.py                      # 2 sets x 5 seeds, every workload
    python3 perfbench/steady.py --runs 10 --sets 1 --workloads wire_oltp
    python3 perfbench/steady.py --smoke              # one tiny round per workload

Spread is the distance between the first and third quartile of a set's
values (``statistics.quantiles(n=4)``) over their median; shift is how far
the second set's median lies from the first's, in either direction, over
the first. A metric passes when every set's spread, the spread of all
runs together and the shift stay within its bound; the target for a
steady benchmark is a third of it.
With ``--smoke`` each workload runs once on tiny inputs and must report
``correct``: the benchmark's own test. Run from the root of a checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def run_once(workload: str, seed: int, seconds: float, trace: int = 0, smoke: bool = False):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    if smoke:
        cmd.append("--smoke")
    t0 = time.perf_counter()
    p = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
    wall = time.perf_counter() - t0
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-4000:])
        raise RuntimeError(f"{workload} seed {seed}: exit {p.returncode}")
    for ln in lines[:-1]:
        print("   ", ln)
    return json.loads(lines[-1]), wall


def spread(xs: list[float]) -> float:
    q1, med, q3 = statistics.quantiles(xs, n=4)
    return (q3 - q1) / med if med else 0.0


def main() -> int:
    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)
    metrics = {m["name"]: m for m in bench["end_to_end"]}
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads", nargs="*", default=[w["name"] for w in bench["workloads"]])
    ap.add_argument("--runs", type=int, default=5, help="runs per set (each a new seed)")
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--seconds", type=float, default=bench["run_seconds"])
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args()

    if args.smoke:
        bad = 0
        for w in args.workloads:
            for trace in (0, 1):
                out, wall = run_once(w, args.first_seed, 1, trace=trace, smoke=True)
                ok = out["correct"] and out["failed"] == 0 and out["attempted"] > 0
                bad += not ok
                print(f"{w} trace={trace}: {'ok' if ok else 'FAIL'} ({wall:.0f} s)")
        return 1 if bad else 0

    worst = 0
    for w in args.workloads:
        sets = []
        seed = args.first_seed
        for _ in range(args.sets):
            rows = []
            for _ in range(args.runs):
                out, wall = run_once(w, seed, args.seconds)
                vals = " ".join(f"{k}={v['value']:.4g}" for k, v in out["metrics"].items())
                print(f"{w} seed {seed}: {wall:.1f} s wall, attempted {out['attempted']}, "
                      f"failed {out['failed']}, correct {out['correct']}, {vals}")
                if not out["correct"]:
                    worst = 1
                rows.append(out)
                seed += 1
            sets.append(rows)
        for name, m in metrics.items():
            vals = [[r["metrics"][name]["value"] for r in rows] for rows in sets]
            meds = [statistics.median(v) for v in vals]
            spreads = [spread(v) for v in vals]
            pooled = spread([x for v in vals for x in v])
            shift = (meds[-1] - meds[0]) / meds[0] if len(meds) > 1 else 0.0
            ok = abs(shift) <= m["bound"] and max(spreads + [pooled]) <= m["bound"]
            worst = max(worst, 0 if ok else 1)
            print(f"{w:15s} {name:12s} medians {' '.join(f'{x:.4g}' for x in meds)} "
                  f"spread {' '.join(f'{x:.3f}' for x in spreads)} all {pooled:.3f} "
                  f"shift {shift:+.3f} bound {m['bound']} {'ok' if ok else 'OVER'}")
        shares = {r["failed"] / r["attempted"] for rows in sets for r in rows}
        print(f"{w:15s} failed share per run: {sorted(shares)}")
    return worst


if __name__ == "__main__":
    sys.exit(main())
