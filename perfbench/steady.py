#!/usr/bin/env python3
"""Run one workload N times, each with another seed, and print for every
metric the median, the quartiles and the spread (interquartile distance
as a share of the median), plus the failed share of operations.

    python3 perfbench/steady.py --workload append_query --runs 10 [--first-seed 1]
        [--trace 0] [--json OUT]

Run from the repository root. Runs are sequential; each is a separate
``perfbench/run.py`` process, given ``--seconds`` from ``run_seconds`` in
BENCHMARK.json as the benchmark's own command is, and its last stdout line
is parsed.
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
with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as _f:
    _spec = json.load(_f)
RUN_SECONDS = _spec["run_seconds"]
COMPARISON_RUNS = 4 + 22 * len(_spec["workloads"])  # runs in one comparison of two commits


def run_once(workload: str, seed: int, trace: int) -> tuple[dict, float]:
    t0 = time.perf_counter()
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(RUN_SECONDS), "--trace", str(trace)],
        check=True, stdout=subprocess.PIPE, text=True,
    ).stdout
    return json.loads(out.strip().splitlines()[-1]), time.perf_counter() - t0


def summarize(results: list[dict]) -> dict:
    names = sorted(results[0]["metrics"])
    out = {}
    for n in names:
        v = [r["metrics"][n]["value"] for r in results]
        q1, q2, q3 = statistics.quantiles(v, n=4) if len(v) > 1 else (v[0],) * 3
        med = statistics.median(v)
        out[n] = {"median": med, "q1": q1, "q3": q3,
                  "spread": (q3 - q1) / med if med else 0.0,
                  "unit": results[0]["metrics"][n]["unit"]}
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--json", help="also write the runs and the summary here")
    args = ap.parse_args()

    results, walls = [], []
    for i in range(args.runs):
        seed = args.first_seed + i
        r, wall = run_once(args.workload, seed, args.trace)
        results.append(r)
        walls.append(wall)
        print(f"seed {seed}: wall {wall:.1f}s correct {r['correct']} "
              f"attempted {r['attempted']} failed {r['failed']}", flush=True)
    summary = summarize(results)
    print(f"{args.workload}: {args.runs} runs, run wall median {statistics.median(walls):.1f}s "
          f"max {max(walls):.1f}s (a comparison of {COMPARISON_RUNS} runs: "
          f"{COMPARISON_RUNS * statistics.mean(walls):.0f}s at the mean, "
          f"{COMPARISON_RUNS * max(walls):.0f}s at the max); failed share "
          f"{sorted({r['failed'] / r['attempted'] for r in results})}")
    print(f"{'metric':36s} {'median':>12s} {'q1':>12s} {'q3':>12s} {'spread':>8s}")
    for n, s in summary.items():
        print(f"{n:36s} {s['median']:12.4f} {s['q1']:12.4f} {s['q3']:12.4f} "
              f"{s['spread']:8.3f}  {s['unit']}")
    if args.json:
        with open(args.json, "w") as f:
            json.dump({"runs": results, "walls": walls, "summary": summary}, f, indent=1)


if __name__ == "__main__":
    main()
