"""Measure where the driver paths of the SPARQL layer stop paying.

``operators.query`` answers a ``p+`` closure and a DESCRIBE on the driver
when the input is within a row budget (``_CLOSURE_DRIVER_ROWS``,
``_DESCRIBE_DRIVER_ROWS``) and with Spark jobs above it. This tool times
both sides over generated inputs of growing size, so the budgets can be
read off measured crossovers instead of guessed. Inputs are written to
parquet and read back, as the stored graph is, so a scan costs what it
costs in a query over committed tables.

- closure: a ``flow.next``-shaped relation (chains of 50 turns, one per
  conversation) closed at ``max_hops`` 4, as the benchmark's
  ``q_path_flow`` does. Paths timed, each as build + ``count()``:
  ``driver`` (budget unbounded), ``fallback`` (budget 0: the probe, then
  frontier expansion over the base it persisted), ``fallback_full``
  (budget n - 1: the probe collects the whole base and still falls back,
  the worst case) and ``frontier`` (frontier expansion alone, no probe).
- describe: a 200 000-edge chain graph; ``?o`` bound to the first R
  nodes. Paths: ``driver`` (one ``IN`` scan, budget unbounded), ``fallback`` (budget 0),
  ``fallback_full`` (budget R - 1) and ``semi`` (the two semi joins
  alone, no probe).

Usage: python tools/query_budget_crossover.py [closure|describe ...]
       [--sizes N,N,...] [--reps 3] [--cores 4] [--work DIR]
Prints one JSON line per (operator, size, path) with the median seconds.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from jcpg_spark import caching  # noqa: E402
from jcpg_spark.operators import query as Q  # noqa: E402

CHAIN = 50


def chain_pairs(spark, n: int, work: str):
    """About n (src, dst, pred) rows: chains of CHAIN nodes named
    ``c<conv>:<turn>``, stored as parquet under ``work`` and read back."""
    convs = max(1, n // (CHAIN - 1))
    ids = spark.range(convs * CHAIN).select(
        (F.col("id") / CHAIN).cast("long").alias("c"), (F.col("id") % CHAIN).alias("t")
    )
    node = lambda t: F.format_string("c%07d:%02d", F.col("c"), t)  # noqa: E731
    path = os.path.join(work, f"chain-{n}")
    ids.where(F.col("t") < CHAIN - 1).select(
        node(F.col("t")).alias("src"), F.lit("next").alias("pred"),
        node(F.col("t") + 1).alias("dst"),
    ).write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def timed(fn, reps: int) -> float:
    """Median seconds of ``reps`` runs after one untimed warm-up run."""
    out = []
    fn()
    for _ in range(reps):
        caching.clear_caches()
        t0 = time.perf_counter()
        fn()
        out.append(time.perf_counter() - t0)
    return statistics.median(out)


def with_budget(name: str, value: int, fn):
    def run():
        old = getattr(Q, name)
        setattr(Q, name, value)
        try:
            return fn()
        finally:
            setattr(Q, name, old)

    return run


def closure(spark, sizes, reps, work):
    for n in sizes:
        base = chain_pairs(spark, n, work).select("src", "dst")
        rows = base.count()
        run = lambda: Q._closure(base, 4).count()  # noqa: E731

        def frontier():
            b = caching.swap_persist("query.closure.base", base.distinct())
            return Q._frontier_closure(b, 4, ["src", "dst"]).count()

        paths = {
            "driver": with_budget("_CLOSURE_DRIVER_ROWS", 1 << 30, run),
            "fallback": with_budget("_CLOSURE_DRIVER_ROWS", 0, run),
            "fallback_full": with_budget("_CLOSURE_DRIVER_ROWS", rows - 1, run),
            "frontier": frontier,
        }
        for path, fn in paths.items():
            print(json.dumps({"op": "closure", "base_rows": rows, "path": path,
                              "s": round(timed(fn, reps), 3)}), flush=True)


def describe(spark, sizes, reps, work):
    edges = chain_pairs(spark, 200_000, work)
    nodes = sorted(r[0] for r in edges.select("dst").distinct().collect())
    for n in sizes:
        cut = nodes[min(n, len(nodes) - 1)]
        bgp, flt = [("?s", "next", "?o")], [f"o < '{cut}'"]
        run = lambda: Q.describe(edges, bgp, "?o", filters=flt).count()  # noqa: E731

        def semi():
            sol = Q.match_query(edges, bgp, filters=flt)
            res = sol.select(F.col("o").alias("r")).distinct()
            a = edges.join(res.withColumnRenamed("r", "src"), "src", "semi")
            b = edges.join(res.withColumnRenamed("r", "dst"), "dst", "semi")
            return a.unionByName(b.select(*a.columns)).distinct().count()

        paths = {
            "driver": with_budget("_DESCRIBE_DRIVER_ROWS", 1 << 30, run),
            "fallback": with_budget("_DESCRIBE_DRIVER_ROWS", 0, run),
            "fallback_full": with_budget("_DESCRIBE_DRIVER_ROWS", n - 1, run),
            "semi": semi,
        }
        for path, fn in paths.items():
            print(json.dumps({"op": "describe", "resources": n, "path": path,
                              "s": round(timed(fn, reps), 3)}), flush=True)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("ops", nargs="*", default=["closure", "describe"])
    ap.add_argument("--sizes", default="")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--cores", type=int, default=4)
    ap.add_argument("--work", default=None, help="parent of the scratch parquet dir")
    a = ap.parse_args()
    from jcpg_spark.session import get_spark

    spark = get_spark(app_name="query_budget_crossover", master=f"local[{a.cores}]",
                      shuffle_partitions=a.cores,
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    defaults = {"closure": [3_000, 10_000, 20_000, 30_000, 100_000],
                "describe": [1, 10, 100, 1_000, 10_000]}
    with tempfile.TemporaryDirectory(dir=a.work) as work:
        for op in a.ops:
            sizes = [int(x) for x in a.sizes.split(",")] if a.sizes else defaults[op]
            {"closure": closure, "describe": describe}[op](spark, sizes, a.reps, work)
    spark.stop()


if __name__ == "__main__":
    main()
