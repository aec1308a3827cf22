"""Measure the generated-code working set of one build + append + query round.

Spark compiles a Java class for every whole-stage-codegen plan it has not
compiled before in the JVM, and keeps the compiled classes in a cache of
``spark.sql.codegen.cache.maxEntries`` entries. ``session.get_spark`` sizes
that cache from what this tool prints. It generates a benchmark workload's
inputs with ``perfbench/gen.py``, then runs the benchmark's round in one
session: ``run_pipeline`` over the corpus, ``append_conversations`` of the
batch, and one pass of the SPARQL query mix (``perfbench/queries.py``).
After each operation it prints one JSON line:

- ``compiles``: classes compiled by the operation (the count of
  ``CodegenMetrics.METRIC_COMPILATION_TIME``); with a cache larger than the
  round, their sum is the round's distinct classes;
- ``loaded_classes``: JVM classes loaded after the operation;
- ``metaspace_mb``: JVM metaspace in use after the operation;
- ``s``: the operation's wall time.

Usage: python tools/codegen_working_set.py [--workload append_query]
       [--seed 1] [--cores 4] [--cache-entries N] [--work DIR]
``--cache-entries`` overrides the session's cache size (Spark's default is
100), so two runs compare a cache size against the session's.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "perfbench"))


def jvm_counters(spark) -> dict:
    jvm = spark._jvm
    timer = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    mf = jvm.java.lang.management.ManagementFactory
    metaspace = [p for p in mf.getMemoryPoolMXBeans() if p.getName() == "Metaspace"]
    return {
        "compiles": timer.getCount(),
        "loaded_classes": mf.getClassLoadingMXBean().getLoadedClassCount(),
        "metaspace_mb": round(metaspace[0].getUsage().getUsed() / 2**20, 1),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", default="append_query")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--cores", type=int, default=4)
    ap.add_argument("--cache-entries", type=int, default=None,
                    help="spark.sql.codegen.cache.maxEntries (default: the session's)")
    ap.add_argument("--work", default=None, help="parent of the scratch directory")
    a = ap.parse_args()

    import gen
    from queries import query_mix

    from jcpg_spark.plans.materialize import (
        append_conversations,
        read_graph_edges,
        run_pipeline,
    )
    from jcpg_spark.session import get_spark

    conf = {"spark.ui.showConsoleProgress": "false"}
    if a.cache_entries is not None:
        conf["spark.sql.codegen.cache.maxEntries"] = str(a.cache_entries)
    spark = get_spark(app_name="codegen_working_set", master=f"local[{a.cores}]",
                      shuffle_partitions=a.cores, extra_conf=conf)
    entries = spark.conf.get("spark.sql.codegen.cache.maxEntries")
    with tempfile.TemporaryDirectory(dir=a.work) as work:
        desc = gen.generate(a.workload, a.seed, os.path.join(work, "inputs"))
        dictionary = spark.read.parquet(desc["dictionary"])
        graph = os.path.join(work, "graph")

        def query_pass():
            edges = read_graph_edges(spark, graph)
            for _name, fn in query_mix(desc["point_conv"], desc["namespace"]):
                fn(edges)

        ops = [
            ("build", lambda: run_pipeline(
                spark, spark.read.parquet(desc["corpus"]), dictionary, graph)),
            ("append", lambda: append_conversations(
                spark, spark.read.parquet(desc["batch"]), dictionary, graph)),
            ("query_pass", query_pass),
        ]
        prev = jvm_counters(spark)
        for op, fn in ops:
            t0 = time.perf_counter()
            fn()
            wall = time.perf_counter() - t0
            now = jvm_counters(spark)
            print(json.dumps({
                "workload": a.workload, "seed": a.seed, "cache_entries": int(entries),
                "op": op, "compiles": now["compiles"] - prev["compiles"],
                "loaded_classes": now["loaded_classes"],
                "metaspace_mb": now["metaspace_mb"], "s": round(wall, 2),
            }), flush=True)
            prev = now
    spark.stop()


if __name__ == "__main__":
    main()
