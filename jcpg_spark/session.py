"""SparkSession factory tuned for the KG-construction workload.

Settings are chosen for the 100 TB design point (AQE on, skew-join handling
on, Arrow for every pandas UDF) while remaining correct on ``local[N]``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_mem() -> str:
    """A quarter of the memory this process can see (physical RAM, or a
    smaller cgroup limit), capped at 16g. In local mode the driver JVM
    hosts every executor next to the Python workers; a fixed 16g heap on
    a host with about that much memory lets the JVM grow until the
    machine kills it."""
    visible = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    for limit_file in (
        "/sys/fs/cgroup/memory.max",  # cgroup v2
        "/sys/fs/cgroup/memory/memory.limit_in_bytes",  # cgroup v1
    ):
        try:
            with open(limit_file) as f:
                visible = min(visible, int(f.read()))
        except (OSError, ValueError):  # no such cgroup, or "max"
            pass
    return f"{min(visible // 4 >> 20, 16 << 10)}m"


def get_spark(
    app_name: str = "jcpg_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's standard config.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32).
    ``shuffle_partitions`` defaults to the core count — on a real cluster this
    would be ~2-3x total cores; AQE coalesces either way.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # local[k] -> k; local[*] -> cpus
        inner = master.split("[")[-1].rstrip("]")
        shuffle_partitions = cpus if inner == "*" else int(inner)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 64k-row Arrow batches: fewer python<->JVM round trips through the
        # mention-detection mapInPandas (A/B at 6.3M turns: -17% at 4 cores,
        # -8% at 1; per-core scaling of the phase 0.89 -> 0.98). Rows here
        # are ~100 B; jobs over LARGE binary payloads (multimodal media)
        # should override this down so a batch stays executor-memory-sized.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config(
            "spark.driver.memory",
            os.environ.get("JCPG_DRIVER_MEM") or _default_driver_mem(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # PySpark 4's DataFrame-debugging hook wraps EVERY Column/DataFrame
        # API call with a Python stack walk plus extra py4j round trips to
        # record the call site for error messages. On plan-construction-heavy
        # code (the fused KG emitters build hundreds of expression nodes)
        # that is 3x the driver-side build wall (cfg_triples 1.45s -> 0.48s
        # measured) — pure serial time a cluster pays once per query but at
        # every parallelism level alike. Off by default here; re-enable via
        # extra_conf when chasing a cryptic analysis error.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # Generated-code cache (its size is a static conf: it takes effect
        # only when this call starts the JVM). A build + append + query-pass round of the
        # benchmark compiles 264 distinct classes (seed 1 of either workload:
        # build 200, append 24, query pass 40, 4-core host, counted by
        # tools/codegen_working_set.py). Spark's default of 100 entries holds
        # less than the build, so the append compiled 201-202 classes again;
        # at 1 000 entries it compiles 24, and the JVM's metaspace after the
        # round is 167.2-167.4 MB against 166.1-168.5 MB at 100.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # The cache is keyed on the generated source, which by default names
        # the class after its whole-stage-codegen stage id, so the same
        # operator code at another stage position (an append's plans have a
        # few more stages than the build's) missed the cache: with the id in
        # the name the append compiled 48 classes instead of 24.
        .config("spark.sql.codegen.useIdInClassName", "false")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # Ship the package to executor python workers (spark-submit --py-files
    # equivalent for programmatic sessions) — see packaging.py.
    from jcpg_spark.packaging import ship_package

    ship_package(spark)
    return spark
