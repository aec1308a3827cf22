"""Table IO seam: snapshot-committed parquet tables with manifests.

north_rule requires every stage to checkpoint per-partition lineage +
triple-count metrics and the pipeline to resume from the last committed
snapshot. The production target is Iceberg (atomic snapshot commits,
bucket partitioning); the Iceberg runtime jar is not a dependency here,
so this module provides the snapshot contract over plain parquet, without
bucketing (``spark.read.parquet`` has no bucket spec a join could use).

- ``write_table`` writes parquet under a per-snapshot directory then
  atomically commits the pointer manifest (write temp + rename) recording
  row count, schema (a DDL string), per-partition lineage (partition id
  -> rows, read from the written files' footers), and the full snapshot
  log — the bookkeeping an Iceberg snapshot + manifest list carries.
  ``mode="append"`` commits an O(new-data) append snapshot (parent
  directories + one new), no rewrite, and refuses a frame whose schema
  differs from the table's.
- Reads take the schema from the manifest, as an Iceberg reader takes it
  from table metadata: no footer is opened to infer it, so building a
  read DataFrame launches no Spark job.
- ``read_table(snapshot=...)`` time-travels to any logged snapshot
  (``VERSION AS OF``); ``read_added`` reads only the rows the current
  snapshot added (the incremental append scan); ``rollback`` is an
  atomic pointer swap; ``expire_snapshots`` deletes unreferenced data
  directories (table maintenance, pairs with ``compaction_plan``);
  ``snapshots`` is the ``.snapshots`` metadata view.
- ``is_committed`` / ``read_table`` give stage-skip resume: a stage whose
  manifest exists is never recomputed.

Swapping in Iceberg later = replacing these four functions with
``df.writeTo(...).createOrReplace()`` and snapshot inspection; callers are
unchanged (SURVEY §7 "thin io.py seam").
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MANIFEST = "_MANIFEST.json"


def fan_out(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Widen an under-partitioned scan to the session's parallelism.

    Small benchmark inputs arrive as a single parquet file with ONE row
    group, so the scan yields one partition and every expression evaluated
    before the first shuffle (shingling, minhash, RHP projections) runs on
    one core. This repartitions ONLY when the scan has fewer partitions
    than ``defaultParallelism`` — at production scale an input table has
    thousands of splits, so the check short-circuits and no shuffle is
    added. A round-robin exchange of the raw rows is strictly cheaper than
    serializing a CPU-bound expression chain on one core (sf0.1 A/B:
    jaccard shingle phase 9.0s -> 1.9s at local[32]).
    """
    spark = df.sparkSession
    target = min_partitions or spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def compaction_plan(
    files: DataFrame,
    target_bytes: int,
    partition_cols: tuple[str, ...] = (),
    id_col: str = "file_id",
    size_col: str = "size_bytes",
) -> DataFrame:
    """-> input columns + ``bin``: group small files into rewrite tasks of
    ~``target_bytes`` each (the Iceberg ``rewrite_data_files`` binpack
    planner, expressed relationally).

    A 100 TB table accretes millions of under-sized files (streaming
    micro-batches, per-executor outputs); compaction is the table-
    maintenance operator that keeps scan task counts sane. Files already
    at or above the target are singleton bins (they are not rewritten
    together with others). Within each table partition the remaining files
    are ordered by (size desc, id) and assigned bin =
    floor(running_sum_before / target) — cumulative-sum sharding, ONE
    window over the partition instead of a sequential greedy loop, so the
    planner itself scales with the file count. Each bin's payload is
    bounded by target + the partition's largest small file; the size-desc
    order packs big files first so the tail bins hold many tiny files,
    matching greedy binpack's shape without its sequential dependency.
    Deterministic: ties break on the file id.
    """
    from pyspark.sql import Window

    pcols = [F.col(c) for c in partition_cols]
    big = F.col(size_col) >= target_bytes
    w = (
        Window.partitionBy(*pcols, "_big")
        .orderBy(F.col(size_col).desc(), F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    rn = Window.partitionBy(*pcols, "_big").orderBy(
        F.col(size_col).desc(), F.col(id_col).asc()
    )
    return (
        files.withColumn("_big", big)
        .withColumn(
            "bin",
            F.when(
                F.col("_big"),
                # singleton bins for already-right-sized files, numbered
                # below 0 so they never collide with the packed bins
                -F.row_number().over(rn).cast("long"),
            ).otherwise(
                F.floor(
                    F.coalesce(F.sum(size_col).over(w), F.lit(0)) / F.lit(target_bytes)
                )
            ),
        )
        .drop("_big")
    )


def local_frame(spark: SparkSession, columns: list, schema) -> DataFrame:
    """Driver-held column lists -> a DataFrame of ``schema`` (a
    ``StructType``; nullability kept), shipped as one Arrow table rather
    than as pickled rows through ``parallelize``."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(schema)
    return spark.createDataFrame(pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    ))


def table_path(base_dir: str, name: str) -> str:
    return os.path.join(base_dir, name)


def is_committed(base_dir: str, name: str) -> bool:
    return os.path.exists(os.path.join(table_path(base_dir, name), MANIFEST))


def _commit_pointer(path: str, manifest: dict) -> None:
    tmp = os.path.join(path, MANIFEST + ".tmp")
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    os.rename(tmp, os.path.join(path, MANIFEST))  # atomic commit


def _footer_lineage(snap_path: str) -> dict:
    """partition id (the ``part-<NNNNN>-`` file prefix) -> rows, summed
    from the footers of the files under ``snap_path``; no Spark job.
    Zero-row files (an empty write's schema-only file) are skipped."""
    import pyarrow.parquet as pq

    lineage: dict[str, int] = {}
    for f in sorted(os.listdir(snap_path)):
        if f.startswith("part-") and f.endswith(".parquet"):
            rows = pq.read_metadata(os.path.join(snap_path, f)).num_rows
            if rows:
                pid = str(int(f.split("-")[1]))
                lineage[pid] = lineage.get(pid, 0) + rows
    return lineage


def write_table(df: DataFrame, base_dir: str, name: str, mode: str = "replace") -> dict:
    """Write ``df`` as a committed table SNAPSHOT; returns the manifest.

    Iceberg-style multi-snapshot commits (format_version 2): each write
    lands its parquet under ``snap-<id>/`` and then atomically swaps the
    pointer file (temp + rename), so a concurrent reader sees either the
    previous snapshot or the new one, never a half-written directory —
    the isolation property ``mode="overwrite"`` on a shared path cannot
    give. ``mode="replace"`` makes the new snapshot the whole table;
    ``mode="append"`` commits a snapshot whose data is the parent's
    directories plus the new one — an O(new data) fast append, no
    rewrite of existing files, exactly Iceberg's append snapshot. The
    pointer keeps the full snapshot log, so ``read_table(snapshot=...)``
    time-travels and ``rollback`` is a pointer swap. ``df`` is written
    as given: no repartition, no added column.

    Each snapshot records the schema a read of its files gives (the
    frame's schema with every field nullable, as parquet reads it back) as
    one DDL string, which ``read_table`` / ``read_added`` hand to the
    reader. An append whose schema differs from the current snapshot's
    raises ``ValueError`` before anything is written.

    Manifest content stays deterministic (no timestamps): snapshot ids
    are a monotone counter, lineage is partition id -> rows of the data
    actually written.
    """
    if mode not in ("replace", "append"):
        raise ValueError(f"mode must be replace|append, got {mode!r}")
    path = table_path(base_dir, name)
    prev = None
    if os.path.exists(os.path.join(path, MANIFEST)):
        prev = read_manifest(base_dir, name)
    if mode == "append" and prev is None:
        mode = "replace"  # first commit of a table is always a replace
    ddl = df.schema.toNullable().toDDL()
    if mode == "append" and isinstance(prev["schema"], str) and ddl != prev["schema"]:
        raise ValueError(
            f"append to {name!r} with schema {ddl!r}; the table's is {prev['schema']!r}"
        )
    # allocate past the highest id ever allocated, not current+1 nor the log
    # maximum: after a rollback the current pointer sits below later
    # snapshots, and an expired snapshot's id must not come back either
    snap_id = _last_id(prev) + 1 if prev else 1
    snap_dir = f"snap-{snap_id}"

    df.write.mode("overwrite").parquet(os.path.join(path, snap_dir))
    lineage = _footer_lineage(os.path.join(path, snap_dir))
    new_rows = sum(lineage.values())
    if mode == "append":
        data_dirs = prev["data_dirs"] + [snap_dir]
        n_rows = int(prev["rows"]) + new_rows
    else:
        data_dirs = [snap_dir]
        n_rows = new_rows
    entry = {
        "id": snap_id,
        "op": mode,
        "parent": prev["snapshot_id"] if prev else None,
        "rows": n_rows,
        "partitions": len(lineage),
        "lineage": lineage,
        "data_dirs": data_dirs,
        "schema": ddl,
    }
    log = (prev["snapshots"] if prev else []) + [entry]
    manifest = {
        # top-level view of the CURRENT snapshot
        "table": name,
        "rows": n_rows,
        "partitions": len(lineage),
        "lineage": lineage,
        "schema": entry["schema"],
        "format_version": 2,
        "snapshot_id": snap_id,
        "last_id": snap_id,
        "data_dirs": data_dirs,
        "snapshots": log,
    }
    _commit_pointer(path, manifest)
    return manifest


def _last_id(manifest: dict) -> int:
    """Highest snapshot id allocated for the table; a manifest written before
    ``last_id`` was recorded falls back to its log maximum."""
    return manifest.get("last_id", max(e["id"] for e in manifest["snapshots"]))


def _snapshot_entry(manifest: dict, snapshot: int) -> dict:
    for e in manifest["snapshots"]:
        if e["id"] == snapshot:
            return e
    raise KeyError(f"snapshot {snapshot} not in log "
                   f"{[e['id'] for e in manifest['snapshots']]}")


def read_table(
    spark: SparkSession, base_dir: str, name: str, snapshot: int | None = None
) -> DataFrame:
    """Current table state, or — with ``snapshot`` — the table AS OF that
    committed snapshot id (Iceberg ``VERSION AS OF`` time travel)."""
    man = read_manifest(base_dir, name)
    entry = _snapshot_entry(man, snapshot) if snapshot is not None else man
    return _read_dirs(spark, base_dir, name, entry["data_dirs"], entry["schema"])


def read_added(spark: SparkSession, base_dir: str, name: str) -> DataFrame:
    """Rows the CURRENT snapshot added (Iceberg's incremental append scan):
    the new directory of an append, the whole table after a replace."""
    man = read_manifest(base_dir, name)
    return _read_dirs(spark, base_dir, name, man["data_dirs"][-1:], man["schema"])


def _read_dirs(
    spark: SparkSession, base_dir: str, name: str, dirs: list[str], schema: str | list
) -> DataFrame:
    """Scan ``dirs`` of the table with the manifest's DDL ``schema``; a
    manifest written before schemas were stored as DDL holds a column-name
    list, and its files' schema is inferred from a footer as before."""
    path = table_path(base_dir, name)
    reader = spark.read.schema(schema) if isinstance(schema, str) else spark.read
    return reader.parquet(*[os.path.join(path, d) for d in dirs])


def read_manifest(base_dir: str, name: str) -> dict:
    with open(os.path.join(table_path(base_dir, name), MANIFEST)) as f:
        return json.load(f)


def snapshots(base_dir: str, name: str) -> list[dict]:
    """Snapshot log (id, op, parent, rows) — Iceberg's ``.snapshots``
    metadata table for this stand-in."""
    return [
        {k: e[k] for k in ("id", "op", "parent", "rows")}
        for e in read_manifest(base_dir, name)["snapshots"]
    ]


def rollback(base_dir: str, name: str, snapshot: int) -> dict:
    """Atomic pointer swap back to an earlier snapshot (Iceberg
    ``rollback_to_snapshot``): the top-level view is restored from that
    snapshot's log entry, the log itself is kept intact, and no data
    files move."""
    path = table_path(base_dir, name)
    man = read_manifest(base_dir, name)
    e = _snapshot_entry(man, snapshot)
    man.update(
        rows=e["rows"], partitions=e["partitions"], lineage=e["lineage"],
        schema=e["schema"], snapshot_id=e["id"], data_dirs=e["data_dirs"],
    )
    _commit_pointer(path, man)
    return man


def expire_snapshots(base_dir: str, name: str, keep_last: int = 2) -> list[int]:
    """Keep the CURRENT snapshot and its ``keep_last - 1`` nearest
    ancestors along ``parent``; expire every other log entry and delete
    the data directories no kept entry references — Iceberg
    ``expire_snapshots`` table maintenance. Ancestry, not log position,
    decides: after a rollback the entries logged past the current pointer
    (a rolled-back batch) are not ancestors, so they go first. Returns
    the expired ids."""
    import shutil

    path = table_path(base_dir, name)
    man = read_manifest(base_dir, name)
    log = man["snapshots"]
    by_id = {e["id"]: e for e in log}
    keep_ids = {man["snapshot_id"]}
    parent = by_id[man["snapshot_id"]]["parent"]
    while parent in by_id and len(keep_ids) < keep_last:
        keep_ids.add(parent)
        parent = by_id[parent]["parent"]
    kept = [e for e in log if e["id"] in keep_ids]
    expired = [e for e in log if e["id"] not in keep_ids]
    live_dirs = {d for e in kept for d in e["data_dirs"]}
    dead_dirs = {d for e in expired for d in e["data_dirs"]} - live_dirs
    man["last_id"] = _last_id(man)
    man["snapshots"] = kept
    _commit_pointer(path, man)  # commit the pruned log BEFORE deleting data
    for d in sorted(dead_dirs):
        shutil.rmtree(os.path.join(path, d), ignore_errors=True)
    return [e["id"] for e in expired]
