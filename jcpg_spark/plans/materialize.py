"""Resumable staged materialization of the KG, one batch of conversations
at a time.

Implements north_rule's checkpoint/resume contract: each stage writes a
snapshot-committed table (io.write_table: parquet + atomic manifest with
per-partition lineage). A build is the first batch and an append is every
later one; both commit through ``_commit_batch``, which runs the stages
below in order and reads each stage's input as the rows its upstream
table's current snapshot added (``io.read_added``), so the
per-conversation stages do batch-sized work.

Stage graph (each node = one committed table, with the mode a batch
commits it in; a table's first append is a replace):

    transcripts (batch input)
      -> mentions            append   (pandas-UDF detection)
      -> linked              append   (broadcast ranked linking)
      -> alias_mapping       replace  (union-find over the committed
                                       mapping pairs + the batch's alias pairs)
      -> edges               append   (all triple layers)
      -> nodes               append   (global nodes only when new)
      -> canonical           replace  (all of linked x current mapping)
      -> _metrics            replace  (per-pred triple counts of the graph)

Canonicalization is the one cross-conversation layer: a new alias can
merge two existing components, so ``alias_mapping`` is re-solved per
batch (entity-vocabulary-sized), and a build is that re-solve over an
empty previous mapping. ``same_as`` edges are materialized only in the
first ``edges`` snapshot; ``read_graph_edges`` drops them and derives the
current ones from ``alias_mapping``.

A build resumes: a rerun skips every committed stage (the reference has
no analog — a crashed run restarts from zero; SURVEY §4.2 item 4). An
append is atomic: if a stage raises, every table the batch committed is
rolled back to its pre-batch snapshot, so the batch can be retried. A
committed append expires all but each table's last two snapshots.

Determinism: all stage outputs are content-keyed and partition-invariant,
so a resumed run's tables are row-identical to a clean run's, and a build
plus appends composes to the graph of one build over the whole corpus
(pytest-gated)."""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from jcpg_spark import caching
from jcpg_spark import io as tio
from jcpg_spark import metrics as tmetrics
from jcpg_spark.operators import canonicalize, linking, mentions
from jcpg_spark.pipeline import edge_layers, node_layers

STAGES = ("mentions", "linked", "alias_mapping", "edges", "nodes", "canonical", "_metrics")


@dataclass
class RunSummary:
    out_dir: str
    stages_computed: list[str] = field(default_factory=list)
    stages_skipped: list[str] = field(default_factory=list)
    manifests: dict = field(default_factory=dict)
    stage_walls: dict = field(default_factory=dict)  # name -> seconds (computed stages)


def run_pipeline(
    spark: SparkSession, transcripts: DataFrame, dictionary: DataFrame, out_dir: str
) -> RunSummary:
    """Build the graph of ``transcripts`` as the first batch, skipping the
    stages an earlier (crashed) run already committed."""
    committed = {name for name in STAGES if tio.is_committed(out_dir, name)}
    return _commit_batch(spark, transcripts, dictionary, out_dir, committed)


def append_conversations(
    spark: SparkSession, new_transcripts: DataFrame, dictionary: DataFrame, out_dir: str
) -> RunSummary:
    """Incremental ingest: commit a batch of NEW conversations onto a
    materialized graph, row-identical to one build over the full corpus
    (pytest-gated). Re-ingest of a materialized conv_id is refused by one
    semi join on conv_id against the committed conversation nodes (one
    per conversation of every batch, with or without mentions); the same
    read of ``nodes`` gives the committed global node ids, which the
    batch's nodes stage does not emit again."""
    for name in STAGES:
        if not tio.is_committed(out_dir, name):
            raise ValueError(
                f"append_conversations needs a materialized pipeline (run_pipeline) "
                f"first; stage {name!r} is not committed in {out_dir}"
            )
    nodes = tio.read_table(spark, out_dir, "nodes")
    seen = nodes.where(F.col("kind") == "conversation").select("conv_id")
    batch_ids = new_transcripts.select("conv_id").distinct()
    if batch_ids.join(seen, "conv_id", "left_semi").limit(1).count():
        raise ValueError("new_transcripts overlaps already-materialized conv_ids")

    before = {name: tio.read_manifest(out_dir, name)["snapshot_id"] for name in STAGES}
    try:
        summary = _commit_batch(
            spark, new_transcripts, dictionary, out_dir, set(),
            nodes.where(F.col("conv_id").isNull()).select("node_id"),
        )
    except BaseException:
        for name, snap in before.items():
            if tio.read_manifest(out_dir, name)["snapshot_id"] != snap:
                tio.rollback(out_dir, name, snap)
        raise
    for name in STAGES:
        tio.expire_snapshots(out_dir, name)
    return summary


def _commit_batch(
    spark: SparkSession,
    batch: DataFrame,
    dictionary: DataFrame,
    out_dir: str,
    skip: set,
    global_ids: DataFrame | None = None,
) -> RunSummary:
    """Commit ``batch`` through every stage in order; a stage in ``skip``
    is already committed and is not recomputed.

    ``global_ids`` (an append's) are the ``node_id`` of the global nodes
    (entity, tool, role, namespace: ``conv_id`` null) earlier batches
    committed; the batch's nodes stage emits only the global nodes not yet
    among them. A batch cannot change an entity node that is already
    committed: its props are ``max(kind)`` / ``max(namespace)`` over the
    canonical's linked mentions, which equal the first batch's as long as
    the dictionary gives each canonical one kind and one namespace."""
    summary = RunSummary(out_dir=out_dir)

    def stage(name: str, compute, mode: str) -> None:
        if name in skip:
            summary.stages_skipped.append(name)
            summary.manifests[name] = tio.read_manifest(out_dir, name)
        else:
            t0 = time.time()
            summary.manifests[name] = tio.write_table(compute(), out_dir, name, mode=mode)
            summary.stage_walls[name] = round(time.time() - t0, 2)
            summary.stages_computed.append(name)

    batch = caching.swap_persist("materialize.batch", batch)
    # detect_mentions dedupes the list: one job per batch, no shuffle
    surfaces = [r["surface"] for r in dictionary.select("surface").collect()]

    stage(
        "mentions",
        lambda: mentions.detect_mentions(
            spark, batch, surfaces, turn_flag_rx=canonicalize.INTRO_RX
        ),
        "append",
    )
    m = tio.read_added(spark, out_dir, "mentions")
    stage("linked", lambda: linking.link_mentions(m, dictionary), "append")
    linked = tio.read_added(spark, out_dir, "linked")

    def _mapping():
        pairs = canonicalize.alias_pairs(batch, linked)
        if tio.is_committed(out_dir, "alias_mapping"):
            pairs = tio.read_table(spark, out_dir, "alias_mapping").select(
                F.col("entity").alias("a"), F.col("canonical_id").alias("b")
            ).unionByName(pairs)
        mapping, _rounds, _conv = canonicalize.connected_components(pairs)
        return mapping

    stage("alias_mapping", _mapping, "replace")
    mapping = tio.read_table(spark, out_dir, "alias_mapping")

    # layer lists are SHARED with build_graph so the staged path cannot
    # drift from it
    def _edges():
        same_as = mapping.limit(0) if tio.is_committed(out_dir, "edges") else mapping
        return edge_layers(batch, m, linked, same_as)

    stage("edges", _edges, "append")
    stage("nodes", lambda: node_layers(batch, m, linked, global_ids), "append")
    stage(
        "canonical",
        lambda: canonicalize.canonical_map(tio.read_table(spark, out_dir, "linked"), mapping),
        "replace",
    )
    stage("_metrics", lambda: tmetrics.edge_metrics(read_graph_edges(spark, out_dir)), "replace")
    return summary


def read_graph_edges(spark: SparkSession, out_dir: str) -> DataFrame:
    """Current graph edge view of a materialized directory: the committed
    per-conversation layers plus same_as derived from the CURRENT
    alias_mapping. Only the first edges snapshot holds same_as rows, so
    dropping them here and deriving the current ones keeps the composed
    graph exactly equal to a from-scratch build over the full corpus even
    after components merged across appends."""
    edges = tio.read_table(spark, out_dir, "edges")
    mapping = tio.read_table(spark, out_dir, "alias_mapping")
    return edges.filter(F.col("pred") != "same_as").unionByName(
        canonicalize.same_as_triples(mapping)
    )
