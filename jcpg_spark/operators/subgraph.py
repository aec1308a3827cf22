"""Per-scope induced subgraph extraction (method-level CPG analog).

Reference analog: entry point 2 (``-cpm``) extracts one subgraph per
method by DFS from the method root + containment filter, transitively
merging called methods into the caller's graph
(``JavacpgMethodLevel.java:204-233`` ``buildMethodCPG``, ``:235-290``
``connectmethods``).

Transcript semantics: the scope unit is the conversation. A scope's
subgraph contains

1. every node OWNED by the scope (conv/turn/mention/segment rows carry
   ``conv_id``) — the containment filter;
2. the GLOBAL nodes its edges reach (tool/role/entity targets of call,
   act.role, ast.has_mention, ref.* edges) — the callee merge, 1 hop
   because global nodes are leaves here;
3. the canonical roots of those entities via ``same_as`` — the
   TRANSITIVE part of the merge (same_as edges point directly at the
   component root computed by ``canonicalize.connected_components``, so
   one extra hop completes the closure that the reference does with
   recursive ``connectmethods``);

and exactly the edges with BOTH endpoints in that node set (induced).

Scale: scopes are passed as a DataFrame and every step is a semi-join or
a hash join on ``conv_id``/``node_id`` — extracting one conversation and
extracting a million conversations is the same plan shape. Nothing is
collected to the driver.
"""

from __future__ import annotations

from typing import Iterable, Union

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

ScopeArg = Union[DataFrame, Iterable[str]]


def _scope_df(edges: DataFrame, scope: ScopeArg) -> DataFrame:
    if isinstance(scope, DataFrame):
        return scope.select(F.col(scope.columns[0]).alias("conv_id")).distinct()
    spark = edges.sparkSession
    return spark.createDataFrame([(c,) for c in scope], ["conv_id"])


def scope_node_ids(
    nodes: DataFrame,
    edges: DataFrame,
    scope: ScopeArg,
    canonical: DataFrame | None = None,
) -> DataFrame:
    """-> DataFrame (node_id) of the closed node set for ``scope``.

    Containment + 1-hop global closure + same_as root closure, per the
    module docstring. ``scope`` is a conv_id DataFrame (any single-column
    shape) or an iterable of conv_id strings. ``canonical`` is the
    pipeline's (mention_id, canonical_id) map; when given, the entity
    nodes of the scope's mentions are merged in (entities hang off the
    canonical MAP, not off edges, so the edge walk alone cannot reach an
    unmerged entity).
    """
    sc = _scope_df(edges, scope)

    owned = nodes.join(F.broadcast(sc), "conv_id", "left_semi").select("node_id")
    scoped_edges = edges.join(F.broadcast(sc), "conv_id", "left_semi")
    # both endpoints: intra-scope endpoints are already in `owned`; this
    # adds the global (conv_id-null node) targets — tool:, role:, e:, m: —
    # on either side of a scoped edge
    reached = (
        scoped_edges.select(F.col("src").alias("node_id"))
        .unionByName(scoped_edges.select(F.col("dst").alias("node_id")))
    )
    base = owned.unionByName(reached).distinct()
    if canonical is not None:
        ents = (
            canonical.join(base, canonical["mention_id"] == base["node_id"], "left_semi")
            .select(F.concat(F.lit("e:"), F.col("canonical_id")).alias("node_id"))
        )
        base = base.unionByName(ents).distinct()
    # transitive merge: canonical roots of reached entities (same_as edges
    # always point at the component root, so a single hop is the closure)
    roots = (
        edges.filter(F.col("pred") == "same_as")
        .join(base, edges["src"] == base["node_id"], "left_semi")
        .select(F.col("dst").alias("node_id"))
    )
    return base.unionByName(roots).distinct()


def induced_subgraph(
    nodes: DataFrame,
    edges: DataFrame,
    scope: ScopeArg,
    canonical: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """-> (sub_nodes, sub_edges): the induced subgraph for ``scope``.

    ``sub_edges`` keeps exactly the edges whose src AND dst are in the
    closed node set (so another conversation's edges into a shared tool or
    entity node are NOT dragged in — their turn endpoints are out of
    scope), which is what the reference's containment filter does with
    object identity (``JavacpgMethodLevel.java:204-233``).
    """
    ids = scope_node_ids(nodes, edges, scope, canonical)
    sub_nodes = nodes.join(ids, "node_id", "left_semi")
    sub_edges = edges.join(
        ids.select(F.col("node_id").alias("src")), "src", "left_semi"
    ).join(ids.select(F.col("node_id").alias("dst")), "dst", "left_semi")
    return sub_nodes, sub_edges.select("src", "pred", "dst", "var", "conv_id")


def graph_diff(
    old: DataFrame, new: DataFrame, keys: tuple[str, ...] = ("src", "pred", "dst")
) -> DataFrame:
    """-> keys + ``change`` ('added' | 'removed'): the edge-set delta
    between two graph snapshots.

    The maintenance primitive behind incremental re-publication and
    deletion audits (e.g. a right-to-be-forgotten purge: rebuild over the
    reduced corpus, diff against the last published snapshot, ship only
    the delta to downstream consumers). Two left-anti joins on the edge
    key — each one shuffle of both sides (the stored snapshots carry no
    bucket layout to co-locate them); nothing is collected and no side is
    assumed small. Rows are deduplicated on the key (a diff is a SET delta; a
    weight column included in ``keys`` turns a weight change into a
    removed+added pair).
    """
    ks = list(keys)
    o = old.select(*ks).distinct()
    n = new.select(*ks).distinct()
    return (
        n.join(o, ks, "left_anti").withColumn("change", F.lit("added"))
        .unionByName(o.join(n, ks, "left_anti").withColumn("change", F.lit("removed")))
    )


def graph_asof(log: DataFrame, at) -> DataFrame:
    """Point-in-time graph state from an assertion/retraction log: replay
    rows ``(src, pred, dst, op, ts)`` with ``op`` in ``{'+', '-'}`` and
    return the triples ASSERTED as of instant ``at`` — for every (s, p, o)
    the latest log row at or before ``at`` wins, and the triple is present
    iff that row is an assertion. The temporal-KG dual of ``graph_diff``:
    diff turns two snapshots into a delta, this turns a delta LOG back
    into any historical snapshot (RDF stream replay / changelog time
    travel — e.g. auditing what the KG claimed when a model was trained).

    Exactly one data-scale shuffle: the (s, p, o) hash-agg, with the
    last-writer pick fused into it as max over the (ts, op) struct — no
    window, no sort. Ties at the same instant resolve to RETRACT
    deterministically ('-' > '+' bytewise), the safe direction for a
    purge log. ``asserted_at`` returns the winning assertion's epoch
    second (integer, tz-independent).
    """
    h = log.filter(F.col("ts") <= F.lit(at).cast("timestamp"))
    win = h.groupBy("src", "pred", "dst").agg(
        F.max(F.struct(F.col("ts"), F.col("op"))).alias("last")
    )
    return win.filter(F.col("last.op") == "+").select(
        "src",
        "pred",
        "dst",
        F.unix_timestamp(F.col("last.ts")).alias("asserted_at"),
    )
