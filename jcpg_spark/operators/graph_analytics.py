"""Graph-analytics kernels over the constructed knowledge graph.

The reference emits graphs strictly for downstream analysis — its export
sinks (`CodePropertyGraph.java:84-381`) exist so Joern-style tooling can
query the DOT/GML/JSON afterwards; the generator itself ships no analytics.
At 10^12-turn scale the KG's entity co-mention projection is itself a large
graph, so the classic distributed graph kernels become first-class
operators of this engine:

- ``co_mention_edges``: the bipartite conversation-entity projection to an
  undirected weighted entity-entity graph (which conversations mention both
  a and b). One shuffle on conv_id, one on the pair. Hub conversations are
  capped (``max_per_conv``) exactly like the ``max_df`` shingle cap in
  dedup: a conversation mentioning 10^4 entities would alone contribute
  ~10^8 pairs, so it is dropped from pair generation and reported to the
  caller via the metrics table rather than silently exploding the shuffle.
- ``triangle_counts``: per-vertex triangle participation via the
  DEGREE-ORIENTED wedge join — every undirected edge is directed from its
  lower (degree, id) endpoint to the higher, so each triangle is generated
  exactly once at its lowest-ranked vertex and wedge fan-out is bounded by
  the oriented out-degree (O(sqrt(m)) on any graph) instead of the raw
  degree of hub vertices. This is the standard scalable formulation
  (MapReduce "graph twiddling"); the result is orientation-invariant, so
  correctness oracles may use the naive a<b<c three-way self-join.
- ``khop_counts``: number of distinct vertices within <= k hops, by
  k-1 frontier self-joins (k is small and fixed; this is the relational
  unrolling, not an iterative fixpoint — use ``canonicalize`` for
  unbounded reachability).

- ``pagerank``: K-round power iteration over the symmetrized graph, pure
  DataFrame joins (rank messages shuffle on the destination vertex, the
  adjacency and degree sides are built once and persisted). K is fixed and
  small, so the unrolled plan stays a finite join tree an exact SQL oracle
  can mirror; past ``_CHECKPOINT_EVERY`` rounds each iteration is cut with
  a lazy ``localCheckpoint`` so lineage stays bounded at large K.

Counting outputs are exact integers and compare bit-identically across
engines and partitionings; ``pagerank`` is IEEE-double arithmetic whose
cross-engine agreement is pinned by rounding (see its entry's oracle).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def co_mention_edges(
    mentions: DataFrame, min_weight: int = 1, max_per_conv: int = 1000
) -> DataFrame:
    """(conv_id, entity) -> undirected weighted edges (a, b, w), a < b.

    w = number of distinct conversations mentioning both. Conversations
    with more than ``max_per_conv`` distinct entities are excluded from
    pair generation (hub cap — see module docstring).
    """
    # ONE conv-keyed exchange for distinct + hub cap + self-join (r6): the
    # explicit conv_id repartition satisfies the distinct's clustering
    # (subset key), the cap becomes a window count on the same layout (no
    # per-conv count table + join-back — that shape cost an agg exchange
    # plus a re-join exchange), and both self-join sides inherit the
    # partitioning. Edge set proven identical at sf0.1 (33,408 rows).
    m = mentions.select("conv_id", "entity").repartition("conv_id").distinct()
    m = m.withColumn(
        "n_ent", F.count("*").over(Window.partitionBy("conv_id"))
    ).where(F.col("n_ent") <= max_per_conv)
    a = m.select("conv_id", F.col("entity").alias("a"))
    b = m.select("conv_id", F.col("entity").alias("b"))
    return (
        a.join(b, "conv_id")
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("w"))
        .where(F.col("w") >= min_weight)
    )


def _oriented(edges: DataFrame) -> DataFrame:
    """Direct each undirected edge (a, b) from its lower (degree, id)
    endpoint to the higher; -> (u, v, dv) where dv = struct(deg, id) of the
    head, kept so wedge generation can order the two heads without a
    second degree join."""
    e = edges.select("a", "b")
    deg = (
        e.select(F.col("a").alias("v"))
        .unionByName(e.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("deg"))
    )
    ed = (
        e.join(deg.select(F.col("v").alias("a"), F.col("deg").alias("da")), "a")
        .join(deg.select(F.col("v").alias("b"), F.col("deg").alias("db")), "b")
    )
    a_lower = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    return ed.select(
        F.when(a_lower, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(a_lower, F.col("b")).otherwise(F.col("a")).alias("v"),
        F.when(
            a_lower, F.struct(F.col("db").alias("d"), F.col("b").alias("x"))
        )
        .otherwise(F.struct(F.col("da").alias("d"), F.col("a").alias("x")))
        .alias("dv"),
    )


def triangle_counts(edges: DataFrame) -> DataFrame:
    """-> (item, n_tri): triangles each vertex participates in.

    Input: undirected distinct edges (a, b) with a < b (extra columns
    ignored). Wedges are generated only at each triangle's lowest-ranked
    vertex (see module docstring); the closing edge (v1, v2) with
    rank(v1) < rank(v2) is necessarily oriented v1 -> v2, so one equi-join
    against the oriented edge set closes each wedge at most once.

    The oriented edge set is referenced three times (both wedge legs + the
    closing probe); exchange reuse does not dedupe the subtree across the
    self-join branches, so it is persisted once via the keyed cache.
    """
    from jcpg_spark.caching import swap_persist

    o = swap_persist("triangle_counts.oriented", _oriented(edges))
    p = o.select("u", F.col("v").alias("v1"), F.col("dv").alias("dv1"))
    q = o.select("u", F.col("v").alias("v2"), F.col("dv").alias("dv2"))
    wedges = (
        p.join(q, "u").where(F.col("dv1") < F.col("dv2")).select("u", "v1", "v2")
    )
    closing = o.select(F.col("u").alias("v1"), F.col("v").alias("v2"))
    tri = wedges.join(closing, ["v1", "v2"]).select("u", "v1", "v2")
    return (
        tri.select(F.explode(F.array("u", "v1", "v2")).alias("item"))
        .groupBy("item")
        .agg(F.count("*").alias("n_tri"))
    )


def khop_counts(edges: DataFrame, k: int = 2) -> DataFrame:
    """-> (item, n_khop): distinct vertices within <= k hops (self excluded).

    Input: undirected distinct edges (a, b). k-1 self-joins of the
    symmetric adjacency; each hop shuffles on the frontier vertex only
    (src rides along), so the plan is k-1 equi-joins + one distinct-agg.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    from jcpg_spark.caching import swap_persist

    adj = (
        edges.select(F.col("a").alias("s"), F.col("b").alias("t"))
        .unionByName(edges.select(F.col("b").alias("s"), F.col("a").alias("t")))
    )
    if k > 1:  # adj is probed once per hop + once as the seed
        adj = swap_persist("khop_counts.adj", adj)
    reach = adj
    frontier = adj
    for _ in range(k - 1):
        nxt = frontier.select(F.col("s"), F.col("t").alias("m")).join(
            adj.select(F.col("s").alias("m"), F.col("t")), "m"
        )
        frontier = nxt.select("s", "t").where(F.col("t") != F.col("s"))
        reach = reach.unionByName(frontier)
    return reach.groupBy("s").agg(
        F.count_distinct("t").alias("n_khop")
    ).select(F.col("s").alias("item"), "n_khop")


def bfs_distances(
    edges: DataFrame, sources: DataFrame, max_hops: int = 3
) -> DataFrame:
    """-> (item, dist): multi-source BFS over the symmetrized graph —
    dist = fewest hops from ANY source vertex (0 for the sources
    themselves); vertices unreached within ``max_hops`` are absent.

    ``sources`` is a one-column DataFrame (column ``v``) so seed sets of
    any size stay distributed (a literal list would put the seeds in the
    plan). Per round: the frontier meets the adjacency on the frontier
    vertex (one shuffle), first-visit pruning is a left_anti against the
    visited set — so each vertex crosses the shuffle at most once per
    round it is newly reached in, the relational form of Pregel's
    "halt if not newly activated". Rounds are bounded by ``max_hops``
    (bounded-round posture like ``khop_counts``/``pagerank``: the unrolled
    plan is a finite join tree an exact SQL oracle can mirror with a
    min-over-hops aggregation; use ``canonicalize`` for unbounded
    reachability). Lineage is cut every ``_CHECKPOINT_EVERY`` rounds.
    Exact integers — bit-identical across engines and partitionings.
    """
    if max_hops < 0:
        raise ValueError("max_hops must be >= 0")
    from jcpg_spark.caching import swap_persist

    e = edges.select("a", "b")
    adj = e.select(F.col("a").alias("s"), F.col("b").alias("t")).unionByName(
        e.select(F.col("b").alias("s"), F.col("a").alias("t"))
    )
    if max_hops > 1:
        adj = swap_persist("bfs_distances.adj", adj)
    visited = sources.select(
        F.col("v").alias("item"), F.lit(0).cast("int").alias("dist")
    ).distinct()
    frontier = visited.select(F.col("item").alias("s"))
    for h in range(1, max_hops + 1):
        new = (
            adj.join(frontier, "s")
            .select(F.col("t").alias("item"))
            .distinct()
            .join(visited.select("item"), "item", "left_anti")
        )
        # the new layer feeds BOTH the visited union and the next frontier;
        # cut it so the anti-join side doesn't recompute the whole prefix
        new = new.localCheckpoint(eager=False)
        visited = visited.unionByName(
            new.withColumn("dist", F.lit(h).cast("int"))
        )
        frontier = new.select(F.col("item").alias("s"))
        if h % _CHECKPOINT_EVERY == 0 and h < max_hops:
            visited = visited.localCheckpoint(eager=False)
    return visited


def shortest_paths(
    edges: DataFrame,
    sources: DataFrame,
    cost: str = "cost",
    max_hops: int = 3,
) -> DataFrame:
    """-> (item, dist): weighted multi-source shortest paths over the
    symmetrized graph, bounded at ``max_hops`` edges — dist = minimum
    total ``cost`` over all paths of 1..max_hops edges from ANY source
    (0 for the sources). The weighted counterpart of ``bfs_distances``.

    Bellman-Ford with an IMPROVEMENTS-ONLY frontier (delta-stepping's
    relational core): each round relaxes only the distances that improved
    last round against the adjacency (one shuffle), takes the per-vertex
    min (one hash-agg), and keeps a candidate only if it beats the best
    known distance (a left join + filter, not a full re-aggregation of
    the settled set) — a vertex whose distance is final stops crossing
    the shuffle, which is what bounds traffic on a 10^12-edge graph where
    most of the graph settles in the first rounds. Bounded rounds keep
    the unrolled plan finite for an exact SQL oracle (min-over-unrolled-
    rounds); costs should be exact integers for bit-identical
    cross-engine agreement (the operator itself is type-agnostic).
    Negative costs are rejected: with a hop bound the recurrence would
    still be well-defined, but "shortest within k hops" stops being
    "shortest" and silently depends on k."""
    if max_hops < 0:
        raise ValueError("max_hops must be >= 0")
    from jcpg_spark.caching import swap_persist

    # fail loud on negative costs without a separate validation action:
    # assert_true rides the projection (NULL when the predicate holds,
    # runtime error otherwise), so the check runs exactly where the edge
    # is first read.
    wchecked = F.when(
        F.assert_true(
            F.col("w") >= 0, F.lit("shortest_paths: negative cost edge")
        ).isNull(),
        F.col("w"),
    ).alias("w")
    e = edges.select(
        "a", "b", F.col(cost).cast("long").alias("w")
    ).select("a", "b", wchecked)
    adj = e.select(F.col("a").alias("s"), F.col("b").alias("t"), "w").unionByName(
        e.select(F.col("b").alias("s"), F.col("a").alias("t"), "w")
    )
    if max_hops > 1:
        adj = swap_persist("shortest_paths.adj", adj)
    best = sources.select(
        F.col("v").alias("item"), F.lit(0).cast("long").alias("dist")
    ).distinct()
    frontier = best
    for h in range(1, max_hops + 1):
        relaxed = (
            adj.join(frontier, adj["s"] == frontier["item"])
            .select(F.col("t").alias("item"), (F.col("dist") + F.col("w")).alias("d"))
            .groupBy("item")
            .agg(F.min("d").alias("d"))
        )
        improved = (
            relaxed.join(best, "item", "left")
            .where(F.col("dist").isNull() | (F.col("d") < F.col("dist")))
            .select("item", F.col("d").alias("dist"))
            .localCheckpoint(eager=False)
        )
        # settled rows keep their dist; improved rows replace theirs
        best = (
            best.join(improved.select("item"), "item", "left_anti")
            .unionByName(improved)
        )
        frontier = improved
        if h % _CHECKPOINT_EVERY == 0 and h < max_hops:
            best = best.localCheckpoint(eager=False)
    return best


def link_predict_common_neighbors(
    edges: DataFrame, min_common: int = 1, max_center_degree: int = 1000
) -> DataFrame:
    """-> (a, b, n_common), a < b: NON-adjacent vertex pairs scored by their
    common-neighbor count — the classic link-prediction / KG-completion
    baseline (a high count suggests a missing edge between entities that
    share many co-mention partners).

    One wedge self-join generates each candidate once at its center
    (neighbors v1 < v2 of the same u), a hash-agg counts centers per pair,
    a left_anti removes pairs already joined by an edge. A center of
    degree d contributes C(d, 2) wedges, so hub centers are capped
    (``max_center_degree``) exactly like ``co_mention_edges``'s hub
    conversations — scores are then a lower bound for pairs whose common
    neighbors include dropped hubs, the standard accuracy/scale trade
    stated by the cap. Exact integers; deterministic for any
    partitioning.
    """
    e = edges.select("a", "b")
    adj = e.select(F.col("a").alias("s"), F.col("b").alias("t")).unionByName(
        e.select(F.col("b").alias("s"), F.col("a").alias("t"))
    )
    small = (
        adj.groupBy("s")
        .agg(F.count("*").alias("deg"))
        .where(F.col("deg") <= max_center_degree)
        .select("s")
    )
    from jcpg_spark.caching import swap_persist

    adj = swap_persist(
        "link_predict.adj", adj.join(small, "s", "left_semi")
    )
    wedges = (
        adj.select("s", F.col("t").alias("x"))
        .join(adj.select("s", F.col("t").alias("y")), "s")
        .where(F.col("x") < F.col("y"))
    )
    scored = wedges.groupBy(F.col("x").alias("a"), F.col("y").alias("b")).agg(
        F.count("*").alias("n_common")
    )
    return scored.join(e, ["a", "b"], "left_anti").where(
        F.col("n_common") >= min_common
    )


def component_sizes(edges: DataFrame) -> DataFrame:
    """-> (canonical, size): connected-component sizes of the undirected
    graph — canonical = component-minimum vertex id (the same label
    ``canonicalize.connected_components`` converges to, so the result is
    deterministic and an exact recursive-CTE oracle can mirror it), size =
    number of vertices in the component.

    The audit rollup for any pair-graph this engine produces (near-dup
    clusters, co-mention communities, same_as islands): a giant component
    is the standard symptom of an over-permissive pairing threshold, and
    this is the one-line check for it. Scale posture is inherited from
    ``connected_components`` (driver union-find under the byte budget,
    large-star/small-star alternation above it) plus one count hash-agg.
    """
    from jcpg_spark.operators import canonicalize

    mapping, _rounds, _converged = canonicalize.connected_components(
        edges.select("a", "b")
    )
    return (
        mapping.groupBy("canonical_id")
        .agg(F.count("*").alias("size"))
        .select(F.col("canonical_id").alias("canonical"), "size")
    )


def scc(edges: DataFrame, max_hops: int = 8) -> DataFrame:
    """-> (item, scc_id, scc_size): strongly connected components of the
    DIRECTED graph (a, b), hop-bounded. scc_id = the smallest vertex id
    mutually reachable within ``max_hops`` (every vertex reaches itself
    in 0 hops, so acyclic and isolated vertices are singleton components
    under their own id); scc_size = member count.

    The directed dual of ``component_sizes``: cycles in this KG come
    from return/retry back-edges closing sequential-flow spans
    (reference emits the loop structure via its CFG back-edges,
    ``JavacpgCFGBuilder``-family), so a component is a call-to-return
    span — bounded, conversation-local. That regime picks the
    algorithm: ONE hop-bounded directed closure (``query._closure``: a
    driver BFS below its row budget, else frontier expansion where each
    pair crosses the shuffle once), a semi
    join of the pair set against its own transpose for mutuality, a min
    aggregation, a size rollup. Node ids are conv-prefixed, so closure
    pairs never cross conversations and the pair count is O(span^2) per
    conversation, not O(V^2). Exact SCC whenever ``max_hops`` >= the
    longest shortest path inside any component; the hop bound is the
    contract that keeps the unrolled plan finite and SQL-mirrorable.
    For graphs with giant strongly connected components (web graphs),
    iterative forward-backward decomposition is the right tool instead —
    this closure-pairs form is for the bounded-component regime the
    transcripts KG actually has.

    Plan note: ``min(string)`` aggregates fall back to SortAggregate
    (Spark hash-aggregates only mutable fixed-size buffers) — accepted
    here because the aggregation input is the mutual pair set, bounded
    by span sizes, not the full closure; the closure itself stays in
    hash joins + hash distinct.
    """
    from jcpg_spark.operators.query import _closure

    base = edges.select(F.col("a").alias("src"), F.col("b").alias("dst"))
    reach = _closure(base, max_hops)
    nodes = (
        base.select("src")
        .unionByName(base.select(F.col("dst").alias("src")))
        .distinct()
    )
    # zero-hop self-reach; a self-loop edge may duplicate an identity
    # pair, harmless under the min/count-by-item aggregations below
    reach = reach.unionByName(nodes.select("src", F.col("src").alias("dst")))
    rev = reach.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    mutual = reach.join(rev, ["src", "dst"], "left_semi")
    assign = (
        mutual.groupBy("src")
        .agg(F.min("dst").alias("scc_id"))
        .select(F.col("src").alias("item"), "scc_id")
    )
    sizes = assign.groupBy("scc_id").agg(F.count("*").alias("scc_size"))
    return assign.join(sizes, "scc_id").select("item", "scc_id", "scc_size")


def label_propagation(edges: DataFrame, iters: int = 2) -> DataFrame:
    """-> (item, label): K synchronous rounds of label propagation over the
    symmetrized graph. Labels start as the vertex's own id; each round every
    vertex adopts the MOST FREQUENT label among its neighbors, ties broken
    by the smallest label — fully deterministic, unlike classic
    random-order LPA, so the result is partitioning-invariant and an exact
    SQL oracle can unroll the same rounds.

    Per round: one join keying neighbor labels on the source vertex, one
    hash-agg counting (vertex, label) votes, one window picking the argmax
    (count desc, label asc). K is small and fixed (community structure
    stabilizes in a few rounds; an unbounded fixpoint can oscillate on
    bipartite-ish graphs under synchronous updates, which is why bounded-K
    is the standard formulation).
    """
    if iters < 1:
        raise ValueError("iters must be >= 1")
    from pyspark.sql import Window
    from jcpg_spark.caching import swap_persist

    e = edges.select("a", "b")
    adj = e.select(F.col("a").alias("s"), F.col("b").alias("t")).unionByName(
        e.select(F.col("b").alias("s"), F.col("a").alias("t"))
    )
    adj = swap_persist("label_propagation.adj", adj)
    labels = adj.select("s").distinct().select(
        F.col("s").alias("v"), F.col("s").alias("label")
    )
    w = Window.partitionBy("s").orderBy(F.col("votes").desc(), F.col("label").asc())
    for i in range(iters):
        votes = (
            adj.join(labels.select(F.col("v").alias("t"), "label"), "t")
            .groupBy("s", "label")
            .agg(F.count("*").alias("votes"))
        )
        labels = (
            votes.withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") == 1)
            .select(F.col("s").alias("v"), "label")
        )
        if (i + 1) % _CHECKPOINT_EVERY == 0 and i + 1 < iters:
            labels = labels.localCheckpoint(eager=False)
    return labels.select(F.col("v").alias("item"), "label")


def kcore(
    edges: DataFrame, k: int = 3, max_iter: int = 50
) -> tuple[DataFrame, int, bool]:
    """k-core of the undirected graph by iterative peeling: drop vertices
    whose current degree is < k until fixpoint. -> ((item, deg), rounds,
    converged) where deg is the vertex degree WITHIN the core.

    Same driver-coordination posture as ``canonicalize.connected_components``:
    each round is one degree hash-agg + two semi-joins, the convergence
    probe is a single scalar count per round (peeling strictly shrinks the
    vertex set, so equal counts in consecutive rounds == fixpoint), and the
    adjacency is cut with a lazy ``localCheckpoint`` per round so lineage
    doesn't grow with the peel depth. Rounds are bounded by the graph's
    degeneracy-peel depth (small for co-mention-like graphs); ``max_iter``
    is a safety budget and the returned flag reports a budget exhaustion
    honestly instead of raising mid-pipeline.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    e = edges.select("a", "b")
    adj = e.select(F.col("a").alias("s"), F.col("b").alias("t")).unionByName(
        e.select(F.col("b").alias("s"), F.col("a").alias("t"))
    )
    deg = adj.groupBy("s").agg(F.count("*").alias("deg"))
    keep = deg.where(F.col("deg") >= k)
    prev = None
    for rounds in range(1, max_iter + 1):
        n = keep.count()
        if n == 0 or n == prev:
            return keep.select(F.col("s").alias("item"), "deg"), rounds, True
        prev = n
        adj = (
            adj.join(keep.select("s"), "s", "semi")
            .join(keep.select(F.col("s").alias("t")), "t", "semi")
            .localCheckpoint(eager=False)
        )
        deg = adj.groupBy("s").agg(F.count("*").alias("deg"))
        keep = deg.where(F.col("deg") >= k)
    return keep.select(F.col("s").alias("item"), "deg"), max_iter, False


def _edge_support(e: DataFrame) -> DataFrame:
    """-> (a, b, support): per-edge triangle count over an id-canonical
    (a < b) undirected edge set. Triangle {x < y < z} is enumerated once
    at its lowest vertex (wedge (x,y)+(x,z), y < z, closed by probing
    (y,z)), then each triangle credits all three of its edges via one
    explode + hash-agg."""
    e = e.select("a", "b")
    w1 = e.select(F.col("a").alias("x"), F.col("b").alias("y"))
    w2 = e.select(F.col("a").alias("x"), F.col("b").alias("z"))
    wedges = w1.join(w2, "x").where(F.col("y") < F.col("z"))
    closing = e.select(F.col("a").alias("y"), F.col("b").alias("z"))
    tri = wedges.join(closing, ["y", "z"]).select("x", "y", "z")
    sides = tri.select(
        F.explode(
            F.array(
                F.struct(F.col("x").alias("a"), F.col("y").alias("b")),
                F.struct(F.col("x").alias("a"), F.col("z").alias("b")),
                F.struct(F.col("y").alias("a"), F.col("z").alias("b")),
            )
        ).alias("s")
    )
    return sides.groupBy(F.col("s.a").alias("a"), F.col("s.b").alias("b")).agg(
        F.count("*").alias("support")
    )


def k_truss(
    edges: DataFrame, k: int = 4, max_iter: int = 50
) -> tuple[DataFrame, int, bool]:
    """k-truss of the undirected graph: the maximal subgraph in which
    every surviving edge sits in >= k-2 triangles OF THE SUBGRAPH —
    the cohesion filter one level above ``kcore`` (every k-truss is
    inside the (k-1)-core, but trussness demands the supporting
    neighbors also know each other, so it rejects the star-shaped
    cores k-core lets through). -> ((a, b, support), rounds, converged)
    with support measured within the truss.

    Iterative peel, same driver-coordination posture as ``kcore``:
    each round recomputes per-edge triangle support on the surviving
    edge set (``_edge_support``: one self-join wedge expansion + one
    closing probe + one hash-agg) and drops edges below k-2; the
    convergence probe is a scalar edge count per round (peeling
    strictly shrinks the edge set, so an unchanged count == fixpoint,
    at which point the supports from the previous recompute are the
    supports of the fixpoint). ``localCheckpoint`` cuts lineage per
    round; ``max_iter`` is a safety budget with an honest exhaustion
    flag. Wedges are generated at each triangle's lowest vertex id —
    at 100 TB swap in ``_oriented``'s (degree, id) ranking per round
    to keep hub wedge fan-out O(m^1.5) worst case; id-ranking keeps
    the loop plan free of the extra degree join and is exact either
    way. Reference analog: dense-region extraction over the CPG
    (JavacpgDDGBuilder.java:102-117 builds the mention graph this
    peels)."""
    if k < 3:
        raise ValueError("k must be >= 3 (k=2 truss is the whole graph)")
    cur = edges.select("a", "b")
    prev = None
    sup = _edge_support(cur)
    for rounds in range(1, max_iter + 1):
        keep = sup.where(F.col("support") >= k - 2).localCheckpoint(eager=False)
        n = keep.count()
        if n == 0 or n == prev:
            return keep, rounds, True
        prev = n
        cur = keep.select("a", "b")
        sup = _edge_support(cur)
    return sup.where(F.col("support") >= k - 2), max_iter, False


def cooccurrence_lift(
    mentions: DataFrame, min_weight: int = 1, max_per_conv: int = 1000
) -> DataFrame:
    """-> (a, b, w, n_a, n_b, n_conv, lift): association strength of each
    co-mention edge: lift(a,b) = P(a,b) / (P(a)·P(b)) = w·N / (n_a·n_b),
    N = #conversations, n_x = #conversations mentioning x. Lift > 1 means
    the entities co-occur MORE than independence predicts — the classic
    edge-weighting for pruning coincidental KG edges (PMI = log(lift) is
    monotone in it, so thresholding lift is thresholding PMI without the
    transcendental: the integer products are exact and the one IEEE
    division compares bit-identically cross-engine).

    Pairs, marginals, and N are all computed over the SAME hub-capped
    distinct mention set, so the ratio is a coherent probability estimate.
    Plan: the capped mention frame is persisted once and feeds three
    hash-aggs (pairs / marginals / N); marginals are entity-cardinality-
    sized, so they broadcast onto the pair frame, and N rides along as a
    broadcast 1-row crossJoin — the only data-scale shuffles are the two
    the pair generation already pays. At 10^12-conversation scale w·N can
    approach 2^63: go through double before the multiply there (each IEEE
    op is still single-rounded deterministic); at this engine's test
    scales the bigint products are exact.
    """
    from jcpg_spark.caching import swap_persist

    # same one-exchange distinct + hub-cap layout as co_mention_edges (r6):
    # conv_id repartition satisfies the distinct's clustering, the cap is a
    # window count on that layout, and the persisted cache keeps the conv
    # partitioning for the pair self-join below.
    m = (
        mentions.select("conv_id", "entity")
        .repartition("conv_id")
        .distinct()
        .withColumn("n_ent", F.count("*").over(Window.partitionBy("conv_id")))
        .where(F.col("n_ent") <= max_per_conv)
        .drop("n_ent")
    )
    m = swap_persist("cooccurrence_lift.mentions", m)
    pairs = (
        m.select("conv_id", F.col("entity").alias("a"))
        .join(m.select("conv_id", F.col("entity").alias("b")), "conv_id")
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("w"))
        .where(F.col("w") >= min_weight)
    )
    marg = m.groupBy("entity").agg(F.count("*").alias("n"))
    total = m.select(F.countDistinct("conv_id").alias("n_conv"))
    return (
        pairs.join(
            F.broadcast(marg.select(F.col("entity").alias("a"), F.col("n").alias("n_a"))),
            "a",
        )
        .join(
            F.broadcast(marg.select(F.col("entity").alias("b"), F.col("n").alias("n_b"))),
            "b",
        )
        .crossJoin(F.broadcast(total))
        .select(
            "a",
            "b",
            "w",
            "n_a",
            "n_b",
            "n_conv",
            (
                (F.col("w") * F.col("n_conv")) / (F.col("n_a") * F.col("n_b"))
            ).alias("lift"),
        )
    )


def entity_salience(mentions: DataFrame, k: int = 3) -> DataFrame:
    """-> (conv_id, entity, tf, df, salience, rank): the k most salient
    entities per conversation, salience = tf · N / df — term frequency
    damped by corpus-wide document frequency (the rational tf-idf variant:
    idf as N/df instead of log(N/df), keeping the score an exact integer
    ratio; the log is monotone, so for FIXED tf the ordering is identical,
    and the operator's contract is the damping, not the log curve).

    tf counts every mention row (repeat mentions raise salience); df and N
    count distinct conversations. One hash-agg builds (conv, entity, tf);
    df is entity-cardinality-sized and broadcasts back; the top-k window
    partitions by conversation — no global sort. Ties break on entity id
    for a total order.
    """
    per = mentions.groupBy("conv_id", "entity").agg(F.count("*").alias("tf"))
    # a persisted shared `per` (df/N as rollups of it) was tried in r6 and
    # REVERTED on measurement: 0.70s -> 1.05s at sf0.1 — the cache
    # materialization barrier costs more than re-running these three cheap
    # aggregations over the (already narrow) mentions input.
    df_ = mentions.groupBy("entity").agg(F.countDistinct("conv_id").alias("df"))
    total = mentions.select(F.countDistinct("conv_id").alias("n_conv"))
    from pyspark.sql import Window

    w = Window.partitionBy("conv_id").orderBy(
        F.col("salience").desc(), F.col("entity").asc()
    )
    return (
        per.join(F.broadcast(df_), "entity")
        .crossJoin(F.broadcast(total))
        .select(
            "conv_id",
            "entity",
            "tf",
            "df",
            ((F.col("tf") * F.col("n_conv")) / F.col("df")).alias("salience"),
        )
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


_CHECKPOINT_EVERY = 4


def pagerank(
    edges: DataFrame,
    iters: int = 3,
    damping: float = 0.85,
    weight: str | None = None,
) -> DataFrame:
    """-> (item, pagerank): K rounds of power iteration on the symmetrized
    undirected graph (uniform 1/n start; rank_{k+1}(v) = (1-d)/n +
    d * sum_{u->v} rank_k(u) / outdeg(u)).

    ``weight`` names an edge-weight column (e.g. the co-mention count
    ``w``): messages become rank_k(u) * w(u,v) / strength(u) with
    strength = sum of u's edge weights — weighted PageRank, same plan
    shape (the degree hash-agg turns into a sum).

    Isolated vertices don't occur in an edge list and symmetrization leaves
    no dangling vertices, so no dangling-mass term is needed. The vertex
    count rides along as a broadcast scalar (crossJoin of a 1-row
    aggregate) instead of a driver-side collect, keeping the whole
    computation one lazy plan. Per iteration: one shuffle keying rank
    messages by source to meet the adjacency, one hash-agg shuffle on the
    destination — the adjacency and (degree, n) base are computed once and
    persisted across rounds. Rank values are raw doubles; callers that
    need cross-engine comparability round (the driver entry pins 6 dp
    against an unrolled-CTE oracle).
    """
    if iters < 1:
        raise ValueError("iters must be >= 1")
    from jcpg_spark.caching import swap_persist

    cols = ["a", "b"] + ([weight] if weight else [])
    e = edges.select(*cols)
    wcol = (F.col(weight).cast("double") if weight else F.lit(1.0)).alias("w")
    adj = e.select(F.col("a").alias("s"), F.col("b").alias("t"), wcol).unionByName(
        e.select(F.col("b").alias("s"), F.col("a").alias("t"), wcol)
    )
    adj = swap_persist("pagerank.adj", adj)
    deg = adj.groupBy("s").agg(F.sum("w").alias("outdeg"))
    base = deg.crossJoin(F.broadcast(deg.agg(F.count("*").alias("n_verts"))))
    base = swap_persist("pagerank.base", base)

    teleport = (F.lit(1.0) - F.lit(damping)) / F.col("n_verts")
    # ranks carries outdeg so each round is exactly TWO joins: messages meet
    # the adjacency on the source vertex, aggregated messages meet the base
    # on the destination — no third join to re-fetch the degree.
    ranks = base.select(
        F.col("s").alias("v"), "outdeg", (F.lit(1.0) / F.col("n_verts")).alias("r")
    )
    for i in range(iters):
        msgs = (
            adj.join(
                ranks.select(
                    F.col("v").alias("s"), (F.col("r") / F.col("outdeg")).alias("m")
                ),
                "s",
            )
            .groupBy("t")
            .agg(F.sum(F.col("m") * F.col("w")).alias("in_sum"))
        )
        ranks = (
            base.join(msgs, base["s"] == msgs["t"], "left")
            .select(
                F.col("s").alias("v"),
                "outdeg",
                (teleport + F.lit(damping) * F.coalesce(F.col("in_sum"), F.lit(0.0))).alias("r"),
            )
        )
        if (i + 1) % _CHECKPOINT_EVERY == 0 and i + 1 < iters:
            ranks = ranks.localCheckpoint(eager=False)
    return ranks.select(F.col("v").alias("item"), F.col("r").alias("pagerank"))


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    iters: int = 3,
    damping: float = 0.85,
) -> DataFrame:
    """-> (item, ppr): personalized PageRank on the symmetrized graph —
    the teleport mass is restricted to the seed set instead of spread
    uniformly (rank_{k+1}(v) = (1-d)*p(v) + d * sum_{u->v} rank_k(u) /
    outdeg(u), with p(v) = 1/|S| for seed vertices and 0 elsewhere;
    start vector r0 = p). The standard query-conditioned relevance
    primitive: ranks every entity by proximity to the seeds, the move
    behind related-entity panels and local-graph expansion.

    ``seeds`` is a one-column DataFrame of vertex ids; seeds not present
    in the edge list are dropped (they can neither receive nor forward
    mass through the adjacency) and |S| counts the retained ones, riding
    along as a broadcast scalar like pagerank's n_verts — no driver-side
    collect. Same per-round plan shape as ``pagerank``: one shuffle to
    meet the adjacency, one hash-agg on the destination, with the
    (adjacency, degree+teleport base) persisted across rounds. Raw
    doubles; callers round for cross-engine comparison."""
    if iters < 1:
        raise ValueError("iters must be >= 1")
    from jcpg_spark.caching import swap_persist

    e = edges.select("a", "b")
    adj = e.select(F.col("a").alias("s"), F.col("b").alias("t")).unionByName(
        e.select(F.col("b").alias("s"), F.col("a").alias("t"))
    )
    adj = swap_persist("ppr.adj", adj)
    deg = adj.groupBy("s").agg(F.count(F.lit(1)).cast("double").alias("outdeg"))
    sd = seeds.select(F.col(seeds.columns[0]).alias("s")).distinct().withColumn(
        "is_seed", F.lit(True)
    )
    marked = deg.join(sd, "s", "left")
    base = marked.crossJoin(
        F.broadcast(
            marked.agg(
                F.sum(F.when(F.col("is_seed"), 1).otherwise(0)).alias("n_seeds")
            )
        )
    ).select(
        "s",
        "outdeg",
        F.when(F.col("is_seed"), F.lit(1.0) / F.col("n_seeds"))
        .otherwise(F.lit(0.0))
        .alias("p"),
    )
    base = swap_persist("ppr.base", base)

    ranks = base.select(F.col("s").alias("v"), "outdeg", F.col("p").alias("r"))
    for i in range(iters):
        msgs = (
            adj.join(
                ranks.select(
                    F.col("v").alias("s"), (F.col("r") / F.col("outdeg")).alias("m")
                ),
                "s",
            )
            .groupBy("t")
            .agg(F.sum("m").alias("in_sum"))
        )
        ranks = base.join(msgs, base["s"] == msgs["t"], "left").select(
            F.col("s").alias("v"),
            "outdeg",
            (
                (F.lit(1.0) - F.lit(damping)) * F.col("p")
                + F.lit(damping) * F.coalesce(F.col("in_sum"), F.lit(0.0))
            ).alias("r"),
        )
        if (i + 1) % _CHECKPOINT_EVERY == 0 and i + 1 < iters:
            ranks = ranks.localCheckpoint(eager=False)
    return ranks.select(F.col("v").alias("item"), F.col("r").alias("ppr"))


def hits(edges: DataFrame, iters: int = 2) -> DataFrame:
    """-> (item, hub, authority): K rounds of Kleinberg's HITS on a
    DIRECTED edge list (s, t) — authority_k(v) = sum of hub_{k-1} over
    in-neighbors, hub_k(v) = sum of authority_k over out-neighbors, each
    vector L1-normalized per round (sum-normalization keeps the recurrence
    division-by-a-scalar only — no sqrt — which is what lets an unrolled
    SQL oracle mirror the expression tree exactly; the RANKING is the same
    as the classic L2 convention since normalization is per-vector).

    PageRank (above) scores the symmetrized graph; HITS keeps direction
    and separates the two roles a directed KG actually has — a hub turn
    invokes many authoritative tools, an authoritative entity is the
    target of many well-connected sources. Vertices with no out-edges
    have hub 0 (resp. no in-edges -> authority 0) but stay in the output.

    Plan shape per round: authorities = one join keying hub messages by
    source + one hash-agg on the destination; hubs = the mirror; each
    normalization total rides as a 1-row broadcast crossJoin (the
    ``pagerank`` idiom — nothing collects to the driver). The adjacency
    is persisted once across all 2K joins; lineage is cut every
    ``_CHECKPOINT_EVERY`` rounds like ``pagerank``.

    Determinism: same contract as ``pagerank`` — IEEE doubles whose only
    cross-engine/partitioning variance is summation order; callers round
    (the driver entry pins 6 dp).
    """
    if iters < 1:
        raise ValueError("iters must be >= 1")
    from jcpg_spark.caching import swap_persist

    adj = swap_persist(
        "hits.adj", edges.select(F.col("s").cast("long"), F.col("t").cast("long"))
    )
    verts = swap_persist(
        "hits.verts",
        adj.select(F.col("s").alias("v"))
        .unionByName(adj.select(F.col("t").alias("v")))
        .distinct(),
    )
    hub = verts.select("v", F.lit(1.0).alias("h"))
    auth = None
    for i in range(iters):
        asum = (
            adj.join(hub.select(F.col("v").alias("s"), "h"), "s")
            .groupBy("t")
            .agg(F.sum("h").alias("a_raw"))
        )
        atot = asum.agg(F.sum("a_raw").alias("a_tot"))
        auth = (
            verts.join(asum, verts["v"] == asum["t"], "left")
            .crossJoin(F.broadcast(atot))
            .select(
                "v",
                (F.coalesce(F.col("a_raw"), F.lit(0.0)) / F.col("a_tot")).alias("a"),
            )
        )
        hsum = (
            adj.join(auth.select(F.col("v").alias("t"), "a"), "t")
            .groupBy("s")
            .agg(F.sum("a").alias("h_raw"))
        )
        htot = hsum.agg(F.sum("h_raw").alias("h_tot"))
        hub = (
            verts.join(hsum, verts["v"] == hsum["s"], "left")
            .crossJoin(F.broadcast(htot))
            .select(
                "v",
                (F.coalesce(F.col("h_raw"), F.lit(0.0)) / F.col("h_tot")).alias("h"),
            )
        )
        if (i + 1) % _CHECKPOINT_EVERY == 0 and i + 1 < iters:
            hub = hub.localCheckpoint(eager=False)
            auth = auth.localCheckpoint(eager=False)
    return (
        hub.join(auth, "v")
        .select(F.col("v").alias("item"), F.col("h").alias("hub"), F.col("a").alias("authority"))
    )


def fastrp(
    edges: DataFrame,
    dim: int = 16,
    weights: tuple[float, ...] = (1.0, 1.0),
    seed: int = 42,
) -> DataFrame:
    """-> (item, emb array<double>): FastRP node embeddings (Chen et al.
    2019, "Fast and Accurate Network Embeddings via Very Sparse Random
    Projection") over the symmetrized graph — the degree-normalized
    adjacency is applied ``len(weights)`` times to a very sparse random
    projection matrix and the weighted sum of the propagated states is the
    embedding (emb = sum_k weights[k] * (D^-1 A)^k R), L2-normalized per
    node. The embedding then feeds the engine's own vector operators
    (``similarity.cosine_topk``, ``dedup.semantic_dedup``) — node2vec-class
    structural similarity without a training loop.

    The projection R is DETERMINISTIC: entry (v, j) derives from
    xxhash64(v, j, seed) mapped to {+sqrt(3), -sqrt(3), 0} with
    probability {1/6, 1/6, 2/3} (Achlioptas sparse projection) — pure JVM
    column expressions, no RNG state, so any executor recomputes the same
    R and results are partitioning-invariant up to floating summation
    order (callers round; the pytest gate pins 9 dp).

    Plan shape: one shuffle per propagation round — states go to LONG form
    (item, pos, val) via posexplode, messages val/deg join the adjacency
    on the source and hash-agg on (dest, pos) with map-side partials, and
    the round's state reassembles via the sorted-collect_list idiom
    (``kmeans_centroids``'s exact-reassembly trick). The adjacency +
    degree frame persists across rounds; nothing ever collects to the
    driver. dim rides inside arrays, so the shuffle width is dim doubles
    per vertex — at 10^12 edges this is the standard scalable embedding
    (GraphX/GDS ship exactly this algorithm for that reason).
    """
    if not weights:
        raise ValueError("need at least one propagation weight")
    import math

    from jcpg_spark.caching import swap_persist

    e = edges.select(F.col("a").cast("long"), F.col("b").cast("long"))
    adj = swap_persist(
        "fastrp.adj",
        e.select(F.col("a").alias("s"), F.col("b").alias("t"))
        .unionByName(e.select(F.col("b").alias("s"), F.col("a").alias("t")))
        .distinct(),
    )
    deg = adj.groupBy("s").agg(F.count("*").alias("deg"))
    adj_deg = swap_persist("fastrp.adj_deg", adj.join(deg, "s"))
    verts = deg.select(F.col("s").alias("v"))

    sq3 = math.sqrt(3.0)
    proj_entry = lambda j: (
        F.when(F.pmod(F.xxhash64(F.col("v"), F.lit(j), F.lit(seed)), F.lit(6)) == 0, F.lit(sq3))
        .when(F.pmod(F.xxhash64(F.col("v"), F.lit(j), F.lit(seed)), F.lit(6)) == 1, F.lit(-sq3))
        .otherwise(F.lit(0.0))
    )
    state = verts.select("v", F.array(*[proj_entry(j) for j in range(dim)]).alias("x"))
    emb = None
    for wk in weights:
        long = state.select(
            F.col("v").alias("s"), F.posexplode(F.col("x")).alias("pos", "val")
        )
        propagated = (
            adj_deg.join(long, "s")
            .groupBy("t", "pos")
            .agg(F.sum(F.col("val") / F.col("deg")).alias("m"))
            .groupBy("t")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: s["m"]
                ).alias("x")
            )
            .select(F.col("t").alias("v"), "x")
        )
        state = propagated
        contrib = state.select(
            "v", F.transform(F.col("x"), lambda x: x * F.lit(float(wk))).alias("c")
        )
        if emb is None:
            emb = contrib.withColumnRenamed("c", "e")
        else:
            emb = (
                emb.join(contrib, "v", "full")
                .select(
                    "v",
                    F.zip_with(
                        F.coalesce(
                            F.col("e"), F.array_repeat(F.lit(0.0), dim)
                        ),
                        F.coalesce(
                            F.col("c"), F.array_repeat(F.lit(0.0), dim)
                        ),
                        lambda x, y: x + y,
                    ).alias("e"),
                )
            )
    nrm = F.sqrt(F.aggregate(F.col("e"), F.lit(0.0), lambda acc, x: acc + x * x))
    return emb.select(
        F.col("v").alias("item"),
        F.when(
            nrm > 0, F.transform(F.col("e"), lambda x: x / nrm)
        ).otherwise(F.col("e")).alias("emb"),
    )


def link_predict_resource_allocation(
    edges: DataFrame,
    min_score: float = 0.0,
    min_common: int = 1,
    max_center_degree: int = 1000,
) -> DataFrame:
    """-> (a, b, n_common, ra_score), a < b: non-adjacent pairs scored by
    the Resource-Allocation index (Zhou et al. 2009) — sum over common
    neighbors z of 1/deg(z). The degree-discounted refinement of
    ``link_predict_common_neighbors``: a shared low-degree neighbor is
    strong evidence for a missing edge, a shared hub is weak — RA
    outperforms raw counts and Adamic-Adar on most real graphs and needs
    no transcendental (one IEEE division per wedge), so the oracle can
    mirror it exactly at 6 dp.

    Identical plan shape to the count version (each candidate generated
    once at its wedge center, center degree rides the adjacency so the
    wedge join needs no third join, hub centers capped); scores for pairs
    whose common neighbors include dropped hubs are a lower bound, the
    same stated trade as the count version.
    """
    e = edges.select("a", "b")
    adj = e.select(F.col("a").alias("s"), F.col("b").alias("t")).unionByName(
        e.select(F.col("b").alias("s"), F.col("a").alias("t"))
    )
    deg = adj.groupBy("s").agg(F.count("*").alias("deg"))
    from jcpg_spark.caching import swap_persist

    adj = swap_persist(
        "link_predict_ra.adj",
        adj.join(deg.where(F.col("deg") <= max_center_degree), "s"),
    )
    wedges = (
        adj.select("s", "deg", F.col("t").alias("x"))
        .join(adj.select("s", F.col("t").alias("y")), "s")
        .where(F.col("x") < F.col("y"))
    )
    scored = wedges.groupBy(F.col("x").alias("a"), F.col("y").alias("b")).agg(
        F.count("*").alias("n_common"),
        F.sum(F.lit(1.0) / F.col("deg")).alias("ra_score"),
    )
    return scored.join(e, ["a", "b"], "left_anti").where(
        (F.col("n_common") >= min_common) & (F.col("ra_score") >= min_score)
    )


def link_predict_scores(
    edges: DataFrame,
    min_common: int = 1,
    max_center_degree: int = 1000,
) -> DataFrame:
    """-> (a, b, n_common, ra_score, aa_score, jaccard), a < b: every
    classical neighborhood link-prediction index over non-adjacent pairs
    in ONE wedge pass — common neighbors, Resource Allocation
    (sum 1/deg(z)), Adamic-Adar (sum 1/ln deg(z); a common neighbor has
    degree >= 2 by construction, so ln never sees 1), and neighborhood
    Jaccard (n_common / (deg(a)+deg(b)-n_common)).

    Why one operator instead of four: the wedge self-join + pair hash-agg
    is ~all the cost of any of these indices; computing the three sums in
    the same aggregation and attaching endpoint degrees with two keyed
    joins gives the whole scorer family for one shuffle family (the
    separate ``link_predict_common_neighbors`` /
    ``link_predict_resource_allocation`` remain for single-index use).
    Hub centers capped like the single-index versions (scores become
    lower bounds for pairs whose shared neighbors include dropped hubs —
    the stated trade); endpoint degrees are TRUE degrees (computed before
    the cap), so Jaccard's denominator is never understated. floats are
    6-dp-pinned for the cross-engine oracle (pagerank convention)."""
    e = edges.select("a", "b")
    adj = e.select(F.col("a").alias("s"), F.col("b").alias("t")).unionByName(
        e.select(F.col("b").alias("s"), F.col("a").alias("t"))
    )
    from jcpg_spark.caching import swap_persist

    deg = swap_persist(
        "link_scores.deg", adj.groupBy("s").agg(F.count("*").alias("deg"))
    )
    adj = swap_persist(
        "link_scores.adj",
        adj.join(deg.where(F.col("deg") <= max_center_degree), "s"),
    )
    wedges = (
        adj.select("s", "deg", F.col("t").alias("x"))
        .join(adj.select("s", F.col("t").alias("y")), "s")
        .where(F.col("x") < F.col("y"))
    )
    scored = wedges.groupBy(F.col("x").alias("a"), F.col("y").alias("b")).agg(
        F.count("*").alias("n_common"),
        F.sum(F.lit(1.0) / F.col("deg")).alias("ra"),
        F.sum(F.lit(1.0) / F.log(F.col("deg"))).alias("aa"),
    )
    nonadj = scored.join(e, ["a", "b"], "left_anti").where(
        F.col("n_common") >= min_common
    )
    deg_a = deg.select(F.col("s").alias("a"), F.col("deg").alias("deg_a"))
    deg_b = deg.select(F.col("s").alias("b"), F.col("deg").alias("deg_b"))
    return (
        nonadj.join(deg_a, "a")
        .join(deg_b, "b")
        .select(
            "a", "b", "n_common",
            F.round(F.col("ra"), 6).alias("ra_score"),
            F.round(F.col("aa"), 6).alias("aa_score"),
            F.round(
                F.col("n_common")
                / (F.col("deg_a") + F.col("deg_b") - F.col("n_common")),
                6,
            ).alias("jaccard"),
        )
    )


def harmonic_centrality(
    edges: DataFrame, n_seeds: int = 8, max_hops: int = 3
) -> DataFrame:
    """-> (item, h_sum, n_seen): sampled harmonic centrality — for each
    vertex, sum over the seed landmarks l (md5-picked, deterministic) of
    1 / dist(l, item) within ``max_hops``, plus how many landmarks
    reached it. The Eppstein-Wang estimator shape: at 10^12 edges,
    exact closeness is all-pairs BFS (off the table); k landmark BFS
    sweeps give an unbiased sample whose per-vertex sums rank vertices
    by centrality, and k controls cost linearly.

    Seeds are the ``n_seeds`` vertices with the smallest md5(vertex) —
    no RNG state, so the sample is resumable, partitioning-invariant and
    cross-engine reproducible (the negative-sampling convention). The
    per-seed BFS keeps (seed, item) pairs: each round joins the frontier
    to the adjacency on the frontier vertex and anti-joins the visited
    set — frontier size is bounded by n_seeds * V, so cost scales
    linearly in the seed budget; rounds are bounded by ``max_hops`` (the
    unrolled plan stays SQL-mirrorable). Landmarks do not score
    themselves (dist 0 is excluded from the sum). 6-dp-pinned."""
    if n_seeds < 1:
        raise ValueError("n_seeds must be >= 1")
    from jcpg_spark.caching import swap_persist

    e = edges.select("a", "b")
    adj = e.select(F.col("a").alias("s"), F.col("b").alias("t")).unionByName(
        e.select(F.col("b").alias("s"), F.col("a").alias("t"))
    )
    if max_hops > 1:
        adj = swap_persist("harmonic.adj", adj)
    verts = adj.select(F.col("s").alias("v")).distinct()
    seeds = verts.orderBy(F.md5(F.col("v").cast("string")), F.col("v")).limit(
        n_seeds
    )
    visited = seeds.select(
        F.col("v").alias("seed"), F.col("v").alias("item"),
        F.lit(0).cast("int").alias("dist"),
    )
    frontier = visited.select("seed", F.col("item").alias("s"))
    for h in range(1, max_hops + 1):
        new = (
            adj.join(frontier, "s")
            .select("seed", F.col("t").alias("item"))
            .distinct()
            .join(visited.select("seed", "item"), ["seed", "item"], "left_anti")
        )
        new = new.localCheckpoint(eager=False)
        visited = visited.unionByName(
            new.withColumn("dist", F.lit(h).cast("int"))
        )
        frontier = new.select("seed", F.col("item").alias("s"))
    return (
        visited.where(F.col("dist") > 0)
        .groupBy("item")
        .agg(
            F.round(F.sum(F.lit(1.0) / F.col("dist")), 6).alias("h_sum"),
            F.count("*").alias("n_seen"),
        )
    )


def betweenness_centrality(
    edges: DataFrame, n_seeds: int = 8, max_hops: int = 3
) -> DataFrame:
    """-> (item, bc, n_seen): sampled betweenness centrality — Brandes'
    dependency accumulation from ``n_seeds`` md5-picked pivot vertices
    (the Brandes-Pich estimator shape), hop-bounded at ``max_hops`` so
    both passes unroll into a fixed, SQL-mirrorable number of rounds.
    At 10^12 edges exact betweenness is all-pairs shortest paths (off
    the table); k pivots give the standard unbiased sample whose
    per-vertex sums rank the brokers, and k controls cost linearly.

    Seeds are the ``n_seeds`` vertices with the smallest md5(vertex)
    (same convention as ``harmonic_centrality`` — no RNG state, so the
    sample is resumable, partitioning-invariant, cross-engine exact).

    Forward pass (per hop): frontier x adjacency join, shortest-path
    counts sigma summed per (seed, vertex) BEFORE the visited anti-join
    (a contribution to an already-settled vertex is a non-shortest
    path and is discarded). Backward pass (per hop, deepest first):
    Brandes' rule delta(v) = sum over successors w of
    sigma(v)/sigma(w) * (1 + delta(w)) — one join of level h against
    the delta'd level h+1 through the adjacency, one hash-agg.
    bc(v) = sum of delta over seeds and dist >= 1 rows (pivots don't
    score themselves), halved for the undirected double-count;
    ``n_seen`` = how many pivots reached v. 6-dp-pinned (sigma ratios
    are small exact rationals; the rounding absorbs double-sum order).
    Cost: 2 * max_hops rounds, each one join + one hash-agg, frontier
    bounded by n_seeds * V — linear in the pivot budget, no all-pairs
    state anywhere."""
    if n_seeds < 1:
        raise ValueError("n_seeds must be >= 1")
    from jcpg_spark.caching import swap_persist

    e = edges.select("a", "b")
    adj = e.select(F.col("a").alias("s"), F.col("b").alias("t")).unionByName(
        e.select(F.col("b").alias("s"), F.col("a").alias("t"))
    )
    if max_hops > 1:
        adj = swap_persist("betweenness.adj", adj)
    verts = adj.select(F.col("s").alias("v")).distinct()
    seeds = verts.orderBy(F.md5(F.col("v").cast("string")), F.col("v")).limit(
        n_seeds
    )
    levels = [
        seeds.select(
            F.col("v").alias("seed"), F.col("v").alias("item"),
            F.lit(1).cast("bigint").alias("sigma"),
        ).localCheckpoint(eager=False)
    ]
    visited = levels[0].select("seed", "item")
    for _ in range(1, max_hops + 1):
        frontier = levels[-1].select(
            "seed", F.col("item").alias("s"), "sigma"
        )
        new = (
            adj.join(frontier, "s")
            .groupBy("seed", F.col("t").alias("item"))
            .agg(F.sum("sigma").alias("sigma"))
            .join(visited, ["seed", "item"], "left_anti")
            .localCheckpoint(eager=False)
        )
        levels.append(new)
        visited = visited.unionByName(new.select("seed", "item"))
    # backward dependency accumulation, deepest level first
    deltas = [None] * (max_hops + 1)
    deltas[max_hops] = levels[max_hops].withColumn(
        "delta", F.lit(0.0)
    )
    for h in range(max_hops - 1, -1, -1):
        nxt = deltas[h + 1].select(
            "seed", F.col("item").alias("t"),
            F.col("sigma").alias("sigma_w"), F.col("delta").alias("delta_w"),
        )
        contrib = (
            levels[h].join(adj, levels[h]["item"] == adj["s"])
            .join(nxt, ["seed", "t"])
            .groupBy("seed", "item")
            .agg(
                F.sum(
                    F.col("sigma") / F.col("sigma_w") * (F.lit(1.0) + F.col("delta_w"))
                ).alias("delta")
            )
        )
        deltas[h] = (
            levels[h]
            .join(contrib, ["seed", "item"], "left")
            .fillna(0.0, subset=["delta"])
            .localCheckpoint(eager=False)
        )
    scored = None
    for h in range(1, max_hops + 1):
        part = deltas[h].select("seed", "item", "delta")
        scored = part if scored is None else scored.unionByName(part)
    return scored.groupBy("item").agg(
        F.round(F.sum("delta") / 2.0, 6).alias("bc"),
        F.count("*").alias("n_seen"),
    )


def vertex_features(edges: DataFrame) -> DataFrame:
    """-> (item, degree, n_tri, clustering): per-vertex structural feature
    table — degree, triangle participation, and local clustering
    coefficient C(v) = 2*tri(v) / (deg(v)*(deg(v)-1)) (0 for degree < 2).
    The standard node-feature frame an entity-ML stage consumes alongside
    ``fastrp`` embeddings; composes the existing degree-oriented
    ``triangle_counts`` kernel with one degree hash-agg and a left join —
    integers plus one IEEE division, so the oracle mirrors it exactly.
    """
    e = edges.select("a", "b")
    deg = (
        e.select(F.col("a").alias("v")).unionByName(e.select(F.col("b").alias("v")))
        .groupBy("v").agg(F.count("*").alias("degree"))
    )
    tri = triangle_counts(edges).select(F.col("item").alias("v"), "n_tri")
    cc = F.when(
        F.col("degree") >= 2,
        F.lit(2.0) * F.coalesce(F.col("n_tri"), F.lit(0))
        / (F.col("degree") * (F.col("degree") - 1)),
    ).otherwise(F.lit(0.0))
    return deg.join(tri, "v", "left").select(
        F.col("v").alias("item"),
        "degree",
        F.coalesce(F.col("n_tri"), F.lit(0)).alias("n_tri"),
        cc.alias("clustering"),
    )


def neighborhood_function(
    edges: DataFrame, max_hops: int = 8, lgk: int = 12
) -> DataFrame:
    """HyperANF / HyperBall (Boldi & Vigna, WWW'11): -> (hop, n_pairs)
    for hop 0..max_hops, where n_pairs estimates |{(u, v): directed
    dist(u -> v) <= hop}| (self-pairs included). The neighborhood
    function is THE whole-graph distance summary — effective diameter,
    average distance, and connectivity growth all read off it — and the
    exact version is O(V^2) state, which is why HyperBall is the
    canonical planet-scale algorithm for it.

    Entirely Spark-native sketches: ball_0(v) = HLL({v}) via
    ``hll_sketch_agg``; each round unions every vertex's ball with its
    out-neighbors' balls via ``hll_union_agg`` (one join + one hash
    aggregation per round — mergeable-sketch state, a few KB per vertex
    at lgk=12, never a node set); N(t) = sum of ``hll_sketch_estimate``
    over vertices. Balls are eagerly checkpointed per round (iterative
    lineage cut), and the loop stops early once the estimate stabilizes
    — the one driver-side value per round is a single long, bounded by
    max_hops. Rows for hops past convergence are omitted: N is
    non-decreasing and constant from there on (documented contract).

    Datasketches HLL is exact below its sparse-mode threshold (~2^lgk/4
    items), so small-graph results are exact counts — the unit gate —
    and large-ball error is the published ~1.04/sqrt(2^lgk) (1.6% at
    lgk=12). Raise ``lgk`` for tighter estimates at linear sketch-size
    cost."""
    if max_hops < 0:
        raise ValueError("max_hops must be >= 0")
    e = edges.select(F.col("a").alias("v"), F.col("b").alias("w"))
    nodes = (
        e.select("v").unionByName(e.select(F.col("w").alias("v"))).distinct()
    )
    balls = (
        nodes.groupBy("v")
        .agg(F.hll_sketch_agg("v", F.lit(lgk)).alias("ball"))
        .localCheckpoint()
    )

    def n_pairs(b: DataFrame) -> int:
        return b.agg(
            F.sum(F.hll_sketch_estimate("ball")).alias("n")
        ).first()["n"]

    hops = [(0, int(n_pairs(balls)))]
    for h in range(1, max_hops + 1):
        nb = e.join(balls.withColumnRenamed("v", "w"), "w").select("v", "ball")
        balls = (
            balls.unionByName(nb)
            .groupBy("v")
            .agg(F.hll_union_agg("ball", F.lit(True)).alias("ball"))
            .localCheckpoint()
        )
        n = int(n_pairs(balls))
        hops.append((h, n))
        if n == hops[-2][1]:  # stabilized: N is non-decreasing, done
            break
    spark = edges.sparkSession
    return spark.createDataFrame(hops, "hop int, n_pairs long")


def effective_diameter(
    edges: DataFrame, alpha: float = 0.9, max_hops: int = 8, lgk: int = 12
) -> DataFrame:
    """-> one row (effective_diameter, n_pairs_reached, n_pairs_total):
    the smallest hop t with N(t) >= alpha * N(max_hops) — the standard
    '90% effective diameter' read off the HyperBall neighborhood
    function (integer hop, no interpolation; deterministic given the
    sketches)."""
    nf = neighborhood_function(edges, max_hops=max_hops, lgk=lgk)
    total = nf.agg(F.max("n_pairs").alias("n_pairs_total"))
    hit = (
        nf.crossJoin(total)
        .where(F.col("n_pairs") >= alpha * F.col("n_pairs_total"))
        .agg(
            F.min("hop").alias("effective_diameter"),
            F.max("n_pairs_total").alias("n_pairs_total"),
        )
    )
    reached = nf.select(
        F.col("hop").alias("rh"), F.col("n_pairs").alias("n_pairs_reached")
    )
    return hit.join(reached, F.col("effective_diameter") == F.col("rh")).select(
        "effective_diameter", "n_pairs_reached", "n_pairs_total"
    )


def graph_stats(edges: DataFrame) -> DataFrame:
    """-> ONE row of whole-graph structural statistics for the directed
    graph (a, b): n_nodes, n_edges (distinct directed non-self pairs),
    n_self (distinct self-loops), n_mutual (directed pairs whose reverse
    is also present), density (directed, n_edges / n(n-1)), reciprocity
    (n_mutual / n_edges, Garlaschelli-Loffredo), assortativity (Newman
    degree-degree Pearson r over the symmetrized simple graph, both
    orientations per undirected edge), and transitivity (global
    clustering, 3*triangles / wedges).

    The publish-gate audit card for any KG snapshot: hub-and-spoke call
    graphs read strongly disassortative, a reciprocity jump flags a
    symmetric-edge emission bug, a transitivity collapse flags broken
    co-mention pairing. Every aggregate is an exact INTEGER sum
    (count/degree arithmetic); the handful of final ratios are single
    IEEE-double expressions over those integers, so the result is
    bit-deterministic across engines and partitionings — an exact SQL
    oracle mirrors it to the last ulp. Ratios with a zero denominator
    (empty graph, degree-regular variance 0) are NULL on both sides.
    Shuffle budget: one pair dedup, one degree agg, two degree joins,
    one transpose semi join, plus the triangle kernel — all keyed on
    node/pair ids, nothing driver-side; one-row aggregates combine via
    literal cross joins of single-row frames."""
    from jcpg_spark.caching import swap_persist

    d = swap_persist("graph_stats.pairs", edges.select("a", "b").distinct())
    simple = d.where(F.col("a") != F.col("b"))
    rev = simple.select(F.col("b").alias("a"), F.col("a").alias("b"))
    sym = swap_persist("graph_stats.sym", simple.unionByName(rev).distinct())
    deg = sym.groupBy(F.col("a").alias("v")).agg(F.count("*").alias("deg"))

    counts = d.agg(
        F.coalesce(
            F.sum(F.when(F.col("a") != F.col("b"), 1).otherwise(0)), F.lit(0)
        ).alias("n_edges"),
        F.coalesce(
            F.sum(F.when(F.col("a") == F.col("b"), 1).otherwise(0)), F.lit(0)
        ).alias("n_self"),
    )
    n_nodes = (
        d.select(F.col("a").alias("v"))
        .unionByName(d.select(F.col("b").alias("v")))
        .distinct()
        .agg(F.count("*").alias("n_nodes"))
    )
    n_mutual = (
        simple.join(rev, ["a", "b"], "left_semi")
        .agg(F.count("*").alias("n_mutual"))
    )
    pairs_deg = sym.join(
        deg.select(F.col("v").alias("a"), F.col("deg").alias("dx")), "a"
    ).join(deg.select(F.col("v").alias("b"), F.col("deg").alias("dy")), "b")
    sums = pairs_deg.agg(
        F.count("*").alias("m"),
        F.sum("dx").alias("sx"),
        F.sum("dy").alias("sy"),
        F.sum(F.col("dx") * F.col("dx")).alias("sxx"),
        F.sum(F.col("dy") * F.col("dy")).alias("syy"),
        F.sum(F.col("dx") * F.col("dy")).alias("sxy"),
    )
    und = sym.where(F.col("a") < F.col("b"))
    tri3 = (
        triangle_counts(und)
        .agg(F.coalesce(F.sum("n_tri"), F.lit(0)).alias("tri3"))
    )  # sum over vertices = 3 * triangle count
    wedges2 = deg.agg(
        F.coalesce(F.sum(F.col("deg") * (F.col("deg") - 1)), F.lit(0)).alias(
            "wedges2"
        )
    )  # 2 * wedge count

    row = (
        counts.crossJoin(n_nodes)
        .crossJoin(n_mutual)
        .crossJoin(sums)
        .crossJoin(tri3)
        .crossJoin(wedges2)
    )
    dbl = lambda c: F.col(c).cast("double")  # noqa: E731
    denom_d = dbl("n_nodes") * (dbl("n_nodes") - 1)
    cov = dbl("m") * dbl("sxy") - dbl("sx") * dbl("sy")
    varx = dbl("m") * dbl("sxx") - dbl("sx") * dbl("sx")
    vary = dbl("m") * dbl("syy") - dbl("sy") * dbl("sy")
    return row.select(
        "n_nodes",
        "n_edges",
        "n_self",
        "n_mutual",
        F.when(denom_d > 0, dbl("n_edges") / denom_d).alias("density"),
        F.when(F.col("n_edges") > 0, dbl("n_mutual") / dbl("n_edges")).alias(
            "reciprocity"
        ),
        F.when(
            (varx > 0) & (vary > 0), cov / F.sqrt(varx * vary)
        ).alias("assortativity"),
        F.when(F.col("wedges2") > 0, 2 * dbl("tri3") / dbl("wedges2")).alias(
            "transitivity"
        ),
    )


def cardinality_audit(edges: DataFrame) -> DataFrame:
    """-> (pred, n_edges, n_subjects, max_fanout, n_multi_subjects,
    functional): per-predicate cardinality profile of a triple set — the
    ontology-QA pass a KG build runs before publishing, answering "which
    predicates are functional (every subject has exactly one object) and
    where do the violations live". The reference encodes these constraints
    structurally (one ``FLOWS_TO`` successor per statement unless branching,
    `JavacpgCFGBuilder.java`); on an extracted graph they must be AUDITED.

    fanout counts DISTINCT objects per (pred, subject) — a predicate stays
    functional under duplicate emission of the same triple. Two hash
    aggregations, both with map-side partial combine; the second groups on
    the predicate vocabulary (tiny), so the only data-scale shuffle is the
    (pred, src) agg. No window, no join: safe at 10^12 edges.
    """
    per_subj = edges.groupBy("pred", "src").agg(
        F.count("*").alias("n"), F.countDistinct("dst").alias("fanout")
    )
    return per_subj.groupBy("pred").agg(
        F.sum("n").alias("n_edges"),
        F.count("*").alias("n_subjects"),
        F.max("fanout").alias("max_fanout"),
        F.sum(F.when(F.col("fanout") > 1, 1).otherwise(0)).alias(
            "n_multi_subjects"
        ),
        (F.max("fanout") == 1).alias("functional"),
    )


def resolve_functional(edges: DataFrame) -> DataFrame:
    """-> (src, pred, dst, support, total, confidence): majority-vote truth
    discovery for functional predicates — the knowledge-fusion step that
    turns conflicting extracted observations into ONE canonical object per
    (subject, predicate) with an auditable confidence (Knowledge-Vault-style
    voting; the fix for the violations ``cardinality_audit`` reports). The
    winner is the object with the most supporting emissions; ties break to
    the lexicographically least object so the verdict is deterministic and
    cross-engine reproducible. ``confidence = support/total`` is a single
    IEEE division of two exact integers (engine-exact, the
    ``cooccurrence_lift`` convention).

    Plan: one (src, pred, dst) hash aggregation (map-side partial combine)
    collapses duplicate emissions, then one (src, pred) aggregation picks
    the winner via ``min_by`` over the (-support, dst) total-order key —
    sort-free argmax, no window, no join. Both shuffles key on the
    subject; safe at 10^12 observations.
    """
    obs = edges.groupBy("src", "pred", "dst").agg(F.count("*").alias("support"))
    winner = obs.groupBy("src", "pred").agg(
        F.min_by(
            F.struct("dst", "support"),
            F.struct((-F.col("support")).alias("neg"), F.col("dst")),
        ).alias("w"),
        F.sum("support").alias("total"),
    )
    return winner.select(
        "src",
        "pred",
        F.col("w.dst").alias("dst"),
        F.col("w.support").alias("support"),
        "total",
        (F.col("w.support").cast("double") / F.col("total").cast("double")).alias(
            "confidence"
        ),
    )


def negative_triples(edges: DataFrame, k: int = 2) -> DataFrame:
    """-> (src, pred, neg_dst, j): deterministic type-consistent negative
    sampling for KG-embedding training (the corrupted-triple side of a
    TransE/DistMult margin loss). Each true triple yields up to ``k``
    corruptions that replace the object with another object OBSERVED UNDER
    THE SAME PREDICATE (type-constrained corruption — corrupting across
    predicate domains produces trivially-separable negatives), then an
    anti-join against the true triples removes false negatives (corruptions
    that happen to be real edges).

    'Random' is the corpus's md5 hash-ring idiom (``doc_negative_pairs``):
    per (pred, first-hex-of-md5(dst)) bucket, distinct objects are ordered
    by their full hash and each triple takes the next ``j``=1..k ring
    positions after its own object's slot, wrapping modulo the bucket size.
    Hash order is uniform, so the negatives are unbiased within the
    predicate domain; buckets with <= j objects yield no j-th corruption
    (never a self-corruption). Determinism end-to-end — resumable and
    cross-engine reproducible, no RNG state.

    Plan: the ring is over DISTINCT (pred, object) — entity-vocabulary
    sized, not edge-sized — and its ranking window partitions by
    (pred, bucket), 16-way parallel per predicate (widen the bucket to more
    hex chars at larger vocabularies). Edges join the ring on (pred, dst)
    (broadcastable when the vocabulary is dimension-sized), wrap positions
    resolve with a second vocabulary-sized join, and the anti-join back on
    (src, pred, dst) is the only edge-scale shuffle beyond the first join.
    """
    from pyspark.sql import Window

    e = edges.select("src", "pred", "dst")
    h = F.md5(F.col("dst").cast("string"))
    ring = (
        e.select("pred", "dst").distinct()
        .select("pred", "dst", h.alias("h"), F.substring(h, 1, 1).alias("bkt"))
    )
    w = Window.partitionBy("pred", "bkt").orderBy(F.col("h").asc(), F.col("dst").asc())
    ring = ring.withColumn("rn", F.row_number().over(w))
    nb = ring.groupBy("pred", "bkt").agg(F.count("*").alias("n_bkt"))
    anchors = (
        e.join(ring.select("pred", "dst", "bkt", "rn"), ["pred", "dst"])
        .join(F.broadcast(nb), ["pred", "bkt"])
        .select(
            "src", "pred", "bkt", "rn", "n_bkt", "dst",
            F.explode(F.expr(f"sequence(1, {k})")).alias("j"),
        )
        .where(F.col("n_bkt") > F.col("j"))
        .withColumn("tgt", ((F.col("rn") - 1 + F.col("j")) % F.col("n_bkt")) + 1)
    )
    cand = anchors.join(
        ring.select("pred", "bkt", F.col("rn").alias("tgt"), F.col("dst").alias("neg_dst")),
        ["pred", "bkt", "tgt"],
    ).select("src", "pred", "neg_dst", "j")
    return cand.join(
        e.select("src", "pred", F.col("dst").alias("neg_dst")),
        ["src", "pred", "neg_dst"],
        "left_anti",
    )


def entity_lifespan(mentions: DataFrame, ts_col: str = "ts") -> DataFrame:
    """-> (entity, n_convs, n_mentions, active_days, span_days): the
    temporal-KG validity interval per entity — over how many conversations
    and mentions it occurs, on how many distinct UTC days it was observed,
    and the day-span between its first and last observation. This is the
    valid-time metadata a temporal knowledge graph attaches to each node
    (and the freshness signal an incremental rebuild uses to expire stale
    entities).

    Days are epoch days (``floor(epoch_seconds / 86400)``) — integer
    arithmetic on the instant, independent of any session timezone, so the
    numbers are reproducible across engines. One hash-agg keyed by entity
    (map-side combine; distinct-count of a bounded day domain), no joins.
    """
    day = F.floor(F.unix_timestamp(F.col(ts_col)) / 86400)
    return (
        mentions.select("conv_id", "entity", day.alias("day"))
        .groupBy("entity")
        .agg(
            F.countDistinct("conv_id").alias("n_convs"),
            F.count("*").alias("n_mentions"),
            F.countDistinct("day").alias("active_days"),
            (F.max("day") - F.min("day")).alias("span_days"),
        )
    )


def characteristic_sets(edges: DataFrame) -> DataFrame:
    """-> (charset, n_subjects, n_triples): characteristic sets (Neumann &
    Moerkotte, ICDE 2011) — partition subjects by the exact SET of
    predicates they carry. The standard RDF-store statistic for join
    cardinality estimation ("how many subjects have both flow.next and
    cdg.enter_true?") and a one-screen structural census of an extracted
    KG: over-merged entities surface as charsets gluing predicate families
    that never co-occur on a clean subject.

    ``charset`` is the sorted comma-joined distinct-predicate list (a
    stable cross-engine key); ``n_triples`` counts ALL triples of those
    subjects (duplicate emissions included) so sum(n_triples) == |edges|.
    Two hash aggregations (subject-keyed, then charset-keyed — the charset
    vocabulary is tiny); no join, no window: safe at 10^12 triples.
    """
    per_subj = edges.groupBy("src").agg(
        F.concat_ws(",", F.sort_array(F.collect_set("pred"))).alias("charset"),
        F.count("*").alias("n"),
    )
    return per_subj.groupBy("charset").agg(
        F.count("*").alias("n_subjects"),
        F.sum("n").alias("n_triples"),
    )


def schema_graph(edges: DataFrame, nodes: DataFrame) -> DataFrame:
    """-> (src_kind, pred, dst_kind, n_edges): the kind-level schema
    summary of a typed property graph (VoID-style linkset census) — which
    node kinds each predicate actually connects, with edge counts. The
    induced schema is the contract a downstream consumer codes against,
    and drift in it (a predicate suddenly landing on a new kind pair) is
    the cheapest structural regression alarm for a pipeline that rebuilds
    its KG continuously.

    Endpoints missing from ``nodes`` report kind '?' rather than dropping
    the edge — dangling references are exactly what the census must
    surface. Two edge-scale equi-joins on node_id + one hash-agg on the
    tiny (kind, pred, kind) vocabulary.
    """
    kinds = nodes.select("node_id", "kind")
    return (
        edges.select("src", "pred", "dst")
        .join(
            kinds.withColumnRenamed("node_id", "src").withColumnRenamed(
                "kind", "src_kind"
            ),
            "src",
            "left",
        )
        .join(
            kinds.withColumnRenamed("node_id", "dst").withColumnRenamed(
                "kind", "dst_kind"
            ),
            "dst",
            "left",
        )
        .groupBy(
            F.coalesce(F.col("src_kind"), F.lit("?")).alias("src_kind"),
            "pred",
            F.coalesce(F.col("dst_kind"), F.lit("?")).alias("dst_kind"),
        )
        .agg(F.count("*").alias("n_edges"))
    )


def modularity(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """-> (label, n_nodes, w_in, deg_sum, q_contrib): per-community Newman
    modularity contributions of a vertex partition over the weighted
    undirected graph — Q = sum_c [ w_in_c/m - (deg_c/(2m))^2 ], the
    standard quality score for a community assignment (``labels`` is
    (item, label), e.g. ``label_propagation``'s output). Total Q is the
    sum of ``q_contrib``; a partition beating ~0.3 has real community
    structure, and a giant community with q_contrib near 0 is the classic
    over-merge symptom.

    ``edges`` is (a, b, w), a < b, each undirected edge once. Two
    vertex-keyed joins tag edge endpoints with labels, one vertex-keyed
    hash-agg builds weighted degrees; every downstream agg is
    community-count-sized. m and the division are the only doubles —
    pinned to 6 dp (the repo's convention), everything upstream integer.
    """
    e = edges.select("a", "b", "w")
    lab_a = labels.select(F.col("item").alias("a"), F.col("label").alias("la"))
    lab_b = labels.select(F.col("item").alias("b"), F.col("label").alias("lb"))
    tagged = e.join(lab_a, "a").join(lab_b, "b")
    m = e.agg(F.sum("w").alias("m"))
    w_in = (
        tagged.where(F.col("la") == F.col("lb"))
        .groupBy(F.col("la").alias("label"))
        .agg(F.sum("w").alias("w_in"))
    )
    deg = (
        e.select(F.col("a").alias("v"), "w")
        .unionByName(e.select(F.col("b").alias("v"), "w"))
        .groupBy("v")
        .agg(F.sum("w").alias("deg"))
    )
    deg_sum = (
        deg.join(labels.select(F.col("item").alias("v"), "label"), "v")
        .groupBy("label")
        .agg(F.sum("deg").alias("deg_sum"), F.count("*").alias("n_nodes"))
    )
    return (
        deg_sum.join(w_in, "label", "left")
        .withColumn("w_in", F.coalesce(F.col("w_in"), F.lit(0)))
        .crossJoin(F.broadcast(m))
        .select(
            "label",
            F.col("n_nodes").cast("int").alias("n_nodes"),
            "w_in",
            "deg_sum",
            # squared via explicit product, not pow() — libm pow need not
            # equal x*x in the last ulp, and the oracle multiplies
            F.round(
                F.col("w_in") / F.col("m")
                - (F.col("deg_sum") / (F.lit(2.0) * F.col("m")))
                * (F.col("deg_sum") / (F.lit(2.0) * F.col("m"))),
                6,
            ).alias("q_contrib"),
        )
    )


def community_graph(
    edges: DataFrame, labels: DataFrame, weight_col: str = "w"
) -> DataFrame:
    """-> (label_a, label_b, n_edges, w_sum), label_a <= label_b: the
    QUOTIENT super-graph of a vertex partition — every edge rolled up to
    the community pair it connects (label_a == label_b rows are the
    intra-community mass). The graph-summarization primitive: at 10^12
    edges nobody plots the vertex graph, they plot this (communities
    from ``label_propagation``, types from ``schema_graph`` — any
    (item, label) partition works).

    Two keyed joins attach endpoint labels, one hash-agg on the
    canonicalized (least, greatest) label pair — exact integers, so the
    oracle mirrors it bit-for-bit. Vertices missing from ``labels`` drop
    their edges (inner joins — loud would mean a data-scale count; the
    composition with label_propagation labels every vertex that has an
    edge, so nothing drops on the standard path)."""
    e = edges.select("a", "b", F.col(weight_col).alias("w"))
    la = labels.select(F.col("item").alias("a"), F.col("label").alias("la"))
    lb = labels.select(F.col("item").alias("b"), F.col("label").alias("lb"))
    return (
        e.join(la, "a")
        .join(lb, "b")
        .groupBy(
            F.least("la", "lb").alias("label_a"),
            F.greatest("la", "lb").alias("label_b"),
        )
        .agg(F.count("*").alias("n_edges"), F.sum("w").alias("w_sum"))
    )


def rank_eval(candidates: DataFrame, heldout: DataFrame, k: int = 10) -> DataFrame:
    """Link-prediction ranking evaluation (the TransE/DistMult protocol,
    unfiltered setting): for every held-out edge, the rank of its far
    endpoint in the scorer's candidate list for the near endpoint — probed
    from BOTH endpoints, like head- and tail-corruption in KG-embedding
    eval. -> (q, target, direction, rank, rr, hit_at_k); MRR = avg(rr) and
    Hits@k = avg(hit_at_k) over the output. A held-out edge the scorer
    never proposed ranks NULL (rr = 0, the honest miss — dropping misses
    inflates MRR).

    ``candidates`` is (a, b, score) undirected pairs (e.g.
    ``link_predict_common_neighbors``); ``heldout`` is (a, b) true edges
    EXCLUDED from the graph the scorer saw. Ranks come from one window per
    query vertex (score desc, candidate asc — deterministic total order),
    never a global sort; the probe join is vertex-keyed.
    """
    cand = candidates.select(
        F.col("a").alias("q"), F.col("b").alias("cand"), "score"
    ).unionByName(
        candidates.select(F.col("b").alias("q"), F.col("a").alias("cand"), "score")
    )
    w = Window.partitionBy("q").orderBy(F.col("score").desc(), F.col("cand").asc())
    ranked = cand.withColumn("rank", F.row_number().over(w))
    h = heldout.select("a", "b")
    probes = h.select(
        F.col("a").alias("q"), F.col("b").alias("target"), F.lit("head").alias("direction")
    ).unionByName(
        h.select(F.col("b").alias("q"), F.col("a").alias("target"), F.lit("tail").alias("direction"))
    )
    out = probes.join(
        ranked.select("q", F.col("cand").alias("target"), "rank"),
        ["q", "target"],
        "left",
    )
    return out.select(
        "q",
        "target",
        "direction",
        "rank",
        F.round(
            F.when(F.col("rank").isNotNull(), F.lit(1.0) / F.col("rank")).otherwise(0.0), 6
        ).alias("rr"),
        (F.coalesce(F.col("rank"), F.lit(1 << 30)) <= k).alias("hit_at_k"),
    )


def neighbor_sample(
    edges: DataFrame, seeds: DataFrame, fanouts: Sequence[int] = (3, 2)
) -> DataFrame:
    """GraphSAGE-style layered neighborhood sampling over the symmetrized
    graph: from each seed, keep at most ``fanouts[h]`` neighbors per
    frontier vertex at hop h — the minibatch-construction primitive for
    distributed GNN training, where full neighborhoods are hub-explosive.

    -> (hop, src, dst): the sampled edges, hop = 1-based layer. Sampling
    is DETERMINISTIC (no RNG state, resumable, partitioning-invariant,
    cross-engine exact): a frontier vertex's neighbors are ranked by
    md5(src:dst:hop) — an unbiased per-hop shuffle, like the md5 hash
    ring in ``negative_triples`` — and the top ``fanouts[h]`` survive.
    Per hop: one vertex-keyed join + one window partitioned by the
    frontier vertex; len(fanouts) is small and fixed, so the unrolled
    plan is a finite join tree an exact SQL oracle can mirror.

    ``seeds`` is a one-column DataFrame (column ``v``).
    """
    from jcpg_spark.caching import swap_persist

    e = edges.select("a", "b")
    adj = e.select(F.col("a").alias("s"), F.col("b").alias("t")).unionByName(
        e.select(F.col("b").alias("s"), F.col("a").alias("t"))
    )
    if len(fanouts) > 1:
        adj = swap_persist("neighbor_sample.adj", adj)
    frontier = seeds.select(F.col("v").alias("s"))
    out = None
    for h, fan in enumerate(fanouts, start=1):
        cand = frontier.join(adj, "s")
        hkey = F.md5(
            F.concat_ws(
                ":", F.col("s").cast("string"), F.col("t").cast("string"),
                F.lit(str(h)),
            )
        )
        w = Window.partitionBy("s").orderBy(hkey.asc(), F.col("t").asc())
        kept = (
            cand.withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") <= fan)
            .select(
                F.lit(h).alias("hop"),
                F.col("s").alias("src"),
                F.col("t").alias("dst"),
            )
        )
        out = kept if out is None else out.unionByName(kept)
        frontier = kept.select(F.col("dst").alias("s")).distinct()
    return out


def random_walks(
    edges: DataFrame, walks_per_node: int = 2, length: int = 3
) -> DataFrame:
    """DeepWalk corpus generation: ``walks_per_node`` truncated random
    walks of ``length`` steps from every vertex of the symmetrized graph —
    the input sentences for skip-gram graph embeddings
    (``lm.skipgram_counts`` consumes exactly this shape).

    -> (v0, walk, step, vertex): step 0 is the start vertex. The walk is
    DETERMINISTIC: at each step the successor is the neighbor ranked
    first by md5(walk:step:cur:neighbor) — a fresh unbiased choice per
    (walk id, step), with no RNG state (resumable, partitioning-invariant,
    cross-engine exact; same device as ``neighbor_sample``). Each step is
    one vertex-keyed join + one window partitioned by (walk, cur);
    ``length`` is small and fixed, so the unrolled plan is a finite join
    tree an exact SQL oracle can mirror. Dead-end vertices (none here —
    the graph is symmetrized, so deg >= 1 for every vertex that appears)
    would simply stop extending.
    """
    from jcpg_spark.caching import swap_persist

    e = edges.select("a", "b")
    adj = e.select(F.col("a").alias("s"), F.col("b").alias("t")).unionByName(
        e.select(F.col("b").alias("s"), F.col("a").alias("t"))
    )
    if length > 1:
        adj = swap_persist("random_walks.adj", adj)
    starts = (
        adj.select(F.col("s").alias("v0"))
        .distinct()
        .select("v0", F.explode(F.expr(f"sequence(1, {walks_per_node})")).alias("walk"))
    )
    out = starts.select(
        "v0", "walk", F.lit(0).alias("step"), F.col("v0").alias("vertex")
    )
    cur = out
    for k in range(1, length + 1):
        cand = cur.select("v0", "walk", F.col("vertex").alias("s")).join(adj, "s")
        hkey = F.md5(
            F.concat_ws(
                ":", F.col("walk").cast("string"), F.lit(str(k)),
                F.col("s").cast("string"), F.col("t").cast("string"),
            )
        )
        w = Window.partitionBy("v0", "walk", "s").orderBy(hkey.asc(), F.col("t").asc())
        cur = (
            cand.withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") == 1)
            .select("v0", "walk", F.lit(k).alias("step"), F.col("t").alias("vertex"))
        )
        out = out.unionByName(cur)
    return out


def node2vec_walks(
    edges: DataFrame,
    walks_per_node: int = 2,
    length: int = 3,
    ret_w: int = 1,
    base_w: int = 2,
    out_w: int = 1,
) -> DataFrame:
    """node2vec corpus generation (Grover & Leskovec 2016): second-order
    biased walks where the successor distribution depends on the PREVIOUS
    vertex — candidates are weighted ``ret_w`` for returning to prev
    (node2vec's 1/p), ``base_w`` for a common neighbor of prev and cur
    (distance 1, weight 1), and ``out_w`` for stepping outward (1/q).
    Integer weights instead of the paper's real-valued alphas because the
    walk must stay DETERMINISTIC and cross-engine exact: weighted choice
    is realized by replicating each candidate ``weight`` times (explode of
    ``sequence(1, w)``) and taking the md5-min over the copies — an
    integer-only device with no ln/pow whose libm could diverge between
    engines; any rational (p, q) maps to integer weights by scaling.

    -> (v0, walk, step, vertex), step 0 = start. Step 1 is unbiased (no
    prev yet — the node2vec convention). Each later step is one
    vertex-keyed join to the adjacency, one (prev, t) membership left
    join for the common-neighbor tier, the copy explode, and one window
    pick — a finite unrolled plan an exact SQL oracle mirrors. The copy
    explode multiplies candidate rows by <= max(weights), bounded and
    map-side (no extra shuffle)."""
    if min(ret_w, base_w, out_w) < 1:
        raise ValueError("weights must be positive integers")
    from jcpg_spark.caching import swap_persist

    e = edges.select("a", "b")
    adj = (
        e.select(F.col("a").alias("s"), F.col("b").alias("t"))
        .unionByName(e.select(F.col("b").alias("s"), F.col("a").alias("t")))
        .distinct()
    )
    adj = swap_persist("node2vec.adj", adj)
    starts = (
        adj.select(F.col("s").alias("v0"))
        .distinct()
        .select("v0", F.explode(F.expr(f"sequence(1, {walks_per_node})")).alias("walk"))
    )
    out = starts.select(
        "v0", "walk", F.lit(0).alias("step"), F.col("v0").alias("vertex")
    )
    # step 1: unbiased (no prev) — same pick as random_walks
    cand = starts.select("v0", "walk", F.col("v0").alias("s")).join(adj, "s")
    hkey = F.md5(
        F.concat_ws(
            ":", F.col("walk").cast("string"), F.lit("1"),
            F.col("s").cast("string"), F.col("t").cast("string"),
        )
    )
    w1 = Window.partitionBy("v0", "walk", "s").orderBy(hkey.asc(), F.col("t").asc())
    cur = (
        cand.withColumn("rk", F.row_number().over(w1))
        .where(F.col("rk") == 1)
        .select(
            "v0", "walk", F.lit(1).alias("step"),
            F.col("s").alias("prev"), F.col("t").alias("vertex"),
        )
    )
    out = out.unionByName(cur.drop("prev"))
    com = adj.select(
        F.col("s").alias("cp"), F.col("t").alias("ct"), F.lit(True).alias("is_common")
    )
    for k in range(2, length + 1):
        cand = cur.select("v0", "walk", "prev", F.col("vertex").alias("s")).join(adj, "s")
        cand = cand.join(
            com, (cand["prev"] == com["cp"]) & (cand["t"] == com["ct"]), "left"
        ).select(
            "v0", "walk", "prev", "s", "t",
            F.when(F.col("t") == F.col("prev"), F.lit(ret_w))
            .when(F.col("is_common"), F.lit(base_w))
            .otherwise(F.lit(out_w))
            .alias("wgt"),
        )
        copies = cand.select(
            "v0", "walk", "prev", "s", "t",
            F.explode(F.expr("sequence(1, wgt)")).alias("copy"),
        )
        hkey = F.md5(
            F.concat_ws(
                ":", F.col("walk").cast("string"), F.lit(str(k)),
                F.col("s").cast("string"), F.col("t").cast("string"),
                F.col("copy").cast("string"),
            )
        )
        wk = Window.partitionBy("v0", "walk", "s").orderBy(hkey.asc(), F.col("t").asc())
        cur = (
            copies.withColumn("rk", F.row_number().over(wk))
            .where(F.col("rk") == 1)
            .select(
                "v0", "walk", F.lit(k).alias("step"),
                F.col("s").alias("prev"), F.col("t").alias("vertex"),
            )
        )
        out = out.unionByName(cur.drop("prev"))
    return out


def wl_fingerprint(
    edges: DataFrame,
    iters: int = 2,
    conv_col: str = "conv_id",
) -> DataFrame:
    """1-dimensional Weisfeiler-Leman structural fingerprint per
    conversation subgraph: an isomorphism-invariant digest that is equal
    for conversations whose (typed-edge, typed-node) interaction graphs
    are isomorphic, regardless of conversation ids, turn offsets, or
    text. The structural complement of text dedup — template bots and
    replayed sessions hash together here while every text-level signal
    differs (reference analog: the graph-shape equality that
    ``CodePropertyGraphTest.java`` fixtures assert whole-graph).

    Node colors start as the node KIND (the id prefix before ':'), then
    ``iters`` WL refinement rounds rehash each node with the sorted
    multiset of (direction, predicate, neighbor-color) messages; the
    conversation fingerprint is the hash of the final color multiset.
    md5 is used (not xxhash64) so a SQL oracle can mirror every round.

    Scale: each round is two node-keyed joins plus one hash-agg, all
    partitioned by (conv, node); nothing is conversation-serial, and no
    per-round state exceeds one 32-char label per node. Rounds are
    FIXED (default 2 — enough to separate everything the per-conv CFG
    can express), so the plan is a finite join tree, not a fixpoint.
    Shared global nodes (e.g. ``tool:db``) are colored per conversation
    via the composite (conv, node) key, as subgraph isomorphism demands.
    """
    e = (
        edges.select(F.col(conv_col).alias("conv"), "src", "pred", "dst")
        .filter(F.col("conv").isNotNull())
    )
    nodes = (
        e.select("conv", F.col("src").alias("node"))
        .unionByName(e.select("conv", F.col("dst").alias("node")))
        .distinct()
    )
    labels = nodes.withColumn("lbl", F.md5(F.split("node", ":").getItem(0)))
    for _ in range(iters):
        # rename the label side before joining: labels' lineage descends
        # from e, so unrenamed predicates trip AMBIGUOUS_SELF_JOIN
        lab = labels.select(
            F.col("conv").alias("lconv"), F.col("node").alias("lnode"), "lbl"
        )
        out_m = e.join(
            lab, (e["conv"] == lab["lconv"]) & (e["dst"] == lab["lnode"])
        ).select(
            "conv", F.col("src").alias("node"),
            F.concat(F.lit(">"), F.col("pred"), F.lit("#"), F.col("lbl")).alias("msg"),
        )
        in_m = e.join(
            lab, (e["conv"] == lab["lconv"]) & (e["src"] == lab["lnode"])
        ).select(
            "conv", F.col("dst").alias("node"),
            F.concat(F.lit("<"), F.col("pred"), F.lit("#"), F.col("lbl")).alias("msg"),
        )
        self_m = labels.select("conv", "node", F.concat(F.lit("="), F.col("lbl")).alias("msg"))
        labels = (
            out_m.unionByName(in_m)
            .unionByName(self_m)
            .groupBy("conv", "node")
            .agg(F.md5(F.concat_ws(",", F.sort_array(F.collect_list("msg")))).alias("lbl"))
        )
    return labels.groupBy("conv").agg(
        F.md5(F.concat_ws(",", F.sort_array(F.collect_list("lbl")))).alias("fingerprint")
    ).select(F.col("conv").alias(conv_col), "fingerprint")


# canonical 64-state classification of a 3-node digraph, keyed by
# b01*16 + b02*4 + b12 where each pair's bits are (lo->hi = 1, hi->lo = 2);
# derived once from the Holland-Leinhardt taxonomy (cross-checked against
# networkx.triadic_census in tests/test_graph_analytics.py)
_TRIAD_BY_CODE = {
    0: "003", 1: "012", 2: "012", 3: "102", 4: "012", 5: "021U", 6: "021C",
    7: "111D", 8: "012", 9: "021C", 10: "021D", 11: "111U", 12: "102",
    13: "111D", 14: "111U", 15: "201", 16: "012", 17: "021C", 18: "021U",
    19: "111D", 20: "021D", 21: "030T", 22: "030T", 23: "120D", 24: "021C",
    25: "030C", 26: "030T", 27: "120C", 28: "111U", 29: "120C", 30: "120U",
    31: "210", 32: "012", 33: "021D", 34: "021C", 35: "111U", 36: "021C",
    37: "030T", 38: "030C", 39: "120C", 40: "021U", 41: "030T", 42: "030T",
    43: "120U", 44: "111D", 45: "120D", 46: "120C", 47: "210", 48: "102",
    49: "111U", 50: "111D", 51: "201", 52: "111U", 53: "120U", 54: "120C",
    55: "210", 56: "111D", 57: "120C", 58: "120D", 59: "210", 60: "201",
    61: "210", 62: "210", 63: "300",
}


def triad_census(edges: DataFrame, max_degree: int | None = None) -> DataFrame:
    """Holland-Leinhardt triad census, CONNECTED classes only: counts of
    the 13 directed 3-node isomorphism types whose support graph is
    connected (021D/U/C, 111D/U, 030T/C, 201, 120D/U/C, 210, 300) —
    the classic micro-structure signature of a directed network (social
    hierarchy vs reciprocity vs cycling), and the disconnected classes
    (003/012/102) are recoverable from pair totals by subtraction
    without touching triples.

    Algorithm (no all-triples scan): distinct directed edges collapse to
    an UNDIRECTED support pair table with 2 direction bits; wedges
    enumerate around each center node (a triple with k present pairs is
    generated k==2 ? once : three times, deduped on the sorted key);
    three pair-keyed left joins recover the 6-bit code; a 64-entry
    literal map (cross-checked against networkx) names the class.
    Wedge fan-out is quadratic in SUPPORT degree, the same hub exposure
    as ``co_mention_edges`` — ``max_degree`` drops hub nodes from wedge
    CENTERS (their non-center pair memberships still count), the honest
    cap for power-law graphs; pass None for exact census.
    """
    e = (
        edges.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    su = (
        e.select(
            F.least("src", "dst").alias("u"),
            F.greatest("src", "dst").alias("v"),
            F.when(F.col("src") < F.col("dst"), F.lit(1)).otherwise(F.lit(2)).alias("b"),
        )
        .groupBy("u", "v")
        .agg(F.sum("b").alias("b"))
    )
    incid = su.select(F.col("u").alias("node"), F.col("v").alias("other")).unionByName(
        su.select(F.col("v").alias("node"), F.col("u").alias("other"))
    )
    if max_degree is not None:
        deg = incid.groupBy("node").agg(F.count(F.lit(1)).alias("d"))
        incid = incid.join(deg.filter(F.col("d") <= max_degree), "node", "left_semi")
    a = incid.alias("a")
    b = incid.alias("b")
    wedges = a.join(
        b, (F.col("a.node") == F.col("b.node")) & (F.col("a.other") < F.col("b.other"))
    ).select(
        F.col("a.node").alias("c0"), F.col("a.other").alias("n1"), F.col("b.other").alias("n2")
    )
    arr = F.array_sort(F.array("c0", "n1", "n2"))
    triples = wedges.select(
        arr.getItem(0).alias("x"), arr.getItem(1).alias("y"), arr.getItem(2).alias("z")
    ).distinct()

    def bits(l, r):
        s = su.select(
            F.col("u").alias(f"_{l}{r}u"), F.col("v").alias(f"_{l}{r}v"),
            F.col("b").alias(f"b_{l}{r}"),
        )
        return s

    t = (
        triples.join(
            bits("x", "y"),
            (F.col("x") == F.col("_xyu")) & (F.col("y") == F.col("_xyv")), "left")
        .join(
            bits("x", "z"),
            (F.col("x") == F.col("_xzu")) & (F.col("z") == F.col("_xzv")), "left")
        .join(
            bits("y", "z"),
            (F.col("y") == F.col("_yzu")) & (F.col("z") == F.col("_yzv")), "left")
    )
    code = (
        F.coalesce(F.col("b_xy"), F.lit(0)) * 16
        + F.coalesce(F.col("b_xz"), F.lit(0)) * 4
        + F.coalesce(F.col("b_yz"), F.lit(0))
    )
    mapping = F.create_map(
        *[F.lit(x) for k, v in sorted(_TRIAD_BY_CODE.items()) for x in (k, v)]
    )
    return (
        t.select(F.element_at(mapping, code.cast("int")).alias("triad"))
        .groupBy("triad")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def butterfly_counts(
    mentions: DataFrame, max_per_conv: int = 1000
) -> DataFrame:
    """Per-entity BUTTERFLY (bipartite 4-cycle) participation over the
    conversation-entity incidence: a butterfly is two conversations
    sharing the same two entities — the smallest bipartite motif with
    reinforcement semantics, and the bipartite analog of the triangle
    (which bipartite graphs cannot contain). High butterfly density
    around an entity pair is the template/copy-bot signature the
    projection-based metrics blur away.

    butterflies(a) = sum over partners b of C(w_ab, 2) with w the
    co-mention support — so the whole computation rides the already
    hub-capped ``co_mention_edges`` pair aggregation plus one
    entity-keyed rollup; counts are exact integers end to end (C(w,2)
    as w*(w-1)/2 in integer arithmetic).
    """
    w = co_mention_edges(mentions, min_weight=2, max_per_conv=max_per_conv)
    bf = w.select(
        "a", "b", (F.col("w") * (F.col("w") - 1) / 2).cast("long").alias("bf")
    )
    per = bf.select(F.col("a").alias("entity"), "bf").unionByName(
        bf.select(F.col("b").alias("entity"), "bf")
    )
    return per.groupBy("entity").agg(F.sum("bf").alias("butterflies"))


def attribute_assortativity(
    edges: DataFrame, node_cats: DataFrame
) -> DataFrame:
    """Newman attribute assortativity: the directed mixing matrix over
    node categories plus the homophily coefficient
    r = (tr(e) - sum_i a_i b_i) / (1 - sum_i a_i b_i), where e is the
    edge-share matrix and a/b its row/column marginals — "do edges stay
    within a category" (role homophily, namespace cliquishness), the
    categorical companion of ``graph_stats``'s degree assortativity.

    Output: one row per observed (cat_src, cat_dst) with the count, the
    share at 6 dp, and r (a graph-level scalar, repeated per row so the
    relation stays flat). r is null for a single-category graph (the
    coefficient's denominator vanishes). After the two node-keyed
    category joins everything is category-vocabulary-sized: the matrix
    agg, both marginal rollups, and the 1-row broadcast reduce.
    """
    cs = node_cats.select(F.col("node").alias("src"), F.col("cat").alias("cat_src"))
    cd = node_cats.select(F.col("node").alias("dst"), F.col("cat").alias("cat_dst"))
    m = (
        edges.join(cs, "src").join(cd, "dst")
        .groupBy("cat_src", "cat_dst")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = m.agg(F.sum("n").alias("tot"))
    a = m.groupBy("cat_src").agg(F.sum("n").alias("na"))
    b = m.groupBy("cat_dst").agg(F.sum("n").alias("nb"))
    ab = (
        a.join(b, a["cat_src"] == b["cat_dst"])
        .crossJoin(F.broadcast(tot))
        .agg(
            F.sum(
                (F.col("na") / F.col("tot")) * (F.col("nb") / F.col("tot"))
            ).alias("s_ab")
        )
    )
    tr = (
        m.crossJoin(F.broadcast(tot))
        .filter(F.col("cat_src") == F.col("cat_dst"))
        .agg(F.sum(F.col("n") / F.col("tot")).alias("tr"))
    )
    r = (
        tr.crossJoin(ab)
        .select(
            F.when(
                F.col("s_ab") < 1.0,
                (F.coalesce(F.col("tr"), F.lit(0.0)) - F.col("s_ab"))
                / (1.0 - F.col("s_ab")),
            ).alias("r")
        )
    )
    return (
        m.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(r))
        .select(
            "cat_src", "cat_dst", "n",
            F.round(F.col("n") / F.col("tot"), 6).alias("share"),
            F.round("r", 6).alias("r"),
        )
    )


def densest_subgraph(
    edges: DataFrame, epsilon: float = 0.1, max_iter: int = 60
) -> tuple[DataFrame, float, int]:
    """Densest subgraph by the Bahmani-Kumar-Vassilvitskii batched peel
    (the MapReduce 2(1+eps)-approximation of Charikar's greedy): each
    round removes EVERY vertex with degree <= 2(1+eps)*density, so the
    loop terminates in O(log n / eps) rounds instead of the sequential
    greedy's O(n) — the distributed-correct formulation. Returns
    (vertices of the best prefix as (item,), best density |E|/|V|,
    rounds). The spam/template core extractor: the densest co-mention
    region is where coordinated content lives.

    Driver coordination per round is one fused scalar job (edge count +
    vertex count in a single aggregation over the adjacency) plus the
    filtered-survivor semi-joins, lineage cut per round with a lazy
    localCheckpoint — the same posture as ``kcore``/CC. Deterministic:
    removal depends only on exact integer degrees.
    """
    e = edges.select("a", "b").filter(F.col("a") != F.col("b")).distinct()
    e = e.localCheckpoint(eager=False)
    best_set, best_rho = None, -1.0
    rounds = 0
    for rounds in range(1, max_iter + 1):
        adj = e.select(F.col("a").alias("s")).unionByName(e.select(F.col("b").alias("s")))
        m2, n = adj.agg(F.count(F.lit(1)), F.count_distinct("s")).first()
        if not n:
            break
        rho = (m2 / 2) / n
        if rho > best_rho:
            best_rho = rho
            best_set = (
                adj.select("s").distinct().localCheckpoint(eager=False)
            )
        thr = 2.0 * (1.0 + epsilon) * rho
        deg = adj.groupBy("s").agg(F.count(F.lit(1)).alias("deg"))
        keep = deg.filter(F.col("deg") > thr).select("s")
        e = (
            e.join(keep, e["a"] == keep["s"], "left_semi")
            .join(keep.select(F.col("s").alias("t")), F.col("b") == F.col("t"), "left_semi")
            .localCheckpoint(eager=False)
        )
    out = (
        best_set.select(F.col("s").alias("item"))
        if best_set is not None
        else e.sparkSession.createDataFrame([], "item string")
    )
    return out, (best_rho if best_rho >= 0 else 0.0), rounds


def shortest_path_trace(
    edges: DataFrame, sources: DataFrame, max_hops: int = 3
) -> DataFrame:
    """-> (item, dist, path): multi-source BFS distances PLUS one
    concrete witness path per reached vertex — the "HOW is this entity
    connected to the seed set" explanation the bare distance can't give
    (provenance for link-prediction hits, contamination traces,
    escalation chains). ``path`` is the array [seed-side ... item].

    Deterministic witness: each vertex's parent is the MINIMUM neighbor
    in the previous BFS layer (min over strings — the same total-order
    tie-break every ranked operator here uses), so the trace is unique,
    partitioning-invariant, and exactly mirrorable in SQL. Built ON the
    ``bfs_distances`` layering: one adjacency-meets-layer join computes
    parents, then ``max_hops`` parent-chain joins (bounded unroll)
    extend the path arrays — no driver loop over data, lineage bounded
    by the hop budget.
    """
    dist = bfs_distances(edges, sources, max_hops=max_hops)
    e = edges.select("a", "b")
    adj = e.select(F.col("a").alias("s"), F.col("b").alias("t")).unionByName(
        e.select(F.col("b").alias("s"), F.col("a").alias("t"))
    )
    du = dist.select(F.col("item").alias("s"), F.col("dist").alias("ds"))
    dv = dist.select(F.col("item").alias("t"), F.col("dist").alias("dt"))
    parent = (
        adj.join(du, "s").join(dv, "t")
        .filter(F.col("dt") == F.col("ds") + 1)
        .groupBy("t")
        .agg(F.min("s").alias("par"))
        .select(F.col("t").alias("item"), "par")
    )
    cur = dist.join(parent, "item", "left").select(
        "item", "dist",
        F.array(F.col("item")).alias("path"),
        F.col("par").alias("head"),
    )
    for _ in range(max_hops):
        pstep = parent.select(
            F.col("item").alias("head"), F.col("par").alias("nhead")
        )
        cur = (
            cur.join(pstep, "head", "left")
            .select(
                "item", "dist",
                F.when(
                    F.col("head").isNotNull(),
                    F.concat(F.array(F.col("head")), F.col("path")),
                ).otherwise(F.col("path")).alias("path"),
                F.col("nhead").alias("head"),
            )
        )
    return cur.select("item", "dist", "path")
