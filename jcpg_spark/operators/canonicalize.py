"""Entity canonicalization — iterative connected components (A6).

Reference analog: the iterative DEF-USE fixpoint (``JavacpgDDGBuilder.java:
102-117`` — ``do { changed } while(changed)`` over all files) and the
transitive callee merge (``JavacpgMethodLevel.java:272-290``, recursive
``connectmethods``). Both are "propagate until nothing changes" loops over
shared state; the distributed re-expression is min-label propagation over
the entity alias graph until a convergence aggregate reaches zero — the
same ``changed`` flag, computed as ``sum(changed) == 0`` instead of a
mutable boolean.

Scale properties:
- the distributed path is the two-phase large-star/small-star alternation
  (Kiveris et al., "Connected Components in MapReduce and Beyond",
  PAPERS.md) — O(log diameter) rounds instead of the O(diameter) rounds of
  plain min-label propagation, so a pathological alias CHAIN converges in
  ~2·log2(n) passes (pytest-gated on a 1024-node path graph);
- each star pass is one groupBy + one join on the node key;
- ``localCheckpoint()`` per round truncates lineage (else the plan doubles
  every iteration and the driver OOMs on plan size long before data size);
- the driver union-find fast path is gated on ESTIMATED BYTES of the
  collected pair set, not only row count, so wide entity keys cannot blow
  the driver heap at a row count that would fit narrow keys.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from jcpg_spark import io as tio
from jcpg_spark import schema as S
from jcpg_spark.caching import driver_probe, release

log = logging.getLogger(__name__)


def _driver_union_find_rows(rows, pairs: DataFrame) -> DataFrame:
    """In-memory union-find with min-label roots over collected pair rows;
    returns (entity, canonical_id) as a DataFrame with the pair columns'
    type."""
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for r in rows:
        ra, rb = find(r[0]), find(r[1])
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    entities = list(parent)
    a_type = pairs.schema[0].dataType
    from pyspark.sql import types as T

    schema = T.StructType(
        [T.StructField("entity", a_type, False), T.StructField("canonical_id", a_type, False)]
    )
    return tio.local_frame(pairs.sparkSession, [entities, [find(e) for e in entities]], schema)


INTRO_RX = r"^introducing\b"


def alias_pairs(
    transcripts: DataFrame, linked_mentions: DataFrame, dedupe: bool = True
) -> DataFrame:
    """Extract (entity_a, entity_b) assertions from alias-introduction turns.

    A turn whose text matches the introduction form ('introducing X as Y')
    asserts that its first and second linked mentions co-refer. Returns
    distinct (a, b) with a < b (undirected edge, deduped).

    When ``linked_mentions`` carries a ``turn_flag`` column (the pipeline
    asks detect_mentions to evaluate INTRO_RX during the tokenization
    pass), intro turns are a map-side FILTER on the linked cache. The
    fallback path re-derives them from ``transcripts`` with a broadcast
    semi-join — correct, but at bench scale the intro-key broadcast is
    ~560k rows whose driver-side hash-relation build is serial (measured
    ~2s of the r3 CC phase's 0.49 per-core scaling), plus a second full
    text scan; the flag path has neither.
    """
    if "turn_flag" in linked_mentions.columns:
        m = linked_mentions.filter(F.col("turn_flag"))
    else:
        intro = transcripts.filter(F.col("text").rlike(INTRO_RX)).select(
            "conv_id", "turn_idx"
        )
        m = linked_mentions.join(intro, on=["conv_id", "turn_idx"], how="left_semi")
    # first/last mention per turn in ONE hash aggregation (r4; previously
    # two windows + sort-aggregate, three extra stages of driver-serial
    # scheduling in an otherwise small job). min_by/max_by are
    # TypedImperative (sort-based fallback at data-scale group counts) and
    # min/max over struct buffers also leave HashAggregateExec, so the
    # (ordinal, canonical) pair is encoded as ONE sortable string —
    # zero-padded ordinal prefix — keeping plain string min/max with
    # map-side partial combine.
    key = F.concat(
        F.lpad(F.col("ordinal").cast("string"), 10, "0"), F.col("canonical")
    )
    per_turn = m.groupBy("conv_id", "turn_idx").agg(
        F.substring(F.min(key), 11, 2_000_000).alias("first"),
        F.substring(F.max(key), 11, 2_000_000).alias("second"),
        F.count(F.lit(1)).alias("n"),
    )
    pairs = per_turn.filter((F.col("n") >= 2) & (F.col("first") != F.col("second")))
    out = pairs.select(
        F.least("first", "second").alias("a"), F.greatest("first", "second").alias("b")
    )
    # dedupe=False skips the distinct exchange for callers that dedupe the
    # (entity-vocabulary-sized) pair set themselves — the streaming
    # canonicalizer folds each micro-batch into a driver set, so the extra
    # shuffle bought nothing per batch.
    return out.distinct() if dedupe else out


def _large_star(edges: DataFrame) -> DataFrame:
    """Large-star pass: every node u connects its STRICTLY LARGER neighbors
    to m(u) = min(neighbors(u) + {u}). Halves long chains each round."""
    sym = edges.unionByName(edges.select(F.col("b").alias("a"), F.col("a").alias("b")))
    mins = sym.groupBy("a").agg(F.min("b").alias("mn"))
    mins = mins.select("a", F.least("a", F.col("mn")).alias("m"))
    return (
        sym.join(mins, "a")
        .filter(F.col("b") > F.col("a"))
        .select(F.col("b").alias("a"), F.col("m").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Small-star pass: orient each edge larger->smaller; every node links
    its smaller neighbors (and itself) to the smallest of them."""
    d = edges.select(F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b"))
    mins = d.groupBy("a").agg(F.min("b").alias("m"))
    return (
        d.join(mins, "a")
        .select(F.col("b").alias("a"), F.col("m").alias("b"))
        .unionByName(mins.select("a", F.col("m").alias("b")))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )


def connected_components(
    pairs: DataFrame,
    max_iter: int = 25,
    driver_threshold: int = 1_000_000,
    driver_threshold_bytes: int = 256 << 20,
) -> tuple[DataFrame, int, bool]:
    """Connected components over undirected (a, b) pairs; canonical label =
    component minimum (both paths below agree exactly).

    Returns (mapping DF (entity, canonical), rounds run, converged flag).
    The mapping contains every entity that appears in ``pairs``; entities
    with no alias edge are their own canonical by definition (callers treat
    absence as identity).

    Scale-adaptive: the alias-pair graph is ENTITY-vocabulary-sized, not
    data-sized, so when the pair set fits the driver (row cap AND a byte
    budget estimated from the collected rows — wide keys can exceed the
    heap long before the row cap) the labels come from an in-memory
    union-find (one collect, zero iterative shuffles — same move as
    Spark's own broadcast threshold). Otherwise the distributed
    large-star/small-star alternation runs: O(log diameter) rounds, each
    round two groupBy+join passes, lineage truncated per round.
    """
    probe = driver_probe(
        "canonicalize.cc.pairs", pairs, driver_threshold, driver_threshold_bytes
    )
    if probe is not None:
        return _driver_union_find_rows(probe, pairs), 1, True

    # the eager checkpoint reads the probe's persisted partitions; past it
    # the cache is dead weight
    edges = (
        pairs.select("a", "b").filter(F.col("a") != F.col("b")).distinct().localCheckpoint()
    )
    release("canonicalize.cc.pairs")
    # entities present in the input (roots must also appear in the output
    # mapping even after star contraction drops their edges)
    all_nodes = (
        edges.select(F.col("a").alias("entity"))
        .unionByName(edges.select(F.col("b").alias("entity")))
        .distinct()
        .localCheckpoint()
    )

    rounds = 0
    converged = False
    prev_stats: tuple | None = None
    prev = None
    for rounds in range(1, max_iter + 1):
        # ONE job per round (was three in r3: eager checkpoint + count +
        # anti-join): the checkpoint is lazy, so the stats aggregate both
        # materializes it and computes the convergence signal — count plus
        # an order-independent xxhash64 XOR signature of the edge set
        # (edges are distinct, so XOR cancellation needs two different
        # sets colliding at 2^-64; cheap signal, exact confirmation below).
        edges = _small_star(_large_star(edges)).localCheckpoint(eager=False)
        cnt, sig = edges.agg(
            F.count(F.lit(1)), F.bit_xor(F.xxhash64("a", "b"))
        ).first()
        # stability of the small-star output is the fixpoint criterion (the
        # edge set is then a union of min-rooted stars). On a stats match,
        # confirm EXACTLY once with the set-equality join (equal count +
        # empty one-sided anti-join) — per-call, not per-round cost.
        if (cnt, sig) == prev_stats and (
            edges.join(prev, ["a", "b"], "left_anti").count() == 0
        ):
            converged = True
            break
        prev, prev_stats = edges, (cnt, sig)
    if not converged:
        log.warning("connected_components: max_iter=%d reached without convergence", max_iter)

    # star edges are (member -> root); roots (and isolated entities, which
    # cannot occur here since every input row has two distinct endpoints)
    # map to themselves via the left join. The min-root collapse guarantees
    # a SINGLE-VALUED mapping even when max_iter stopped the loop before
    # the edge set was fully star-shaped (an entity may then still carry
    # several candidate roots; min matches what further rounds converge to
    # for already-star components, and is a no-op — one root per entity —
    # on any converged run).
    mapping = all_nodes.join(
        edges.groupBy(F.col("a").alias("entity")).agg(F.min("b").alias("root")),
        "entity",
        "left",
    ).select("entity", F.coalesce(F.col("root"), F.col("entity")).alias("canonical_id"))
    return mapping, rounds, converged


def same_as_triples(mapping: DataFrame) -> DataFrame:
    """(e:<entity>, 'same_as', e:<canonical>) for merged (non-root) entities."""
    return mapping.filter(F.col("entity") != F.col("canonical_id")).select(
        S.entity_node(F.col("entity")).alias("src"),
        F.lit("same_as").alias("pred"),
        S.entity_node(F.col("canonical_id")).alias("dst"),
        F.lit(None).cast("string").alias("var"),
        F.lit(None).cast("string").alias("conv_id"),
    )


def canonical_map(linked_mentions: DataFrame, mapping: DataFrame) -> DataFrame:
    """Per-mention canonical assignment (FIXTURES.md §3c golden_canonical):
    mention_id -> canonical entity (component root, identity when unmerged)."""
    out = linked_mentions.join(
        F.broadcast(mapping), linked_mentions["canonical"] == mapping["entity"], "left"
    )
    return out.select(
        S.mention_node(F.col("conv_id"), F.col("turn_idx"), F.col("ordinal")).alias("mention_id"),
        F.coalesce(F.col("canonical_id"), F.col("canonical")).alias("canonical_id"),
    )


def er_quality(
    pred: DataFrame,
    gold: DataFrame,
    item_col: str = "item",
    pred_col: str = "pred_id",
    gold_col: str = "gold_id",
) -> DataFrame:
    """Entity-resolution quality scorecard: pairwise and B-cubed
    precision/recall/F1 of a predicted clustering against a gold one —
    the evaluation the north rule's "P/R >= 0.95 vs reference" criterion
    applies to the canonicalizer itself (reference analog: the expected
    node/edge fixtures in ``CodePropertyGraphTest.java``, whose
    whole-graph equality this generalizes to partial-credit metrics).

    Inputs are (item, cluster_id) assignments; one row out with
    ``n_items``, cluster counts, and the six metrics rounded to 6 dp.

    Exact math, shuffle-bounded: ONE item-keyed join feeds a
    (pred, gold) contingency hash-agg; everything after runs on the
    contingency table, which is cluster-pair-sized, not item-sized —
    pairwise TP = sum n_pg*(n_pg-1), denominators from the two marginal
    size tables, B-cubed sums = sum(n_pg^2 / marginal). All counts stay
    integers until the final divisions. At 10^12 items this is two
    data-scale shuffles (the join + the contingency agg); the rest is
    vocabulary-scale. Zero-pair degenerate sides define the metric as 1.0
    (the singleton-only clustering is vacuously precise/complete).
    """
    p = pred.select(F.col(item_col).alias("item"), F.col(pred_col).cast("string").alias("p"))
    g = gold.select(F.col(item_col).alias("item"), F.col(gold_col).cast("string").alias("g"))
    cells = p.join(g, "item").groupBy("p", "g").agg(F.count(F.lit(1)).alias("n_pg"))
    psz = cells.groupBy("p").agg(F.sum("n_pg").alias("n_p"))
    gsz = cells.groupBy("g").agg(F.sum("n_pg").alias("n_g"))

    tot = (
        cells.join(psz, "p")
        .join(gsz, "g")
        .agg(
            F.sum("n_pg").alias("n_items"),
            F.sum(F.col("n_pg") * (F.col("n_pg") - 1)).alias("tp2"),
            F.sum(F.col("n_pg") * F.col("n_pg") / F.col("n_p")).alias("b3p_sum"),
            F.sum(F.col("n_pg") * F.col("n_pg") / F.col("n_g")).alias("b3r_sum"),
        )
    )
    pp = psz.agg(
        F.sum(F.col("n_p") * (F.col("n_p") - 1)).alias("pred2"),
        F.count(F.lit(1)).alias("n_pred_clusters"),
    )
    gg = gsz.agg(
        F.sum(F.col("n_g") * (F.col("n_g") - 1)).alias("gold2"),
        F.count(F.lit(1)).alias("n_gold_clusters"),
    )

    def ratio(num, den):
        return F.when(den == 0, F.lit(1.0)).otherwise(num / den)

    def f1(pr, rc):
        return F.when(pr + rc == 0, F.lit(0.0)).otherwise(2 * pr * rc / (pr + rc))

    j = tot.crossJoin(pp).crossJoin(gg)
    pw_p = ratio(F.col("tp2").cast("double"), F.col("pred2"))
    pw_r = ratio(F.col("tp2").cast("double"), F.col("gold2"))
    b3_p = F.col("b3p_sum") / F.col("n_items")
    b3_r = F.col("b3r_sum") / F.col("n_items")
    return j.select(
        F.col("n_items").cast("long").alias("n_items"),
        F.col("n_pred_clusters").cast("long").alias("n_pred_clusters"),
        F.col("n_gold_clusters").cast("long").alias("n_gold_clusters"),
        F.round(pw_p, 6).alias("pairwise_precision"),
        F.round(pw_r, 6).alias("pairwise_recall"),
        F.round(f1(pw_p, pw_r), 6).alias("pairwise_f1"),
        F.round(b3_p, 6).alias("b3_precision"),
        F.round(b3_r, 6).alias("b3_recall"),
        F.round(f1(b3_p, b3_r), 6).alias("b3_f1"),
    )
