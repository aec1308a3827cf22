"""Physical-plan quality gates (SURVEY §4: verify Catalyst behaviors).

These assert the plan shapes the 100 TB design depends on — filter
pushdown into the parquet scan, column pruning of the fat text column,
broadcast (not sort-merge) joins for dictionary-sized sides, and shuffle
budgets per operator — so a refactor that silently degrades the plan
fails CI, not the cluster."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from jcpg_spark.operators import calls, linking, mentions, references
from jcpg_spark.synth import gazetteer_pdf, synth_transcripts


@pytest.fixture(scope="module")
def tr_parquet(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("plans") / "t")
    synth_transcripts(spark, 20, skew=False).write.parquet(path)
    return spark.read.parquet(path)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_filter_pushed_to_parquet_scan(tr_parquet):
    plan = _plan(tr_parquet.filter(F.col("role") == "assistant").select("conv_id"))
    assert "PushedFilters: [IsNotNull(role), EqualTo(role,assistant)]" in plan


def test_column_pruning_cfg_skips_text(tr_parquet):
    # the CFG emitter never touches `text`; the scan must not read it
    plan = _plan(calls.cfg_triples(tr_parquet))
    scan_lines = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert scan_lines and all("text" not in l for l in scan_lines)


def test_cfg_triples_single_shuffle(tr_parquet):
    # one window partitioning = one Exchange, reused by both window frames
    plan = _plan(calls.cfg_triples(tr_parquet))
    assert plan.count("Exchange hashpartitioning") == 1


def test_mentions_no_shuffle(spark, tr_parquet):
    surfaces = gazetteer_pdf()["surface"].tolist()
    plan = _plan(mentions.detect_mentions(spark, tr_parquet, surfaces))
    assert "Exchange" not in plan


def test_linking_is_broadcast_join(spark, tr_parquet, dictionary):
    surfaces = gazetteer_pdf()["surface"].tolist()
    m = mentions.detect_mentions(spark, tr_parquet, surfaces)
    plan = _plan(linking.link_mentions(m, dictionary))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # the big (mention) side is never exchanged for the join itself
    assert "BroadcastExchange" in plan


def test_tool_registry_resolution_is_broadcast_join(spark, tr_parquet):
    registry = spark.createDataFrame(
        [("search", "web.search_v2"), ("db", "storage.kv")], ["alias", "canonical"]
    )
    plan = _plan(calls.resolve_tool_registry(tr_parquet, registry))
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan


def test_references_shuffle_budget(spark, tr_parquet, dictionary):
    surfaces = gazetteer_pdf()["surface"].tolist()
    m = mentions.detect_mentions(spark, tr_parquet, surfaces)
    linked = linking.link_mentions(m, dictionary)
    plan = _plan(references.reference_triples(linked))
    # data-scale exchanges (keyed by conv_id): ONE since r6 — the explicit
    # (conv, entity) pre-partition serves both the per-turn hash agg (its
    # clustering requirement is satisfied by any superset grouping key)
    # and the window, where agg-keyed + window-keyed used to run
    # back-to-back. Additional dictionary-sized exchanges live inside the
    # broadcast build side and don't touch the mention table.
    assert plan.count("Exchange hashpartitioning(conv_id") == 1


def test_hash_aggregate_not_sort_fallback(spark, tr_parquet, dictionary):
    """The min_by sort-fallback trap (see linking.py docstring): the
    per-turn rollup in references must stay in HashAggregate."""
    surfaces = gazetteer_pdf()["surface"].tolist()
    m = mentions.detect_mentions(spark, tr_parquet, surfaces)
    linked = linking.link_mentions(m, dictionary)
    plan = _plan(references.reference_triples(linked))
    # the mention-scale per-turn rollup stays in codegen HashAggregate...
    assert "HashAggregate(keys=[conv_id" in plan
    # ...and no data-scale (conv_id-keyed) aggregate falls back to sorting.
    # (The tiny dictionary-side min_by inside the broadcast build legitimately
    # uses ObjectHashAggregate/SortAggregate — that's surface/role-keyed.)
    for line in plan.splitlines():
        s = line.strip().lstrip("+-:* ")
        if s.startswith(("ObjectHashAggregate", "SortAggregate")):
            assert "keys=[conv_id" not in s, s[:160]


def test_failure_layer_fused_equals_standalone_union_single_shuffle(spark, tr_parquet):
    """calls.failure_layer_triples must be row-identical to the union of
    throw_triples + segment_entry_triples, in ONE exchange."""
    from jcpg_spark.operators import flow as fl

    fused = calls.failure_layer_triples(tr_parquet)
    split = calls.throw_triples(tr_parquet).unionByName(
        fl.segment_entry_triples(tr_parquet)
    )
    assert fused.exceptAll(split).count() == 0
    assert split.exceptAll(fused).count() == 0
    plan = _plan(fused)
    assert plan.count("Exchange hashpartitioning") == 1


def test_cfg_triples_failure_rx_fused_equals_split_still_one_shuffle(spark, tr_parquet):
    """cfg_triples(failure_rx=...) must equal the default 8 kinds UNION
    throws UNION typed entry edges, still in ONE exchange."""
    from jcpg_spark.operators import flow as fl

    fused = calls.cfg_triples(tr_parquet, failure_rx=r"^tool output: no results")
    split = (
        calls.cfg_triples(tr_parquet)
        .unionByName(calls.throw_triples(tr_parquet))
        .unionByName(fl.segment_entry_triples(tr_parquet))
    )
    assert fused.exceptAll(split).count() == 0
    assert split.exceptAll(fused).count() == 0
    assert _plan(fused).count("Exchange hashpartitioning") == 1


def test_failure_predicate_evaluated_map_side(tr_parquet):
    """With failure_rx, the window exchange must carry a boolean, never the
    raw text column: the projection directly under the exchange computes
    RLIKE and drops text."""
    df = calls.cfg_triples(tr_parquet, failure_rx=r"^tool output: no results")
    plan = df._jdf.queryExecution().executedPlan().toString()
    lines = plan.splitlines()
    for i, l in enumerate(lines):
        if "Exchange hashpartitioning" in l:
            child = lines[i + 1]
            assert "RLIKE" in child and "AS failing" in child, child
            # text appears only as RLIKE's input, not as a projected column
            assert not child.strip().rstrip("]").endswith("text"), child
            break
    else:
        raise AssertionError("no exchange found")


def test_graph_kernels_no_cartesian(spark):
    """The iterative graph kernels must never degenerate to a cartesian
    product: pagerank's only nested-loop join is the broadcast 1-row
    vertex-count scalar, and LPA/triangles are pure equi-joins."""
    from jcpg_spark.operators import graph_analytics

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4)], "a int, b int"
    )
    for df in (
        graph_analytics.pagerank(edges, iters=2),
        graph_analytics.label_propagation(edges, iters=2),
        graph_analytics.triangle_counts(edges),
    ):
        assert "CartesianProduct" not in _plan(df)


def test_r4_late_kernels_plan_shapes(spark):
    """Plan gates for the round-4 late kernels: the curation verdict is
    pure map-side (ZERO exchanges — it must ride a scan for free),
    class_centroids is one partial-agg shuffle, and the BFS / link-predict
    / LM kernels stay on equi-join paths (no cartesian — the join
    STRATEGY on the bigram key is legitimately Spark's size-based cost
    choice, so it is not pinned)."""
    from jcpg_spark.operators import graph_analytics
    from jcpg_spark.operators.curation import curation_decision
    from jcpg_spark.operators.lm import bigram_lm_scores
    from jcpg_spark.operators.similarity import class_centroids

    docs = spark.createDataFrame(
        [(1, "the cat sat on the mat and the dog sat too"),
         (2, "a b c d e f g h i j k l m n")],
        "doc_id long, text string",
    )
    assert _plan(curation_decision(docs)).count("Exchange") == 0

    emb = spark.createDataFrame(
        [(1, [1.0, 2.0], 0), (2, [3.0, 4.0], 1)],
        "vec_id long, embedding array<float>, label int",
    )
    cplan = _plan(class_centroids(emb))
    assert cplan.count("Exchange") == 1 and cplan.count("HashAggregate") == 2

    assert "CartesianProduct" not in _plan(bigram_lm_scores(docs))

    edges = spark.createDataFrame([(1, 2), (2, 3), (1, 3), (3, 4)], "a int, b int")
    src = spark.createDataFrame([(1,)], "v int")
    for df in (
        graph_analytics.bfs_distances(edges, src, max_hops=2),
        graph_analytics.link_predict_common_neighbors(edges),
        graph_analytics.component_sizes(edges),
    ):
        assert "CartesianProduct" not in _plan(df)


def test_prefix_join_candidates_are_ids_only(spark, docs_parquet=None):
    """The prefix-filter candidate self-join must shuffle only (doc_id,
    n_sh, tok) — the full shingle arrays ('arr', 'ordered') join in AFTER
    the ids-only distinct, mirroring the LSH ids-only candidate rule."""
    from jcpg_spark.operators import dedup

    docs = spark.createDataFrame(
        [(i, f"w{i} common words here and also w{i+1} trailing") for i in range(8)],
        "doc_id long, text string",
    )
    plan = _plan(dedup.jaccard_pairs_prefix(docs, n=3, threshold=0.4))
    # the candidate join key is 'tok'; every exchange that partitions on it
    # must not carry an array column
    for frag in plan.split("Exchange hashpartitioning"):
        head = frag[:300]
        if head.startswith("(") and "tok" in head.split("\n")[0]:
            assert "arr" not in head.split("\n")[0], head.split("\n")[0]


def test_lift_and_salience_scalar_is_broadcast_marginals_not_smj(spark):
    """cooccurrence_lift / entity_salience: the corpus-size scalar rides a
    broadcast nested-loop of a 1-row aggregate (never a data-scale
    cartesian) and the entity marginals come back via broadcast hash
    joins — no sort-merge join anywhere in either kernel."""
    from jcpg_spark.operators import graph_analytics

    m = spark.createDataFrame(
        [(10, 1), (10, 2), (20, 1), (20, 2), (30, 3)], "conv_id int, entity int"
    )
    for df in (
        graph_analytics.cooccurrence_lift(m),
        graph_analytics.entity_salience(m, k=2),
    ):
        plan = _plan(df)
        assert "CartesianProduct" not in plan
        assert "BroadcastHashJoin" in plan
        # the only shuffled join allowed is the conv_id pair self-join
        # (data-scale by design); marginals must never sort-merge
        for frag in plan.split("SortMergeJoin")[1:]:
            assert "conv_id" in frag.split("\n")[0]


def test_compaction_plan_is_one_window_no_join(spark):
    """The binpack planner is a single partitioned window over the file
    listing — no join, no global sort (Sort appears only window-local,
    i.e. below an Exchange hashpartitioning, never rangepartitioning)."""
    from jcpg_spark import io as jio

    files = spark.createDataFrame(
        [(i, "p", 100 + i) for i in range(20)], "file_id int, part string, size_bytes int"
    )
    plan = _plan(jio.compaction_plan(files, 500, partition_cols=("part",)))
    assert "Join" not in plan
    assert "rangepartitioning" not in plan


def test_dsir_and_semantic_dedup_plan_shapes(spark):
    """The DSIR scorer stays on equi-join paths like the bigram LM (the
    1-row vocabulary scalars ride as broadcast nested loops by design,
    never a CartesianProduct); semantic dedup's pair stage is an equi-join
    keyed by centroid — no cartesian anywhere despite being the
    "all pairs within cluster" operator."""
    from pyspark.sql import functions as F

    from jcpg_spark.operators.dedup import semantic_dedup
    from jcpg_spark.operators.lm import dsir_weights

    docs = spark.createDataFrame(
        [(1, "the cat sat on the mat", "en"), (2, "a b c d e f", "fr")],
        "doc_id long, text string, lang string",
    )
    assert "CartesianProduct" not in _plan(
        dsir_weights(docs, F.col("lang") == "en")
    )

    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [1.0, 0.1])],
        "vec_id long, embedding array<double>",
    )
    cents = [(0, [1.0, 0.0]), (1, [0.0, 1.0])]
    assert "CartesianProduct" not in _plan(
        semantic_dedup(emb, centroids=cents, max_cluster=100)
    )


def test_hits_and_fastrp_plan_shapes(spark):
    """Both iterative graph kernels stay on equi-join/hash-agg paths: the
    1-row normalization/vertex-count scalars ride as broadcast nested
    loops by design, never a CartesianProduct; fastrp's projection is
    map-side column algebra (its per-round exchange is the (dest, pos)
    hash-agg, not a sort)."""
    from jcpg_spark.operators.graph_analytics import fastrp, hits

    d = spark.createDataFrame([(1, 2), (2, 3)], "s int, t int")
    hplan = _plan(hits(d, iters=2))
    assert "CartesianProduct" not in hplan

    e = spark.createDataFrame([(1, 2), (2, 3)], "a int, b int")
    fplan = _plan(fastrp(e, dim=4))
    assert "CartesianProduct" not in fplan


def test_corpus_build_text_never_crosses_an_exchange(spark):
    """The funnel's 100 TB contract: the document text column is consumed
    map-side (reason, norm hash, shingles, uniform) and only (hash, id,
    label) tuples shuffle. Gate: no shuffle Exchange's immediate child
    outputs the text attribute; and no cartesian anywhere (the 1-row
    totals crossJoin must stay a broadcast nested loop)."""
    from jcpg_spark.operators.curation import corpus_build

    train = spark.createDataFrame(
        [(i, "en" if i % 2 else "es",
          f"the cat and the dog is in the house that runs fast num{i}")
         for i in range(10)],
        "doc_id long, lang string, text string",
    )
    evald = spark.createDataFrame(
        [(100, "purple monkey dishwasher xylophone noise here")],
        "doc_id long, text string",
    )
    plan = _plan(corpus_build(train, evald))
    assert "CartesianProduct" not in plan
    import re

    # a bare `text#N` output attribute (list-delimited) means the column
    # itself crosses; `lower(text#N)`-style argument references are the
    # map-side CONSUMPTION the design wants and don't match.
    bare_text = re.compile(r"[\[,] ?text#\d+[,\]]")
    lines = [ln for ln in plan.split("\n") if ln.strip()]
    for i, ln in enumerate(lines):
        if "Exchange hashpartitioning" in ln and i + 1 < len(lines):
            assert not bare_text.search(lines[i + 1]), lines[i + 1]


def test_duplicate_spans_hashed_keys_and_exchange_budget(spark):
    """duplicate_spans (ExactSubstr): exactly three exchanges — the global
    k-gram occurrence count on the 8-byte hash, the hot-key broadcast back
    to positions, and ONE doc_id partitioning reused by both window frames
    and the final (doc_id, seg) hash-agg. No gram string may cross any
    exchange (the shuffle key is the xxhash64 long)."""
    import re

    from jcpg_spark.operators.dedup import duplicate_spans

    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon zeta eta theta " + f"u{chr(97+i)}")
         for i in range(6)],
        "doc_id long, text string",
    )
    plan = _plan(duplicate_spans(docs, k=8, min_count=2))
    assert plan.count("Exchange hashpartitioning") <= 3, plan
    # the hot-key semi-join may be broadcast (parquet stats, observed at
    # sf0.001) or shuffle/SMJ on the long key (statless local relation /
    # a genuinely large hot set at scale) — both are fine; a cartesian
    # never is
    assert "CartesianProduct" not in plan
    bare_text = re.compile(r"[\[,] ?(text|gram|g)#\d+[,\]]")
    lines = [ln for ln in plan.split("\n") if ln.strip()]
    for i, ln in enumerate(lines):
        if "Exchange hashpartitioning" in ln and i + 1 < len(lines):
            assert not bare_text.search(lines[i + 1]), lines[i + 1]


def test_skipgram_counts_two_exchanges_no_self_join(spark):
    """skipgram_counts must be the lead-frame plan: ONE per-document window
    partitioning plus the final pair hash-agg — never a positions
    self-join on |pos diff| <= w (a range join Spark can only nested-loop)."""
    from jcpg_spark.operators.lm import skipgram_counts

    docs = spark.createDataFrame(
        [(1, "aa bb cc dd ee"), (2, "bb cc dd ee ff")],
        "doc_id long, text string",
    )
    plan = _plan(skipgram_counts(docs, window=2))
    assert plan.count("Exchange hashpartitioning") <= 2, plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    assert "Join" not in plan  # no join of any kind — window + agg only


def test_rdfs_entail_rules_broadcast_instance_never_shuffled(spark):
    """Every rdfs rule application must be a broadcast hash join against
    the (dimension-sized) schema closure — a sort-merge join there would
    shuffle the 10^12-triple instance table once per rule. The only wide
    operation on instance data is the final distinct."""
    from jcpg_spark.operators.reasoning import rdfs_entail

    inst = spark.createDataFrame(
        [("x", "p", "y"), ("z", "rdf.type", "B")],
        "src string, pred string, dst string",
    )
    schema = spark.createDataFrame(
        [("B", "rdfs.subClassOf", "C"), ("p", "rdfs.subPropertyOf", "q"),
         ("p", "rdfs.domain", "DC"), ("p", "rdfs.range", "RC")],
        "src string, pred string, dst string",
    )
    plan = _plan(rdfs_entail(inst, schema))
    assert plan.count("BroadcastHashJoin") >= 4, plan  # r7, r2, r3, r9
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan


def test_values_table_is_broadcast_join(spark):
    """The VALUES inline-data table is a driver literal — it must attach
    as a BroadcastHashJoin, never a sort-merge exchange."""
    from jcpg_spark.operators.query import match_query

    e = spark.createDataFrame(
        [("a", "call", "tool:db")], "src string, pred string, dst string")
    df = match_query(e, [("?c", "call", "?t")],
                     values=(["?t", "?g"], [("tool:db", "gold")]))
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_exists_and_describe_plan_semi_joins(spark, monkeypatch):
    """FILTER EXISTS and DESCRIBE must plan LeftSemi joins (boolean
    membership), not inner joins that would multiply solutions; a
    DESCRIBE whose resource set is within its driver budget is one
    filtered scan, no join at all."""
    from jcpg_spark.operators import query
    from jcpg_spark.operators.query import describe, match_query

    e = spark.createDataFrame(
        [("a", "call", "tool:db"), ("r1", "return", "a")],
        "src string, pred string, dst string")
    ex = match_query(e, [("?c", "call", "?t")],
                     exists=[[("?r", "return", "?c")]])
    assert "LeftSemi" in _plan(ex)
    d = describe(e, [("?c", "call", "?t")], "?c")
    assert "Join" not in _plan(d)
    monkeypatch.setattr(query, "_DESCRIBE_DRIVER_ROWS", 0)
    d = describe(e, [("?c", "call", "?t")], "?c")
    assert _plan(d).count("LeftSemi") >= 2  # src-side + dst-side


def test_community_graph_single_aggregate(spark):
    """The quotient rollup is two label joins + ONE hash aggregation
    keyed on the canonicalized pair (plus its partial-agg twin) — no
    sort-based fallback."""
    from jcpg_spark.operators.graph_analytics import community_graph

    edges = spark.createDataFrame([(1, 2, 1.0)], "a int, b int, w double")
    labels = spark.createDataFrame([(1, "x"), (2, "x")], "item int, label string")
    plan = _plan(community_graph(edges, labels))
    assert "SortAggregate" not in plan
    # exactly one logical aggregation: the partial + final HashAggregate
    # pair (join-side exchanges resolve to broadcasts under AQE at
    # runtime when the label side is dimension-sized)
    assert plan.count("HashAggregate") == 2


def test_bare_alternation_is_single_scan(spark):
    """`a|b` with bare predicates must stay ONE scan with an IN-list
    filter — the fast path — not a per-alternative union of scans."""
    from jcpg_spark.operators.query import match_pattern

    e = spark.createDataFrame(
        [("a", "call", "t"), ("a", "loops", "a")],
        "src string, pred string, dst string")
    plan = _plan(match_pattern(e, [("?s", "call|loops", "?o")]))
    assert "Union" not in plan, plan


def test_interval_join_is_hash_join_not_nested_loop(spark):
    """The range join must plan as a hash join on (keys, bucket) — never
    BroadcastNestedLoop/CartesianProduct, which is what a naive theta
    join degenerates to."""
    from jcpg_spark.operators.linking import interval_join

    L = spark.createDataFrame([("a", 0.0, 5.0, "u")], "id string, lo double, hi double, u string")
    R = spark.createDataFrame([("b", 3.0, 9.0, "u")], "id string, lo double, hi double, u string")
    plan = _plan(interval_join(L, R, bucket=4.0, on=["u"]))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    assert "Join" in plan
