"""Per-scope induced subgraph vs a pure-python oracle over the pandas
golden edges (method-level CPG analog, JavacpgMethodLevel.java:204-290)."""

from __future__ import annotations

import re

import pandas as pd
import pytest

from jcpg_spark.operators.subgraph import induced_subgraph
from jcpg_spark.pipeline import build_graph
from jcpg_spark.synth import gazetteer_pdf, synth_transcripts
from tests.oracle.pandas_oracle import oracle_graph

SCOPE = ["conv000003", "conv000007"]
_OWNED = re.compile(r"^(?:c|t|m|seg):(conv\d+)(?::|$)")


def _python_subgraph(edges: set, canonical: dict, scope: list[str]):
    """Independent induced-subgraph computation over the oracle edge set."""
    scope_set = set(scope)

    def owner(nid):
        m = _OWNED.match(nid)
        return m.group(1) if m else None

    owned = {e[0] for e in edges if owner(e[0]) in scope_set} | {
        e[2] for e in edges if owner(e[2]) in scope_set
    }
    scoped_edges = {e for e in edges if e[4] in scope_set}
    base = owned | {e[0] for e in scoped_edges} | {e[2] for e in scoped_edges}
    # entity nodes of the scope's mentions (reached via the canonical map)
    base |= {f"e:{c}" for mid, c in canonical.items() if mid in base}
    # same_as root closure
    base |= {e[2] for e in edges if e[1] == "same_as" and e[0] in base}
    sub_edges = {e for e in edges if e[0] in base and e[2] in base}
    return base, sub_edges


@pytest.fixture(scope="module")
def built(spark, dictionary):
    t = synth_transcripts(spark, 30, skew=True).persist()
    t.count()
    res = build_graph(spark, t, dictionary)
    # the subgraph operator references edges/nodes/canonical several times
    # per extraction — materialize once or every semi-join re-runs the
    # whole pipeline (incl. the mention-detection UDF)
    for df in (res.edges, res.nodes, res.canonical):
        df.persist().count()
    tp = t.toPandas()
    tp["tool"] = tp["tool"].where(pd.notna(tp["tool"]), None)
    want_edges, want_canonical = oracle_graph(tp, gazetteer_pdf())
    return res, want_edges, want_canonical


def test_induced_subgraph_matches_python_oracle(spark, built):
    res, want_edges, want_canonical = built
    want_ids, want_sub = _python_subgraph(want_edges, want_canonical, SCOPE)

    sub_nodes, sub_edges = induced_subgraph(res.nodes, res.edges, SCOPE, res.canonical)
    got_sub = {tuple(r) for r in sub_edges.collect()}
    assert got_sub == want_sub

    got_ids = {r.node_id for r in sub_nodes.select("node_id").collect()}
    # every node the python oracle reaches that EXISTS in the nodes table
    # must be extracted (the oracle set may contain ids synthesized from
    # edges only; the nodes table is the authority on existence)
    all_ids = {r.node_id for r in res.nodes.select("node_id").collect()}
    assert got_ids == (want_ids & all_ids)
    # and no out-of-scope conversation's turn leaks in
    assert not any(
        _OWNED.match(i) and _OWNED.match(i).group(1) not in SCOPE for i in got_ids
    )


def test_induced_subgraph_excludes_foreign_edges_into_shared_globals(spark, built):
    res, want_edges, _ = built
    _, sub_edges = induced_subgraph(res.nodes, res.edges, SCOPE, res.canonical)
    got = {tuple(r) for r in sub_edges.collect()}
    # shared tool/role nodes are in scope, but OTHER conversations' edges
    # into them must not be dragged along (containment filter)
    assert all(e[4] in SCOPE or e[4] is None for e in got)


def test_induced_subgraph_scope_as_dataframe(spark, built):
    res, *_ = built
    scope_df = spark.createDataFrame([(c,) for c in SCOPE], ["conv_id"])
    a_nodes, a_edges = induced_subgraph(res.nodes, res.edges, SCOPE, res.canonical)
    b_nodes, b_edges = induced_subgraph(res.nodes, res.edges, scope_df, res.canonical)
    assert {tuple(r) for r in a_edges.collect()} == {tuple(r) for r in b_edges.collect()}
    assert {r.node_id for r in a_nodes.collect()} == {r.node_id for r in b_nodes.collect()}


def test_graph_diff_added_removed_and_weight_change(spark):
    from jcpg_spark.operators.subgraph import graph_diff
    from pyspark.sql import functions as F

    old = spark.createDataFrame(
        [(1, 2, 3), (2, 3, 1), (4, 5, 2)], "a int, b int, w int"
    )
    new = spark.createDataFrame(
        [(1, 2, 2), (4, 5, 2), (6, 7, 1)], "a int, b int, w int"
    )
    d = {(r["a"], r["b"], r["w"]): r["change"]
         for r in graph_diff(old, new, keys=("a", "b", "w")).collect()}
    assert d == {
        (1, 2, 2): "added",   # weight changed: new row added...
        (1, 2, 3): "removed",  # ...old row removed
        (2, 3, 1): "removed",
        (6, 7, 1): "added",
    }
    # unchanged edge (4,5,2) absent; idempotent on identical snapshots
    assert graph_diff(new, new, keys=("a", "b", "w")).count() == 0


# ---------------------------------------------------------------------------
# BGP matcher (r4)
# ---------------------------------------------------------------------------


def _bgp_edges(spark):
    return spark.createDataFrame(
        [
            ("a", "call", "tool:db"),
            ("a", "flow.next", "b"),
            ("b", "flow.next", "c"),
            ("b", "call", "tool:db"),
            ("x", "loops", "x"),
            ("y", "loops", "z"),
        ],
        "src string, pred string, dst string",
    )


def test_bgp_chain_and_constant_filters(spark):
    from jcpg_spark.operators.query import match_pattern

    out = match_pattern(
        _bgp_edges(spark),
        [("?c", "call", "?t"), ("?c", "flow.next", "?n")],
    ).collect()
    rows = {(r["c"], r["t"], r["n"]) for r in out}
    assert rows == {("a", "tool:db", "b"), ("b", "tool:db", "c")}
    # constant object narrows: only edges into 'c'
    out2 = match_pattern(
        _bgp_edges(spark), [("?s", "flow.next", "c")]
    ).collect()
    assert {r["s"] for r in out2} == {"b"}


def test_bgp_repeated_var_is_equality(spark):
    from jcpg_spark.operators.query import match_pattern

    out = match_pattern(_bgp_edges(spark), [("?x", "loops", "?x")]).collect()
    assert [r["x"] for r in out] == ["x"]


def test_bgp_rejects_cartesian_and_degenerate_patterns(spark):
    import pytest

    from jcpg_spark.operators.query import match_pattern

    e = _bgp_edges(spark)
    with pytest.raises(ValueError, match="cartesian"):
        match_pattern(e, [("?a", "call", "?t"), ("?x", "loops", "?y")])
    with pytest.raises(ValueError, match="all-constant"):
        match_pattern(e, [("a", "call", "tool:db")])
    with pytest.raises(ValueError, match="empty"):
        match_pattern(e, [])


def test_path_closure_alternation_inverse(spark):
    """SPARQL 1.1 property-path forms in the predicate slot: bounded
    `p+` closure (set semantics), `a|b` alternation, `^p` inverse."""
    from jcpg_spark.operators.query import match_pattern

    e = _bgp_edges(spark)
    # a ->next b ->next c; 2-hop closure adds (a, c)
    out = match_pattern(e, [("?s", "flow.next+", "?o")], max_hops=2).collect()
    assert {(r["s"], r["o"]) for r in out} == {
        ("a", "b"), ("b", "c"), ("a", "c")
    }
    # hop bound respected: max_hops=1 is exactly the base relation
    out1 = match_pattern(e, [("?s", "flow.next+", "?o")], max_hops=1).collect()
    assert {(r["s"], r["o"]) for r in out1} == {("a", "b"), ("b", "c")}
    # alternation is the union of both predicates on one scan
    alt = match_pattern(e, [("?s", "call|loops", "?o")]).collect()
    assert {(r["s"], r["o"]) for r in alt} == {
        ("a", "tool:db"), ("b", "tool:db"), ("x", "x"), ("y", "z")
    }
    # inverse swaps the roles; composes with closure (^flow.next+)
    inv = match_pattern(e, [("?s", "^flow.next+", "?o")], max_hops=2).collect()
    assert {(r["s"], r["o"]) for r in inv} == {
        ("b", "a"), ("c", "b"), ("c", "a")
    }


def test_path_sequence_zero_or_one_zero_or_more(spark):
    """The rest of the SPARQL 1.1 path grammar: `/` sequence (bag, the
    mid-node join), `?` zero-or-one and `*` zero-or-more (set, identity
    over graph terms unioned in), standard precedence (| < / < unary),
    and loud rejection of nested modifiers."""
    import pytest

    from jcpg_spark.operators.query import match_pattern

    e = _bgp_edges(spark)
    nodes = {"a", "b", "c", "tool:db", "x", "y", "z"}

    # sequence: next-turn's tool call
    seq = match_pattern(e, [("?s", "flow.next/call", "?o")]).collect()
    assert {(r["s"], r["o"]) for r in seq} == {("a", "tool:db")}
    # sequence with an inverse atom: call sites sharing a tool
    co = match_pattern(e, [("?s", "call/^call", "?o")]).collect()
    assert {(r["s"], r["o"]) for r in co} == {
        ("a", "a"), ("a", "b"), ("b", "a"), ("b", "b")
    }
    # precedence: a|b/c parses as a | (b/c), not (a|b)/c
    pre = match_pattern(e, [("?s", "loops|flow.next/call", "?o")]).collect()
    assert {(r["s"], r["o"]) for r in pre} == {
        ("x", "x"), ("y", "z"), ("a", "tool:db")
    }
    # zero-or-one: identity over every graph term, plus the base pairs
    zo = match_pattern(e, [("?s", "flow.next?", "?o")]).collect()
    assert {(r["s"], r["o"]) for r in zo} == {(n, n) for n in nodes} | {
        ("a", "b"), ("b", "c")
    }
    # zero-or-more: identity plus the bounded closure, set semantics
    zm = match_pattern(e, [("?s", "flow.next*", "?o")], max_hops=2).collect()
    assert {(r["s"], r["o"]) for r in zm} == {(n, n) for n in nodes} | {
        ("a", "b"), ("b", "c"), ("a", "c")
    }
    assert len(zm) == len(nodes) + 3  # no duplicate identity rows
    # nested modifiers and empty atoms are grammar errors, not silent preds
    with pytest.raises(ValueError, match="unsupported path atom"):
        match_pattern(e, [("?s", "flow.next+?", "?o")])
    with pytest.raises(ValueError, match="empty path atom"):
        match_pattern(e, [("?s", "call||loops", "?o")])
    with pytest.raises(ValueError, match="empty path atom"):
        match_pattern(e, [("?s", "call/", "?o")])


def test_path_closure_cycle_terminates_with_set_semantics(spark):
    """A cycle must not loop or duplicate: closure pairs are DISTINCT and
    rounds are hop-bounded (the anti-join empties the frontier once the
    cycle's pairs are all reached)."""
    from jcpg_spark.operators.query import match_pattern

    e = spark.createDataFrame(
        [("a", "n", "b"), ("b", "n", "c"), ("c", "n", "a")],
        "src string, pred string, dst string",
    )
    out = match_pattern(e, [("?s", "n+", "?o")], max_hops=10).collect()
    assert len(out) == 9  # all ordered pairs incl. self-reach, each once
    assert {(r["s"], r["o"]) for r in out} == {
        (s, o) for s in "abc" for o in "abc"
    }


def _parity_edges(spark):
    """Small quad set covering the closure's edge cases: a chain, a cycle
    with a self-loop, a diamond with a shortcut, a null dst, null sources
    reaching the diamond and the cycle, a null graph, and a second graph
    that reuses node names (so only GRAPH ?g keeps the two apart)."""
    return spark.createDataFrame(
        [
            ("a", "n", "b", "g1"), ("b", "n", "c", "g1"), ("c", "n", "d", "g1"),
            ("x", "n", "y", "g1"), ("y", "n", "z", "g1"), ("z", "n", "x", "g1"),
            ("y", "n", "y", "g1"),
            ("p", "n", "q", "g1"), ("p", "n", "r", "g1"), ("q", "n", "s", "g1"),
            ("r", "n", "s", "g1"), ("p", "n", "s", "g1"), ("s", "n", "t", "g1"),
            ("c", "n", None, "g1"), (None, "n", "p", "g1"), (None, "n", "x", "g1"),
            ("a", "n", "c", "g2"), ("c", "n", "a", "g2"), ("b", "n", "a", "g2"),
            ("d", "n", "a", None),
            ("a", "m", "p", "g1"),
        ],
        "src string, pred string, dst string, conv_id string",
    )


def test_closure_and_describe_driver_path_match_distributed(spark, monkeypatch):
    """Below their budgets `p+` closures and DESCRIBE resource sets are
    solved on the driver. The distributed plans run with the row budgets
    at 0, with the byte budget at 1 (the probe then leaves its input
    persisted for them), and, for a closure whose BFS outgrows the
    driver, over the collected base. Every path must return the same row
    multisets, nulls and per-graph closures included."""
    from collections import Counter

    from jcpg_spark import caching
    from jcpg_spark.operators import query as Q

    e = _parity_edges(spark)
    cases = [([("?s", "n+", "?o")], {"max_hops": h}) for h in range(1, 6)] + [
        ([("?s", "n*", "?o")], {"max_hops": 3}),
        ([("?s", "^n+", "?o")], {"max_hops": 4}),
        ([("?s", "n+", "?o")], {"max_hops": 4, "graph": "?g"}),
        ([("?s", "m/n+", "?o")], {"max_hops": 2}),
    ]
    driver_runs = []
    closure = Q._driver_closure
    cap = [None]

    def spy(rows, max_hops, graphed, max_rows):
        driver_runs.append(closure(rows, max_hops, graphed, cap[0] or max_rows))
        return driver_runs[-1]

    monkeypatch.setattr(Q, "_driver_closure", spy)

    def run_all():
        out = [Counter(tuple(r) for r in Q.match_query(e, bgp, **kw).collect())
               for bgp, kw in cases]
        d = Q.describe(e, [("?s", "n", "?o")], "?o", filters=["s IN ('a', 'c')"])
        return out + [Counter(tuple(r) for r in d.collect())], d

    caching.clear_caches()
    fast, d_fast = run_all()
    assert len(driver_runs) == 8 and None not in driver_runs
    assert not caching._live  # the probes released what they persisted
    cap[0] = -1  # every BFS outgrows the driver: frontier over the collected base
    outgrown, d_out = run_all()
    assert len(driver_runs) == 16 and driver_runs[8:] == [None] * 8
    assert outgrown == fast
    cap[0] = None
    monkeypatch.setattr(Q, "_DRIVER_BYTES", 1)
    heavy, d_heavy = run_all()
    assert len(driver_runs) == 16  # the probes are over the byte budget
    assert heavy == fast
    assert {"query.closure.base", "query.describe.res"} <= set(caching._live)
    assert caching._live["query.describe.res"].storageLevel.useMemory
    monkeypatch.setattr(Q, "_DRIVER_BYTES", 256 << 20)
    monkeypatch.setattr(Q, "_CLOSURE_DRIVER_ROWS", 0)
    monkeypatch.setattr(Q, "_DESCRIBE_DRIVER_ROWS", 0)
    slow, d_slow = run_all()
    assert len(driver_runs) == 16  # the probe alone is over budget
    assert slow == fast
    for d in (d_fast, d_out):
        plan = d._jdf.queryExecution().executedPlan().toString()
        assert "Join" not in plan, plan
    for d in (d_heavy, d_slow):
        plan = d._jdf.queryExecution().executedPlan().toString()
        assert plan.count("LeftSemi") >= 2, plan
    caching.clear_caches()
    # rows are (o, s) / (g, o, s). The cases hold what they are meant to
    # cover: a null source carried through the diamond (s reached at hops 2
    # and 3, kept once: the anti join is null-safe), a null dst reached
    # again at a later hop and kept once, per-graph closures, and ^p+ as the
    # transpose of p+
    assert fast[4][("s", None)] == 1 and fast[4][(None, "c")] == 1
    assert ("g2", "c", "b") in fast[7] and ("g2", "d", "b") not in fast[7]
    assert ("a", "c") in fast[3] and ("g1", "a", "c") not in fast[7]
    assert fast[6] == Counter({(s, o): n for (o, s), n in fast[3].items()})
    assert fast[-1]


def test_match_query_optional_filter_distinct(spark):
    """OPTIONAL = left join on shared vars (NULL-filled when unmatched);
    FILTER = post-join SQL expression; DISTINCT collapses the bag."""
    import pytest

    from jcpg_spark.operators.query import match_query

    e = _bgp_edges(spark)
    out = match_query(
        e,
        [("?c", "call", "?t")],
        optional=[[("?c", "flow.next", "?n"), ("?n", "flow.next", "?m")]],
    ).collect()
    rows = {(r["c"], r["t"], r["n"], r["m"]) for r in out}
    assert rows == {("a", "tool:db", "b", "c"), ("b", "tool:db", None, None)}
    filt = match_query(
        e, [("?c", "call", "?t")],
        optional=[[("?c", "flow.next", "?n")]],
        filters=["n IS NOT NULL", "c < 'b'"],
    ).collect()
    assert {(r["c"], r["n"]) for r in filt} == {("a", "b")}
    # DISTINCT collapses the two (tool:db) call sites projected to ?t
    dup = spark.createDataFrame(
        [("a", "call", "t1"), ("b", "call", "t1")],
        "src string, pred string, dst string",
    )
    assert match_query(dup, [("?c", "call", "?t")]).select("t").count() == 2
    d = match_query(dup, [("?c", "call", "?t")], distinct=True)
    assert d.count() == 2  # (a,t1) and (b,t1) are distinct bindings
    # a disconnected OPTIONAL group is rejected like a disconnected BGP
    with pytest.raises(ValueError, match="cartesian"):
        match_query(e, [("?c", "call", "?t")], optional=[[("?x", "loops", "?y")]])


def test_match_query_group_by_aggregates_having(spark):
    """GROUP BY + aggregates = one hash aggregation over the solution
    bag; HAVING filters aggregated rows and may reference the aliases;
    aggregates without group_by is the whole-solution single group."""
    import pytest

    from jcpg_spark.operators.query import match_query

    e = spark.createDataFrame(
        [("a", "call", "t1"), ("b", "call", "t1"), ("c", "call", "t2"),
         ("a", "flow.next", "b")],
        "src string, pred string, dst string",
    )
    out = match_query(
        e, [("?c", "call", "?t")],
        group_by=["t"], aggregates={"n": "count(c)", "first_c": "min(c)"},
    ).collect()
    assert {(r["t"], r["n"], r["first_c"]) for r in out} == {
        ("t1", 2, "a"), ("t2", 1, "c")
    }
    hv = match_query(
        e, [("?c", "call", "?t")],
        group_by=["t"], aggregates={"n": "count(c)"}, having=["n >= 2"],
    ).collect()
    assert [(r["t"], r["n"]) for r in hv] == [("t1", 2)]
    # single-group aggregation (no group_by)
    tot = match_query(
        e, [("?c", "call", "?t")], aggregates={"n": "count(c)"}
    ).collect()
    assert [(r["n"],) for r in tot] == [(3,)]
    # loud rejections: unbound group key, alias shadowing, bare group_by,
    # having without aggregates
    with pytest.raises(ValueError, match="unbound"):
        match_query(e, [("?c", "call", "?t")], group_by=["zz"],
                    aggregates={"n": "count(c)"})
    with pytest.raises(ValueError, match="shadow"):
        match_query(e, [("?c", "call", "?t")], group_by=["t"],
                    aggregates={"t": "count(c)"})
    with pytest.raises(ValueError, match="group_by without aggregates"):
        match_query(e, [("?c", "call", "?t")], group_by=["t"])
    with pytest.raises(ValueError, match="having requires"):
        match_query(e, [("?c", "call", "?t")], having=["1=1"])


def test_union_patterns_same_projection_bag(spark):
    import pytest

    from jcpg_spark.operators.query import union_patterns

    e = _bgp_edges(spark)
    out = union_patterns(
        e, [[("?x", "call", "?y")], [("?x", "loops", "?y")]]
    ).collect()
    assert sorted((r["x"], r["y"]) for r in out) == [
        ("a", "tool:db"), ("b", "tool:db"), ("x", "x"), ("y", "z")
    ]
    with pytest.raises(ValueError, match="project the same"):
        union_patterns(e, [[("?x", "call", "?y")], [("?x", "loops", "?z")]])
    with pytest.raises(ValueError, match="empty"):
        union_patterns(e, [])


def test_match_query_minus_is_anti_join(spark):
    """MINUS removes solutions compatible with the group on the shared
    variables; the only call site with no outgoing flow.next ('b' has one,
    'a' has one -> both removed; add a call from 'z' with no flow edge)."""
    import pytest

    from jcpg_spark.operators.query import match_query

    e = _bgp_edges(spark).unionByName(
        spark.createDataFrame(
            [("z", "call", "tool:fs")], "src string, pred string, dst string"
        )
    )
    out = match_query(
        e, [("?c", "call", "?t")], minus=[[("?c", "flow.next", "?n")]]
    ).collect()
    assert [(r["c"], r["t"]) for r in out] == [("z", "tool:fs")]
    # a NULL in a shared column introduced by OPTIONAL never anti-matches
    # (SPARQL: unbound shared var -> disjoint domains -> retained)
    opt = match_query(
        e,
        [("?c", "call", "?t")],
        optional=[[("?c", "flow.next", "?n")]],
        minus=[[("?n", "flow.next", "?m")]],
    ).collect()
    # a->b: n=b, b has flow.next c -> removed; b->c: n=c, c has none ->
    # kept; z: n NULL -> kept
    assert sorted((r["c"], r["n"]) for r in opt) == [("b", "c"), ("z", None)]
    with pytest.raises(ValueError, match="MINUS group"):
        match_query(e, [("?c", "call", "?t")], minus=[[("?x", "loops", "?y")]])


def test_match_query_exists_is_semi_join(spark):
    """FILTER EXISTS keeps solutions with at least one compatible group
    solution — and never multiplies them by the witness count: 'a' has
    TWO outgoing flow.next edges below but appears once."""
    import pytest

    from jcpg_spark.operators.query import match_query

    e = _bgp_edges(spark).unionByName(
        spark.createDataFrame(
            [("z", "call", "tool:fs"), ("a", "flow.next", "c")],
            "src string, pred string, dst string",
        )
    )
    out = match_query(e, [("?c", "call", "?t")],
                      exists=[[("?c", "flow.next", "?n")]]).collect()
    # a (two witnesses -> once) and b kept; z (no flow edge) dropped
    assert sorted((r["c"], r["t"]) for r in out) == [
        ("a", "tool:db"), ("b", "tool:db")]
    # EXISTS and MINUS with the same group partition the solution set
    anti = match_query(e, [("?c", "call", "?t")],
                       minus=[[("?c", "flow.next", "?n")]]).collect()
    assert sorted((r["c"], r["t"]) for r in anti) == [("z", "tool:fs")]
    with pytest.raises(ValueError, match="EXISTS group"):
        match_query(e, [("?c", "call", "?t")], exists=[[("?x", "loops", "?y")]])


def test_match_query_values_constrains_and_injects(spark):
    """VALUES with a shared var constrains the solutions; a fresh var
    rides along as injected data; duplicate VALUES rows don't multiply
    solutions."""
    import pytest

    from jcpg_spark.operators.query import match_query

    e = _bgp_edges(spark)
    out = match_query(
        e, [("?c", "call", "?t")],
        values=(["?t", "?grade"],
                [("tool:db", "gold"), ("tool:db", "gold"), ("tool:x", "bad")]),
    ).collect()
    assert sorted((r["c"], r["t"], r["grade"]) for r in out) == [
        ("a", "tool:db", "gold"), ("b", "tool:db", "gold")]
    # fully fresh vars = parameter injection (cartesian against literals)
    inj = match_query(
        e, [("?c", "call", "?t")], values=(["?k"], [(1,), (2,)])
    ).collect()
    assert len(inj) == 4  # 2 solutions x 2 parameters
    with pytest.raises(ValueError, match="arity"):
        match_query(e, [("?c", "call", "?t")],
                    values=(["?t", "?g"], [("tool:db",)]))
    with pytest.raises(ValueError, match="at least one"):
        match_query(e, [("?c", "call", "?t")], values=(["?t"], []))


def test_match_query_bind_sequential_and_no_rebind(spark):
    """BIND adds computed variables in order (later binds see earlier
    ones), filters see them, and rebinding an in-scope name raises."""
    import pytest

    from jcpg_spark.operators.query import match_query

    e = _bgp_edges(spark)
    out = match_query(
        e, [("?c", "call", "?t")],
        binds={"?up": "upper(c)", "?tag": "concat(up, '-', t)"},
        filters=["tag = 'A-tool:db'"],
    ).collect()
    assert [(r["c"], r["up"], r["tag"]) for r in out] == [("a", "A", "A-tool:db")]
    with pytest.raises(ValueError, match="rebind"):
        match_query(e, [("?c", "call", "?t")], binds={"?t": "upper(c)"})


def test_ask_and_describe_query_forms(spark):
    """ASK answers existence as a one-row boolean relation; DESCRIBE
    returns every edge incident (either direction) to the resources the
    query binds, deduped across solutions."""
    import pytest

    from jcpg_spark.operators.query import ask, describe

    e = _bgp_edges(spark)
    assert ask(e, [("?c", "call", "?t")]).collect()[0]["ask"] is True
    assert ask(e, [("?c", "nope", "?t")]).collect()[0]["ask"] is False
    assert ask(e, [("?c", "call", "?t")],
               filters=["t = 'tool:zz'"]).collect()[0]["ask"] is False

    # describe the call sites: both of b's edges (in and out) surface,
    # and b being bound by two solutions does not duplicate them
    d = describe(e, [("?c", "call", "?t")], "?c").collect()
    got = sorted((r["src"], r["pred"], r["dst"]) for r in d)
    assert got == [
        ("a", "call", "tool:db"),
        ("a", "flow.next", "b"),
        ("b", "call", "tool:db"),
        ("b", "flow.next", "c"),
    ]
    with pytest.raises(ValueError, match="DESCRIBE variable"):
        describe(e, [("?c", "call", "?t")], "?zz")


def test_match_query_order_by_limit(spark):
    import pytest

    from jcpg_spark.operators.query import match_query

    e = _bgp_edges(spark)
    out = match_query(
        e, [("?c", "call", "?t")], order_by=["c DESC"], limit=1
    ).collect()
    assert [(r["c"], r["t"]) for r in out] == [("b", "tool:db")]
    # ordered without limit returns all solutions, ordered
    allrows = match_query(e, [("?c", "call", "?t")], order_by=["c"]).collect()
    assert [r["c"] for r in allrows] == ["a", "b"]
    with pytest.raises(ValueError, match="limit without order_by"):
        match_query(e, [("?c", "call", "?t")], limit=1)


def test_construct_emits_deduped_template_triples(spark):
    import pytest

    from jcpg_spark.operators.query import construct

    e = _bgp_edges(spark)
    out = construct(
        e,
        template=[("?t", "tool.followed_by", "?n"), ("?t", "rdf.type", "Tool")],
        bgp=[("?c", "call", "?t"), ("?c", "flow.next", "?n")],
    ).collect()
    # both call sites invoke tool:db -> the rdf.type triple dedups to one
    assert sorted((r["src"], r["pred"], r["dst"]) for r in out) == [
        ("tool:db", "rdf.type", "Tool"),
        ("tool:db", "tool.followed_by", "b"),
        ("tool:db", "tool.followed_by", "c"),
    ]
    # an OPTIONAL-unbound template slot drops that instance, not the row
    opt = construct(
        e,
        template=[("?c", "maybe.next", "?n"), ("?c", "rdf.type", "CallSite")],
        bgp=[("?c", "call", "?t")],
        optional=[[("?c", "flow.next", "?n")]],
        filters=["c = 'a' OR n IS NULL"],
    ).collect()
    triples = sorted((r["src"], r["pred"], r["dst"]) for r in opt)
    assert ("a", "maybe.next", "b") in triples
    assert ("a", "rdf.type", "CallSite") in triples
    assert not any(t[0] == "b" and t[1] == "maybe.next" for t in triples)
    with pytest.raises(ValueError, match="not bound"):
        construct(e, [("?zz", "p", "?t")], [("?c", "call", "?t")])
    with pytest.raises(ValueError, match="empty CONSTRUCT"):
        construct(e, [], [("?c", "call", "?t")])
    with pytest.raises(ValueError, match="not 3 terms"):
        construct(e, [("?c", "p")], [("?c", "call", "?t")])


def test_bgp_bag_semantics_preserves_duplicates(spark):
    """Two distinct call edges from 'a' to the same tool produce two
    bindings for the same (c, t) pair — SPARQL SELECT without DISTINCT."""
    from jcpg_spark.operators.query import match_pattern

    e = spark.createDataFrame(
        [("a", "call", "t1"), ("a", "call", "t1"), ("a", "flow.next", "b")],
        "src string, pred string, dst string",
    )
    out = match_pattern(e, [("?c", "call", "?t"), ("?c", "flow.next", "?n")]).collect()
    assert len(out) == 2


def test_update_graph_delete_insert_where(spark):
    """SPARQL 1.1 Update semantics: WHERE evaluated once against the
    pre-update graph, deletes before inserts (a triple matched by both
    survives), set-semantics result, loud error on empty update."""
    import pytest

    from jcpg_spark.operators.query import update_graph

    e = _bgp_edges(spark)
    out = update_graph(
        e,
        where=[("?c", "call", "?t"), ("?c", "flow.next", "?n")],
        delete=[("?c", "call", "?t")],
        insert=[("?c", "call.archived", "?t")],
    ).collect()
    got = sorted((r["src"], r["pred"], r["dst"]) for r in out)
    assert ("a", "call", "tool:db") not in got
    assert ("b", "call", "tool:db") not in got
    assert ("a", "call.archived", "tool:db") in got
    assert ("b", "call.archived", "tool:db") in got
    # untouched layers survive
    assert ("x", "loops", "x") in got and ("a", "flow.next", "b") in got
    # delete+insert the same triple -> it survives (inserts after deletes)
    keep = update_graph(
        e,
        where=[("?c", "call", "?t")],
        delete=[("?c", "call", "?t")],
        insert=[("?c", "call", "?t")],
    ).collect()
    kept = {(r["src"], r["pred"], r["dst"]) for r in keep}
    assert ("a", "call", "tool:db") in kept and ("b", "call", "tool:db") in kept
    assert len(keep) == len(kept)  # set semantics: no duplicate rows
    with pytest.raises(ValueError, match="DELETE and/or INSERT"):
        update_graph(e, where=[("?c", "call", "?t")])


def _quad_edges(spark):
    return spark.createDataFrame(
        [
            ("a", "call", "tool:db", "g1"),
            ("a", "flow.next", "b", "g1"),
            ("b", "flow.next", "c", "g1"),
            ("a", "call", "tool:db", "g2"),
            ("a", "flow.next", "z", "g2"),
        ],
        "src string, pred string, dst string, conv_id string",
    )


def test_graph_clause_constant_and_variable(spark):
    """SPARQL GRAPH over the conv_id named-graph column: a constant
    scopes the group (pushed filter); a variable binds the graph name as
    a shared solution variable so no solution mixes graphs — including
    property-path closures, which must not cross graphs."""
    import pytest

    from jcpg_spark.operators.query import match_pattern, match_query

    e = _quad_edges(spark)
    # constant graph: only g1's flow chain
    out = match_pattern(
        e, [("?s", "flow.next", "?o")], graph="g1"
    ).collect()
    assert {(r["s"], r["o"]) for r in out} == {("a", "b"), ("b", "c")}
    # variable graph: the same call site binds once per graph
    out2 = match_pattern(
        e, [("?c", "call", "?t"), ("?c", "flow.next", "?n")], graph="?g"
    ).collect()
    assert {(r["g"], r["c"], r["n"]) for r in out2} == {
        ("g1", "a", "b"), ("g2", "a", "z")
    }
    # closure under GRAPH ?g must NOT cross graphs: a->b->c exists only
    # inside g1; g2 has just a->z, no 2-hop pair
    cl = match_pattern(
        e, [("?s", "flow.next+", "?o")], graph="?g", max_hops=2
    ).collect()
    assert {(r["g"], r["s"], r["o"]) for r in cl} == {
        ("g1", "a", "b"), ("g1", "b", "c"), ("g1", "a", "c"),
        ("g2", "a", "z"),
    }
    # zero-length identity is per graph too: c exists only in g1
    zo = match_pattern(
        e, [("?s", "flow.next?", "?o")], graph="?g"
    ).collect()
    assert ("g1", "c", "c") in {(r["g"], r["s"], r["o"]) for r in zo}
    assert ("g2", "c", "c") not in {(r["g"], r["s"], r["o"]) for r in zo}
    # match_query threads the clause into OPTIONAL/EXISTS groups as well
    mq = match_query(
        e,
        [("?c", "call", "?t")],
        exists=[[("?c", "flow.next", "?n")]],
        graph="?g",
        group_by=["g"],
        aggregates={"n": "count(c)"},
    ).collect()
    assert {(r["g"], r["n"]) for r in mq} == {("g1", 1), ("g2", 1)}
    # missing named-graph column is a loud error
    bare = e.select("src", "pred", "dst")
    with pytest.raises(ValueError, match="named-graph column"):
        match_pattern(bare, [("?s", "flow.next", "?o")], graph="?g")


def test_graph_asof_replay_semantics(spark):
    """As-of replay: assert -> retract -> re-assert across the cut; ties
    at the same instant resolve to retract; rows after the cut invisible."""
    from pyspark.sql import functions as F

    from jcpg_spark.operators.subgraph import graph_asof

    rows = [
        # re-asserted before the cut after an earlier retract -> present
        ("a", "p", "x", "+", "2024-01-01 00:00:00"),
        ("a", "p", "x", "-", "2024-01-02 00:00:00"),
        ("a", "p", "x", "+", "2024-01-03 00:00:00"),
        # retracted before the cut -> absent
        ("a", "p", "y", "+", "2024-01-01 00:00:00"),
        ("a", "p", "y", "-", "2024-01-04 00:00:00"),
        # same-instant tie -> retract wins -> absent
        ("b", "p", "z", "+", "2024-01-05 00:00:00"),
        ("b", "p", "z", "-", "2024-01-05 00:00:00"),
        # asserted only after the cut -> absent
        ("c", "p", "w", "+", "2024-02-01 00:00:00"),
    ]
    log = spark.createDataFrame(rows, ["src", "pred", "dst", "op", "ts"]).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    got = {(r["src"], r["pred"], r["dst"]) for r in graph_asof(log, "2024-01-10 00:00:00").collect()}
    assert got == {("a", "p", "x")}
    # at a later instant the post-cut assertion appears
    later = {(r["src"], r["dst"]) for r in graph_asof(log, "2024-03-01 00:00:00").collect()}
    assert later == {("a", "x"), ("c", "w")}
