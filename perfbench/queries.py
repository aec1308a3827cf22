"""The fixed, named SPARQL query mix and its DuckDB SQL twins.

Each entry runs one query through ``jcpg_spark.operators.query`` over the
``read_graph_edges`` view of a materialized graph and collects the answer
(consuming the result is part of the timed work). ``SQL`` holds, per query,
an independent DuckDB statement over the same committed parquet files; the
benchmark compares the two answers as multisets after the timed window.

Every query returns a non-empty answer on every generated input: the
generator guarantees failing tool outputs, alias introductions, tool calls
and conversations that import the rare namespace.
"""

from __future__ import annotations

PATH_HOPS = 4  # hop bound of the flow.next+ closure


def query_mix(point_conv: str, namespace: str):
    """-> [(name, fn(edges) -> list of tuples)] in execution order."""
    from jcpg_spark.operators.query import ask, describe, match_query

    def rows(df):
        return [tuple(r) for r in df.collect()]

    return [
        ("q_bgp_ref_flow", lambda e: rows(match_query(
            e, [("?d", "ref.use", "?u"), ("?u", "flow.next", "?n")]))),
        ("q_agg_throws", lambda e: rows(match_query(
            e, [("?t", "flow.throws", "?c"), ("?c", "call", "?tool")],
            group_by=["tool"], aggregates={"n": "count(t)"}))),
        ("q_path_flow", lambda e: rows(match_query(
            e, [("?a", "flow.next+", "?b")], max_hops=PATH_HOPS,
            aggregates={"n": "count(*)"}))),
        ("q_optional_minus", lambda e: rows(match_query(
            e, [("?t", "act.role", "role:assistant")],
            optional=[[("?t", "call", "?tool")]],
            minus=[[("?t", "ref.self", "?s")]]))),
        ("q_graph_point", lambda e: rows(match_query(
            e, [("?s", "?p", "?o")], graph=point_conv))),
        ("q_same_as", lambda e: rows(match_query(e, [("?a", "same_as", "?b")]))),
        ("q_ask", lambda e: rows(ask(e, [("?t", "flow.throws", "?c")]))),
        ("q_describe", lambda e: rows(describe(
            e, [("?c", "imports", f"ns:{namespace}")], "?c"))),
    ]


# Column order follows the program's output: sorted variable names for
# SELECT, (group keys + aggregate aliases) sorted for aggregates, the edge
# columns for DESCRIBE. {point} and {ns} are bound as parameters.
SQL = {
    "q_bgp_ref_flow": """
        SELECT a.src AS d, b.dst AS n, a.dst AS u
        FROM E a JOIN E b ON a.dst = b.src
        WHERE a.pred = 'ref.use' AND b.pred = 'flow.next'""",
    "q_agg_throws": """
        SELECT count(t.src) AS n, c.dst AS tool
        FROM E t JOIN E c ON t.dst = c.src
        WHERE t.pred = 'flow.throws' AND c.pred = 'call'
        GROUP BY c.dst""",
    "q_path_flow": f"""
        WITH RECURSIVE base AS (
            SELECT DISTINCT src, dst FROM E WHERE pred = 'flow.next'),
        r(src, dst, h) AS (
            SELECT src, dst, 1 FROM base
            UNION
            SELECT r.src, b.dst, r.h + 1 FROM r JOIN base b ON r.dst = b.src
            WHERE r.h < {PATH_HOPS})
        SELECT count(*) AS n FROM (SELECT DISTINCT src, dst FROM r)""",
    "q_optional_minus": """
        SELECT a.src AS t, c.dst AS tool
        FROM E a LEFT JOIN E c ON c.src = a.src AND c.pred = 'call'
        WHERE a.pred = 'act.role' AND a.dst = 'role:assistant'
          AND a.src NOT IN (SELECT src FROM E WHERE pred = 'ref.self')""",
    "q_graph_point": """
        SELECT dst AS o, pred AS p, src AS s FROM E WHERE conv_id = $point""",
    "q_same_as": """
        SELECT src AS a, dst AS b FROM E WHERE pred = 'same_as'""",
    "q_ask": """
        SELECT count(*) > 0 AS ask FROM E WHERE pred = 'flow.throws'""",
    "q_describe": """
        WITH r AS (SELECT DISTINCT src FROM E WHERE pred = 'imports' AND dst = 'ns:' || $ns)
        SELECT DISTINCT src, pred, dst, var, conv_id FROM E
        WHERE src IN (SELECT src FROM r) OR dst IN (SELECT src FROM r)""",
}
