"""Conjunctive triple-pattern queries over the constructed KG (SPARQL BGP).

The reference emits its graph for downstream querying (Joern-style
tooling over the DOT/GML/JSON exports, ``CodePropertyGraph.java:84-381``);
this engine makes the query step itself a first-class distributed
operator: a basic graph pattern — a conjunction of (subject, predicate,
object) triple patterns with shared variables — evaluated as relational
joins over the edges table, which is exactly how SPARQL engines built on
relational backends execute BGPs (and why characteristic sets,
``graph_analytics.characteristic_sets``, are THE join-cardinality
statistic for them).

Scale posture:
- each pattern's constant terms become per-pattern filters on the edges
  scan (predicate constants reach the parquet scan as pushed filters —
  the triple store's "POS index probe" analog);
- patterns join on their shared variables — hash joins keyed on bound
  variable columns, nothing driver-side;
- a pattern sharing NO variable with the patterns before it would be a
  cartesian product; that is rejected loudly rather than executed,
  because at 10^12 edges an accidental cross join is a cluster-killer.
  Reorder the patterns so each one connects (any connected pattern graph
  admits such an order).

Bag semantics (duplicate bindings preserved), like SPARQL SELECT without
DISTINCT and like SQL — so an exact SQL oracle can mirror results
row-for-row.

Beyond plain BGPs (r4), the predicate position of a pattern accepts the
SPARQL 1.1 property-path grammar (minus parentheses), each form mapped
to its relational dual, with the spec's precedence — ``|`` loosest,
then ``/``, then the unary forms — so ``a|b/c`` is a | (b/c):

- ``a|b``     alternation  -> an IN-list filter on the same edges scan
  when every alternative is a bare predicate (one pass, pushed filter);
  otherwise the union of the alternatives' pair relations;
- ``a/b``     sequence     -> the atoms' (src, dst) relations joined
  mid-node to mid-node (the BGP {s a ?m . ?m b o} with ?m projected
  away — bag semantics, multiplicity = number of mid paths);
- ``^p``      inverse      -> the same scan with src/dst swapped;
- ``p+``      one-or-more  -> the hop-bounded transitive closure of ``p``
  (DISTINCT (src, dst) pairs — SPARQL closures are set-semantics), bounded
  by ``max_hops``, which keeps the unrolled plan finite and SQL-mirrorable
  and caps the blow-up a cyclic 10^12-edge graph would otherwise feed an
  unbounded ``+``. Scale-adaptive like ``canonicalize.connected_components``:
  one probe collects the distinct 1-hop relation when it holds at most
  20 000 pairs, and the closure is then a per-source BFS on the driver
  (one level per hop) handed back to Spark as one Arrow table. A larger
  relation, or a closure over 20 000 x ``max_hops`` pairs, runs frontier
  expansion instead: per round, join the newly-reached pairs to the base
  relation and anti-join the already-reached set, so a pair crosses the
  shuffle once;
- ``p?`` / ``p*`` zero-or-one / zero-or-more -> the above unioned with
  the zero-length path = identity over every term occurring in the
  graph (one distinct over the endpoint columns), set semantics.

``match_query`` adds the other half of the SPARQL algebra that maps
directly onto DataFrame operators: OPTIONAL groups (left outer join on
the shared variables — SPARQL's LeftJoin), MINUS groups (anti-join on
the shared variables — SPARQL's Minus, which in the shared-vars-bound
regime coincides with FILTER NOT EXISTS), FILTER (SQL boolean
expressions over the bound variable columns, evaluated post-join exactly
like SPARQL filters scoped to the group), GROUP BY / aggregates /
HAVING, ORDER BY + LIMIT solution modifiers (Spark plans sort+limit as
TakeOrderedAndProject — a per-partition top-k merge, never a global
sort), and DISTINCT; plus FILTER EXISTS (semi-join dual of MINUS),
VALUES inline data (broadcast parameter table), and BIND (sequential
computed variables), and the GRAPH clause over a named-graph column
(conversations ARE the named graphs here: a constant graph is a pushed
partition-pruning filter, a variable graph threads the graph name
through every join and path closure as one more solution variable).
``union_patterns`` is SPARQL UNION (bag union of
same-projection groups); ``construct`` is SPARQL CONSTRUCT — template
triples instantiated per solution into a new (src, pred, dst) edges
relation, i.e. rule-based derivation of new graph layers from matched
patterns, the KG-construction move itself; ``ask`` and ``describe``
complete the four SPARQL query forms (ASK as a LIMIT-1 existence probe
that short-circuits the scan; DESCRIBE as symmetric-CBD incident-edge
extraction: one filtered scan against a collected resource list of at
most 50 resources, two semi joins otherwise).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from jcpg_spark.caching import driver_probe, row_bytes

TriplePattern = Sequence[str]  # (subject, predicate, object), '?'-prefixed = var


def _is_var(term: str) -> bool:
    return term.startswith("?")


_PATH_META = "^+*?/|"
_GCOL = "__g"  # internal column threading a variable GRAPH binding

# Driver fast-path budgets, set at the crossovers tools/query_budget_crossover.py
# measured (4-core host, parquet input, max_hops 4). Closure: distinct base
# pairs collected; the BFS gives up past _CLOSURE_DRIVER_ROWS * max_hops
# closure pairs (a chain's closure of a budget-sized base). The driver BFS
# won to 15 000 base pairs (0.59 s vs 0.70 s), tied at 20 000 and lost from
# 30 000 (1.03 s vs 0.96 s; 4.2 s vs 2.1 s at 100 000). DESCRIBE: resources
# inlined as a literal IN list, which costs about 1 ms a literal to build
# and optimize; the filtered scan tied the semi joins to about 50 resources
# and lost from 100 (1.31 s vs 0.29 s at 1 000). Bytes: connected_components'
# default driver_threshold_bytes, estimated by caching.row_bytes.
_CLOSURE_DRIVER_ROWS = 20_000
_DESCRIBE_DRIVER_ROWS = 50
_DRIVER_BYTES = 256 << 20


def _driver_closure(rows: list, max_hops: int, graphed: bool, max_rows: int) -> list | None:
    """The frontier expansion of ``_frontier_closure`` over collected
    distinct base rows, as one BFS per source (one level per hop) ->
    column lists [src, dst(, __g)], or None once the closure outgrows
    ``max_rows``.

    It reproduces the distributed rounds row for row, SQL nulls included:
    a null mid node (or, under GRAPH, a null graph) never joins a hop; a
    null source is carried like any other; a level keeps the pairs not
    reached before. Under GRAPH the graph is part of the node key, so a
    path never crosses graphs."""
    starts: dict = {}
    adj: dict = {}
    for r in rows:
        s, d = r["src"], r["dst"]
        g = r[_GCOL] if graphed else None
        starts.setdefault((s, g), []).append(d)
        if s is not None and (g is not None or not graphed):
            adj.setdefault((s, g), []).append(d)
    src, dst, gra = [], [], []
    for (s, g), level in starts.items():
        seen = set(level)
        for hop in range(1, max_hops + 1):
            if hop > 1:
                level = list({d2 for d in level for d2 in adj.get((d, g), ())} - seen)
                seen.update(level)
            src.extend([s] * len(level))
            dst.extend(level)
            if graphed:
                gra.extend([g] * len(level))
            if len(src) > max_rows:
                return None
            if not level:
                break
    return [src, dst, gra] if graphed else [src, dst]


def _closure(base: DataFrame, max_hops: int) -> DataFrame:
    """Hop-bounded transitive closure of a 1-hop (src, dst) relation:
    DISTINCT pairs connected by a directed path of 1..max_hops base
    steps. Set semantics per the SPARQL property-path spec — two paths
    between the same endpoints yield ONE row, which is also what keeps
    the pair count O(V * max_hops) on chain graphs instead of
    path-count exponential on diamonds.

    Scale-adaptive, like ``canonicalize.connected_components``: for
    ``max_hops`` > 1, ``caching.driver_probe`` collects the distinct base
    in one job when it holds at most ``_CLOSURE_DRIVER_ROWS`` pairs of at
    most ``_DRIVER_BYTES``. ``_driver_closure`` then expands it in driver
    memory, and the result goes back to Spark as one Arrow table of
    ``base``'s schema (no per-hop job, no shuffle). A base over budget
    runs ``_frontier_closure`` on the base the probe left persisted; a
    closure over ``_CLOSURE_DRIVER_ROWS * max_hops`` pairs (or over the
    bytes the base left) runs it on the collected base, shipped back as
    an Arrow table. Either way the base is computed once.

    Under a variable GRAPH clause the base carries the named-graph column
    ``__g`` and every hop joins on graph equality too, so a path never
    crosses graphs — the per-graph closure the SPARQL dataset semantics
    require. Both paths return the same rows."""
    if max_hops < 1:
        raise ValueError("max_hops must be >= 1")
    from jcpg_spark import io as tio

    graphed = _GCOL in base.columns
    keys = ["src", "dst"] + ([_GCOL] if graphed else [])
    base = base.distinct()
    if max_hops == 1:
        return base
    probe = driver_probe("query.closure.base", base, _CLOSURE_DRIVER_ROWS, _DRIVER_BYTES)
    if probe is not None:
        spark, schema = base.sparkSession, base.schema
        room = int(_DRIVER_BYTES / max(row_bytes(probe), 1.0)) - len(probe)
        cap = min(_CLOSURE_DRIVER_ROWS * max_hops, room)
        cols = _driver_closure(probe, max_hops, graphed, cap)
        if cols is not None:
            return tio.local_frame(spark, cols, schema)
        # the closure outgrew the driver, but the base it expands is held
        base = tio.local_frame(spark, [list(c) for c in zip(*probe)], schema)
    return _frontier_closure(base, max_hops, keys)


def _frontier_closure(base: DataFrame, max_hops: int, keys: list) -> DataFrame:
    """The distributed path of ``_closure`` over its distinct base (held by
    the probe's persist or by the collected rows): frontier expansion (the
    bfs_distances move, on pairs). Each round joins only the PREVIOUS
    round's new pairs against the 1-hop base and anti-joins everything
    already reached (null-safe, so pairs with a null key keep set
    semantics too), so a pair crosses the shuffle in exactly one round;
    lineage is cut per round with a lazy localCheckpoint. Bounded rounds
    keep the plan finite for the SQL oracle and bound the damage of a
    cycle at 10^12 edges."""
    graphed = _GCOL in keys
    hop = base.select(
        F.col("src").alias("m"),
        F.col("dst").alias("o2"),
        *([F.col(_GCOL).alias("hg")] if graphed else []),
    )
    # null-safe: a pair with a null key was reached like any other
    seen = [F.col(f"n.{k}").eqNullSafe(F.col(f"r.{k}")) for k in keys]
    reach, frontier = base, base
    for _h in range(2, max_hops + 1):
        cond = frontier["dst"] == hop["m"]
        if graphed:
            cond = cond & (frontier[_GCOL] == hop["hg"])
        nxt = (
            frontier.join(hop, cond)
            .select(
                frontier["src"],
                F.col("o2").alias("dst"),
                *([frontier[_GCOL]] if graphed else []),
            )
            .distinct()
            .alias("n")
            .join(reach.alias("r"), seen, "left_anti")
            .localCheckpoint(eager=False)
        )
        reach = reach.unionByName(nxt)
        frontier = nxt
    return reach


def _identity_pairs(edges: DataFrame, gcol: str | None = None) -> DataFrame:
    """(n, n) for every term that occurs in the graph — SPARQL's
    zero-length path, the zero half of ``p?`` / ``p*``. One distinct
    over the union of both endpoint columns (a single shuffle, node-id
    width only); the spec's "terms mentioned in the query" extension is
    intentionally not modeled — graph terms only, documented. Under a
    variable GRAPH clause (``gcol``) the identity is per named graph."""
    if gcol:
        nodes = (
            edges.select("src", F.col(gcol).alias(_GCOL))
            .unionByName(
                edges.select(F.col("dst").alias("src"), F.col(gcol).alias(_GCOL))
            )
            .distinct()
        )
        return nodes.select("src", F.col("src").alias("dst"), _GCOL)
    nodes = (
        edges.select("src")
        .unionByName(edges.select(F.col("dst").alias("src")))
        .distinct()
    )
    return nodes.select("src", F.col("src").alias("dst"))


def _bare_pairs(edges: DataFrame, pred: str, gcol: str | None = None) -> DataFrame:
    """(src, dst[, __g]) scan for one literal predicate name — the leaf
    of the path grammar. Rejects leftover metacharacters loudly: nested
    modifiers (``p+?``) and grouping need parentheses, which this
    grammar does not have — compose via match_query instead."""
    if not pred or any(c in pred for c in _PATH_META):
        raise ValueError(
            f"unsupported path atom {pred!r} — nested modifiers/grouping "
            "need parentheses, which this grammar does not support; "
            "compose the path from multiple patterns instead"
        )
    out = edges.where(F.col("pred") == F.lit(pred))
    if gcol:
        return out.select("src", "dst", F.col(gcol).alias(_GCOL))
    return out.select("src", "dst")


def _atom_pairs(
    edges: DataFrame, atom: str, max_hops: int, gcol: str | None = None
) -> DataFrame:
    """One path atom: ``^`` inverse prefix wrapping the whole atom (the
    SPARQL PathEltOrInverse rule, so ``^p+`` = inverse of the closure —
    identical to the closure of the inverse), then one optional postfix
    modifier ``+`` / ``*`` / ``?`` on a bare predicate. ``*`` and ``?``
    include the zero-length path (identity over graph terms) and are
    set-semantics like ``+``; a bare atom stays a bag scan."""
    if not atom:
        raise ValueError("empty path atom (doubled '|' or '/'?)")
    if atom.startswith("^"):
        inner = _atom_pairs(edges, atom[1:], max_hops, gcol)
        return inner.select(
            F.col("dst").alias("src"),
            F.col("src").alias("dst"),
            *([_GCOL] if gcol else []),
        )
    if atom.endswith("+"):
        return _closure(_bare_pairs(edges, atom[:-1], gcol), max_hops)
    if atom.endswith("*"):
        return (
            _identity_pairs(edges, gcol)
            .unionByName(_closure(_bare_pairs(edges, atom[:-1], gcol), max_hops))
            .distinct()
        )
    if atom.endswith("?"):
        return (
            _identity_pairs(edges, gcol)
            .unionByName(_bare_pairs(edges, atom[:-1], gcol))
            .distinct()
        )
    return _bare_pairs(edges, atom, gcol)


def _seq_pairs(
    edges: DataFrame, term: str, max_hops: int, gcol: str | None = None
) -> DataFrame:
    """``a/b/...`` sequence path: the atoms' pair relations joined
    mid-node to mid-node, left to right — SPARQL's SequencePath, which
    is exactly the BGP {s a ?m . ?m b o} with ?m projected away, so it
    keeps bag semantics (multiplicity = number of distinct mid paths).
    Each step is a hash join keyed on the mid node (plus graph equality
    under a variable GRAPH clause); nothing widens beyond (src, dst)
    between steps."""
    steps = term.split("/")
    out = _atom_pairs(edges, steps[0], max_hops, gcol)
    for step in steps[1:]:
        nxt = _atom_pairs(edges, step, max_hops, gcol).select(
            F.col("src").alias("__m"),
            F.col("dst").alias("__o"),
            *([F.col(_GCOL).alias("__g2")] if gcol else []),
        )
        cond = out["dst"] == nxt["__m"]
        if gcol:
            cond = cond & (out[_GCOL] == nxt["__g2"])
        out = out.join(nxt, cond).select(
            out["src"],
            F.col("__o").alias("dst"),
            *([out[_GCOL]] if gcol else []),
        )
    return out


def _const_pred_pairs(
    edges: DataFrame, term: str, max_hops: int = 1, gcol: str | None = None
) -> DataFrame:
    """(src, dst[, __g]) relation for a CONSTANT predicate term — the
    SPARQL 1.1 property-path grammar without parentheses, standard
    precedence (loosest to tightest): ``|`` alternation, ``/`` sequence,
    then the unary forms ``^p`` / ``p+`` / ``p*`` / ``p?``. So ``a|b/c``
    is a | (b/c) and ``^p+`` is ^(p+), as in the spec.

    All-bare alternation (``a|b``) keeps its single-scan IN-list fast
    path — one pass over the edges relation, the filter pushed to the
    scan — instead of one scan per alternative unioned."""
    alts = term.split("|")
    if len(alts) > 1:
        if all(a and not any(c in a for c in _PATH_META) for a in alts):
            out = edges.where(F.col("pred").isin(alts))
            if gcol:
                return out.select("src", "dst", F.col(gcol).alias(_GCOL))
            return out.select("src", "dst")
        outs = [_seq_pairs(edges, a, max_hops, gcol) for a in alts]
        out = outs[0]
        for o in outs[1:]:
            out = out.unionByName(o)
        return out
    return _seq_pairs(edges, term, max_hops, gcol)


def _pattern_df(
    edges: DataFrame,
    pat: TriplePattern,
    max_hops: int = 8,
    gvar: str | None = None,
    gcol: str = "conv_id",
) -> DataFrame:
    """One triple pattern -> DataFrame with one column per DISTINCT
    variable. Constants filter; a variable repeated inside the pattern
    (e.g. ``(?x, loops, ?x)``) becomes an equality filter. A constant
    predicate may use the property-path forms ``a|b`` / ``a/b`` / ``^p``
    / ``p+`` / ``p?`` / ``p*`` (see module docstring); a VARIABLE
    predicate binds the plain edge scan (no path forms — a variable
    cannot name a path). Under a variable GRAPH clause (``gvar``), the
    named-graph column rides along as one more bound variable, so the
    per-pattern joins thread graph equality for free."""
    if len(pat) != 3:
        raise ValueError(f"triple pattern must have 3 terms, got {pat!r}")
    g = gvar[1:] if gvar else None
    if _is_var(pat[1]):
        base_cols = ["src", "pred", "dst"]
        if g:
            df = edges.select(*base_cols, F.col(gcol).alias(_GCOL))
        else:
            df = edges.select(*base_cols)
        cols = ("src", "pred", "dst")
    else:
        df = _const_pred_pairs(edges, pat[1], max_hops, gcol=gcol if g else None)
        pat = (pat[0], None, pat[2])
        cols = ("src", None, "dst")
    seen: dict[str, str] = {}
    sel = []
    for term, col in zip(pat, cols):
        if col is None:
            continue
        if _is_var(term):
            var = term[1:]
            if not var:
                raise ValueError("'?' alone is not a variable name")
            if var in seen:
                df = df.where(F.col(col) == F.col(seen[var]))
            else:
                seen[var] = col
                sel.append(F.col(col).alias(var))
        else:
            df = df.where(F.col(col) == F.lit(term))
    if g:
        if g in seen:  # GRAPH ?g where ?g is also a pattern variable
            df = df.where(F.col(_GCOL) == F.col(seen[g]))
        else:
            sel.append(F.col(_GCOL).alias(g))
    if not sel:
        raise ValueError(
            f"all-constant pattern {pat!r}: an existence test binds nothing; "
            "give at least one term a variable"
        )
    return df.select(*sel)


def match_pattern(
    edges: DataFrame,
    patterns: Sequence[TriplePattern],
    max_hops: int = 8,
    graph: str | None = None,
    graph_col: str = "conv_id",
) -> DataFrame:
    """Evaluate a basic graph pattern over ``edges`` (src, pred, dst).

    -> one column per variable (without the '?'), one row per binding of
    all variables such that every pattern matches (bag semantics).
    Patterns are joined left-to-right on their shared variables; each
    pattern must share at least one variable with the ones before it
    (see module docstring — accidental cartesian products are rejected).
    ``max_hops`` bounds any ``p+`` property-path closure in the patterns.

    ``graph`` is the SPARQL GRAPH clause over the named-graph column
    ``graph_col`` (this engine's graphs are conversation-scoped, so
    conv_id IS the named graph by default):
    - a CONSTANT scopes the whole group to that one graph — applied as a
      pushed filter before anything joins, i.e. partition pruning when
      the edges table is laid out by graph;
    - a VARIABLE (``"?g"``) binds the graph name as one more solution
      variable shared by EVERY pattern in the group — the per-pattern
      joins (and property-path closures, sequences, identities) all
      thread graph equality, so no solution ever mixes graphs, exactly
      the SPARQL dataset semantics. Two patterns sharing only ?g is a
      legitimate per-graph cross product (bounded by the graph size),
      accepted, unlike the global cartesian which stays rejected.
    """
    if not patterns:
        raise ValueError("empty pattern list")
    gvar = None
    if graph is not None:
        if graph_col not in edges.columns:
            raise ValueError(
                f"GRAPH clause needs a named-graph column {graph_col!r} on "
                f"the edges relation (have: {edges.columns})"
            )
        if _is_var(graph):
            gvar = graph
        else:
            # constant GRAPH: scope the whole group to one named graph —
            # a plain pushed filter (the stored tables are not partitioned
            # by the graph column, so it prunes only by parquet row-group
            # statistics)
            edges = edges.where(F.col(graph_col) == F.lit(graph))
    result: DataFrame | None = None
    bound: set[str] = set()
    for pat in patterns:
        pdf = _pattern_df(edges, pat, max_hops, gvar=gvar, gcol=graph_col)
        pvars = set(pdf.columns)
        if result is None:
            result, bound = pdf, pvars
            continue
        shared = sorted(bound & pvars)
        if not shared:
            raise ValueError(
                f"pattern {tuple(pat)!r} shares no variable with the "
                f"already-bound set {sorted(bound)} — this would be a "
                "cartesian product; reorder the patterns"
            )
        result = result.join(pdf, on=shared)
        bound |= pvars
    return result.select(*sorted(bound))


def match_query(
    edges: DataFrame,
    bgp: Sequence[TriplePattern],
    optional: Sequence[Sequence[TriplePattern]] = (),
    exists: Sequence[Sequence[TriplePattern]] = (),
    minus: Sequence[Sequence[TriplePattern]] = (),
    filters: Sequence[str] = (),
    values: tuple[Sequence[str], Sequence[tuple]] | None = None,
    binds: dict[str, str] | None = None,
    distinct: bool = False,
    max_hops: int = 8,
    group_by: Sequence[str] = (),
    aggregates: dict[str, str] | None = None,
    having: Sequence[str] = (),
    order_by: Sequence[str] = (),
    limit: int | None = None,
    graph: str | None = None,
    graph_col: str = "conv_id",
) -> DataFrame:
    """SPARQL SELECT core: required BGP, then OPTIONAL groups, FILTER
    EXISTS groups, MINUS groups, FILTERs, GROUP BY / aggregates / HAVING,
    ORDER BY / LIMIT, and optional DISTINCT — each mapped onto its exact
    relational dual.

    - ``values`` = (variables, rows) is SPARQL's VALUES inline-data
      block: a driver-literal solution table joined into the required
      BGP — shared variables constrain (broadcast inner join, applied
      FIRST so Catalyst pushes the constants toward the scan), fresh
      variables inject parameters (a cartesian against a user-written
      constant list only). Duplicate rows are deduped: VALUES supplies
      bindings, not multiplicities, under the join here.
    - ``binds`` maps fresh variable -> SQL expression over the in-scope
      columns (SPARQL BIND); applied in insertion order AFTER the graph
      joins, so a later bind may reference an earlier one, and a filter
      may reference any of them. Rebinding an in-scope variable raises,
      as in the spec.
    - every group in ``exists`` is a BGP; solutions are KEPT iff the
      group has at least one compatible solution (SPARQL's FILTER
      EXISTS) — executed as a LEFT SEMI join on the shared variables,
      exact in the same shared-vars-bound regime as MINUS below, and
      witness-multiplicity-free by construction (a semi join never
      duplicates the left side, matching EXISTS's boolean-filter
      semantics where a plain inner join would multiply solutions by
      the number of witnesses).

    - every group in ``optional`` is itself a BGP; it is attached with a
      LEFT OUTER join on the variables it shares with what is already
      bound (SPARQL's LeftJoin operator) — unmatched rows keep NULLs in
      the group's fresh variables. A group sharing no variable would be
      a cartesian product and is rejected like a disconnected required
      pattern. Groups attach left-to-right, so a later group may join on
      variables a previous OPTIONAL introduced (SPARQL's sequential
      left-associative semantics).
    - every group in ``minus`` is a BGP; solutions of the main query that
      are compatible with some solution of the group are REMOVED (SPARQL's
      Minus operator) — executed as a LEFT ANTI join on the shared
      variables, the relational dual that is exact whenever the shared
      variables are bound on the left (they come from the required BGP;
      an OPTIONAL-introduced NULL in a shared column never anti-matches,
      which is also what SPARQL's compatibility rule yields when it is
      the ONLY shared variable). In this shared-vars-bound regime MINUS
      and FILTER NOT EXISTS coincide, so one operator serves both SPARQL
      negation forms. A group sharing no variable is rejected: the spec
      makes disjoint-domain MINUS a no-op, and silently evaluating a
      group only to ignore it is a bug ten times out of ten.
    - ``filters`` are SQL boolean expressions over the variable columns
      (``F.expr``), applied AFTER all joins — Catalyst pushes a filter
      that only reads required-side columns back below the outer joins
      itself, so writing them post-join costs nothing and matches the
      SPARQL scoping rule (a filter sees the whole group solution).
    - ``group_by`` + ``aggregates`` are SPARQL's GROUP BY + SELECT
      aggregates: ``aggregates`` maps output alias -> SQL aggregate
      expression over the variable columns (``{"n": "count(c)"}`` for
      ``(COUNT(?c) AS ?n)``); evaluated as a single hash aggregation —
      Spark's map-side partial aggregation is exactly the distributed
      form the SPARQL spec leaves to the engine. ``aggregates`` without
      ``group_by`` is the single-group (whole-solution) aggregation.
      ``having`` expressions filter the aggregated rows (SPARQL HAVING);
      they may reference the aggregate aliases.
    - ``order_by`` + ``limit`` are the SPARQL solution modifiers: each
      ``order_by`` entry is a SQL sort expression (``"n_calls DESC"``,
      ``"tool"``) over the output columns; ``limit`` truncates. Spark
      plans sort+limit as TakeOrderedAndProject — each partition keeps a
      k-row heap and the driver merges k-row samples, so a LIMIT 10 over
      10^12 solutions never materializes a global sort. A ``limit``
      without a TOTAL order is nondeterministic under partitioning; give
      the sort a tiebreaker column if the result must be stable.
    - output columns = sorted variable names (or group keys + aggregate
      aliases); bag semantics unless ``distinct``.
    """
    result = match_pattern(edges, bgp, max_hops, graph=graph, graph_col=graph_col)
    bound = set(result.columns)
    if values is not None:
        vvars, vrows = values
        vvars = [v.lstrip("?") for v in vvars]
        if not vvars or not vrows:
            raise ValueError("values needs at least one variable and one row")
        bad = [r for r in vrows if len(r) != len(vvars)]
        if bad:
            raise ValueError(f"values rows with wrong arity: {bad!r}")
        vdf = result.sparkSession.createDataFrame(
            [tuple(r) for r in vrows], vvars
        )
        shared = sorted(bound & set(vvars))
        # the VALUES table is a driver literal (bounded by construction)
        # -> always broadcast; shared vars constrain via inner join, a
        # fully fresh table is the SPARQL parameter-injection join
        # (a cartesian against a user-written constant list, not a
        # hidden data-scale cross product)
        vb = F.broadcast(vdf.distinct())
        result = result.join(vb, on=shared) if shared else result.crossJoin(vb)
        bound |= set(vvars)
    for group in optional:
        gdf = match_pattern(edges, group, max_hops, graph=graph, graph_col=graph_col)
        gvars = set(gdf.columns)
        shared = sorted(bound & gvars)
        if not shared:
            raise ValueError(
                f"OPTIONAL group {[tuple(p) for p in group]!r} shares no "
                f"variable with the bound set {sorted(bound)} — this would "
                "be a cartesian product; reorder or drop the group"
            )
        result = result.join(gdf, on=shared, how="left")
        bound |= gvars
    for group in exists:
        gdf = match_pattern(edges, group, max_hops, graph=graph, graph_col=graph_col)
        shared = sorted(bound & set(gdf.columns))
        if not shared:
            raise ValueError(
                f"EXISTS group {[tuple(p) for p in group]!r} shares no "
                f"variable with the bound set {sorted(bound)} — an "
                "unconnected EXISTS is a constant (true iff the group has "
                "any solution); test it separately instead of hiding a "
                "cartesian probe in a filter"
            )
        # positive FILTER EXISTS = LEFT SEMI join on the shared variables
        # (the dual of MINUS's anti-join, exact in the same
        # shared-vars-bound regime); projecting the shared columns keeps
        # the group's fresh variables out of the shuffle, and the semi
        # join dedupes multiple witnesses for free, so a solution is
        # never multiplied by how many ways the EXISTS matches
        result = result.join(gdf.select(*shared), on=shared, how="semi")
    for group in minus:
        gdf = match_pattern(edges, group, max_hops, graph=graph, graph_col=graph_col)
        shared = sorted(bound & set(gdf.columns))
        if not shared:
            raise ValueError(
                f"MINUS group {[tuple(p) for p in group]!r} shares no "
                f"variable with the bound set {sorted(bound)} — the spec "
                "makes this a no-op; drop the group or bind a shared "
                "variable"
            )
        # only the shared columns matter for compatibility; projecting
        # them (distinct is implied by the anti-join) keeps the group's
        # fresh variables out of the shuffle
        result = result.join(gdf.select(*shared), on=shared, how="left_anti")
    for alias, bexpr in (binds or {}).items():
        alias = alias.lstrip("?")
        if alias in bound:
            raise ValueError(
                f"BIND would rebind {alias!r} — SPARQL forbids assigning "
                "an in-scope variable; pick a fresh name"
            )
        # sequential semantics: a later BIND may reference an earlier one
        result = result.withColumn(alias, F.expr(bexpr))
        bound.add(alias)
    for fexpr in filters:
        result = result.where(F.expr(fexpr))
    if aggregates or group_by:
        if not aggregates:
            raise ValueError("group_by without aggregates — use distinct "
                             "for plain projection deduplication")
        unknown = set(group_by) - bound
        if unknown:
            raise ValueError(f"group_by names unbound variables: {sorted(unknown)}")
        taken = set(group_by) & set(aggregates)
        if taken:
            raise ValueError(f"aggregate aliases shadow group keys: {sorted(taken)}")
        aggs = [F.expr(e).alias(a) for a, e in sorted(aggregates.items())]
        result = (
            result.groupBy(*sorted(group_by)).agg(*aggs)
            if group_by
            else result.agg(*aggs)
        )
        for hexpr in having:
            result = result.where(F.expr(hexpr))
        out_cols = sorted(set(group_by) | set(aggregates))
    else:
        if having:
            raise ValueError("having requires aggregates")
        out_cols = sorted(bound)
    result = result.select(*out_cols)
    if distinct:
        result = result.distinct()
    if order_by:
        def _sort_col(e: str):
            # F.expr parses expressions, not sort items — peel the
            # direction keyword ourselves ("n DESC" -> expr("n").desc())
            s = e.strip()
            if s.lower().endswith(" desc"):
                return F.expr(s[:-5]).desc()
            if s.lower().endswith(" asc"):
                return F.expr(s[:-4]).asc()
            return F.expr(s)

        result = result.orderBy(*[_sort_col(e) for e in order_by])
    if limit is not None:
        if not order_by:
            raise ValueError(
                "limit without order_by is nondeterministic under "
                "partitioning; give the solutions a total order"
            )
        result = result.limit(limit)
    return result


def union_patterns(
    edges: DataFrame, bgps: Sequence[Sequence[TriplePattern]], max_hops: int = 8
) -> DataFrame:
    """SPARQL UNION of same-projection groups: each BGP in ``bgps`` must
    bind exactly the same variable set; the result is their bag union
    (UNION ALL — duplicates across branches preserved, like SPARQL).
    Same-projection is required rather than NULL-padded because a
    NULL-padded union silently turns a typo'd variable into a column of
    NULLs; loud beats lenient on a 10^12-edge graph."""
    if not bgps:
        raise ValueError("empty union")
    dfs = [match_pattern(edges, bgp, max_hops) for bgp in bgps]
    cols = set(dfs[0].columns)
    for bgp, df in zip(bgps[1:], dfs[1:]):
        if set(df.columns) != cols:
            raise ValueError(
                f"UNION branch {[tuple(p) for p in bgp]!r} binds "
                f"{sorted(df.columns)} but the first branch binds "
                f"{sorted(cols)} — all branches must project the same "
                "variables"
            )
    out = dfs[0]
    for df in dfs[1:]:
        out = out.unionByName(df)
    return out


def construct(
    edges: DataFrame,
    template: Sequence[TriplePattern],
    bgp: Sequence[TriplePattern],
    optional: Sequence[Sequence[TriplePattern]] = (),
    minus: Sequence[Sequence[TriplePattern]] = (),
    filters: Sequence[str] = (),
    max_hops: int = 8,
) -> DataFrame:
    """SPARQL CONSTRUCT: instantiate ``template`` triples once per WHERE
    solution and return the resulting graph as a (src, pred, dst) edges
    relation — rule-based derivation of new KG layers (the reference
    derives every layer imperatively while walking its object graph,
    ``JavacpgDDGBuilder.java:60-117``; here a derivation rule is a
    declarative query whose output is itself an edges table, closing the
    loop: construct() output can feed match_query(), rdfs_entail(), or
    the export sinks directly).

    Semantics per the SPARQL 1.1 spec:
    - each template triple's variable slots are filled from the solution;
      constant slots pass through;
    - a template instance with an unbound (NULL) slot — an OPTIONAL
      variable that did not match — is SKIPPED, not emitted with a hole;
    - the result is an RDF GRAPH, i.e. a SET of triples: duplicates
      across solutions and across template entries are removed (one
      DISTINCT over the union — the only shuffle this adds, keyed on the
      output triple itself, so it scales like any dedup).

    Each template triple becomes a projection of the one solution
    relation (computed once, reused N ways under Spark's plan reuse), so
    an M-triple template costs one match plus M column selections.
    """
    if not template:
        raise ValueError("empty CONSTRUCT template")
    sol = match_query(
        edges, bgp, optional=optional, minus=minus, filters=filters,
        max_hops=max_hops,
    )
    return _instantiate(sol, template).distinct()


def _instantiate(sol: DataFrame, template: Sequence[TriplePattern]) -> DataFrame:
    """Template triples -> (src, pred, dst) instances, one per solution
    per template entry (bag — callers apply RDF set semantics where the
    spec asks for it). Variable slots are filled from the solution,
    constants pass through; an instance with an unbound (NULL) slot — an
    OPTIONAL variable that did not match — is SKIPPED, not emitted with
    a hole. Each template triple is one projection of the one solution
    relation (computed once, reused N ways under Spark's plan reuse)."""
    if not template:
        raise ValueError("empty template")
    bound = set(sol.columns)
    outs = []
    for tpat in template:
        if len(tuple(tpat)) != 3:
            raise ValueError(f"template triple {tuple(tpat)!r} is not 3 terms")
        cols = []
        for term, slot in zip(tpat, ("src", "pred", "dst")):
            if _is_var(term):
                name = term[1:]
                if name not in bound:
                    raise ValueError(
                        f"template variable ?{name} is not bound by the "
                        f"WHERE clause (bound: {sorted(bound)})"
                    )
                cols.append(F.col(name).cast("string").alias(slot))
            else:
                cols.append(F.lit(term).alias(slot))
        inst = sol.select(*cols)
        tvars = [t[1:] for t in tpat if _is_var(t)]
        if tvars:
            # unbound slot -> no triple (SPARQL drops incomplete instances)
            inst = inst.na.drop(subset=[s for s, t in
                                        zip(("src", "pred", "dst"), tpat)
                                        if _is_var(t)])
        outs.append(inst)
    out = outs[0]
    for df in outs[1:]:
        out = out.unionByName(df)
    return out


def update_graph(
    edges: DataFrame,
    where: Sequence[TriplePattern],
    delete: Sequence[TriplePattern] = (),
    insert: Sequence[TriplePattern] = (),
    filters: Sequence[str] = (),
    max_hops: int = 8,
) -> DataFrame:
    """SPARQL 1.1 Update (DELETE/INSERT WHERE) as a pure function: the
    input edges relation -> the updated (src, pred, dst) relation. No
    in-place mutation — at 10^12 triples "update" means commit the next
    graph version, which is exactly how the Iceberg materialize seam
    works (atomic snapshot swap, never row edits); compose with
    ``subgraph.graph_diff`` to audit what a rule changed.

    Spec semantics: WHERE is evaluated ONCE against the pre-update
    graph; both templates are instantiated from those solutions; deletes
    apply before inserts, so a triple matched by both templates
    survives. The result is an RDF graph — a SET: DISTINCT base, minus
    the instantiated deletes (one anti join keyed on the whole triple),
    union the instantiated inserts, one final distinct. Shuffle budget:
    the match itself + two triple-keyed exchanges, independent of how
    many template entries instantiate (projections of one solution
    relation)."""
    if not delete and not insert:
        raise ValueError("update_graph needs a DELETE and/or INSERT template")
    sol = match_query(edges, where, filters=filters, max_hops=max_hops)
    out = edges.select("src", "pred", "dst").distinct()
    if delete:
        dels = _instantiate(sol, delete)
        out = out.join(dels, ["src", "pred", "dst"], "left_anti")
    if insert:
        out = out.unionByName(_instantiate(sol, insert)).distinct()
    return out


def ask(
    edges: DataFrame,
    bgp: Sequence[TriplePattern],
    filters: Sequence[str] = (),
    max_hops: int = 8,
) -> DataFrame:
    """SPARQL ASK: does the pattern have ANY solution? -> a one-row
    DataFrame (ask: boolean) — kept relational so the answer composes
    with joins/unions and the driver never has to collect mid-plan.

    Evaluated as LIMIT 1 + count: Spark's CollectLimit short-circuits
    scanning once one solution surfaces, so an ASK over 10^12 triples
    whose answer is yes touches a handful of partitions, not the table
    (the worst case — answer no — is one full pass, the information-
    theoretic floor)."""
    sol = match_query(edges, bgp, filters=filters, max_hops=max_hops)
    one = sol.limit(1).select(F.lit(1).alias("hit"))
    return one.agg((F.count("*") > 0).alias("ask"))


def describe(
    edges: DataFrame,
    bgp: Sequence[TriplePattern],
    var: str,
    filters: Sequence[str] = (),
    max_hops: int = 8,
) -> DataFrame:
    """SPARQL DESCRIBE ?var: every triple whose subject OR object is a
    resource the query binds to ``var`` — the spec leaves the description
    shape to the engine; this implements the common symmetric-CBD-lite
    (all incident edges, no blank-node recursion — node ids here are
    content keys, so there is nothing to chase).

    The resource set is deduped first, so a resource described by many
    solutions is still described once. ``caching.driver_probe`` collects
    it in one job when it holds at most ``_DESCRIBE_DRIVER_ROWS``
    resources; it is then answered by ONE filtered scan of the edges
    (``src IN R OR dst IN R``, then distinct). A larger set, left
    persisted by the probe so the solution is not computed again, falls
    back to two LEFT SEMI joins of the full edges table against it (one
    on src, one on dst) unioned and deduped. Either way a null resource
    describes nothing. Output keeps every edge column (var/conv_id
    qualifiers included), so the description is directly exportable via
    the DOT/GML/GraphML/N-Quads sinks."""
    v = var.lstrip("?")
    sol = match_query(edges, bgp, filters=filters, max_hops=max_hops)
    if v not in sol.columns:
        raise ValueError(f"DESCRIBE variable ?{v} is not bound (bound: "
                         f"{sol.columns})")
    res = sol.select(F.col(v).alias("r")).distinct()
    probe = driver_probe("query.describe.res", res, _DESCRIBE_DRIVER_ROWS, _DRIVER_BYTES)
    if probe is not None:
        r = [row["r"] for row in probe if row["r"] is not None]
        return edges.where(F.col("src").isin(r) | F.col("dst").isin(r)).distinct()
    as_src = edges.join(res.withColumnRenamed("r", "src"), "src", "semi")
    as_dst = edges.join(res.withColumnRenamed("r", "dst"), "dst", "semi")
    return as_src.unionByName(as_dst.select(*as_src.columns)).distinct()


def predicate_stats(edges: DataFrame) -> dict:
    """Statistics catalog for BGP join ordering: per predicate, the edge
    count and approximate distinct subject/object counts, plus the
    totals under key ``None``. ONE tiny aggregation collected to the
    driver — predicate-VOCABULARY-sized, the same bounded-collect class
    as the dictionary surfaces, and exactly what a cost-based
    optimizer's stats catalog is. Collect once, reuse across queries."""
    rows = edges.groupBy("pred").agg(
        F.count(F.lit(1)).alias("n"),
        F.approx_count_distinct("src").alias("ds"),
        F.approx_count_distinct("dst").alias("dd"),
    ).collect()
    stats = {r["pred"]: (r["n"], max(r["ds"], 1), max(r["dd"], 1)) for r in rows}
    stats[None] = (
        sum(v[0] for v in stats.values()),
        max(sum(v[1] for v in stats.values()), 1),
        max(sum(v[2] for v in stats.values()), 1),
    )
    return stats


def _estimate(pat: TriplePattern, stats: dict) -> float:
    s, p, o = pat[0], pat[1], pat[2]
    key = p if (not _is_var(p) and p in stats) else None
    n, ds, dd = stats.get(key, stats[None])
    est = float(n)
    if not _is_var(s):
        est /= ds
    if not _is_var(o):
        est /= dd
    return max(est, 1.0)


def reorder_patterns(
    patterns: Sequence[TriplePattern], stats: dict
) -> list:
    """Greedy selectivity-based BGP join ordering (the classic
    System-R-style heuristic every SPARQL engine applies): start from
    the lowest-estimated-cardinality pattern, then repeatedly take the
    cheapest pattern CONNECTED to the bound variable set — small
    intermediate results early, and the no-cartesian contract of
    ``match_pattern`` is preserved because connectivity gates every
    pick. Estimates come from ``predicate_stats`` (count / distinct-key
    division for constant terms). Inner joins commute, so the solution
    BAG is identical for any order — pytest-gated; only the
    intermediate sizes change."""
    remaining = list(patterns)
    if not remaining:
        return remaining

    def pat_vars(p):
        vs = {t for t in (p[0], p[1], p[2]) if _is_var(t)}
        return vs

    first = min(remaining, key=lambda p: _estimate(p, stats))
    order = [first]
    remaining.remove(first)
    bound = pat_vars(first)
    while remaining:
        connected = [p for p in remaining if pat_vars(p) & bound]
        pick_from = connected if connected else remaining  # disconnected BGPs
        pick = min(pick_from, key=lambda p: _estimate(p, stats))
        order.append(pick)
        remaining.remove(pick)
        bound |= pat_vars(pick)
    return order
