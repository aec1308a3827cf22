"""Output checks, run after the timed window.

- Graph contents against ``tests.oracle.pandas_oracle.oracle_graph``, a
  separate single-threaded implementation, reading the committed parquet
  with pyarrow (never collecting through Spark).
- Manifest row counts against the rows stored in each snapshot's files.
- Query answers against DuckDB SQL over the same committed files.

Each function returns a list of problems; an empty list means the check
passed.
"""

from __future__ import annotations

import collections
import json
import os
import re

import pyarrow.dataset as ds
import pyarrow.parquet as pq

MANIFEST = "_MANIFEST.json"
INTRO = re.compile(r"^introducing\b")  # the alias-introduction turn form


def manifest(graph: str, table: str) -> dict:
    with open(os.path.join(graph, table, MANIFEST)) as f:
        return json.load(f)


def snapshot_files(graph: str, table: str, data_dirs: list[str]) -> list[str]:
    out = []
    for d in data_dirs:
        root = os.path.join(graph, table, d)
        out += sorted(
            os.path.join(root, f) for f in os.listdir(root) if f.endswith(".parquet")
        )
    return out


def current_files(graph: str, table: str) -> list[str]:
    return snapshot_files(graph, table, manifest(graph, table)["data_dirs"])


def check_manifests(graph: str, first: int, stop: int | None) -> list[str]:
    """The logged row count of each table's snapshots ``[first:stop]``
    equals the rows in their files; with ``stop`` None the current pointer
    is checked too, when the table has a snapshot past ``first``. A build
    owns snapshot 0 of each table, an append the ones after it."""
    problems = []
    for table in sorted(os.listdir(graph)):
        if not os.path.exists(os.path.join(graph, table, MANIFEST)):
            continue
        man = manifest(graph, table)
        snaps = man["snapshots"][first:stop]
        if stop is None and snaps:
            snaps.append(man)
        for snap in snaps:
            files = snapshot_files(graph, table, snap["data_dirs"])
            stored = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
            if stored != snap["rows"]:
                problems.append(
                    f"{table}@{snap.get('id', 'current')}: manifest {snap['rows']} rows, "
                    f"stored {stored}"
                )
    return problems


def _rows(files: list[str], columns: list[str]):
    if not files:
        return []
    t = ds.dataset(files, format="parquet").to_table(columns=columns)
    return list(zip(*(t.column(c).to_pylist() for c in columns)))


EDGE_COLS = ["src", "pred", "dst", "var", "conv_id"]


def stored_graph(graph: str, composed: bool, state: dict | None = None):
    """-> (edge rows, canonical rows) as committed, as lists so that
    duplicate rows stay visible. ``composed`` derives same_as from the
    current alias mapping, as ``read_graph_edges`` does for appended graphs;
    otherwise the edges table is taken as written. ``state`` pins table ->
    data_dirs (a snapshot); default: current."""
    def files(table):
        if state is not None:
            return snapshot_files(graph, table, state[table])
        return current_files(graph, table)

    edges = _rows(files("edges"), EDGE_COLS)
    if composed:
        edges = [e for e in edges if e[1] != "same_as"]
        for entity, root in _rows(files("alias_mapping"), ["entity", "canonical_id"]):
            if entity != root:
                edges.append((f"e:{entity}", "same_as", f"e:{root}", None, None))
    canonical = _rows(files("canonical"), ["mention_id", "canonical_id"])
    return edges, canonical


def oracle_input(transcripts, sample: set[str] | None):
    """The oracle's input: whole conversations of ``sample`` (all when None)
    plus every alias-introduction turn elsewhere, since those turns alone
    determine same_as and the canonical map."""
    if sample is None:
        return transcripts
    keep = transcripts["conv_id"].isin(sample) | transcripts["text"].map(
        lambda t: isinstance(t, str) and bool(INTRO.match(t))
    )
    return transcripts[keep]


def compare_graph(got, want, sample: set[str] | None, label: str) -> list[str]:
    """Edges of the sampled conversations plus all global (same_as) edges,
    and the canonical id of every sampled mention, must be identical, and
    the stored graph must hold each of those edges and mentions once."""
    got_edges, got_canon = got
    want_edges, want_canon = want

    def keep_edge(e):
        return e[4] is None or sample is None or e[4] in sample

    def keep_mention(mid):
        return sample is None or mid.split(":")[1] in sample

    problems = []

    def dups(rows, what):
        d = [r for r, n in collections.Counter(rows).items() if n > 1]
        if d:
            problems.append(f"{label}: {len(d)} {what} stored more than once, "
                            f"e.g. {sorted(d, key=str)[:3]}")

    edges = [e for e in got_edges if keep_edge(e)]
    canon = [(m, c) for m, c in got_canon if keep_mention(m)]
    dups(edges, "edges")
    dups([m for m, _ in canon], "mentions of canonical")
    g, w = set(edges), {e for e in want_edges if keep_edge(e)}
    if g != w:
        problems.append(
            f"{label}: edges differ from oracle: missing {sorted(w - g, key=str)[:3]} "
            f"extra {sorted(g - w, key=str)[:3]} ({len(w - g)} missing, {len(g - w)} extra)"
        )
    gc = dict(canon)
    wc = {k: v for k, v in want_canon.items() if keep_mention(k)}
    if gc != wc:
        bad = sorted(k for k in set(gc) | set(wc) if gc.get(k) != wc.get(k))
        problems.append(f"{label}: canonical map differs on {len(bad)} mentions, e.g. {bad[:3]}")
    return problems


def duckdb_answers(edges_files: list[str], mapping_files: list[str], params: dict) -> dict:
    """Each query of the mix as DuckDB SQL over the given committed files."""
    import duckdb

    from queries import SQL

    def files(paths):
        return "[" + ", ".join("'" + p.replace("'", "''") + "'" for p in paths) + "]"

    con = duckdb.connect()
    try:
        con.execute("SET threads = 1")
        # the edge view read_graph_edges composes: stored per-conversation
        # edges without same_as, plus same_as from the current alias mapping
        con.execute(
            "CREATE TEMP TABLE E AS "
            f"SELECT src, pred, dst, var, conv_id FROM read_parquet({files(edges_files)}) "
            "WHERE pred <> 'same_as' "
            "UNION ALL SELECT 'e:' || entity, 'same_as', 'e:' || canonical_id, "
            "CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR) "
            f"FROM read_parquet({files(mapping_files)}) WHERE entity <> canonical_id"
        )
        out = {}
        for name, sql in SQL.items():
            used = {k: v for k, v in params.items() if f"${k}" in sql}
            out[name] = con.execute(sql, used).fetchall()
        return out
    finally:
        con.close()


def compare_answers(got: dict, want: dict, label: str) -> list[str]:
    problems = []
    for name, rows in got.items():
        if collections.Counter(map(tuple, rows)) != collections.Counter(map(tuple, want[name])):
            problems.append(
                f"{label} {name}: {len(rows)} rows differ from DuckDB's {len(want[name])}"
            )
        elif not rows or rows == [(False,)]:
            problems.append(f"{label} {name}: empty answer")
    return problems
