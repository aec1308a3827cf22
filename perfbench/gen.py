"""Seeded input generator for the perfbench workloads.

Writes, as parquet, the two inputs the program consumes:

- transcripts ``(conv_id, turn_idx, role, text, tool, ts)``
- an entity dictionary ``(surface, canonical, namespace, kind, prior, defs_state)``

Everything is drawn from ``numpy.random.default_rng([seed, workload])``; the
same seed gives the same files. The properties the program depends on are
explicit: conversation count and length distribution, hot conversations
(100x the median length), vocabulary size, the shares of ambiguous, def-verb
and alias surfaces, of alias-introduction turns (and how often a batch's
introductions reuse earlier names, which merges components), of failing tool
outputs and empty texts, and the batch size. The constants below are shared
by both workloads; a ``Profile`` holds what differs. Total turn counts are
fixed per workload (lengths are drawn, then nudged to the target sum) so the
amount of work does not drift with the seed.

Usage:  python3 perfbench/gen.py --workload build_full --seed 7 --out DIR
"""

from __future__ import annotations

import argparse
import dataclasses
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TOOLS = ("search", "calc", "db", "shell")
NAMESPACES = ("core", "infra", "data", "web")
RARE_NAMESPACE = "legacy"  # q_describe target; a few entities, a few conversations
DEF_VERBS = ("set", "put", "add", "insert", "push", "append")
FAIL_TEXT = "tool output: no results"

# Filler text is plain English; entity surfaces are two words synthesized from
# the syllables below, so filler never spells a surface.
TEMPLATES_1 = (
    "check the {a} again. it looked stale yesterday",
    "the {a} looks fine to me",
    "what is the status of {a}?",
    "we should document {a}! later though",
    "{A} needs a restart. can you confirm",
    "{a} now references {a} internally",
)
TEMPLATES_2 = (
    "compare {a} with {b}",
    "please update {a} using {b}. then verify {a}",
    "move traffic from {a} to {b}! watch the logs",
    "is {a} older than {b}? i think so",
)
TEMPLATES_3 = ("link {a}, {b} and {c} together. then report back",)
TEMPLATES_0 = (
    "thanks, sounds good",
    "continuing with the plan",
    "ok. next step please",
)
TOOL_OK = ("tool output: {a} resolved ok", "tool output: {a} -> {n} records")

_SYLLABLES = (
    "ka", "lo", "mi", "ter", "vex", "dra", "qui", "sol", "pon", "rix", "zu", "bel",
    "cor", "dun", "fyn", "gal", "hex", "jor", "kel", "lum", "mor", "nax", "oph", "pry",
    "ryn", "sek", "tav", "ulm", "vor", "wex", "yar", "zen",
)


# Shared by both workloads.
MEDIAN_LEN = 16  # turns; lengths are log-normal around it, clipped to [2, MAX_LEN]
MAX_LEN = 60
HOT_FACTOR = 100  # hot conversations are HOT_FACTOR x MEDIAN_LEN turns
AMBIGUOUS_SHARE = 0.15  # of base entities with a rival candidate
DEF_VERB_SHARE = 0.25  # of base entities with a "<verb> <surface>" def surface
FAIL_SHARE = 0.2  # of tool turns whose output is the failure marker
EMPTY_SHARE = 0.01  # of user/assistant turns with empty text
BATCH_CONV = 20  # conversations in the one append batch
N_FILES = 4  # parquet files the corpus is split over


@dataclasses.dataclass(frozen=True)
class Profile:
    n_conv: int  # corpus conversations, hot ones included
    n_hot: int
    vocab: int  # base entities
    alias_share: float  # of base entities with an alias surface
    intro_share: float  # of corpus user/assistant turns that introduce an alias
    batch_intro_share: float  # the same in the append batch
    merge_bias: float  # of batch introductions reusing already-introduced names


PROFILES = {
    # bulk construction: the largest corpus, hot conversations and a large
    # vocabulary, so mention detection, linking and the parquet writes do
    # the most per-row work; the appended batch is small and plain
    "build_full": Profile(
        n_conv=250, n_hot=2, vocab=500, alias_share=0.2,
        intro_share=0.03, batch_intro_share=0.03, merge_bias=0.0,
    ),
    # serving shape: a small base graph without hot conversations, then
    # a batch whose alias introductions mostly name aliases and entities
    # already introduced, so they merge components across the append
    "append_query": Profile(
        n_conv=200, n_hot=0, vocab=300, alias_share=0.3,
        intro_share=0.04, batch_intro_share=0.15, merge_bias=0.7,
    ),
}

TRANSCRIPT_SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
    ]
)
DICTIONARY_SCHEMA = pa.schema(
    [
        ("surface", pa.string()),
        ("canonical", pa.string()),
        ("namespace", pa.string()),
        ("kind", pa.string()),
        ("prior", pa.float64()),
        ("defs_state", pa.bool_()),
    ]
)


def _words(rng: np.random.Generator, n: int) -> list[str]:
    """n distinct pseudo-words of 2-3 syllables (never an English filler)."""
    out: list[str] = []
    seen: set[str] = set()
    while len(out) < n:
        k = 2 + int(rng.integers(0, 2))
        w = "".join(_SYLLABLES[i] for i in rng.integers(0, len(_SYLLABLES), k))
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


class Vocabulary:
    """Base entities plus their derived surfaces, as dictionary rows and as
    the surface pools the transcript writer samples from."""

    def __init__(self, rng: np.random.Generator, p: Profile):
        words = _words(rng, 2 * p.vocab)
        self.base: list[str] = []  # surfaces of base entities
        self.alias: list[str] = []  # alias surfaces (own canonical until merged)
        self.def_verb: list[str] = []
        self.tool_ambiguous: dict[str, list[str]] = {t: [] for t in TOOLS}
        self.legacy: list[str] = []
        rows = []
        n_legacy = max(2, p.vocab // 50)
        for i in range(p.vocab):
            surface = f"{words[2 * i]} {words[2 * i + 1]}"
            canonical = f"{words[2 * i]}_{words[2 * i + 1]}"
            legacy = i < n_legacy
            ns = RARE_NAMESPACE if legacy else NAMESPACES[int(rng.integers(0, len(NAMESPACES)))]
            prior = float(rng.choice([0.8, 0.85, 0.9]))
            rows.append((surface, canonical, ns, "artifact", prior, False))
            self.base.append(surface)
            if legacy:
                self.legacy.append(surface)
                continue  # legacy surfaces stay unambiguous: they must link to ns legacy
            u = rng.random()
            if u < AMBIGUOUS_SHARE / 3:
                # tool-kind rival: wins only in an assistant turn invoking its tool
                # (prior - 0.2 + 0.3 context bonus), loses everywhere else
                tool = TOOLS[int(rng.integers(0, len(TOOLS)))]
                rows.append((surface, f"{canonical}_{tool}", tool, "tool", prior - 0.2, False))
                self.tool_ambiguous[tool].append(surface)
            elif u < 2 * AMBIGUOUS_SHARE / 3:
                # equal-prior rival: the canonical-ascending tie-break decides
                rows.append((surface, f"_{canonical}", "alt", "system", prior, False))
            elif u < AMBIGUOUS_SHARE:
                rows.append((surface, f"{canonical}_alt", "alt", "system", 0.4, False))
            if rng.random() < DEF_VERB_SHARE:
                verb = DEF_VERBS[int(rng.integers(0, len(DEF_VERBS)))]
                s = f"{verb} {surface}"
                rows.append((s, canonical, ns, "artifact", prior, True))
                self.def_verb.append(s)
            if rng.random() < p.alias_share:
                s = f"{surface} alias"
                rows.append((s, f"{canonical}_alias", ns, "artifact", 0.75, False))
                self.alias.append(s)
        for t in TOOLS:
            rows.append((f"{t} tool", f"tool_{t}", t, "tool", 0.95, False))
        self.rows = rows
        self.mentionable = self.base[n_legacy:] + self.def_verb + [f"{t} tool" for t in TOOLS]


class Writer:
    """Turns of one conversation at a time, sampled from the vocabulary."""

    def __init__(self, rng: np.random.Generator, vocab: Vocabulary):
        self.rng, self.v = rng, vocab
        self.t0 = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)
        self.introduced: list[tuple[str, str]] = []  # (alias, entity) of past introductions
        self.merge_bias = 0.0

    def _pick(self, pool: list[str]) -> str:
        return pool[int(self.rng.integers(0, len(pool)))]

    def _entity(self, tool: str | None) -> str:
        r = self.rng.random()
        if tool is not None and self.v.tool_ambiguous[tool] and r < 0.3:
            return self._pick(self.v.tool_ambiguous[tool])
        if self.v.alias and r < 0.4:
            return self._pick(self.v.alias)
        return self._pick(self.v.mentionable)

    def _text(self, role: str, tool: str | None, intro_share: float) -> str:
        rng = self.rng
        if role == "tool":
            if rng.random() < FAIL_SHARE:
                return FAIL_TEXT
            t = TOOL_OK[int(rng.integers(0, len(TOOL_OK)))]
            return t.format(a=self._entity(None), n=int(rng.integers(1, 50)))
        if self.v.alias and rng.random() < intro_share:
            # alias introduction: the alias joins the named entity's
            # component; reusing names introduced earlier merges components
            if self.introduced and rng.random() < self.merge_bias:
                alias = self.introduced[int(rng.integers(0, len(self.introduced)))][0]
                entity = self.introduced[int(rng.integers(0, len(self.introduced)))][1]
            else:
                alias, entity = self._pick(self.v.alias), self._entity(None)
            self.introduced.append((alias, entity))
            return f"introducing {alias} as {entity}"
        r = rng.random()
        if r < EMPTY_SHARE:
            return ""
        if r < 0.2:
            return TEMPLATES_0[int(rng.integers(0, len(TEMPLATES_0)))]
        if r < 0.6:
            t = TEMPLATES_1[int(rng.integers(0, len(TEMPLATES_1)))]
        elif r < 0.95:
            t = TEMPLATES_2[int(rng.integers(0, len(TEMPLATES_2)))]
        else:
            t = TEMPLATES_3[0]
        a = self._entity(tool)
        return t.format(a=a, A=a.capitalize(), b=self._entity(tool), c=self._entity(None))

    def conversation(self, conv_id: str, n_turns: int, intro_share: float, legacy: bool):
        rng = self.rng
        rows = []
        start = self.t0 + dt.timedelta(seconds=int(rng.integers(0, 86400)))
        role, run = "user", 0
        for i in range(n_turns):
            tool = None
            if role == "assistant" and i + 1 < n_turns and rng.random() < 0.35:
                tool = TOOLS[int(rng.integers(0, len(TOOLS)))]
            if legacy and i == 0:
                text = f"the {self._pick(self.v.legacy)} is deprecated. migrate it"
            else:
                text = self._text(role, tool, intro_share)
            rows.append((conv_id, i, role, text, tool, start + dt.timedelta(seconds=13 * i)))
            # next role: tool runs follow invoking assistant turns; user runs
            # of length two open several segments per conversation
            if tool is not None:
                role, run = "tool", 1
            elif role == "tool":
                if run < 2 and rng.random() < 0.2:
                    run += 1
                else:
                    role = "assistant" if rng.random() < 0.5 else "user"
            elif role == "user":
                role = "user" if rng.random() < 0.1 else "assistant"
            else:
                role = "assistant" if rng.random() < 0.1 else "user"
        return rows


def _lengths(rng: np.random.Generator, n: int, n_hot: int) -> list[int]:
    """Log-normal lengths around the median, clipped to [2, MAX_LEN], then
    nudged one turn at a time so the total is exactly n * median (plus the
    hot conversations), whatever the seed."""
    lens = np.clip(np.round(rng.lognormal(np.log(MEDIAN_LEN), 0.5, n - n_hot)), 2, MAX_LEN)
    lens = lens.astype(int)
    target = (n - n_hot) * MEDIAN_LEN
    while lens.sum() != target:
        i = int(rng.integers(0, len(lens)))
        if lens.sum() < target and lens[i] < MAX_LEN:
            lens[i] += 1
        elif lens.sum() > target and lens[i] > 2:
            lens[i] -= 1
    return [MEDIAN_LEN * HOT_FACTOR] * n_hot + lens.tolist()


def _write_transcripts(path: str, rows: list[tuple], n_files: int) -> None:
    """Whole conversations round-robin over ``n_files`` parquet files."""
    os.makedirs(path, exist_ok=True)
    convs = sorted({r[0] for r in rows})
    shard = {c: i % n_files for i, c in enumerate(convs)}
    for k in range(n_files):
        part = [r for r in rows if shard[r[0]] == k]
        cols = list(zip(*part))
        table = pa.Table.from_arrays(
            [pa.array(c, type=f.type) for c, f in zip(cols, TRANSCRIPT_SCHEMA)],
            schema=TRANSCRIPT_SCHEMA,
        )
        pq.write_table(table, os.path.join(path, f"part-{k:03d}.parquet"))


def generate(workload: str, seed: int, out: str) -> dict:
    """Write the workload's inputs under ``out``; return a description
    (paths, conversation ids, counts) that the benchmark reads back."""
    p = PROFILES[workload]
    rng = np.random.default_rng([seed, sorted(PROFILES).index(workload)])
    vocab = Vocabulary(rng, p)
    writer = Writer(rng, vocab)

    dict_path = os.path.join(out, "dictionary")
    os.makedirs(dict_path, exist_ok=True)
    cols = list(zip(*vocab.rows))
    pq.write_table(
        pa.Table.from_arrays(
            [pa.array(c, type=f.type) for c, f in zip(cols, DICTIONARY_SCHEMA)],
            schema=DICTIONARY_SCHEMA,
        ),
        os.path.join(dict_path, "part-000.parquet"),
    )

    def corpus(prefix: str, n: int, n_hot: int, intro_share: float, n_legacy: int):
        rows = []
        for i, length in enumerate(_lengths(rng, n, n_hot)):
            conv = f"{prefix}{i:05d}"
            rows += writer.conversation(conv, length, intro_share, legacy=i < n_legacy)
        return rows

    desc = {"workload": workload, "seed": seed, "dictionary": dict_path,
            "namespace": RARE_NAMESPACE, "dictionary_rows": len(vocab.rows)}
    main = corpus("c", p.n_conv, p.n_hot, p.intro_share, n_legacy=3)
    desc["corpus"] = os.path.join(out, "corpus")
    _write_transcripts(desc["corpus"], main, N_FILES)
    desc["corpus_turns"] = len(main)
    desc["hot"] = [f"c{i:05d}" for i in range(p.n_hot)]
    desc["point_conv"] = f"c{p.n_hot + 3:05d}"  # a mid-sized conversation
    writer.merge_bias = p.merge_bias
    rows = corpus("b", BATCH_CONV, 0, p.batch_intro_share, n_legacy=0)
    desc["batch"] = os.path.join(out, "batch")
    _write_transcripts(desc["batch"], rows, 1)
    return desc


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=sorted(PROFILES), required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    print(json.dumps(generate(args.workload, args.seed, args.out), indent=1))


if __name__ == "__main__":
    main()
