"""Spans at the program's layer boundaries, timed from outside the program.

A traced run installs wrappers around functions the program looks up as
module attributes at call time (``jcpg_spark.io.write_table``,
``read_table``, ``operators.canonicalize.connected_components`` and its
driver union-find, ``operators.mentions.detect_mentions``), so no program
file changes. Span tree::

    build i | append j | query_pass k          (opened by the benchmark)
      stage.<table>                             (ends when <table> commits)
        materialize.check_disjoint              (append only)
        canonicalize.cc
        io.write
      query.<q>

A stage span starts where the previous one ended, so it covers plan
building, the driver-side work and the commit of that table (close to what
``RunSummary.stage_walls`` reports; the first stage also holds the input
persist and the dictionary collect). The check-disjoint span runs
from the first read of the committed ``mentions`` table in an append to the
call of ``detect_mentions`` (the probe join plus the dictionary collect).

Every span tags its Spark jobs with ``setJobGroup``; after the session stops,
``parse_event_log`` reads the Spark event log into per-job counters, and
``span_stats`` rolls them up the span tree (inclusive of children). Spans
stay in memory until ``dump``.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager, nullcontext


class NullTracer:
    """Untraced runs: the same calls, no spans, no wrappers."""

    def span(self, name, **attrs):
        return nullcontext()

    def op(self, name, **attrs):
        return nullcontext()

    def install(self):
        pass

    def uninstall(self):
        pass


class Tracer:
    """Span stack of one run; tags Spark jobs with the innermost open span."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self.stack: list[dict] = []
        self._orig: dict = {}

    # -- span bookkeeping -------------------------------------------------
    def _open(self, name, **attrs) -> dict:
        s = {
            "id": len(self.spans),
            "parent": self.stack[-1]["id"] if self.stack else None,
            "name": name,
            "start": time.time(),
            "end": None,
            "attrs": attrs,
        }
        self.spans.append(s)
        self.stack.append(s)
        self._tag(s)
        return s

    def _close(self, s: dict, name: str | None = None) -> None:
        if self.stack[-1] is not s:
            raise RuntimeError(f"span {s['name']} closed out of order")
        s["end"] = time.time()
        if name:
            s["name"] = name
        self.stack.pop()
        self._tag(self.stack[-1] if self.stack else None)

    def _tag(self, s: dict | None) -> None:
        if s is None:
            self.sc.setJobGroup("idle", "idle")
        else:
            self.sc.setJobGroup(f"span-{s['id']}", s["name"])

    @contextmanager
    def span(self, name, **attrs):
        s = self._open(name, **attrs)
        try:
            yield s
        finally:
            self._close(s)

    @contextmanager
    def op(self, name, **attrs):
        """An operation span with a running stage segment inside it."""
        s = self._open(name, **attrs)
        self._open("stage.pending", segment=True)
        try:
            yield s
        finally:
            while self.stack[-1] is not s:
                top = self.stack[-1]
                self._close(top, "op.tail" if top["attrs"].get("segment") else None)
            self._close(s)

    def _op(self) -> dict | None:
        for s in reversed(self.stack):
            if s["parent"] is None:
                return s
        return None

    def _close_check_disjoint(self) -> None:
        if self.stack and self.stack[-1]["name"] == "materialize.check_disjoint":
            self._close(self.stack[-1])

    # -- wrappers around the program's layer entry points ------------------
    def install(self) -> None:
        from jcpg_spark import io as tio
        from jcpg_spark.operators import canonicalize, mentions

        orig = self._orig = {
            "write_table": tio.write_table,
            "read_table": tio.read_table,
            "connected_components": canonicalize.connected_components,
            "_driver_union_find_rows": canonicalize._driver_union_find_rows,
            "detect_mentions": mentions.detect_mentions,
        }
        tracer = self

        def write_table(df, base_dir, name, *a, **kw):
            tracer._close_check_disjoint()
            with tracer.span("io.write", table=name) as w:
                man = orig["write_table"](df, base_dir, name, *a, **kw)
            w["attrs"]["snap_dir"] = os.path.join(base_dir, name, man["data_dirs"][-1])
            w["attrs"]["rows"] = sum(man["snapshots"][-1]["lineage"].values())
            op = tracer._op()
            if op is not None:
                op["attrs"]["writes"] = op["attrs"].get("writes", 0) + 1
                seg = tracer.stack[-1]
                if seg["attrs"].get("segment"):
                    tracer._close(seg, f"stage.{name}")
                    tracer._open("stage.pending", segment=True)
            return man

        def read_table(spark, base_dir, name, *a, **kw):
            op = tracer._op()
            if (
                name == "mentions"
                and op is not None
                and op["name"].startswith("append")
                and not op["attrs"].get("writes")
                and tracer.stack[-1]["attrs"].get("segment")
            ):
                tracer._open("materialize.check_disjoint")
            return orig["read_table"](spark, base_dir, name, *a, **kw)

        def connected_components(*a, **kw):
            with tracer.span("canonicalize.cc"):
                return orig["connected_components"](*a, **kw)

        def driver_union_find_rows(rows, *a, **kw):
            for s in reversed(tracer.stack):
                if s["name"] == "canonicalize.cc":
                    s["attrs"]["pairs"] = s["attrs"].get("pairs", 0) + len(rows)
                    break
            return orig["_driver_union_find_rows"](rows, *a, **kw)

        def detect_mentions(*a, **kw):
            tracer._close_check_disjoint()
            return orig["detect_mentions"](*a, **kw)

        tio.write_table = write_table
        tio.read_table = read_table
        canonicalize.connected_components = connected_components
        canonicalize._driver_union_find_rows = driver_union_find_rows
        mentions.detect_mentions = detect_mentions

    def uninstall(self) -> None:
        if not self._orig:
            return
        from jcpg_spark import io as tio
        from jcpg_spark.operators import canonicalize, mentions

        tio.write_table = self._orig["write_table"]
        tio.read_table = self._orig["read_table"]
        canonicalize.connected_components = self._orig["connected_components"]
        canonicalize._driver_union_find_rows = self._orig["_driver_union_find_rows"]
        mentions.detect_mentions = self._orig["detect_mentions"]
        self._orig = {}

    def dump(self, path: str, stats: dict) -> None:
        """Write the spans with their ``span_stats`` as one JSON file."""
        out = [dict(s, **{"self_s": stats[s["id"]]["self_s"], "spark": stats[s["id"]]})
               for s in self.spans]
        with open(path, "w") as f:
            json.dump({"spans": out}, f, indent=0, default=str)


def parse_event_log(path: str) -> dict:
    """-> {job_id: {group, start, end, tasks, cpu_s, shuffle_b, written_b,
    records_read}} from a non-rolling, uncompressed Spark event log."""
    jobs: dict = {}
    stage_job: dict = {}
    with open(path) as f:
        for line in f:
            if "SparkListenerJob" not in line and "SparkListenerTaskEnd" not in line:
                continue
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                jid = e["Job ID"]
                jobs[jid] = {
                    "group": (e.get("Properties") or {}).get("spark.jobGroup.id"),
                    "start": e["Submission Time"] / 1000.0,
                    "end": None,
                    "tasks": 0,
                    "cpu_s": 0.0,
                    "shuffle_b": 0,
                    "written_b": 0,
                    "records_read": 0,
                }
                for sid in e.get("Stage IDs", []):
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerJobEnd":
                if e["Job ID"] in jobs:
                    jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                j = jobs.get(stage_job.get(e.get("Stage ID")))
                m = e.get("Task Metrics")
                if j is None or not m:
                    continue
                j["tasks"] += 1
                j["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                j["shuffle_b"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                j["written_b"] += m.get("Output Metrics", {}).get("Bytes Written", 0)
                j["records_read"] += m.get("Input Metrics", {}).get("Records Read", 0)
    return jobs


def _covered(intervals: list[tuple[float, float]]) -> float:
    total, cur = 0.0, None
    for a, b in sorted(intervals):
        if cur is None or a > cur[1]:
            if cur is not None:
                total += cur[1] - cur[0]
            cur = [a, b]
        else:
            cur[1] = max(cur[1], b)
    if cur is not None:
        total += cur[1] - cur[0]
    return total


def span_stats(spans: list[dict], jobs: dict) -> dict:
    """Per span, inclusive of its children: jobs, tasks, executor CPU,
    shuffle and output bytes, input records, the wall time no Spark job of
    the span was running (``driver_s``), and self time (duration minus the
    time its child spans cover)."""
    by_id = {s["id"]: s for s in spans}
    stats = {
        s["id"]: {"jobs": 0, "tasks": 0, "cpu_s": 0.0, "shuffle_b": 0, "written_b": 0,
                  "records_read": 0, "intervals": []}
        for s in spans
    }
    for j in jobs.values():
        g = j["group"] or ""
        if not g.startswith("span-") or j["end"] is None:
            continue
        sid = int(g[5:])
        while sid is not None:
            st = stats[sid]
            st["jobs"] += 1
            for k in ("tasks", "cpu_s", "shuffle_b", "written_b", "records_read"):
                st[k] += j[k]
            st["intervals"].append((j["start"], j["end"]))
            sid = by_id[sid]["parent"]
    children: dict = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    for s in spans:
        st = stats[s["id"]]
        dur = (s["end"] or s["start"]) - s["start"]
        st["wall_s"] = dur
        st["driver_s"] = max(0.0, dur - _covered(
            [(max(a, s["start"]), min(b, s["end"])) for a, b in st["intervals"]
             if b > s["start"] and a < s["end"]]))
        st["self_s"] = dur - _covered(children.get(s["id"], []))
        del st["intervals"]
    return stats
