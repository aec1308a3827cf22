#!/usr/bin/env python3
"""perfbench: end-to-end benchmark of the transcript-KG program.

    python3 perfbench/run.py --workload {build_full,append_query} --seed N \
        --seconds S --trace {0,1}

Run from the repository root. The benchmark generates its inputs from the
seed (perfbench/gen.py), drives the program only through its public
functions (``session.get_spark``, ``plans.materialize.run_pipeline`` /
``append_conversations`` / ``read_graph_edges``, ``operators.query``), checks
every output after the timed window (perfbench/checks.py) and prints, as the
last line of standard output, one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics, or with ``--trace 1`` the
per-layer metrics, see perfbench/spans.py).

A run is: set-up (session start, input generation), then one round of
three operations, each timed once: a build of the workload's corpus into a
fresh directory, an append of one new batch to it and one pass of the query
mix over the grown graph. ``--seconds`` is accepted because the benchmark's
command line carries it, but a run is always that one round: a round takes
45-55 s, far more than any run length the command sets. Everything it writes
stays under ``.perfbench_work/`` in the working directory; the per-run
directory is removed at exit, a traced run's span file is kept next to it.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = ".perfbench_work"
STAGES = ("mentions", "linked", "alias_mapping", "edges", "nodes", "canonical", "_metrics")
DRIVER_MEM = "2g"
MAX_CORES = 4
SAMPLE_CONVS = 30  # conversations compared whole against the oracle, plus one hot one


def log(msg: str) -> None:
    print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def descendants() -> list[int]:
    """Process ids of every live descendant of this process, from /proc."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], list(children.get(os.getpid(), []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo += children.get(pid, [])
    return out


class PeakRss(threading.Thread):
    """Peak summed resident memory of this process and all its descendants
    (the JVM and the Python workers it forks), sampled read-only from /proc.

    Each process counts its proportional set size (``Pss`` of smaps_rollup):
    pages the forked Python workers share with their daemon are split among
    the sharers instead of being counted once per worker, so the sum is the
    memory the tree really holds."""

    def __init__(self, interval: float = 0.25):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak = 0
        self._halt = threading.Event()

    @staticmethod
    def _pss(pid: int) -> int:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
        return 0

    def sample(self) -> None:
        total = 0
        for pid in [os.getpid()] + descendants():
            try:
                total += self._pss(pid)
            except (OSError, IndexError, ValueError):
                continue
        self.peak = max(self.peak, total)

    def run(self) -> None:
        while not self._halt.is_set():
            self.sample()
            self._halt.wait(self.interval)

    def stop(self) -> None:
        self._halt.set()
        self.join()


class Bench:
    """One run: set-up, the timed round, checks, metrics."""

    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.graph = os.path.join(work, "graph")
        self.ops = {"build": [0, 0], "append": [0, 0], "query": [0, 0]}  # attempted, failed
        self.problems: list[str] = []
        self.records: dict[str, dict] = {}  # build, append, query_pass

    # -- session and inputs ---------------------------------------------------
    def start(self) -> None:
        from jcpg_spark.session import get_spark

        import gen

        cores = min(MAX_CORES, len(os.sched_getaffinity(0)))
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')} -XX:-UsePerfData",
        }
        if self.args.trace:
            os.makedirs(os.path.join(self.work, "eventlog"))
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": os.path.join(self.work, "eventlog"),
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.compress": "false",
            })
        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name="perfbench", master=f"local[{cores}]", shuffle_partitions=cores,
            extra_conf=conf,
        )
        self.session_start_s = time.perf_counter() - t0
        self.desc = gen.generate(self.args.workload, self.args.seed,
                                 os.path.join(self.work, "inputs"))
        self.dictionary = self.spark.read.parquet(self.desc["dictionary"])
        if self.args.trace:
            from spans import Tracer

            self.tracer = Tracer(self.spark.sparkContext)
            self.tracer.install()
        else:
            from spans import NullTracer

            self.tracer = NullTracer()

    def stop_session(self) -> dict:
        """Stop Spark and wait for its JVM to exit (which also flushes the
        event log); when traced, return the spans' Spark counters and write
        the span file."""
        from pyspark import SparkContext

        from spans import parse_event_log, span_stats

        self.tracer.uninstall()
        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is not None and getattr(gateway, "proc", None) is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=60)
        # the Python worker daemon exits once the JVM is gone; wait for it,
        # and stop whatever is still running after that
        deadline = time.monotonic() + 20
        while descendants() and time.monotonic() < deadline:
            time.sleep(0.05)
        for pid in descendants():
            os.kill(pid, signal.SIGKILL)
        log("session stopped")
        if not self.args.trace:
            return {}
        logdir = os.path.join(self.work, "eventlog")
        jobs = {}
        for f in os.listdir(logdir):
            jobs.update(parse_event_log(os.path.join(logdir, f)))
        stats = span_stats(self.tracer.spans, jobs)
        path = os.path.join(WORK_ROOT, f"trace-{self.args.workload}-seed{self.args.seed}.json")
        self.tracer.dump(path, stats)
        print(f"spans: {path}")
        return stats

    # -- operations -----------------------------------------------------------
    def _attempt(self, kind: str, fn):
        self.ops[kind][0] += 1
        try:
            return fn()
        except Exception:  # an operation that raises is a failed operation
            self.ops[kind][1] += 1
            self.problems.append(f"{kind} raised: {traceback.format_exc(limit=3)}")
            log(self.problems[-1])
            return None

    def _graph_op(self, kind: str, inputs: str) -> None:
        from jcpg_spark.plans.materialize import append_conversations, run_pipeline

        call = run_pipeline if kind == "build" else append_conversations
        t = self.spark.read.parquet(inputs)
        rec = self.records[kind] = {"kind": kind, "inputs": inputs}

        def go():
            with self.tracer.op(kind) as rec["span"]:
                t0 = time.perf_counter()
                try:
                    call(self.spark, t, self.dictionary, self.graph)
                finally:
                    rec["wall_s"] = time.perf_counter() - t0
            return True

        rec["ok"] = bool(self._attempt(kind, go))
        log(f"{kind} {os.path.basename(inputs)}: {rec['wall_s']:.2f}s")

    def query_pass(self) -> None:
        from jcpg_spark.plans.materialize import read_graph_edges

        import checks
        from queries import query_mix

        mix = query_mix(self.desc["point_conv"], self.desc["namespace"])
        rec = self.records["query_pass"] = {
            "kind": "query_pass", "answers": {}, "query_s": {}, "query_spans": {}}
        with self.tracer.span("query_pass") as span:
            t0 = time.perf_counter()
            try:
                edges = read_graph_edges(self.spark, self.graph)
            except Exception:  # no graph to read: every query of the pass fails
                edges = None
            for name, fn in mix:
                with self.tracer.span(f"query.{name}") as qs:
                    q0 = time.perf_counter()
                    rows = self._attempt("query", lambda fn=fn: fn(edges))
                    rec["query_s"][name] = time.perf_counter() - q0
                rec["query_spans"][name] = qs
                if rows is not None:
                    rec["answers"][name] = rows
            rec["wall_s"] = time.perf_counter() - t0
        rec["span"] = span
        if edges is not None:
            # the committed files this pass read, for the DuckDB check
            rec["edges_files"] = checks.current_files(self.graph, "edges")
            rec["mapping_files"] = checks.current_files(self.graph, "alias_mapping")
        log(f"query pass: {rec['wall_s']:.2f}s")

    # -- the run --------------------------------------------------------------
    def run(self) -> dict:
        rss = PeakRss()
        rss.start()
        t0 = time.perf_counter()
        self.start()
        self.setup_s = time.perf_counter() - t0

        self._graph_op("build", self.desc["corpus"])
        self._graph_op("append", self.desc["batch"])
        self.query_pass()
        self.stored_b = dir_bytes(self.graph)
        rss.stop()
        self.peak_rss_b = rss.peak

        self.check()
        stats = self.stop_session()
        attempted = sum(a for a, _ in self.ops.values())
        failed = sum(f for _, f in self.ops.values())
        print("ops (attempted/failed): " + ", ".join(
            f"{k} {a}/{f}" for k, (a, f) in self.ops.items()))
        for p in self.problems:
            print(f"CHECK FAILED: {p}")
        metrics = self.layer_metrics(stats) if self.args.trace else self.end_to_end()
        return {"correct": not self.problems, "attempted": attempted, "failed": failed,
                "metrics": metrics}

    # -- checks (after the timed window) --------------------------------------
    def check(self) -> None:
        import pandas as pd
        import pyarrow.parquet as pq

        import checks
        from tests.oracle.pandas_oracle import oracle_graph

        d = self.desc
        dictionary = pq.read_table(d["dictionary"]).to_pandas()
        corpus = pq.read_table(d["corpus"]).to_pandas()

        def fail(rec, problems):
            # a mismatch fails the operation that produced the output: the
            # build or append once, or each query whose answer differs
            if rec["kind"] == "query_pass":
                self.ops["query"][1] += len(problems)
            elif problems and rec["ok"]:
                rec["ok"] = False
                self.ops[rec["kind"]][1] += 1
            self.problems += problems

        # a fixed-size sample of whole conversations (plus a hot one, if the
        # corpus has them) and every alias-introduction turn, which alone
        # determine same_as
        convs = sorted(set(corpus["conv_id"]) - set(d["hot"]))
        sample = set(random.Random(self.args.seed).sample(convs, SAMPLE_CONVS))
        sample |= set(d["hot"][:1])

        build, append, qp = (self.records[k] for k in ("build", "append", "query_pass"))
        if build["ok"]:
            # the build as first committed (snapshot 1 of every table)
            first = {t: checks.manifest(self.graph, t)["snapshots"][0]["data_dirs"]
                     for t in ("edges", "canonical", "alias_mapping")}
            want = oracle_graph(checks.oracle_input(corpus, sample), dictionary)
            fail(build, checks.compare_graph(
                checks.stored_graph(self.graph, composed=False, state=first),
                want, sample, "build"))
            fail(build, checks.check_manifests(self.graph, 0, 1))
        if append["ok"]:
            # build + append == one pass over corpus and batch: the sample
            # (the hot conversation was checked with the build), the whole
            # batch and every introduction turn
            batch = pq.read_table(append["inputs"]).to_pandas()
            keep = (sample - set(d["hot"])) | set(batch["conv_id"])
            grown = pd.concat([corpus, batch], ignore_index=True)
            want = oracle_graph(checks.oracle_input(grown, keep), dictionary)
            fail(append, checks.compare_graph(
                checks.stored_graph(self.graph, composed=True), want, keep, "append"))
            fail(append, checks.check_manifests(self.graph, 1, None))
        if qp["answers"]:
            want_q = checks.duckdb_answers(
                qp["edges_files"], qp["mapping_files"],
                {"point": d["point_conv"], "ns": d["namespace"]})
            fail(qp, checks.compare_answers(qp["answers"], want_q, "query"))
        log(f"checks done: {len(self.problems)} problems")

    # -- metrics --------------------------------------------------------------
    def end_to_end(self) -> dict:
        r = self.records
        return {
            "setup_s": {"value": self.setup_s, "unit": "s"},
            "build_s": {"value": r["build"]["wall_s"], "unit": "s"},
            "append_s": {"value": r["append"]["wall_s"], "unit": "s"},
            "query_mix_s": {"value": r["query_pass"]["wall_s"], "unit": "s"},
            "peak_rss_mb": {"value": self.peak_rss_b / 2**20, "unit": "MB"},
            "stored_mb": {"value": self.stored_b / 2**20, "unit": "MB"},
        }

    def layer_metrics(self, stats: dict) -> dict:
        from queries import query_mix

        kids: dict = {}
        for s in self.tracer.spans:
            kids.setdefault(s["parent"], []).append(s)

        def under(rec, name):
            """Spans called ``name`` below the operation ``rec``."""
            out, todo = [], list(kids.get(rec["span"]["id"], []))
            while todo:
                s = todo.pop()
                if s["name"] == name:
                    out.append(s)
                todo += kids.get(s["id"], [])
            return out

        def total(rec, name, f):
            return sum(f(s) for s in under(rec, name))

        # stage spans come from the operation that does most of the work on
        # this workload: the bulk build, or the append to a merged graph
        focus = self.records["build" if self.args.workload == "build_full" else "append"]
        append, qp = self.records["append"], self.records["query_pass"]
        m: dict = {}

        def put(name, value, unit):
            m[name] = {"value": value, "unit": unit}

        for t in STAGES:
            found = under(focus, f"stage.{t}")  # none if the operation failed early
            st = stats[found[0]["id"]] if found else dict.fromkeys(
                ("wall_s", "jobs", "cpu_s", "shuffle_b", "written_b"), 0)
            put(f"stage.{t}.wall_s", st["wall_s"], "s")
            put(f"stage.{t}.jobs", st["jobs"], "count")
            put(f"stage.{t}.task_cpu_s", st["cpu_s"], "s")
            put(f"stage.{t}.shuffle_mb", st["shuffle_b"] / 2**20, "MB")
            put(f"stage.{t}.written_mb", st["written_b"] / 2**20, "MB")
        put("canonicalize.cc_s",
            total(focus, "canonicalize.cc", lambda s: stats[s["id"]]["wall_s"]), "s")
        put("canonicalize.pairs",
            total(focus, "canonicalize.cc", lambda s: s["attrs"].get("pairs", 0)), "count")
        put("io.write_s", total(focus, "io.write", lambda s: stats[s["id"]]["wall_s"]), "s")
        put("io.files_written", total(focus, "io.write", lambda s: sum(
            f.endswith(".parquet") for f in os.listdir(s["attrs"]["snap_dir"]))), "count")
        put("materialize.check_disjoint_s", total(
            append, "materialize.check_disjoint", lambda s: stats[s["id"]]["wall_s"]), "s")
        put("materialize.write_amplification", total(
            append, "io.write", lambda s: dir_bytes(s["attrs"]["snap_dir"]))
            / dir_bytes(append["inputs"]), "B/B")
        for key, unit in (("jobs", "count"), ("tasks", "count"), ("driver_s", "s")):
            put(f"spark.{key}", sum(stats[r["span"]["id"]][key]
                                    for r in self.records.values()), unit)
        for name, _fn in query_mix("", ""):
            q = stats[qp["query_spans"][name]["id"]]
            put(f"query.{name}.s", qp["query_s"][name], "s")
            put(f"query.{name}.rows_read", q["records_read"], "rows")
            put(f"query.{name}.jobs", q["jobs"], "count")
        put("session.start_s", self.session_start_s, "s")
        for t in ("mentions", "edges", "nodes"):
            put(f"rows.{t}", total(focus, "io.write", lambda s, t=t: (
                s["attrs"]["rows"] if s["attrs"]["table"] == t else 0)), "rows")
        return m


def main() -> None:
    ap = argparse.ArgumentParser(description="transcript-KG end-to-end benchmark")
    ap.add_argument("--workload", choices=("build_full", "append_query"), required=True)
    ap.add_argument("--seed", type=int, required=True)
    # accepted for the benchmark's command line; a run is always one round
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    # the program and its oracle are imported from the repository root
    sys.path.insert(1, ROOT)
    work = os.path.abspath(os.path.join(WORK_ROOT, f"run-{os.getpid()}"))
    os.makedirs(os.path.join(work, "tmp"))
    # Spark, its Python workers and the program's package shipping write
    # temporary files under TMPDIR, and SPARK_LOCAL_DIRS would override
    # spark.local.dir: keep both inside the working directory
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JCPG_DRIVER_MEM"] = DRIVER_MEM
    try:
        result = Bench(args, work).run()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
