"""Kill/resume + materialization tests (SURVEY §5.2 item 3c, north_rule)."""

from __future__ import annotations

import hashlib
import json

import pytest

from jcpg_spark import io as tio
from jcpg_spark.plans.materialize import run_pipeline
from jcpg_spark.synth import gazetteer_pdf, synth_transcripts

STAGES = ["mentions", "linked", "alias_mapping", "edges", "nodes", "canonical", "_metrics"]


@pytest.fixture(scope="module")
def t_small(spark):
    df = synth_transcripts(spark, 10, skew=False).persist()
    df.count()
    return df


def _fp(spark, base, name):
    rows = sorted(tuple(r) for r in tio.read_table(spark, base, name).collect())
    return hashlib.sha256(json.dumps(rows, default=str).encode()).hexdigest()


def _crash_after(monkeypatch, stage):
    """Make io.write_table raise right after ``stage`` commits."""
    write = tio.write_table

    def crashing(df, base_dir, name, *a, **kw):
        man = write(df, base_dir, name, *a, **kw)
        if name == stage:
            raise RuntimeError(f"injected failure after stage {name}")
        return man

    monkeypatch.setattr(tio, "write_table", crashing)


def test_kill_resume_identical_output(spark, dictionary, t_small, tmp_path, monkeypatch):
    clean, resumed = str(tmp_path / "clean"), str(tmp_path / "resumed")

    s0 = run_pipeline(spark, t_small, dictionary, clean)
    assert s0.stages_computed == STAGES

    # crash after the 'linked' stage commits
    _crash_after(monkeypatch, "linked")
    with pytest.raises(RuntimeError, match="injected failure"):
        run_pipeline(spark, t_small, dictionary, resumed)
    monkeypatch.undo()
    assert tio.is_committed(resumed, "linked")
    assert not tio.is_committed(resumed, "edges")

    # resume: committed stages skipped, remaining computed
    s2 = run_pipeline(spark, t_small, dictionary, resumed)
    assert s2.stages_skipped == ["mentions", "linked"]
    assert s2.stages_computed == ["alias_mapping", "edges", "nodes", "canonical", "_metrics"]

    # resumed output identical to the clean run, table by table
    for name in STAGES:
        assert _fp(spark, clean, name) == _fp(spark, resumed, name), name


def test_rerun_is_noop(spark, dictionary, t_small, tmp_path):
    base = str(tmp_path / "t")
    run_pipeline(spark, t_small, dictionary, base)
    s = run_pipeline(spark, t_small, dictionary, base)
    assert s.stages_computed == []
    assert s.stages_skipped == STAGES


def test_manifest_lineage(spark, dictionary, t_small, tmp_path):
    from jcpg_spark.pipeline import build_graph

    base = str(tmp_path / "t")
    s = run_pipeline(spark, t_small, dictionary, base)
    man = s.manifests["edges"]
    assert man["rows"] == sum(man["lineage"].values())
    assert man["rows"] == tio.read_table(spark, base, "edges").count()
    # a stored table holds only the stage's columns: no layout helpers
    cols = {name: tio.read_table(spark, base, name).columns for name in STAGES}
    assert not [n for n, c in cols.items() if {"_pid", "_bucket_key"} & set(c)], cols
    assert cols["edges"] == build_graph(spark, t_small, dictionary).edges.columns
    # metrics table total matches the edges manifest
    metrics = {r["pred"]: r["n_triples"] for r in tio.read_table(spark, base, "_metrics").collect()}
    assert metrics["__total__"] == man["rows"]


def test_materialized_edges_match_build_graph(spark, dictionary, t_small, tmp_path):
    from pyspark.sql import functions as F

    from jcpg_spark.pipeline import build_graph

    base = str(tmp_path / "t")
    run_pipeline(spark, t_small, dictionary, base)
    mat = {tuple(r) for r in tio.read_table(spark, base, "edges").collect()}
    direct = {tuple(r) for r in build_graph(spark, t_small, dictionary).edges.collect()}
    assert mat == direct


def test_materialized_nodes_match_build_graph_and_stage_walls(
    spark, dictionary, t_small, tmp_path
):
    """Nodes parity catches pipeline/materialize drift (e.g. a node layer
    added to one but not the other); computed stages record wall times."""
    from jcpg_spark.pipeline import build_graph

    base = str(tmp_path / "t")
    s = run_pipeline(spark, t_small, dictionary, base)

    def canon(rows):  # props is a map -> make rows hashable
        return {
            tuple(v if not isinstance(v, dict) else tuple(sorted(v.items())) for v in r)
            for r in rows
        }

    mat = canon(tio.read_table(spark, base, "nodes").collect())
    direct = canon(build_graph(spark, t_small, dictionary).nodes.collect())
    assert mat == direct
    assert set(s.stage_walls) == set(s.stages_computed)
    assert all(w >= 0 for w in s.stage_walls.values())


def test_fan_out_widens_narrow_scan_only(spark, tmp_path):
    """fan_out repartitions a 1-partition input up to defaultParallelism,
    leaves an already-wide input untouched (the production no-op path),
    and preserves the row multiset either way."""
    df = spark.range(1000).coalesce(1)
    wide = tio.fan_out(df)
    assert wide.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    assert sorted(r.id for r in wide.collect()) == list(range(1000))

    already = spark.range(1000).repartition(spark.sparkContext.defaultParallelism + 4)
    assert tio.fan_out(already) is already

    assert tio.fan_out(df, min_partitions=7).rdd.getNumPartitions() == 7


def test_snapshot_append_time_travel_rollback_expire(spark, tmp_path):
    """Iceberg-parity snapshot lifecycle on the io seam: replace -> append
    (O(new) commit) -> time-travel reads -> rollback (pointer swap) ->
    expire (unreferenced dirs deleted, survivors intact)."""
    import os

    from jcpg_spark import io as tio

    base = str(tmp_path)
    df1 = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    m1 = tio.write_table(df1, base, "t")
    assert (m1["snapshot_id"], m1["rows"]) == (1, 2)

    df2 = spark.createDataFrame([(3, "c")], "id long, v string")
    m2 = tio.write_table(df2, base, "t", mode="append")
    assert (m2["snapshot_id"], m2["rows"]) == (2, 3)
    assert m2["data_dirs"] == ["snap-1", "snap-2"]

    df3 = spark.createDataFrame([(9, "z")], "id long, v string")
    m3 = tio.write_table(df3, base, "t")  # replace
    assert (m3["snapshot_id"], m3["rows"]) == (3, 1)

    def ids(snapshot=None):
        return sorted(
            r["id"] for r in tio.read_table(spark, base, "t", snapshot=snapshot).collect()
        )

    assert ids() == [9]
    assert ids(snapshot=1) == [1, 2]
    assert ids(snapshot=2) == [1, 2, 3]
    log = tio.snapshots(base, "t")
    assert [(e["id"], e["op"], e["parent"]) for e in log] == [
        (1, "replace", None), (2, "append", 1), (3, "replace", 2)]

    # rollback: current view = snapshot 2; log intact; data untouched
    tio.rollback(base, "t", 2)
    assert ids() == [1, 2, 3]
    assert tio.read_manifest(base, "t")["rows"] == 3
    assert len(tio.snapshots(base, "t")) == 3

    # expire keeps the current snapshot 2 and its parent 1 (ancestry, not
    # log position): snapshot 3 was rolled past, so it and its dir go
    assert tio.expire_snapshots(base, "t", keep_last=2) == [3]
    assert ids() == [1, 2, 3]
    path = tio.table_path(base, "t")
    assert not os.path.exists(os.path.join(path, "snap-3"))

    # move current forward again: the new id must NOT reuse 3 (rollback
    # left current=2, and 3 is no longer logged; current+1 or log max+1
    # would hand it out again) — it allocates past the highest id ever allocated
    df4 = spark.createDataFrame([(7, "q")], "id long, v string")
    m4 = tio.write_table(df4, base, "t")  # replace
    assert m4["snapshot_id"] == 4
    expired = tio.expire_snapshots(base, "t", keep_last=1)
    assert set(expired) == {1, 2}
    assert ids() == [7]
    gone = [d for d in ("snap-1", "snap-2", "snap-3") if os.path.exists(os.path.join(path, d))]
    assert gone == [], gone
    assert os.path.exists(os.path.join(path, "snap-4"))

    # footer lineage: a partition written as several files is one lineage
    # key whose rows are the files' sum
    conf = "spark.sql.files.maxRecordsPerFile"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "1")
    try:
        df5 = spark.range(6).repartition(2)  # round-robin: 3 rows each
        m5 = tio.write_table(df5, base, "t")
    finally:
        spark.conf.set(conf, old)
    files = [f for f in os.listdir(os.path.join(path, "snap-5")) if f.endswith(".parquet")]
    assert len(files) == 6 and m5["partitions"] == 2, (files, m5["lineage"])
    assert sum(m5["lineage"].values()) == m5["rows"] == 6
    assert tio.read_table(spark, base, "t").count() == 6

    # an empty write commits zero rows and zero partitions
    m6 = tio.write_table(df5.limit(0), base, "t")
    assert (m6["rows"], m6["partitions"], m6["lineage"]) == (0, 0, {})
    assert ids() == []


def test_expire_after_rolled_back_append_drops_the_rolled_back_snapshot(spark, tmp_path):
    """write, append, rollback to 1, append, expire: the retried append's
    parent is 1, so the rolled-back snapshot 2 is the one expired, and
    its directory is deleted."""
    import os

    base = str(tmp_path)
    df = spark.createDataFrame([(1,)], "id long")
    tio.write_table(df, base, "t")
    tio.write_table(df, base, "t", mode="append")
    tio.rollback(base, "t", 1)
    assert tio.write_table(df, base, "t", mode="append")["snapshot_id"] == 3
    assert tio.expire_snapshots(base, "t") == [2]
    assert [(e["id"], e["op"], e["parent"]) for e in tio.snapshots(base, "t")] == [
        (1, "replace", None), (3, "append", 1)]
    path = tio.table_path(base, "t")
    assert sorted(d for d in os.listdir(path) if d.startswith("snap-")) == [
        "snap-1", "snap-3"]


def test_manifest_ddl_schema_guard_rollback_and_name_list_fallback(spark, tmp_path):
    """Each snapshot records its read-back schema as DDL; an append of
    another schema is refused before anything is written; rollback restores
    the snapshot's DDL; a manifest whose schema is a column-name list (the
    older format) still reads, by footer inference."""
    import os

    base = str(tmp_path)
    path = tio.table_path(base, "t")
    df1 = spark.createDataFrame([(1, "a")], "id long not null, v string")
    m1 = tio.write_table(df1, base, "t")
    assert m1["schema"] == m1["snapshots"][0]["schema"] == "id BIGINT,v STRING"

    bad = spark.createDataFrame([(2, 3)], "id long, v int")
    with pytest.raises(ValueError, match="schema"):
        tio.write_table(bad, base, "t", mode="append")
    assert tio.read_manifest(base, "t") == m1
    assert sorted(d for d in os.listdir(path) if d.startswith("snap-")) == ["snap-1"]

    m2 = tio.write_table(spark.createDataFrame([(5,)], "n int"), base, "t")  # replace
    assert m2["schema"] == "n INT"
    assert tio.rollback(base, "t", 1)["schema"] == m1["schema"]
    got = tio.read_table(spark, base, "t")
    assert got.schema == spark.read.parquet(os.path.join(path, "snap-1")).schema
    assert [tuple(r) for r in got.collect()] == [(1, "a")]
    assert tio.read_table(spark, base, "t", snapshot=2).columns == ["n"]

    man = tio.read_manifest(base, "t")
    man["schema"] = ["id", "v"]
    for e in man["snapshots"]:
        e["schema"] = [f.name for f in spark.read.parquet(
            *[os.path.join(path, d) for d in e["data_dirs"]]).schema]
    tio._commit_pointer(path, man)
    assert [tuple(r) for r in tio.read_table(spark, base, "t").collect()] == [(1, "a")]
    assert tio.read_table(spark, base, "t", snapshot=2).columns == ["n"]
    m3 = tio.write_table(df1, base, "t", mode="append")  # no DDL to check against
    assert m3["schema"] == "id BIGINT,v STRING"
    assert tio.read_table(spark, base, "t").count() == 2


def test_snapshot_reader_isolation_during_overwrite(spark, tmp_path):
    """A DataFrame resolved against the old snapshot still reads the old
    data after a new replace commit — the atomic-pointer property the
    in-place overwrite could not give."""
    from jcpg_spark import io as tio

    base = str(tmp_path)
    tio.write_table(
        spark.createDataFrame([(1,)], "id long"), base, "t2")
    old_reader = tio.read_table(spark, base, "t2", snapshot=1)
    tio.write_table(
        spark.createDataFrame([(2,)], "id long"), base, "t2")
    assert [r["id"] for r in old_reader.collect()] == [1]
    assert [r["id"] for r in tio.read_table(spark, base, "t2").collect()] == [2]


def test_append_conversations_equals_full_build(spark, dictionary, tmp_path):
    """Incremental ingest contract: run_pipeline on the first batch +
    append_conversations on the second == build_graph over the full
    corpus, row-identical — including same_as merges that span the two
    batches (the canonicalization is re-solved, not appended)."""
    from collections import Counter

    import pytest as _pytest
    from pyspark.sql import functions as F

    from jcpg_spark.pipeline import build_graph
    from jcpg_spark.plans.materialize import (
        append_conversations,
        read_graph_edges,
        run_pipeline,
    )
    from jcpg_spark.synth import synth_transcripts

    # plus a 2-turn conversation in the first batch that mentions no
    # dictionary surface: it has no mentions rows, only a conversation node
    quiet = spark.createDataFrame(
        [("quiet000", 0, "user", "hello there", None, None),
         ("quiet000", 1, "assistant", "good day", None, None)],
        synth_transcripts(spark, 1, skew=False).schema,
    )
    t_all = synth_transcripts(spark, 16, skew=False).unionByName(quiet).persist()
    convs = sorted(r["conv_id"] for r in t_all.select("conv_id").distinct().collect())
    first = convs[:10] + ["quiet000"]
    t_a = t_all.filter(F.col("conv_id").isin(first))
    t_b = t_all.filter(~F.col("conv_id").isin(first))
    out = str(tmp_path / "inc")

    run_pipeline(spark, t_a, dictionary, out)
    s = append_conversations(spark, t_b, dictionary, out)
    assert "edges" in s.stages_computed and "alias_mapping" in s.stages_computed

    got = sorted(tuple(r) for r in read_graph_edges(spark, out).collect())
    want = sorted(tuple(r) for r in build_graph(spark, t_all, dictionary).edges.collect())
    assert got == want and want

    # appended snapshots really are appends: edges table has 2 snapshots,
    # the second op is append
    from jcpg_spark import io as tio

    log = tio.snapshots(out, "edges")
    assert [e["op"] for e in log] == ["replace", "append"]

    # the full-corpus edge view also matches after a re-read via time
    # travel to snapshot 1 + the second batch alone (sanity on data_dirs)
    n1 = tio.read_table(spark, out, "edges", snapshot=1).count()
    n2 = tio.read_table(spark, out, "edges").count()
    assert n1 < n2

    # nodes compose too: the append emits only the global nodes (entity,
    # tool, role, namespace) the build had not committed
    def canon(df):  # props is a map -> make rows hashable
        return Counter(
            tuple(v if not isinstance(v, dict) else tuple(sorted(v.items())) for v in r)
            for r in df.collect()
        )

    got_nodes = canon(tio.read_table(spark, out, "nodes"))
    assert got_nodes == canon(build_graph(spark, t_all, dictionary).nodes)
    assert max(got_nodes.values()) == 1

    # re-ingest guard: same batch again must refuse, and so must the
    # mention-less conversation of the first batch alone
    assert not tio.read_table(spark, out, "mentions").where(
        F.col("conv_id") == "quiet000").count()
    with _pytest.raises(ValueError, match="overlaps"):
        append_conversations(spark, t_b, dictionary, out)
    with _pytest.raises(ValueError, match="overlaps"):
        append_conversations(
            spark, t_all.filter(F.col("conv_id") == "quiet000"), dictionary, out)


def _split(spark, n_convs, n_parts):
    """Synthetic corpus of ``n_convs`` conversations and its ``n_parts``
    conv_id-disjoint batches (none of them persisted)."""
    from pyspark.sql import functions as F

    t_all = synth_transcripts(spark, n_convs, skew=False)
    convs = sorted(r["conv_id"] for r in t_all.select("conv_id").distinct().collect())
    size = -(-len(convs) // n_parts)
    return t_all, [
        t_all.filter(F.col("conv_id").isin(convs[i:i + size]))
        for i in range(0, len(convs), size)
    ]


def test_failed_append_rolls_back_and_retries(spark, dictionary, tmp_path, monkeypatch):
    """An append that crashes mid-batch leaves every table at its
    pre-batch snapshot, so retrying the same batch is accepted and yields
    the full-corpus graph."""
    from jcpg_spark.pipeline import build_graph
    from jcpg_spark.plans.materialize import append_conversations, read_graph_edges

    t_all, (t_a, t_b) = _split(spark, 12, 2)
    out = str(tmp_path / "inc")
    run_pipeline(spark, t_a, dictionary, out)
    before = {name: tio.read_manifest(out, name)["snapshot_id"] for name in STAGES}

    _crash_after(monkeypatch, "edges")
    with pytest.raises(RuntimeError, match="injected failure"):
        append_conversations(spark, t_b, dictionary, out)
    monkeypatch.undo()
    assert {name: tio.read_manifest(out, name)["snapshot_id"] for name in STAGES} == before

    append_conversations(spark, t_b, dictionary, out)
    got = sorted(tuple(r) for r in read_graph_edges(spark, out).collect())
    want = sorted(tuple(r) for r in build_graph(spark, t_all, dictionary).edges.collect())
    assert got == want and want


def test_build_and_appends_hold_one_cached_batch(spark, dictionary, tmp_path):
    """A build plus three appends keep at most one input batch cached,
    expire superseded snapshots down to two per table, and compose to the
    full-corpus graph."""
    import os

    from jcpg_spark.pipeline import build_graph
    from jcpg_spark.plans.materialize import append_conversations, read_graph_edges

    t_all, batches = _split(spark, 16, 4)
    out = str(tmp_path / "inc")

    def cached():
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    base = cached()
    sizes = []
    for i, batch in enumerate(batches):
        (append_conversations if i else run_pipeline)(spark, batch, dictionary, out)
        sizes.append(cached() - base)
    assert max(sizes) <= 1, sizes

    for name in ("canonical", "alias_mapping", "_metrics"):
        snaps = [d for d in os.listdir(tio.table_path(out, name)) if d.startswith("snap-")]
        assert sorted(snaps) == ["snap-3", "snap-4"], (name, snaps)
    got = sorted(tuple(r) for r in read_graph_edges(spark, out).collect())
    want = sorted(tuple(r) for r in build_graph(spark, t_all, dictionary).edges.collect())
    assert got == want and want


def test_warm_append_reads_manifest_schemas_and_reuses_compiled_code(
    spark, dictionary, tmp_path
):
    """After a build, an append in the same session finds the build's
    generated classes in the codegen cache (at most 40 new compiles), and
    every committed table reads with the schema its manifest records:
    equal to what footer inference gives, with no Spark job to build the
    read."""
    import os

    from jcpg_spark.plans.materialize import append_conversations

    _t_all, (t_a, t_b) = _split(spark, 12, 2)
    out = str(tmp_path / "inc")
    run_pipeline(spark, t_a, dictionary, out)
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics \
        .METRIC_COMPILATION_TIME()
    before = compiles.getCount()
    append_conversations(spark, t_b, dictionary, out)
    assert compiles.getCount() - before <= 40, compiles.getCount() - before

    sc = spark.sparkContext
    sc.setJobGroup("manifest-reads", "read_table / read_added with manifest schemas")
    try:
        reads = {name: (tio.read_table(spark, out, name), tio.read_added(spark, out, name))
                 for name in STAGES}
        assert list(sc.statusTracker().getJobIdsForGroup("manifest-reads")) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    for name, (current, added) in reads.items():
        path = tio.table_path(out, name)
        dirs = tio.read_manifest(out, name)["data_dirs"]
        inferred = spark.read.parquet(*[os.path.join(path, d) for d in dirs]).schema
        assert current.schema == inferred, name
        assert added.schema == inferred, name
