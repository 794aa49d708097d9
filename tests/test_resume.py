"""Kill/resume + materialization tests (SURVEY §5.2 item 3c, north_rule)."""

from __future__ import annotations

import hashlib
import json
import os

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


def test_kill_resume_identical_output(spark, dictionary, t_small, tmp_path):
    clean, resumed = str(tmp_path / "clean"), str(tmp_path / "resumed")

    s0 = run_pipeline(spark, t_small, dictionary, clean)
    assert s0.stages_computed == STAGES

    # crash after the 'linked' stage commits
    with pytest.raises(RuntimeError, match="injected failure"):
        run_pipeline(spark, t_small, dictionary, resumed, fail_after="linked")
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
    base = str(tmp_path / "t")
    s = run_pipeline(spark, t_small, dictionary, base)
    man = s.manifests["edges"]
    assert man["rows"] == sum(man["lineage"].values())
    assert man["rows"] == tio.read_table(spark, base, "edges").count()
    assert man["bucket_col"] == "_bucket_key"
    # metrics table total matches the edges manifest
    metrics = {r["pred"]: r["n_triples"] for r in tio.read_table(spark, base, "_metrics").collect()}
    assert metrics["__total__"] == man["rows"]


def test_repeated_build_compiles_no_new_codegen_classes(spark, dictionary, t_small, tmp_path):
    """A second run_pipeline over the same input reuses every generated
    class: the session's codegen cache must hold a whole build. If a layer
    grows a build past the cache size the LRU misses on every class and
    each build recompiles all of them."""
    codegen = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def compiled():
        return codegen.METRIC_COMPILATION_TIME().getCount()

    c0 = compiled()
    run_pipeline(spark, t_small, dictionary, str(tmp_path / "first"))
    c1 = compiled()
    run_pipeline(spark, t_small, dictionary, str(tmp_path / "second"))
    c2 = compiled()
    assert c2 - c1 == 0, (
        f"repeated build compiled {c2 - c1} classes (first build: {c1 - c0}); "
        f"spark.sql.codegen.cache.maxEntries="
        f"{spark.conf.get('spark.sql.codegen.cache.maxEntries')} no longer holds a build"
    )


def _snapshot_counts(spark, base, name, snapshot_id):
    snap = os.path.join(tio.table_path(base, name), f"snap-{snapshot_id}")
    return {str(r["_pid"]): r["count"]
            for r in spark.read.parquet(snap).groupBy("_pid").count().collect()}


@pytest.mark.parametrize("case", ["bucketed", "unbucketed", "empty", "append"])
def test_footer_lineage_matches_spark_count(spark, tmp_path, case):
    """write_table's lineage, read from parquet footers, equals a Spark
    groupBy("_pid").count() over the files the snapshot wrote."""
    base = str(tmp_path)
    df = spark.range(0, 2000, numPartitions=3).selectExpr("id", "id % 7 AS k")
    if case == "bucketed":
        man = tio.write_table(df, base, "t", bucket_col="id", num_buckets=32)
        snap = os.path.join(tio.table_path(base, "t"), "snap-1")
        assert sum(f.endswith(".parquet") for f in os.listdir(snap)) == 32
        assert man["partitions"] == 32
    elif case == "unbucketed":
        man = tio.write_table(df, base, "t")
        assert man["partitions"] == 3
    elif case == "empty":
        man = tio.write_table(df.filter("id < 0"), base, "t")
        assert (man["lineage"], man["rows"], man["partitions"]) == ({}, 0, 0)
    else:
        tio.write_table(df, base, "t", bucket_col="k", num_buckets=4)
        man = tio.write_table(df.limit(500).repartition(2), base, "t", mode="append")
        assert man["rows"] == 2500
        assert sum(man["lineage"].values()) == 500
    assert man["lineage"] == _snapshot_counts(spark, base, "t", man["snapshot_id"])
    assert man["snapshots"][-1]["lineage"] == man["lineage"]


def test_footer_lineage_rejects_unusable_pid_statistics(tmp_path):
    """A file holding rows of two partitions, or without _pid statistics,
    cannot give lineage from its footer: raise, do not guess."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    mixed, nostats = tmp_path / "mixed", tmp_path / "nostats"
    mixed.mkdir()
    nostats.mkdir()
    table = pa.table({"id": [1, 2], "_pid": pa.array([0, 1], pa.int32())})
    pq.write_table(table, mixed / "part-00000.parquet")
    pq.write_table(table.slice(0, 1), nostats / "part-00000.parquet", write_statistics=False)
    for snap in (mixed, nostats):
        with pytest.raises(ValueError, match="_pid statistics"):
            tio._footer_lineage(str(snap))


def test_materialized_edges_match_build_graph(spark, dictionary, t_small, tmp_path):
    from pyspark.sql import functions as F

    from jcpg_spark.pipeline import build_graph

    base = str(tmp_path / "t")
    run_pipeline(spark, t_small, dictionary, base)
    mat = {
        tuple(r)
        for r in tio.read_table(spark, base, "edges").drop("_bucket_key").collect()
    }
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

    # expire all but the last 2 entries + current: snapshot 3's dir
    # survives (logged), snapshot 1's dir survives (referenced by current
    # snapshot 2) — nothing is actually deletable here
    assert tio.expire_snapshots(base, "t", keep_last=2) == [1]
    assert ids() == [1, 2, 3]

    # move current forward again: the new id must NOT collide with the
    # logged snapshot 3 (rollback left current=2; naive current+1 would
    # overwrite snap-3's data) — it allocates past the log maximum
    df4 = spark.createDataFrame([(7, "q")], "id long, v string")
    m4 = tio.write_table(df4, base, "t")  # replace
    assert m4["snapshot_id"] == 4
    expired = tio.expire_snapshots(base, "t", keep_last=1)
    assert set(expired) == {2, 3}
    assert ids() == [7]
    path = tio.table_path(base, "t")
    gone = [d for d in ("snap-1", "snap-2", "snap-3") if os.path.exists(os.path.join(path, d))]
    assert gone == [], gone
    assert os.path.exists(os.path.join(path, "snap-4"))


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
    import pytest as _pytest
    from pyspark.sql import functions as F

    from jcpg_spark.pipeline import build_graph
    from jcpg_spark.plans.materialize import (
        append_conversations,
        read_graph_edges,
        run_pipeline,
    )
    from jcpg_spark.synth import synth_transcripts

    t_all = synth_transcripts(spark, 16, skew=False).persist()
    convs = sorted(r["conv_id"] for r in t_all.select("conv_id").distinct().collect())
    first = convs[:10]
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

    # re-ingest guard: same batch again must refuse
    with _pytest.raises(ValueError, match="overlaps"):
        append_conversations(spark, t_b, dictionary, out)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_build_paths_do_not_pin_the_graph_view(spark, dictionary, tmp_path):
    """run_pipeline + append_conversations leave no graph view cached:
    append's _metrics stage reads the uncached composition."""
    from pyspark.sql import functions as F

    from jcpg_spark import caching
    from jcpg_spark.plans.materialize import _compose_graph_edges, append_conversations

    t_all = synth_transcripts(spark, 12, skew=False)
    first = sorted(r["conv_id"] for r in t_all.select("conv_id").distinct().collect())[:8]
    out = str(tmp_path / "g")
    caching.clear_caches()
    run_pipeline(spark, t_all.filter(F.col("conv_id").isin(first)), dictionary, out)
    append_conversations(spark, t_all.filter(~F.col("conv_id").isin(first)), dictionary, out)
    assert "materialize.graph_edges" not in caching._live
    level = _compose_graph_edges(spark, out).storageLevel
    assert not (level.useMemory or level.useDisk), level


def test_graph_view_serves_the_current_commit(spark, dictionary, tmp_path):
    """read_graph_edges persists its view and equals the uncached
    composition row for row after an append, a rollback, and a directory
    replaced by another writer's copy; a call releases the previous
    call's view."""
    import shutil

    from pyspark.sql import functions as F

    from jcpg_spark.plans.materialize import (
        _compose_graph_edges,
        append_conversations,
        read_graph_edges,
    )

    t_all = synth_transcripts(spark, 16, skew=False).persist()
    convs = sorted(r["conv_id"] for r in t_all.select("conv_id").distinct().collect())
    dir1, dir2 = str(tmp_path / "a"), str(tmp_path / "b")
    run_pipeline(spark, t_all.filter(F.col("conv_id").isin(convs[:10])), dictionary, dir1)
    run_pipeline(spark, t_all.filter(F.col("conv_id").isin(convs[10:])), dictionary, dir2)

    def fresh(out):
        view = read_graph_edges(spark, out)
        assert view.storageLevel.useMemory
        assert _rows(view) == _rows(_compose_graph_edges(spark, out))
        return view

    v0 = fresh(dir1)
    rows0 = _rows(v0)

    # (a) an append to edges and a replace of alias_mapping
    append_conversations(
        spark, t_all.filter(F.col("conv_id").isin(convs[10:])), dictionary, dir1
    )
    v1 = fresh(dir1)
    assert len(_rows(v1)) > len(rows0)
    assert not v0.storageLevel.useMemory  # released by the later call

    # (b) rollback of both tables
    tio.rollback(dir1, "edges", 1)
    tio.rollback(dir1, "alias_mapping", 1)
    assert _rows(fresh(dir1)) == rows0

    # (c) dir1 replaced by a copy of dir2: same snapshot ids and file
    # paths, and no Spark write touched dir1. Spark's CacheManager matches
    # plans by path, so the uncached composition of dir1 could itself hit
    # a stale view; compare against rows collected from dir2 as well.
    rows_b = _rows(_compose_graph_edges(spark, dir2))
    assert rows_b != rows0
    read_graph_edges(spark, dir1).count()
    shutil.rmtree(dir1)
    shutil.copytree(dir2, dir1)
    assert tio.read_manifest(dir1, "edges")["snapshot_id"] == 1
    assert _rows(fresh(dir1)) == rows_b
    t_all.unpersist()


def test_repeated_ask_compiles_no_new_codegen_classes(spark, dictionary, t_small, tmp_path):
    """An ASK with new constants reuses the generated classes of the
    previous one (a code-generated LocalLimit names its counter per plan
    instance, so a LIMIT 1 plan compiled fresh classes on every call)."""
    from jcpg_spark.operators.query import ask
    from jcpg_spark.plans.materialize import read_graph_edges

    base = str(tmp_path / "t")
    run_pipeline(spark, t_small, dictionary, base)
    edges = read_graph_edges(spark, base)
    ents = sorted(r["src"] for r in edges.filter("pred = 'same_as'").select("src").distinct().collect())
    assert len(ents) >= 2
    codegen = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def answer(entity):
        return ask(edges, [(entity, "same_as", "?y")]).collect()

    assert answer("e:no_such_entity") == [(False,)]  # warm-up
    c0 = codegen.METRIC_COMPILATION_TIME().getCount()
    assert answer(ents[0]) == [(True,)]
    assert answer(ents[1]) == [(True,)]
    assert codegen.METRIC_COMPILATION_TIME().getCount() - c0 == 0
