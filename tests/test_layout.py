"""The graph's physical layout: the ``subject``-partitioned edge table and
the out-degree vertex table are built once per GraphFrame (per
``spark.sql.shuffle.partitions``) and reused by every Pregel run on it,
until ``GraphFrame.unpersist()``."""

import pytest
from pyspark.sql import functions as F

from pregel_rs_spark import GraphFrame
from pregel_rs_spark import graphframe as graphframe_mod
from pregel_rs_spark.algorithms import pagerank, spam_mass
from pregel_rs_spark.pregel import _free_checkpoint

HUB_FAN_IN = 600
STEPS = {"tol": None, "max_iterations": 4}


@pytest.fixture
def star(spark):
    """Every vertex links to hub 0 (which dangles): one message receiver,
    so after the map-side combine a superstep shuffles at most one row per
    partition, while the edge table has HUB_FAN_IN rows."""
    e = spark.createDataFrame(
        [(i, 0) for i in range(1, HUB_FAN_IN + 1)], "subject long, object long"
    )
    g = GraphFrame.from_edges(e)
    yield g
    g.unpersist()


def _shuffle_records(spark, group: str) -> list[int]:
    """Shuffle records written by each stage of the jobs under ``group``."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    tracker, store = sc.statusTracker(), jsc.statusStore()
    stage_ids = set()
    for jid in tracker.getJobIdsForGroup(group):
        stage_ids.update(tracker.getJobInfo(jid).stageIds)
    records = []
    for sid in sorted(stage_ids):
        info = tracker.getStageInfo(sid)
        if info is not None and info.numCompletedTasks:
            n = store.lastStageAttempt(sid).shuffleWriteRecords()
            if n:
                records.append(n)
    return records


def _ranks(spark, graph, group: str, **kw) -> dict:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        res = pagerank(graph, **kw)
        return {r.vertex_id: r.rank for r in res.select("vertex_id", "rank").collect()}
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def _persistent_rdds(spark) -> set[int]:
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keySet()}


def test_second_pagerank_shuffles_only_messages(spark, star):
    partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
    first = _ranks(spark, star, "layout-first", **STEPS)
    second = _ranks(spark, star, "layout-second", **STEPS)
    assert second == first

    cold = _shuffle_records(spark, "layout-first")
    warm = _shuffle_records(spark, "layout-second")
    # the first call lays the graph out: the edge repartition moves every edge
    assert max(cold) >= HUB_FAN_IN
    # the second moves only combined messages and scalar aggregates — no
    # edge, vertex or state exchange
    assert warm and max(warm) <= partitions, warm


def test_spam_mass_builds_one_layout(spark, star, monkeypatch):
    builds = []
    real = graphframe_mod.truncate_plan

    def counting(df, *a, **kw):
        builds.append(df.columns)
        return real(df, *a, **kw)

    monkeypatch.setattr(graphframe_mod, "truncate_plan", counting)
    seeds = spark.createDataFrame([(1,), (2,)], "vertex_id long")
    out = spam_mass(star, seeds, **STEPS)
    assert out.count() == HUB_FAN_IN + 1
    # one edge layout and one degree table, shared by PageRank and TrustRank
    assert builds == [
        ["edge.subject", "edge.object"],
        ["vertex_id", "out_degree"],
    ]


def test_unpersist_returns_persistent_rdds_to_baseline(spark, star):
    baseline = _persistent_rdds(spark)
    res = pagerank(star, **STEPS)
    res.count()
    layout = {
        int(t._ck_rdd.id())
        for t in (*star._edge_layouts.values(), *star._degree_tables.values())
    }
    assert len(layout) == 2
    assert layout <= _persistent_rdds(spark) - baseline
    star.unpersist()
    _free_checkpoint(res)
    assert _persistent_rdds(spark) <= baseline
    # the graph lays itself out again on next use
    assert pagerank(star, **STEPS).count() == HUB_FAN_IN + 1


def test_changing_shuffle_partitions_rebuilds_layout(spark):
    e = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 3), (6, 1)],
        "subject long, object long",
    )
    g = GraphFrame.from_edges(e)
    key = "spark.sql.shuffle.partitions"
    p0 = spark.conf.get(key)
    try:
        wide = _ranks(spark, g, "layout-wide", **STEPS)
        spark.conf.set(key, "3")
        narrow = _ranks(spark, g, "layout-narrow", **STEPS)
    finally:
        spark.conf.set(key, p0)
    assert set(g._edge_layouts) == {int(p0), 3}
    assert g._edge_layouts[3]._ck_rdd.getNumPartitions() == 3
    assert set(wide) == set(narrow)
    for v, r in wide.items():
        assert narrow[v] == pytest.approx(r, abs=1e-12)
    g.unpersist()


def test_vertices_and_edges_are_read_only(spark, star):
    with pytest.raises(AttributeError):
        star.vertices = star.vertices
    with pytest.raises(AttributeError):
        star.edges = star.edges
    ranked = star.with_vertices(star.vertices.withColumn("x", F.lit(1)))
    assert ranked.closed and ranked.edges is star.edges
    assert ranked._edge_layouts is star._edge_layouts
