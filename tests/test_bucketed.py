"""Bucketed edge store (sources/bucketed.py): the write-once co-location
layer.  Pins the two plan shapes that make it worth having at 100 TB —
aggregation and co-bucketed join over the bucketed scan plan with ZERO
Exchange — and the graph edge layout built over it with no shuffle, with
Pregel results equal to the plain path's."""

import pytest
from pyspark.sql import functions as F

from pregel_rs_spark import GraphFrame, MessageReceiver, PregelBuilder, msg, subject
from pregel_rs_spark.columns import OBJECT, SUBJECT
from pregel_rs_spark.sources.bucketed import (
    read_bucketed,
    write_bucketed,
    write_bucketed_edges,
    write_bucketed_edges_by_object,
)


def _formatted_plan(spark, df) -> str:
    return spark._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


@pytest.fixture()
def edges_df(spark):
    # 200 edges over 50 vertices, deterministic
    return spark.range(200).select(
        (F.col("id") % 50).alias("subject"),
        ((F.col("id") * 7 + 3) % 50).alias("object"),
    ).filter(F.col("subject") != F.col("object"))


@pytest.fixture()
def bucketed_edges(spark, edges_df, tmp_path):
    name = "test_edges_bucketed"
    write_bucketed_edges(edges_df, name, buckets=8,
                         path=str(tmp_path / "edges_b"))
    yield name
    spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_bucketed_groupby_has_no_exchange(spark, bucketed_edges):
    """out-degree over the bucketed scan: the bucket spec satisfies the
    aggregation's clustering requirement, so the plan has no Exchange —
    the 100 TB degree job never shuffles the edge table."""
    deg = (
        read_bucketed(spark, bucketed_edges)
        .groupBy("subject")
        .agg(F.count(F.lit(1)).alias("out_degree"))
    )
    plan = _formatted_plan(spark, deg)
    assert "Exchange" not in plan, plan
    # and the result is the real degree table
    rows = {r.subject: r.out_degree for r in deg.collect()}
    assert sum(rows.values()) == 200  # no id solves 6*id+3 ≡ 0 (mod 50)


def test_plain_scan_same_data_does_exchange(spark, bucketed_edges, edges_df):
    """Control: the identical aggregation over a NON-bucketed source plans
    an Exchange — proves the test above is detecting the bucket spec, not
    some other rewrite."""
    deg = edges_df.groupBy("subject").agg(F.count(F.lit(1)).alias("d"))
    assert "Exchange" in _formatted_plan(spark, deg)


def test_cobucketed_join_has_no_exchange(spark, edges_df, tmp_path):
    """Edges and a vertex-state table bucketed identically (same key
    expression domain, same bucket count) join with zero Exchange and no
    broadcast — the layout replaces the shuffle."""
    state = edges_df.select(F.col("subject").alias("vertex_id")).distinct() \
        .withColumn("rank", F.lit(1.0))
    write_bucketed(edges_df, "test_e_cb", buckets=8, key="subject",
                   path=str(tmp_path / "e_cb"))
    write_bucketed(state, "test_s_cb", buckets=8, key="vertex_id",
                   path=str(tmp_path / "s_cb"))
    prev_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = read_bucketed(spark, "test_e_cb").join(
            read_bucketed(spark, "test_s_cb"),
            F.col("subject") == F.col("vertex_id"),
        )
        plan = _formatted_plan(spark, j)
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan, plan
        assert j.count() == 200
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_bc)
        spark.sql("DROP TABLE IF EXISTS test_e_cb")
        spark.sql("DROP TABLE IF EXISTS test_s_cb")


def _max_value(graph: GraphFrame):
    return (
        PregelBuilder(graph)
        .max_iterations(4)
        .with_vertex_column("max_value")
        .initial_message(F.col("value"))
        .send_messages(MessageReceiver.OBJECT, subject("max_value"))
        .aggregate_messages(F.max(msg()))
        .v_prog(F.greatest(F.col("max_value"), msg()))
        .build()
        .run()
    )


def _shuffle_bytes(spark, group: str) -> list[int]:
    """Shuffle bytes written by each stage of the jobs under ``group``
    that wrote any; the group must have run a job."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    tracker, store = sc.statusTracker(), jsc.statusStore()
    jobs = tracker.getJobIdsForGroup(group)
    assert jobs, group
    stage_ids = set()
    for jid in jobs:
        stage_ids.update(tracker.getJobInfo(jid).stageIds)
    written = []
    for sid in sorted(stage_ids):
        info = tracker.getStageInfo(sid)
        if info is not None and info.numCompletedTasks:
            n = store.lastStageAttempt(sid).shuffleWriteBytes()
            if n:
                written.append(n)
    return written


@pytest.mark.parametrize(
    "key,write",
    [(SUBJECT, write_bucketed_edges), (OBJECT, write_bucketed_edges_by_object)],
    ids=[SUBJECT, OBJECT],
)
def test_edge_layout_over_bucketed_scan(spark, edges_df, tmp_path, key, write):
    """A table bucketed on the layout key at
    ``spark.sql.shuffle.partitions`` buckets is laid out already: the
    graph's edge layout on that key keeps the scan's hash partitioning,
    one partition per bucket, and its build writes no shuffle.  Max-value
    propagation over that graph equals the plain path exactly."""
    p = int(spark.conf.get("spark.sql.shuffle.partitions"))
    name = f"test_edges_layout_{key}"
    write(edges_df, name, buckets=p, path=str(tmp_path / name))
    try:
        vertices = edges_df.select(
            F.col("subject").alias("vertex_id")
        ).union(
            edges_df.select(F.col("object").alias("vertex_id"))
        ).distinct().withColumn("value", (F.col("vertex_id") * 13) % 101)

        bucketed = GraphFrame(vertices, read_bucketed(spark, name))
        group = f"bucketed-layout-{key}"
        spark.sparkContext.setJobGroup(group, group)
        try:
            layout = bucketed._edge_layout(key=key)
        finally:
            spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        part = layout._jdf.queryExecution().executedPlan().outputPartitioning()
        assert part.toString().startswith(f"hashpartitioning(edge.{key}#")
        assert part.toString().endswith(f", {p})"), part
        assert layout._ck_rdd.getNumPartitions() == p
        assert _shuffle_bytes(spark, group) == []

        plain = _max_value(GraphFrame(vertices, edges_df))
        fast = _max_value(bucketed)
        a = {r.vertex_id: r.max_value for r in plain.collect()}
        b = {r.vertex_id: r.max_value for r in fast.collect()}
        assert a == b
        bucketed.unpersist()
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_write_bucketed_edges_requires_edge_columns(spark):
    bad = spark.range(3).select(F.col("id").alias("src"))
    with pytest.raises(ValueError, match="subject"):
        write_bucketed_edges(bad, "nope", buckets=4)


def test_object_bucketed_indegrees_no_exchange(spark, edges_df, tmp_path):
    """The dual layout: bucketed by object → in-degree aggregation plans
    with zero Exchange, and values equal the plain-scan in-degrees."""
    write_bucketed_edges_by_object(
        edges_df, "t_edges_by_object", buckets=8,
        path=str(tmp_path / "by_object"),
    )
    be = read_bucketed(spark, "t_edges_by_object")
    agg = be.groupBy("object").agg(F.count(F.lit(1)).alias("in_degree"))
    plan = _formatted_plan(spark, agg)
    assert "Exchange" not in plan
    got = {r.object: r.in_degree for r in agg.collect()}
    want = {
        r.object: r.in_degree
        for r in edges_df.groupBy("object")
        .agg(F.count(F.lit(1)).alias("in_degree"))
        .collect()
    }
    assert got == want


def test_zorder_key_interleave_and_locality(spark):
    """4x4 grid with bits=2: buckets equal the coordinates themselves, so
    zkey is the textbook Morton code — hand-checked corners and the
    interleave identity zkey(x,y) = morton(x) + 2*morton(y); range
    validation raises."""
    from pregel_rs_spark.sources.bucketed import zorder_key

    rows = [(x, y) for x in range(4) for y in range(4)]
    df = spark.createDataFrame(rows, "x long, y long")
    got = {(r.x, r.y): r.zkey for r in zorder_key(df, "x", "y", bits=2).collect()}

    def morton1(v):
        return sum(((v >> i) & 1) << (2 * i) for i in range(2))

    assert got == {(x, y): morton1(x) + 2 * morton1(y) for x, y in rows}
    assert got[(0, 0)] == 0 and got[(3, 3)] == 15
    # z-order locality: both dimension-neighbors of (1,1) stay within the
    # same 4-key quadrant block
    assert max(abs(got[(1, 1)] - got[(2, 1)]), abs(got[(1, 1)] - got[(1, 2)])) <= 8
    import pytest as _p

    with _p.raises(ValueError):
        zorder_key(df, "x", "y", bits=0)
