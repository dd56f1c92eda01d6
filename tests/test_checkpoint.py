"""Checkpoint/resume: manifests with per-partition lineage + metrics,
mid-run resume equivalence (north rule)."""

import pytest
from pyspark.sql import functions as F

from pregel_rs_spark import GraphFrame, MessageReceiver, PregelBuilder, msg
from pregel_rs_spark.plans.checkpoint import CheckpointStore

EDGES_A = list(zip([0, 0, 1, 2, 3, 4, 4, 4], [1, 2, 2, 3, 3, 1, 2, 3]))


def build(graph, store=None, max_iter=6):
    b = (
        PregelBuilder(graph)
        .max_iterations(max_iter)
        .initial_message(F.lit(0))
        .send_messages(MessageReceiver.OBJECT, F.lit(1))
        .aggregate_messages(F.sum(msg()))
        .v_prog(F.coalesce(msg(), F.lit(0)) + F.col("aux"))
    )
    if store is not None:
        b = b.with_checkpoint(store, every=2)
    return b.build()


def test_checkpoint_manifests(spark, tmp_path):
    e = spark.createDataFrame(EDGES_A, "subject long, object long")
    g = GraphFrame.from_edges(e)
    store = CheckpointStore(spark, str(tmp_path / "ck"), config_token="t1")
    written = []
    write = store.tables.write
    store.tables.write = lambda name, df: (written.append(name), write(name, df))
    p = build(g, store)
    p.run()
    ms = store.manifests()
    # every=2 over 6 supersteps → checkpoints at 2,4,6; the final superstep
    # is one of them, so its manifest is re-published, not its table
    steps = [m["superstep"] for m in ms]
    assert steps == [2, 4, 6]
    assert written == ["state_00002", "state_00004", "state_00006"]
    assert [m["final"] for m in ms] == [False, False, True]
    last = ms[-1]
    assert last["final"] is True
    assert last["rows"] == 5
    assert sum(p["rows"] for p in last["partitions"]) == 5
    assert last["metrics"]["messages"] == 8  # one message per edge
    assert last["config_hash"] == store.config_hash


def test_resume_equivalence(spark, tmp_path):
    """Integer program: straight 6-superstep run == run killed after 4 +
    resume to 6. Exact equality (north rule: resumable mid-iteration)."""
    e = spark.createDataFrame(EDGES_A, "subject long, object long")
    g = GraphFrame.from_edges(e)

    straight = {r.vertex_id: r.aux for r in build(g, max_iter=6).run().collect()}

    store = CheckpointStore(spark, str(tmp_path / "ck2"), config_token="same")
    build(g, store, max_iter=4).run()          # "killed" after superstep 4
    resumed_engine = build(g, store, max_iter=6)
    res = resumed_engine.run(resume=True)
    resumed = {r.vertex_id: r.aux for r in res.collect()}

    assert resumed == straight
    # resume actually skipped the first 4 supersteps
    assert resumed_engine.metrics[0].superstep == 5


def test_resume_refuses_config_mismatch(spark, tmp_path):
    e = spark.createDataFrame(EDGES_A, "subject long, object long")
    g = GraphFrame.from_edges(e)
    store_a = CheckpointStore(spark, str(tmp_path / "ck3"), config_token="a")
    build(g, store_a, max_iter=2).run()
    store_b = CheckpointStore(spark, str(tmp_path / "ck3"), config_token="b")
    with pytest.raises(ValueError, match="different Pregel config"):
        store_b.latest()


def test_resume_equivalence_with_active_filter(spark, tmp_path):
    """A frontier program (with_active_filter + changed flag) resumes
    mid-run exactly: the evolving ``changed`` column is ordinary state,
    so the checkpoint carries the live frontier across the restart and
    the resumed run's remaining messages equal the straight run's."""
    from pregel_rs_spark import subject

    INF = float("inf")
    chain = [(i, i + 1) for i in range(9)]
    e = spark.createDataFrame(chain + [(0, 5)], "subject long, object long")
    g = GraphFrame.from_edges(e)

    def frontier(store=None, max_iter=12):
        b = (
            PregelBuilder(g)
            .max_iterations(max_iter)
            .with_vertex_column("dist")
            .initial_message(
                F.when(F.col("vertex_id") == 0, F.lit(0.0)).otherwise(
                    F.lit(INF)
                )
            )
            .send_messages(
                MessageReceiver.OBJECT,
                F.when(
                    subject("dist") != F.lit(INF),
                    subject("dist") + F.lit(1.0),
                ),
            )
            .aggregate_messages(F.min(msg()))
            .v_prog(
                F.least(F.col("dist"), F.coalesce(msg(), F.col("dist")))
            )
            .with_state_column(
                "changed",
                F.col("vertex_id") == 0,
                F.coalesce(msg() < F.col("dist"), F.lit(False)),
            )
            .with_active_filter(subject("changed"))
            .with_exact_convergence()  # also enables the stats action so
            .with_message_counts()     # per-superstep messages are recorded
        )
        if store is not None:
            b = b.with_checkpoint(store, every=2)
        return b.build()

    straight_engine = frontier(max_iter=12)
    straight = {
        r.vertex_id: (r.dist, r.changed)
        for r in straight_engine.run().collect()
    }

    store = CheckpointStore(spark, str(tmp_path / "ckf"), config_token="f")
    frontier(store, max_iter=4).run()      # "killed" after superstep 4
    resumed_engine = frontier(store, max_iter=12)
    resumed = {
        r.vertex_id: (r.dist, r.changed)
        for r in resumed_engine.run(resume=True).collect()
    }

    assert resumed == straight
    assert resumed_engine.metrics[0].superstep == 5
    # the resumed tail shuffles exactly the straight run's tail messages —
    # the frontier state survived the restart (no over-sending)
    straight_tail = [
        m.messages for m in straight_engine.metrics if m.superstep >= 5
    ]
    resumed_tail = [m.messages for m in resumed_engine.metrics]
    assert resumed_tail == straight_tail
