"""Fixtures F3-F6 — Pregel engine parity with pregel.rs tests
(pregel.rs:876-1148) per FIXTURES.md."""

import pytest
from pyspark.sql import functions as F

from pregel_rs_spark import (
    GraphFrame,
    MessageReceiver,
    PregelBuilder,
    msg,
    object_,
    subject,
)


@pytest.fixture
def graph_a(spark):
    """PageRank graph (pregel.rs:885-912): 5 vertices, 8 edges,
    vertices carry out_degree."""
    e = spark.createDataFrame(
        list(zip([0, 0, 1, 2, 3, 4, 4, 4], [1, 2, 2, 3, 3, 1, 2, 3])),
        "subject long, object long",
    )
    g = GraphFrame.from_edges(e)
    return GraphFrame(g.out_degrees(), e)


@pytest.fixture
def graph_b(spark):
    """Max-value graph (pregel.rs:996-1017): 4 vertices with values."""
    v = spark.createDataFrame(
        [(0, 3), (1, 6), (2, 2), (3, 1)], "vertex_id long, value long"
    )
    e = spark.createDataFrame(
        list(zip([0, 1, 1, 2, 2, 3], [1, 0, 3, 1, 3, 2])),
        "subject long, object long",
    )
    return GraphFrame(v, e)


@pytest.mark.smoke
def test_max_value(spark, graph_b):
    """F4: per-vertex [6,6,6,6] exact from superstep 2."""
    res = (
        PregelBuilder(graph_b)
        .max_iterations(2)
        .with_vertex_column("max_value")
        .initial_message(F.col("value"))
        .send_messages(MessageReceiver.OBJECT, subject("max_value"))
        .aggregate_messages(F.max(msg()))
        .v_prog(F.greatest(F.col("max_value"), msg()))
        .build()
        .run()
    )
    vals = {r.vertex_id: r.max_value for r in res.collect()}
    assert vals == {0: 6, 1: 6, 2: 6, 3: 6}


def test_max_value_one_step(spark, graph_b):
    """Intermediate state after 1 superstep: [6,6,2,6] (FIXTURES F4 sim)."""
    res = (
        PregelBuilder(graph_b)
        .max_iterations(1)
        .with_vertex_column("max_value")
        .initial_message(F.col("value"))
        .send_messages(MessageReceiver.OBJECT, subject("max_value"))
        .aggregate_messages(F.max(msg()))
        .v_prog(F.greatest(F.col("max_value"), msg()))
        .build()
        .run()
    )
    vals = {r.vertex_id: r.max_value for r in res.collect()}
    assert vals == {0: 6, 1: 6, 2: 2, 3: 6}


@pytest.mark.smoke
def test_degenerate_pagerank_reference_parity(spark, graph_a):
    """F3: the reference's own PageRank test config (single Subject-send per
    SURVEY §5.3 Q1) is a fixed point at rank ≡ 0.2, Σ = 1 (pregel.rs:914-994).
    """
    n = 5
    for iters in (1, 2):
        res = (
            PregelBuilder(graph_a)
            .max_iterations(iters)
            .with_vertex_column("rank")
            .initial_message(F.lit(1.0 / n))
            .send_messages(
                MessageReceiver.SUBJECT,
                subject("rank") / subject("out_degree"),
            )
            .aggregate_messages(F.sum(msg()))
            .v_prog(msg() * 0.85 + 0.15 / n)
            .build()
            .run()
        )
        ranks = {r.vertex_id: r.rank for r in res.collect()}
        assert abs(sum(ranks.values()) - 1.0) < 1e-6
        for v in ranks.values():
            assert v == pytest.approx(0.2, abs=1e-9)


@pytest.mark.smoke
def test_chained_send_single_subject(spark, graph_a):
    """F3 chained-send fixture: send (Subject, lit(1)), agg sum, v_prog
    msg+1, init 0, 4 iters → sorted aux == [3,2,2,2,4]
    (pregel.rs:1111-1147; the reference's second send is inert per Q1)."""
    res = (
        PregelBuilder(graph_a)
        .max_iterations(4)
        .initial_message(F.lit(0))
        .send_messages(MessageReceiver.SUBJECT, F.lit(1))
        .aggregate_messages(F.sum(msg()))
        .v_prog(msg() + 1)
        .build()
        .run()
    )
    aux = [r.aux for r in res.orderBy("vertex_id").collect()]
    assert aux == [3, 2, 2, 2, 4]


def test_reference_send_semantics_chained_parity(spark, graph_a):
    """Q1 parity MODE: the reference's ACTUAL chained config
    (Subject, lit(1)) + (Object, lit(-1)) with
    with_reference_send_semantics() reproduces pregel.rs:1111-1147's
    [3,2,2,2,4] exactly — the second send is inert, as in the reference's
    same-alias select (pregel.rs:825-834)."""
    res = (
        PregelBuilder(graph_a)
        .max_iterations(4)
        .initial_message(F.lit(0))
        .send_messages(MessageReceiver.SUBJECT, F.lit(1))
        .send_messages(MessageReceiver.OBJECT, F.lit(-1))
        .aggregate_messages(F.sum(msg()))
        .v_prog(msg() + 1)
        .with_reference_send_semantics()
        .build()
        .run()
    )
    aux = [r.aux for r in res.orderBy("vertex_id").collect()]
    assert aux == [3, 2, 2, 2, 4]


@pytest.mark.smoke
def test_multi_send_union_semantics(spark, graph_a):
    """Our documented Q1 divergence: chained sends UNION (GraphFrames
    semantics).  (Subject, lit(1)) + (Object, lit(1)), agg sum, init 0,
    1 iter, v_prog = msg → out_degree + in_degree per vertex."""
    res = (
        PregelBuilder(graph_a)
        .max_iterations(1)
        .initial_message(F.lit(0))
        .send_messages(MessageReceiver.SUBJECT, F.lit(1))
        .send_messages(MessageReceiver.OBJECT, F.lit(1))
        .aggregate_messages(F.sum(msg()))
        .v_prog(msg())
        .build()
        .run()
    )
    aux = {r.vertex_id: r.aux for r in res.collect()}
    # graph A: out [2,1,1,1,3], in [0,2,3,3,0]
    assert aux == {0: 2, 1: 3, 2: 4, 3: 4, 4: 3}


@pytest.mark.parametrize("receivers, expected", [
    (["OBJECT"], {1: None, 2: 1, 3: 1}),
    (["SUBJECT"], {1: 1, 2: 1, 3: None}),
    (["SUBJECT", "OBJECT"], {1: 1, 2: 2, 3: 1}),
])
def test_open_world_drops_edges_to_unknown_vertices(spark, receivers, expected):
    """On an open-world graph an edge with an endpoint outside the vertex
    table sends nothing, whichever side receives: (5, 1) has an unknown
    subject and (3, 4) an unknown object (reference inner joins,
    pregel.rs:791-808)."""
    v = spark.createDataFrame([(1,), (2,), (3,)], "vertex_id long")
    e = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (5, 1)], "subject long, object long"
    )
    b = (
        PregelBuilder(GraphFrame(v, e))
        .max_iterations(1)
        .initial_message(F.lit(0))
        .aggregate_messages(F.sum(msg()))
        .v_prog(msg())
    )
    for r in receivers:
        b = b.send_messages(MessageReceiver[r], F.lit(1))
    res = b.build().run()
    assert {r.vertex_id: r.aux for r in res.collect()} == expected


def test_literals_smoke(spark, graph_b):
    """F5: all-literal program runs (pregel.rs:1086-1109)."""
    res = (
        PregelBuilder(graph_b)
        .max_iterations(4)
        .initial_message(F.lit(0))
        .send_messages(MessageReceiver.OBJECT, F.lit(0))
        .aggregate_messages(F.sum(msg()))
        .v_prog(F.lit(0))
        .build()
        .run()
    )
    assert res.count() == 4


@pytest.mark.smoke
def test_null_message_semantics(spark):
    """F6: no-message vertices see NULL _pregel_msg_, null propagates
    through arithmetic v_prog (pregel.rs:838-854 parity)."""
    v = spark.createDataFrame([(0,), (1,)], "vertex_id long")
    e = spark.createDataFrame([(0, 1)], "subject long, object long")
    res = (
        PregelBuilder(GraphFrame(v, e))
        .max_iterations(1)
        .initial_message(F.lit(0))
        .send_messages(MessageReceiver.OBJECT, F.lit(5))
        .aggregate_messages(F.sum(msg()))
        .v_prog(msg() + 1)
        .build()
        .run()
    )
    vals = {r.vertex_id: r.aux for r in res.collect()}
    assert vals[1] == 6
    assert vals[0] is None


def test_iteration_dependent_closure(spark, graph_b):
    """Closure-valued exprs re-evaluated per superstep (pregel.rs FnBox
    parity) — payload depends on the superstep number."""
    res = (
        PregelBuilder(graph_b)
        .max_iterations(3)
        .initial_message(F.lit(0))
        .send_messages(MessageReceiver.OBJECT, lambda ctx: F.lit(ctx.superstep))
        .aggregate_messages(F.max(msg()))
        .v_prog(msg())
        .build()
        .run()
    )
    # last superstep is 3 → every vertex with in-edges holds 3
    vals = {r.vertex_id: r.aux for r in res.collect()}
    assert vals == {0: 3, 1: 3, 2: 3, 3: 3}


def test_exact_convergence_early_stop(spark, graph_b):
    """Q3 extension: label-style program stops before max_iterations."""
    p = (
        PregelBuilder(graph_b)
        .max_iterations(20)
        .with_vertex_column("max_value")
        .initial_message(F.col("value"))
        .send_messages(MessageReceiver.OBJECT, subject("max_value"))
        .aggregate_messages(F.max(msg()))
        .v_prog(F.greatest(F.col("max_value"), F.coalesce(msg(), F.lit(0))))
        .with_exact_convergence()
        .build()
    )
    res = p.run()
    vals = {r.vertex_id: r.max_value for r in res.collect()}
    assert vals == {0: 6, 1: 6, 2: 6, 3: 6}
    # converged in ≤4 supersteps, far before 20
    assert len(p.metrics) <= 4


def test_count_and_expression_aggregates(spark, graph_a):
    """A ``count`` aggregate counts messages and an aggregate over an
    expression of the message applies it once per message: after one
    superstep each vertex holds its in-degree, and twice that."""
    def run(agg):
        return {
            r.vertex_id: r.aux
            for r in PregelBuilder(graph_a)
            .max_iterations(1)
            .initial_message(F.lit(0))
            .send_messages(MessageReceiver.OBJECT, F.lit(1))
            .aggregate_messages(agg)
            .v_prog(F.coalesce(msg(), F.lit(0)))
            .build()
            .run()
            .collect()
        }

    in_degrees = {0: 0, 1: 2, 2: 3, 3: 3, 4: 0}
    assert run(F.count(msg())) == in_degrees
    assert run(F.sum(msg() * 2)) == {v: 2 * d for v, d in in_degrees.items()}


def test_join_pruning_expr_payloads(spark, graph_b):
    """Join pruning is decided by Catalyst resolution, not repr sniffing:
    an F.expr-built payload referencing subject.* keeps the subject join on
    a closed graph; a ref-free F.expr payload prunes both and stays
    correct."""
    from pregel_rs_spark import GraphFrame

    g = GraphFrame.from_edges(graph_b.edges)  # closed=True
    assert getattr(g, "closed", False)

    # payload via SQL text — old str(Column) sniffing cannot be trusted here
    res = (
        PregelBuilder(g)
        .max_iterations(3)
        .with_vertex_column("m")
        .initial_message(F.col("vertex_id"))
        .send_messages(MessageReceiver.OBJECT, F.expr("`subject.m`"))
        .aggregate_messages(F.max(msg()))
        .v_prog(F.greatest(F.col("m"), F.coalesce(msg(), F.col("m"))))
        .build()
        .run()
    )
    vals = {r.vertex_id: r.m for r in res.collect()}
    assert vals == {0: 3, 1: 3, 2: 3, 3: 3}  # max id propagated everywhere

    # ref-free SQL-text payload: both vertex joins pruned, still correct
    res2 = (
        PregelBuilder(g)
        .max_iterations(1)
        .initial_message(F.lit(0))
        .send_messages(MessageReceiver.OBJECT, F.expr("1"))
        .aggregate_messages(F.sum(msg()))
        .v_prog(F.coalesce(msg(), F.lit(0)))
        .build()
        .run()
    )
    vals2 = {r.vertex_id: r.aux for r in res2.collect()}
    # graph B in-degrees: 0→1, 1→2, 2→1, 3→2
    assert vals2 == {0: 1, 1: 2, 2: 1, 3: 2}


@pytest.mark.smoke
def test_truncate_plan_rewrap(spark):
    """The LogicalRDD rewrap must be ACTIVE on this Spark
    version: a silent fallback reintroduces the O(3^superstep) driver
    pathology (VERDICT r1 #7).  The rewrapped frame carries the _ck_rdd
    unpersist handle; the fallback path warns and has none."""
    import warnings as w

    from pregel_rs_spark.pregel import truncate_plan

    df = spark.range(10).withColumn("x", F.col("id") * 2)
    with w.catch_warnings():
        w.simplefilter("error", RuntimeWarning)  # fallback warning → failure
        out = truncate_plan(df)
    assert getattr(out, "_ck_rdd", None) is not None
    assert out.count() == 10


def test_truncate_plan_stats_clamped(spark):
    """The rewrap carries its origin plan's size estimate as a constant,
    so the planner still sees a small materialized frame as small (and
    may broadcast it).  Join-squared stats must not escape int64: a
    join+project-only loop (no aggregate to reset the bound — pointer
    doubling's shape) makes Catalyst MULTIPLY sizeInBytes every round;
    kept, the rewrap would carry a BigInt whose arithmetic inside the
    stats visitor costs more than the job (measured 20 s/round by round
    20).  An estimate past int64 is dropped for defaultSizeInBytes."""
    from pregel_rs_spark.pregel import truncate_plan

    def size(df):
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())

    src = spark.range(10000)
    assert size(truncate_plan(src)) == size(src) == 80000
    df = truncate_plan(spark.range(100).select(F.col("id").alias("k")))
    assert size(df) == 800
    default = spark._jsparkSession.sessionState().conf().defaultSizeInBytes()
    sizes = []
    for _ in range(6):
        j = df.select(F.col("k").alias("k2"))
        df = truncate_plan(df.join(j, df["k"] == j["k2"]).select("k"))
        sizes.append(size(df))
        assert sizes[-1].bit_length() <= 63, sizes
    # the first rounds pass their (growing) estimates through; once the
    # square leaves int64 the rewrap reports the session default
    assert sizes[0] < sizes[1] < default
    assert sizes[-1] == default
    assert df.count() == 100


def test_state_stat_native_types(spark, graph_b):
    """State stats keep native types (bigint counts exact, NULL preserved)
    instead of being coerced to nullable-to-zero doubles (ADVICE r1)."""
    from pregel_rs_spark.pregel import PregelContext

    p = (
        PregelBuilder(graph_b)
        .max_iterations(1)
        .initial_message(F.lit(0))
        .send_messages(MessageReceiver.OBJECT, F.lit(0))
        .aggregate_messages(F.sum(msg()))
        # n_vertices enters as a bigint column; a NULL stat stays NULL
        .v_prog(
            PregelContext.stat_col("n_v")
            + F.coalesce(PregelContext.stat_col("always_null"), F.lit(-100))
        )
        .with_state_stat("n_v", F.count(F.lit(1)))
        .with_state_stat(
            "always_null", F.max(F.when(F.lit(False), F.lit(1.0)))
        )
        .build()
    )
    res = p.run()
    vals = {r.vertex_id: r.aux for r in res.collect()}
    # 4 vertices → stat 4 (exact long), null stat coalesced to -100 → -96
    assert vals == {0: -96, 1: -96, 2: -96, 3: -96}


def test_multi_column_state(spark, graph_b):
    """Two evolving state columns updated synchronously from one struct
    message: min-label and max-label propagate together and exact
    convergence accounts for both columns."""
    from pregel_rs_spark import GraphFrame

    g = GraphFrame.from_edges(graph_b.edges)
    res = (
        PregelBuilder(g)
        .max_iterations(10)
        .with_vertex_column("min_l")
        .initial_message(F.col("vertex_id"))
        .with_state_column("max_l", F.col("vertex_id"),
                           F.greatest(F.col("max_l"),
                                      F.coalesce(msg().getField("b"),
                                                 F.col("max_l"))))
        .send_messages(
            MessageReceiver.OBJECT,
            F.struct(subject("min_l").alias("a"), subject("max_l").alias("b")),
        )
        .aggregate_messages(
            F.struct(F.min(msg().getField("a")).alias("a"),
                     F.max(msg().getField("b")).alias("b"))
        )
        .v_prog(F.least(F.col("min_l"),
                        F.coalesce(msg().getField("a"), F.col("min_l"))))
        .with_exact_convergence()
        .build()
        .run()
    )
    rows = {r.vertex_id: (r.min_l, r.max_l) for r in res.collect()}
    # graph B is strongly connected → every vertex sees global min 0 / max 3
    assert rows == {0: (0, 3), 1: (0, 3), 2: (0, 3), 3: (0, 3)}


def _tiny_pregel(graph_b, max_iter=1):
    return (
        PregelBuilder(graph_b)
        .max_iterations(max_iter)
        .with_vertex_column("max_value")
        .initial_message(F.col("value"))
        .send_messages(MessageReceiver.OBJECT, subject("max_value"))
        .aggregate_messages(F.max(msg()))
        .v_prog(F.greatest(F.col("max_value"), msg()))
        .build()
    )


def test_session_configs_restored_on_success_and_error(spark, graph_b):
    """Pregel.run scopes every key of ``pregel._LOOP_CONF`` to the loop —
    each must come back to the caller's value on the happy path AND when
    the run dies during plan prep (Catalyst analysis error), which
    happens before the loop's inner try/finally."""
    from pregel_rs_spark import pregel as pregel_mod

    before = {k: spark.conf.get(k) for k in pregel_mod._LOOP_CONF}
    assert "spark.sql.adaptive.enabled" in before
    assert "spark.sql.autoBroadcastJoinThreshold" in before

    _tiny_pregel(graph_b).run()
    assert {k: spark.conf.get(k) for k in before} == before

    # analysis error in prep: v_prog references a column that doesn't exist
    bad = (
        PregelBuilder(graph_b)
        .max_iterations(1)
        .with_vertex_column("x")
        .initial_message(F.col("value"))
        .send_messages(MessageReceiver.OBJECT, subject("x"))
        .aggregate_messages(F.max(msg()))
        .v_prog(F.col("no_such_column_anywhere"))
        .build()
    )
    with pytest.raises(Exception):
        bad.run()
    assert {k: spark.conf.get(k) for k in before} == before

    # and the error path released the concurrency guard: a new run works
    _tiny_pregel(graph_b).run()


def test_concurrent_loop_same_session_fails_fast(spark, graph_b):
    """Two Pregel loops on one SparkSession would restore each other's
    session-config overrides out of order — the second must fail fast
    with the newSession() hint."""
    from pregel_rs_spark import pregel as pregel_mod

    key = id(spark)
    pregel_mod._ACTIVE_LOOP_SESSIONS.add(key)
    try:
        with pytest.raises(RuntimeError, match="newSession"):
            _tiny_pregel(graph_b).run()
    finally:
        pregel_mod._ACTIVE_LOOP_SESSIONS.discard(key)
    _tiny_pregel(graph_b).run()  # released → runs normally


def _sssp_builder(graph, frontier: bool) -> "PregelBuilder":
    """SSSP as a raw user program; with frontier=True, only vertices whose
    distance improved last superstep send offers (vote-to-halt shape)."""
    INF = float("inf")
    b = (
        PregelBuilder(graph)
        .max_iterations(30)
        .with_vertex_column("dist")
        .initial_message(
            F.when(F.col("vertex_id") == 0, F.lit(0.0)).otherwise(F.lit(INF))
        )
        .send_messages(
            MessageReceiver.OBJECT,
            F.when(subject("dist") != F.lit(INF), subject("dist") + F.lit(1.0)),
        )
        .aggregate_messages(F.min(msg()))
        .v_prog(F.least(F.col("dist"), F.coalesce(msg(), F.col("dist"))))
        .with_state_column(
            "changed",
            F.col("vertex_id") == 0,
            F.coalesce(msg() < F.col("dist"), F.lit(False)),
        )
        .with_exact_convergence()
        .with_message_counts()
    )
    if frontier:
        b = b.with_active_filter(subject("changed"))
    return b


def test_active_filter_identical_results_fewer_messages(spark):
    """VERDICT r4 item 7: with_active_filter gives raw user programs the
    frontier shrink the built-in algorithms hand-roll — identical final
    state, strictly fewer shuffled message rows (measured by the engine's
    own message-count metrics) on a high-diameter graph where the
    unfiltered program re-sends from every reached vertex every step."""
    # path 0→1→…→9 plus chords so multiple offers exist
    chain = [(i, i + 1) for i in range(9)]
    chords = [(0, 5), (2, 7), (4, 9)]
    e = spark.createDataFrame(chain + chords, "subject long, object long")
    g = GraphFrame.from_edges(e)

    plain = _sssp_builder(g, frontier=False).build()
    filt = _sssp_builder(g, frontier=True).build()
    want = {r.vertex_id: r.dist for r in plain.run().collect()}
    got = {r.vertex_id: r.dist for r in filt.run().collect()}
    assert got == want  # exact — unit-weight hop counts

    msgs_plain = sum(m.messages or 0 for m in plain.metrics)
    msgs_filt = sum(m.messages or 0 for m in filt.metrics)
    # every reached vertex re-sends each step without the filter; with it
    # only the live frontier sends — the gap must be large, not marginal
    assert msgs_filt < msgs_plain / 2, (msgs_filt, msgs_plain)
    assert msgs_filt > 0


def test_active_filter_closure_and_closed_world_pruning(spark, graph_b):
    """The filter accepts a per-superstep closure, and setting it forces
    the subject join even when payloads reference no subject column on a
    closed-world graph (the join is load-bearing for the filter)."""
    e = graph_b.edges
    g = GraphFrame.from_edges(e)  # closed-world: vertices derived
    # payload F.lit(1) references NO subject column → normally the subject
    # join is pruned; the active filter must still take effect (vertices
    # with vertex_id >= 2 never send, so receivers only hear from 0 and 1)
    p = (
        PregelBuilder(g)
        .max_iterations(1)
        .initial_message(F.lit(0))
        .send_messages(MessageReceiver.OBJECT, F.lit(1))
        .aggregate_messages(F.sum(msg()))
        .v_prog(F.coalesce(msg(), F.lit(0)))
        .with_active_filter(lambda ctx: subject("vertex_id") < F.lit(ctx.superstep + 1))
        .build()
    )
    got = {r.vertex_id: r.aux for r in p.run().collect()}
    # superstep 1: active senders are vertex_id < 2 → edges 0→1, 1→0, 1→3
    assert got == {0: 1, 1: 1, 2: 0, 3: 1}


def test_non_finite_delta_fails_loudly(spark, graph_b):
    """NaN <= tol is False, so a v_prog that yields NaN used to run on
    silently to max_iterations.  The run must stop at the first such
    superstep with an error naming it, and release the session configs."""
    aqe0 = spark.conf.get("spark.sql.adaptive.enabled")
    engine = (
        PregelBuilder(graph_b)
        .max_iterations(5)
        .with_vertex_column("x")
        .initial_message(F.lit(1.0))
        .send_messages(MessageReceiver.OBJECT, subject("x"))
        .aggregate_messages(F.sum(msg()))
        .v_prog(F.lit(float("nan")))
        .with_tolerance(1e-6)
        .build()
    )
    with pytest.raises(ValueError, match="superstep 1: convergence delta is nan"):
        engine.run()
    assert [m.superstep for m in engine.metrics] == [1]
    assert spark.conf.get("spark.sql.adaptive.enabled") == aqe0


def test_truncate_plan_rewrap_failure_raises(spark, monkeypatch):
    """No silent fallback to the plain checkpoint: a failed rewrap (the
    Spark-internal constructors changed) raises, naming the Spark version."""
    from pregel_rs_spark import pregel as pregel_mod

    def incompatible(*a, **kw):
        raise TypeError("constructor signature changed")

    monkeypatch.setattr(pregel_mod, "DataFrame", incompatible)
    with pytest.raises(RuntimeError, match=f"Spark {spark.version}"):
        pregel_mod.truncate_plan(spark.range(10))
