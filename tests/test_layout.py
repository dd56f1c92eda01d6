"""The graph's physical layout: the ``subject``-partitioned edge table
(and, for a graph run again on the "state" plan, the ``object``-partitioned
one) and the out-degree vertex table are built once per GraphFrame (per
``spark.sql.shuffle.partitions``) and reused by every Pregel run and
star connected-components call on it, until ``GraphFrame.unpersist()``.

A Pregel run in one JVM whose sends all go to one receiver side, whose
fixed-width state is at most ``pregel._MAX_SHIPPED_STATE`` bytes, and whose
graph holds or reuses the receiver-keyed layout runs the "state" plan (the
senders' state broadcast over that layout, no message exchange); tests of
the message exchange itself set that bound to -1, the message plan's
path."""

import random
from collections import Counter
from contextlib import nullcontext
from unittest import mock

import pytest
from pyspark.sql import functions as F

from pregel_rs_spark import GraphFrame, MessageReceiver, PregelBuilder
from pregel_rs_spark import graphframe as graphframe_mod
from pregel_rs_spark import pregel as pregel_mod
from pregel_rs_spark.algorithms import (
    connected_components,
    hits,
    max_value,
    pagerank,
    spam_mass,
    sssp,
)
from pregel_rs_spark.columns import OBJECT, SUBJECT, edge_, msg, object_, subject
from pregel_rs_spark.pregel import _free_checkpoint, _session_conf

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


def _shuffle_stages(spark, group: str) -> list[tuple[int, int]]:
    """``(tasks, shuffle records written)`` of each stage of the jobs
    under ``group`` that wrote shuffle records, in stage order."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    tracker, store = sc.statusTracker(), jsc.statusStore()
    stage_ids = set()
    for jid in tracker.getJobIdsForGroup(group):
        stage_ids.update(tracker.getJobInfo(jid).stageIds)
    stages = []
    for sid in sorted(stage_ids):
        info = tracker.getStageInfo(sid)
        if info is not None and info.numCompletedTasks:
            n = store.lastStageAttempt(sid).shuffleWriteRecords()
            if n:
                stages.append((info.numTasks, n))
    return stages


def _shuffle_records(spark, group: str) -> list[int]:
    """Shuffle records written by each stage of the jobs under ``group``."""
    return [n for _, n in _shuffle_stages(spark, group)]


def _in_group(spark, group: str, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        return fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def _ranks(spark, graph, group: str, **kw) -> dict:
    def run():
        res = pagerank(graph, **kw)
        return {r.vertex_id: r.rank for r in res.select("vertex_id", "rank").collect()}

    return _in_group(spark, group, run)


def _persistent_rdds(spark) -> set[int]:
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keySet()}


def _message_plan():
    """No state is small enough to ship: every Pregel run takes the
    message plan."""
    return mock.patch.object(pregel_mod, "_MAX_SHIPPED_STATE", -1)


def test_second_pagerank_shuffles_only_messages(spark, star):
    partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
    cores = spark.sparkContext.defaultParallelism
    with _message_plan():
        first = _ranks(spark, star, "layout-first", **STEPS)
        second = _ranks(spark, star, "layout-second", **STEPS)
    assert second == first

    cold = _shuffle_records(spark, "layout-first")
    warm = _shuffle_records(spark, "layout-second")
    # the first call lays the graph out: the edge repartition moves every edge
    assert max(cold) >= HUB_FAN_IN
    # the second moves only messages, combined once per map task, and a
    # map task runs per core — no edge, vertex or state exchange, and no
    # aggregate of the vertex counts
    assert warm and max(warm) <= min(cores, partitions), warm


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
    # the subject layout and the degree table, built by PageRank and
    # shared by TrustRank; and the object layout: TrustRank is the
    # graph's second run, which reads it (the state plan)
    assert builds == [
        ["edge.subject", "edge.object"],
        ["vertex_id", "out_degree"],
        ["edge.subject", "edge.object"],
    ]
    assert set(star._edge_layouts) == {
        (int(spark.conf.get("spark.sql.shuffle.partitions")), key)
        for key in (SUBJECT, OBJECT)
    }


def test_unpersist_returns_persistent_rdds_to_baseline(spark, star):
    baseline = _persistent_rdds(spark)
    res = pagerank(star, **STEPS)
    res.count()
    layout = {
        int(t._ck_rdd.id())
        for t in (*star._edge_layouts.values(), *star._degree_tables.values())
    }
    # one run on a graph: the subject layout and the degree table
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
    # a layout per width, each the first at its width: on ``subject``
    assert set(g._edge_layouts) == {(int(p0), SUBJECT), (3, SUBJECT)}
    assert g._edge_layouts[3, SUBJECT]._ck_rdd.getNumPartitions() == 3
    assert set(wide) == set(narrow)
    for v, r in wide.items():
        assert narrow[v] == pytest.approx(r, abs=1e-12)
    g.unpersist()


def test_second_layout_rekeys_the_first(spark, star, monkeypatch):
    """A second key's layout re-keys the first one at its partition
    count: it does not run the edges' own plan again, and it is
    hash-partitioned on its own key."""
    plans = []
    real = graphframe_mod.truncate_plan

    def recording(df, *a, **kw):
        plans.append(df._jdf.queryExecution().optimizedPlan().toString())
        return real(df, *a, **kw)

    monkeypatch.setattr(graphframe_mod, "truncate_plan", recording)
    by_object = star._edge_layout(key=OBJECT)
    by_subject = star._edge_layout()
    # only the first build renames the edges' own columns
    assert [" AS edge.subject" in p for p in plans] == [True, False], plans
    for layout, key in ((by_object, OBJECT), (by_subject, SUBJECT)):
        part = layout._jdf.queryExecution().executedPlan().outputPartitioning()
        assert f"hashpartitioning(edge.{key}#" in part.toString(), part


def test_vertices_and_edges_are_read_only(spark, star):
    with pytest.raises(AttributeError):
        star.vertices = star.vertices
    with pytest.raises(AttributeError):
        star.edges = star.edges
    ranked = star.with_vertices(star.vertices.withColumn("x", F.lit(1)))
    assert ranked.closed and ranked.edges is star.edges
    assert ranked._edge_layouts is star._edge_layouts


@pytest.fixture
def forest(spark):
    """Four 60-vertex paths over shuffled ids, each with random chords:
    301 edges, four components, five star rounds."""
    rng = random.Random(5)
    ids = list(range(1, 241))
    rng.shuffle(ids)
    blocks = [ids[i:i + 60] for i in range(0, 240, 60)]
    edges = {(b[i], b[i + 1]) for b in blocks for i in range(59)}
    while len(edges) < 301:
        edges.add(tuple(rng.sample(rng.choice(blocks), 2)))
    g = GraphFrame.from_edges(
        spark.createDataFrame(sorted(edges), "subject long, object long")
    )
    yield g
    g.unpersist()


def _layout_rdds(graph) -> set[int]:
    return {
        int(t._ck_rdd.id())
        for t in (*graph._edge_layouts.values(), *graph._degree_tables.values())
    }


def test_second_star_cc_reads_the_layout(spark, forest):
    baseline = _persistent_rdds(spark)
    # what from_edges' vertex distinct writes, measured on its own
    _in_group(spark, "star-vertices", forest.vertices.collect)
    vertex_distinct = _shuffle_records(spark, "star-vertices")
    results, labels = [], []
    for group in ("star-first", "star-second"):
        def run():
            res = connected_components(forest, method="star")
            results.append(res)
            return sorted(map(tuple, res.select("vertex_id", "component").collect()))

        labels.append(_in_group(spark, group, run))
    assert labels[0] == labels[1]
    assert len({c for _, c in labels[0]}) == 4

    cold = Counter(_shuffle_records(spark, "star-first"))
    warm = Counter(_shuffle_records(spark, "star-second"))
    # The second call repeats the first one's rounds but neither the edge
    # repartition (one record per edge) nor the vertex distinct.  (Round 1
    # also moves one record per edge here: every part of a forest is a
    # forest, so the contraction drops no edge.)
    assert cold - warm == Counter([301, *vertex_distinct]), (cold, warm)
    assert not warm - cold, (cold, warm)
    # each round's exchanges once — neighbourhood min, join, small-star
    # window, distinct (its signature rides the round's own job); then the
    # result's mapping
    assert sum(warm.values()) <= 4 * results[1].cc_rounds + 1, warm

    layout = _layout_rdds(forest)
    assert len(layout) == 2
    persisted = _persistent_rdds(spark) - baseline
    assert layout <= persisted
    # every round's block is freed but each result's final edge table
    own = persisted - layout
    assert len(own) == 2, persisted
    forest.unpersist()
    assert _persistent_rdds(spark) - baseline == own


def test_star_cc_frees_its_blocks_on_error(spark, forest, monkeypatch):
    baseline = _persistent_rdds(spark)
    calls = []
    real = pregel_mod.truncate_plan

    def failing_in_round_2(df, *a, **kw):
        calls.append(df.columns)
        if len(calls) == 3:  # the contraction, round 1, round 2
            raise RuntimeError("round 2 fails")
        return real(df, *a, **kw)

    monkeypatch.setattr(pregel_mod, "truncate_plan", failing_in_round_2)
    with pytest.raises(RuntimeError, match="round 2 fails"):
        connected_components(forest, method="star")
    layout = _layout_rdds(forest)
    # the edge layout and the vertex table, which star CC builds before
    # its contraction; both are the graph's, freed by graph.unpersist()
    assert len(layout) == 2
    assert _persistent_rdds(spark) - baseline == layout
    # freeing round 1's view of the layout never frees the layout
    view = forest._edge_layout().select(edge_(SUBJECT), edge_(OBJECT))
    _free_checkpoint(view)
    assert _persistent_rdds(spark) - baseline == layout


@pytest.fixture
def crawl(spark):
    """Three 40-page sites over shuffled ids, each page linking to 15 pages
    of its own site: 1,800 edges on 120 vertices, so each partition of the
    edge layout holds more edges than vertices, as a web crawl's does.  (On a
    forest, such as ``forest`` above, no contraction can drop an edge.)"""
    rng = random.Random(7)
    ids = list(range(1, 121))
    rng.shuffle(ids)
    sites = [ids[i:i + 40] for i in range(0, 120, 40)]
    edges = [(p, q) for site in sites for p in site
             for q in rng.sample([q for q in site if q != p], 15)]
    g = GraphFrame.from_edges(
        spark.createDataFrame(edges, "subject long, object long")
    )
    yield g
    g.unpersist()


def _plan_chain(df) -> list[str]:
    """The optimized plan's node names, root first, down first children."""
    plan, names = df._jdf.queryExecution().optimizedPlan(), []
    while True:
        names.append(plan.nodeName())
        if plan.children().isEmpty():
            return names
        plan = plan.children().head()


def _record_keeps(monkeypatch) -> list[dict]:
    """Every block a run keeps: its round, its plan, the ``n`` its round's
    input held (observed by the round before), what its own job observed
    and how many partitions (tasks) it has."""
    kept = []
    real = pregel_mod.Round.keep

    def recording(self, df, **observe):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        chain = _plan_chain(df)
        out = real(self, df, **observe)
        kept.append({
            "round": self.n, "plan": plan, "chain": chain,
            "n_in": self.prev.get("n"), "seen": dict(self.seen),
            "tasks": out._ck_rdd.getNumPartitions(),
        })
        return out

    monkeypatch.setattr(pregel_mod.Round, "keep", recording)
    return kept


def _is_finish(block: dict) -> bool:
    # one union-find task straight over the previous round's block
    return block["chain"] == ["MapInArrow", "Repartition", "LogicalRDD"] \
        and block["tasks"] == 1


def _finish_bound(graph, kept) -> float:
    """The contraction's input rows (the layout's edges that are not
    self-loops) over its task count: the rows a contraction task read on
    average."""
    rows = graph.edges.filter(F.col(SUBJECT) != F.col(OBJECT)).count()
    assert kept[0]["round"] == 0 and kept[0]["plan"].count("MapInArrow") == 1
    return rows / kept[0]["tasks"]


def _assert_finish_rule(kept, bound) -> None:
    """After the contraction and after every round, the next round is the
    finish exactly when the observed ``n`` fits the bound."""
    for block in kept[1:]:
        assert _is_finish(block) == (block["n_in"] <= bound), (block, bound)


def test_star_cc_contracts_each_partition_once_per_call(spark, crawl, monkeypatch):
    """Round 1 starts from the layout contracted partition by partition,
    and the run ends in the one-task finish: exactly two materialized
    ``MapInArrow`` plans per call, the contraction first (left lazy, it
    would re-run for every reader of round 1's edges) and the finish
    last, whose single task reads no more rows than the observed bound.
    On a warm call no exchange moves one record per edge."""
    kept = _record_keeps(monkeypatch)
    labels = []
    for group in ("contract-first", "contract-second"):
        kept.clear()
        res = _in_group(
            spark, group, lambda: connected_components(crawl, method="star")
        )
        labels.append(_in_group(spark, group, res.collect))
        contractions = [b["plan"].count("MapInArrow") for b in kept]
        assert contractions[0] == 1 and contractions[-1] == 1, contractions
        assert sum(contractions) == 2, contractions
        # the finish reads the block the round before kept, nothing else
        assert _is_finish(kept[-1]), kept[-1]["chain"]
        assert kept[-1]["round"] == res.cc_rounds
        bound = _finish_bound(crawl, kept)
        _assert_finish_rule(kept, bound)
        assert kept[-1]["n_in"] <= bound, (kept[-1], bound)
    assert sorted(labels[0]) == sorted(labels[1])
    assert len({r.component for r in labels[0]}) == 3
    warm = _shuffle_records(spark, "contract-second")
    assert warm and max(warm) < 1800, warm


def test_warm_star_cc_on_sized_edges_writes_no_shuffle(spark, monkeypatch):
    """On edges whose size Catalyst knows (a local relation here, a file
    scan in a pipeline), materialized frames keep that estimate.  Three
    complete sites of 2·cores² pages: each contraction task's forest (under
    one row per page) fits the finish bound (edges / cores), so a warm
    call is the contraction, the one-task finish and the result's join,
    which is planned as a broadcast of the small component mapping: no
    stage writes shuffle.  Labels equal label propagation's."""
    import pandas as pd

    cores = spark.sparkContext.defaultParallelism
    rng = random.Random(11)
    pages = 2 * cores**2
    ids = rng.sample(range(1, 10**6), 3 * pages)
    sites = [ids[i:i + pages] for i in range(0, 3 * pages, pages)]
    edges = [(p, q) for site in sites for p in site for q in site if p != q]
    graph = GraphFrame.from_edges(spark.createDataFrame(
        pd.DataFrame(edges, columns=[SUBJECT, OBJECT])
    ))
    kept = _record_keeps(monkeypatch)
    try:
        labels = []
        for group in ("sized-star-cold", "sized-star-warm"):
            kept.clear()
            res = _in_group(
                spark, group, lambda: connected_components(graph, method="star")
            )
            labels.append(sorted(map(tuple, _in_group(
                spark, group, res.select("vertex_id", "component").collect
            ))))
            # the contraction, then the finish
            assert len(kept) == 2 and _is_finish(kept[1]), kept
        assert _shuffle_stages(spark, "sized-star-warm") == []
        label = connected_components(graph).select("vertex_id", "component")
        assert labels[0] == labels[1] == sorted(map(tuple, label.collect()))
        assert len({c for _, c in labels[1]}) == 3
    finally:
        graph.unpersist()


def test_star_cc_finishes_only_within_the_bound(spark, forest, monkeypatch):
    """On ``forest`` the contraction drops no edge, so round 1's input is
    above the bound and round 1 is a star round; the finish runs only
    once the observed ``n`` falls to the bound, never on a larger set.
    (Here it never does: every round keeps at least |V| − components =
    236 rows, more than 301 edges over two or more tasks.)"""
    kept = _record_keeps(monkeypatch)
    star = connected_components(forest, method="star")
    own = list(kept)
    rows = [
        sorted(map(tuple, r.select("vertex_id", "component").collect()))
        for r in (star, connected_components(forest))
    ]
    assert rows[0] == rows[1]
    bound = _finish_bound(forest, own)
    _assert_finish_rule(own, bound)
    assert own[0]["seen"]["n"] == 301 > bound
    assert not _is_finish(own[1])
    assert len(own) == star.cc_rounds + 1


def test_star_cc_contracts_on_one_task_per_core(spark, crawl, monkeypatch):
    """The contraction coalesces the layout's partitions to one per core
    (each Python task has a fixed cost), whatever the partition count."""
    cores = spark.sparkContext.defaultParallelism
    parts = []
    real = pregel_mod.truncate_plan

    def recording(df, *a, **kw):
        parts.append(df.rdd.getNumPartitions())
        return real(df, *a, **kw)

    monkeypatch.setattr(pregel_mod, "truncate_plan", recording)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(4 * cores))
    try:
        res = connected_components(crawl, method="star").collect()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert parts[0] == cores, parts
    assert len({r.component for r in res}) == 3


def _partitions(spark, n: int):
    return _session_conf(spark, {"spark.sql.shuffle.partitions": str(n)})


@pytest.mark.parametrize("per_core", [1, 2])
def test_pagerank_combines_messages_once_per_core(spark, crawl, per_core):
    """With more layout partitions than cores, each superstep's message
    stage runs one map task per core, whose partial aggregate combines the
    messages of every layout partition it reads: fewer records than one
    combine per layout partition would write.  With one partition per core
    the plan is the plain one, and the stage writes exactly that many.
    Cold and warm ranks are equal."""
    cores = spark.sparkContext.defaultParallelism
    partitions = per_core * cores
    group = f"per-core-{partitions}"
    with _partitions(spark, partitions), _message_plan():
        cold = _ranks(spark, crawl, f"{group}-cold", **STEPS)
        warm = _ranks(spark, crawl, f"{group}-warm", **STEPS)
        # Σ over the layout's partitions of their distinct receivers
        per_partition = crawl._edge_layout().select(
            F.spark_partition_id(), edge_(OBJECT)
        ).distinct().count()
    assert warm == cold
    stages = _shuffle_stages(spark, f"{group}-warm")
    # a warm call exchanges its supersteps' messages and nothing else
    assert len(stages) == STEPS["max_iterations"], stages
    for tasks, records in stages:
        assert tasks == min(cores, partitions), stages
        if partitions > cores:
            assert records < per_partition, (stages, per_partition)
        else:
            assert records == per_partition, (stages, per_partition)


def test_max_value_per_core_combine_is_exact(spark, crawl, monkeypatch):
    """A max program's result does not depend on how the map-side combine
    groups its messages: over twice as many layout partitions as cores
    (the messages coalesced to one task per core) it equals, bit for bit,
    the run at one partition per core, where no coalesce fires."""
    cores = spark.sparkContext.defaultParallelism
    graph = crawl.with_vertices(crawl.vertices.withColumn(
        "value", (F.xxhash64(F.col("vertex_id")) % 100003).cast("double") / 7
    ))
    kept = _record_keeps(monkeypatch)
    runs = {}
    for partitions in (cores, 2 * cores):
        kept.clear()
        with _partitions(spark, partitions), _message_plan():
            res = max_value(graph)
            runs[partitions] = dict(
                map(tuple, res.select("vertex_id", "max_value").collect())
            )
        coalesced = [f"Repartition {cores}, false" in b["plan"] for b in kept]
        # superstep 0 keeps the initial state; every superstep after it
        # coalesces its messages exactly when there are more partitions
        assert len(coalesced) > 1
        assert coalesced[1:] == [partitions > cores] * (len(kept) - 1), coalesced
    assert runs[cores] == runs[2 * cores]
    # every site's pages reach its maximum: three values in all
    assert len(set(runs[cores].values())) == 3


def test_open_world_pagerank_drops_the_object_join(spark, crawl, monkeypatch):
    """On an open-world graph whose sends all go to objects and read no
    ``object.*`` column, a superstep keeps the subject join (it filters
    edges from unknown vertices) but not the object join: a message to an
    unknown vertex is dropped by the apply join.  So no exchange moves the
    triplets on ``edge.object``, the messages are combined once per core
    before their exchange, and the ranks equal the closed build's."""
    cores = spark.sparkContext.defaultParallelism
    plans = []
    real = pregel_mod.truncate_plan

    def recording(df, *a, **kw):
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        return real(df, *a, **kw)

    open_world = GraphFrame(crawl.vertices, crawl.edges)
    assert not open_world.closed
    try:
        with _partitions(spark, 2 * cores), _message_plan():
            closed = _ranks(spark, crawl, "closed-ranks", **STEPS)
            monkeypatch.setattr(pregel_mod, "truncate_plan", recording)
            ranks = _ranks(spark, open_world, "open-ranks", **STEPS)
    finally:
        open_world.unpersist()
    supersteps = [p for p in plans if "msg.vertex_id" in p]
    assert len(supersteps) == STEPS["max_iterations"], plans
    for plan in supersteps:
        assert "hashpartitioning(edge.object" not in plan, plan
        assert f"Coalesce {cores}" in plan, plan
    assert ranks.keys() == closed.keys()
    assert max(abs(ranks[v] - closed[v]) for v in closed) <= 1e-12


# -- the "state" plan: the senders' state broadcast over a receiver-keyed
# edge layout ---------------------------------------------------------------

def _record_plans(monkeypatch) -> list[str]:
    """The executed plan of every superstep a Pregel run materializes
    (superstep 0, which sends nothing, is left out)."""
    plans = []
    real = pregel_mod.truncate_plan

    def recording(df, *a, **kw):
        plan = df._jdf.queryExecution().executedPlan().toString()
        if "msg.vertex_id" in plan:
            plans.append(plan)
        return real(df, *a, **kw)

    monkeypatch.setattr(pregel_mod, "truncate_plan", recording)
    return plans


def _ships_state(plan: str) -> bool:
    """A superstep plan of the state plan: one broadcast (the senders'
    state) and no hash exchange."""
    return plan.count("BroadcastExchange") == 1 \
        and "Exchange hashpartitioning" not in plan


def _pagerank_run(spark, graph, group: str) -> tuple[dict, list]:
    res = _in_group(spark, group, lambda: pagerank(graph, **STEPS))
    ranks = _in_group(spark, group, lambda: dict(
        map(tuple, res.select("vertex_id", "rank").collect())
    ))
    return ranks, res.pregel_metrics


def test_warm_pagerank_ships_state_and_writes_no_shuffle(spark, crawl, monkeypatch):
    """In one JVM, PageRank's state (120 rows × 32 bytes) is small enough
    to ship.  A graph's first run keeps the message plan and lays out no
    second layout; the next one broadcasts the senders' state over the
    ``object``-keyed layout in each superstep, and, once that layout is
    built, a call writes no shuffle.  Ranks agree within 1e-12."""
    p = int(spark.conf.get("spark.sql.shuffle.partitions"))
    first, metrics = _pagerank_run(spark, crawl, "state-first")
    assert [(m.plan, m.state_bytes) for m in metrics] == \
        [("messages", 120 * 32)] * STEPS["max_iterations"]
    assert set(crawl._edge_layouts) == {(p, SUBJECT)}
    cold, _ = _pagerank_run(spark, crawl, "state-cold")
    assert set(crawl._edge_layouts) == {(p, SUBJECT), (p, OBJECT)}
    plans = _record_plans(monkeypatch)
    warm, metrics = _pagerank_run(spark, crawl, "state-warm")
    assert warm == cold
    assert _shuffle_stages(spark, "state-warm") == []
    assert len(plans) == STEPS["max_iterations"], plans
    for plan in plans:
        assert _ships_state(plan), plan
    # vertex_id, out_degree and rank: an 8-byte null-bit set + 3 × 8
    assert [(m.plan, m.state_bytes) for m in metrics] == \
        [("state", 120 * 32)] * STEPS["max_iterations"]
    assert first.keys() == warm.keys()
    assert max(abs(first[v] - warm[v]) for v in warm) <= 1e-12


def test_state_plan_follows_the_size_bound(spark, crawl, monkeypatch):
    """The plan is chosen once per run on superstep 0's observed rows ×
    their UnsafeRow size: a bound one byte below that keeps the message
    plan, one equal to it ships the state."""
    size = 120 * 32
    # the graph's first run: it asks for the object layout
    _pagerank_run(spark, crawl, "bound-first")
    for bound, plan in ((size - 1, "messages"), (size, "state")):
        monkeypatch.setattr(pregel_mod, "_MAX_SHIPPED_STATE", bound)
        _, metrics = _pagerank_run(spark, crawl, f"bound-{bound}")
        assert [(m.plan, m.state_bytes) for m in metrics] == \
            [(plan, size)] * STEPS["max_iterations"], metrics


def test_state_plan_waits_for_a_reused_graph(spark, crawl):
    """A second edge layout is laid out only for a graph run again: a
    graph derived by ``with_vertices`` shares the first run's ask, a
    graph over other edges does not.  Sends to subjects read the subject
    layout, the message plan's own, so they ship the state on a graph's
    first run."""
    p = int(spark.conf.get("spark.sql.shuffle.partitions"))
    plans = lambda res: {m.plan for m in res.pregel_metrics}  # noqa: E731
    assert plans(pagerank(crawl, **STEPS)) == {"messages"}
    other = GraphFrame.from_edges(crawl.edges.filter(F.col(SUBJECT) != 1))
    try:
        assert plans(pagerank(other, **STEPS)) == {"messages"}
        assert set(other._edge_layouts) == {(p, SUBJECT)}
        derived = crawl.with_vertices(crawl.vertices)
        assert plans(pagerank(derived, **STEPS)) == {"state"}
        assert (p, OBJECT) in crawl._edge_layouts

        fresh = GraphFrame.from_edges(crawl.edges)
        run = _max_pregel(
            _with_values(fresh), MessageReceiver.SUBJECT, object_("best"),
        )
        run.run()
        assert {m.plan for m in run.metrics} == {"state"}
        assert set(fresh._edge_layouts) == {(p, SUBJECT)}
        fresh.unpersist()
    finally:
        other.unpersist()


def test_variable_width_state_keeps_the_message_plan(spark, crawl):
    """A state column of variable width (here a string) has no size the
    schema tells: every run, the first and a later one, keeps the message
    plan, and records no size."""
    graph = crawl.with_vertices(
        crawl.vertices.withColumn("value", F.col("vertex_id").cast("string"))
    )
    for _ in range(2):
        run = _max_pregel(graph, MessageReceiver.OBJECT, subject("best"))
        run.run()
        assert run.metrics
        assert {(m.plan, m.state_bytes) for m in run.metrics} == \
            {("messages", None)}


def _with_values(graph):
    return graph.with_vertices(graph.vertices.withColumn(
        "value", (F.xxhash64(F.col("vertex_id")) % 100003).cast("double") / 7
    ))


def _max_pregel(graph, receiver, payload):
    """Max propagation to ``receiver``: every vertex keeps the largest
    ``payload`` any of its triplets sends it (built, not yet run)."""
    return (
        PregelBuilder(graph)
        .max_iterations(10)
        .with_vertex_column("best")
        .initial_message(F.col("value"))
        .send_messages(receiver, payload)
        .aggregate_messages(F.max(msg()))
        .v_prog(F.greatest(F.col("best"), F.coalesce(msg(), F.col("best"))))
        .with_exact_convergence()
        .build()
    )


def _max_program(graph, receiver, payload):
    return _max_pregel(graph, receiver, payload).run()


def _symmetric(graph):
    """``graph`` with every edge in both directions."""
    e = graph.edges.select(SUBJECT, OBJECT)
    sym = e.unionByName(
        e.select(F.col(OBJECT).alias(SUBJECT), F.col(SUBJECT).alias(OBJECT))
    ).distinct()
    return GraphFrame(graph.vertices, sym, closed=graph.closed)


def _min_label(graph):
    """Pregel label CC's program (``connected_components``), run on
    ``graph`` as given."""
    return (
        PregelBuilder(graph)
        .max_iterations(50)
        .with_vertex_column("component")
        .initial_message(F.col("vertex_id"))
        .send_messages(MessageReceiver.OBJECT, subject("component"))
        .aggregate_messages(F.min(msg()))
        .v_prog(F.least(F.col("component"),
                        F.coalesce(msg(), F.col("component"))))
        .with_exact_convergence()
        .build()
        .run()
    )


PROGRAMS = {
    "max_value": lambda g: max_value(_with_values(g)),
    "sssp": lambda g: sssp(g, 1),
    # with_active_filter: only vertices that improved last superstep send
    "sssp_frontier": lambda g: sssp(g, 1, frontier=True),
    # connected_components's label program, on a graph symmetrized once
    # by the test (the algorithm symmetrizes into a new graph per call,
    # whose first run never ships the state)
    "label_cc": lambda g: _min_label(g),
    # an ``object.*``-reading payload: the object join stays, on the
    # receiver side of the layout
    "object_payload": lambda g: _max_program(
        _with_values(g), MessageReceiver.OBJECT,
        F.greatest(subject("best"), object_("value")),
    ),
    # messages to subjects: the object side's state is broadcast over the
    # ``subject``-keyed layout
    "to_subjects": lambda g: _max_program(
        _with_values(g), MessageReceiver.SUBJECT, object_("best"),
    ),
}


@pytest.mark.parametrize("world", ["closed", "open"])
@pytest.mark.parametrize("program", sorted(PROGRAMS))
def test_state_plan_is_bit_identical(spark, crawl, monkeypatch, program, world):
    """Exact programs give bit-identical results on the two plans, on a
    closed-world graph and on an open-world one whose vertex table lacks
    every seventh vertex (the edges to and from them must not count)."""
    graph = crawl
    if world == "open":
        graph = GraphFrame(
            crawl.vertices.filter(F.col("vertex_id") % 7 != 0), crawl.edges
        )
    if program == "label_cc":
        graph = _symmetric(graph)
    # as a first run on the graph would: the next run reads the object
    # layout
    graph._layout_wanted(OBJECT)
    plans = _record_plans(monkeypatch)
    runs = {}
    try:
        for plan in ("state", "messages"):
            plans.clear()
            with _message_plan() if plan == "messages" else nullcontext():
                res = PROGRAMS[program](graph)
                runs[plan] = sorted(map(tuple, res.collect()))
            assert plans, program
            # The message plan broadcasts nothing (these programs keep no
            # state statistics) and exchanges every superstep; the state
            # plan broadcasts once a superstep and exchanges nothing after
            # superstep 1.  (Superstep 1 of label CC re-exchanges its
            # initial state, on both plans: that state, ``vertex_id``
            # aliased as ``component``, is advertised as partitioned on
            # ``component``.)
            for i, p in enumerate(plans):
                assert p.count("BroadcastExchange") == (plan == "state"), p
                assert ("Exchange hashpartitioning" in p) == (
                    plan == "messages" or (i == 0 and program == "label_cc")
                ), p
    finally:
        if graph is not crawl:
            graph.unpersist()
    assert runs["state"] == runs["messages"]
    assert len(runs["state"]) == (120 if world == "closed" else 103)


def test_mixed_receivers_keep_the_message_plan(spark, crawl, monkeypatch):
    """HITS sends to objects and to subjects: no single layout puts every
    message beside its receiver, so its supersteps exchange messages and
    broadcast nothing."""
    plans = _record_plans(monkeypatch)
    res = hits(crawl, iterations=3)
    assert res.count() == 120
    assert len(plans) == 3
    for plan in plans:
        assert "BroadcastExchange" not in plan, plan
        assert "Exchange hashpartitioning" in plan, plan
