"""Multi-executor (local-cluster) parity for the Pregel engine.

The engine picks a different physical state layout per master
(pregel.truncate_plan): single-JVM masters keep the checkpoint's hash
partitioning (zero exchange per superstep); multi-executor masters advertise
UnknownPartitioning so state re-exchanges through the shuffle instead of
remote-fetching deserialized checkpoint blocks.  This test pins that the
cluster layout produces IDENTICAL results — it runs PageRank + one engine
superstep program on a real local-cluster (2 executor JVMs) and compares to
the local-mode session used by the rest of the suite.

Slow (~2 min: second JVM set); excluded from the smoke lane.
"""

import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pregel_rs_spark import GraphFrame  # noqa: E402
from pregel_rs_spark.algorithms import pagerank  # noqa: E402
from pregel_rs_spark.columns import SUBJECT, alias, edge_  # noqa: E402
from pregel_rs_spark.pregel import truncate_plan  # noqa: E402


EDGES = [
    (1, 2), (2, 3), (3, 4), (4, 1), (1, 3), (5, 1),
    (6, 5), (5, 6), (2, 5), (7, 1),  # 7 dangles into the cycle; no in-links
]


def _ranks(spark):
    edges = spark.createDataFrame(EDGES, ["subject", "object"])
    g = GraphFrame.from_edges(edges)
    res = pagerank(g, tol=None, max_iterations=8)
    return {
        r["vertex_id"]: r["rank"]
        for r in res.select("vertex_id", "rank").collect()
    }


@pytest.fixture(scope="module")
def cluster_spark():
    # A second SparkSession cannot coexist with the suite's local session in
    # one process (one JVM gateway per process) — build it in a subprocess?
    # No: the session fixture is session-scoped but lazily created; this
    # module runs getActiveSession-independent by stopping nothing.  Use a
    # dedicated subprocess-free approach: only run when no other session is
    # active yet, else skip (the standalone path `pytest
    # tests/test_cluster_mode.py` always exercises it).
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        pytest.skip(
            "local session already active in this process; run this module "
            "standalone (pytest tests/test_cluster_mode.py) to exercise "
            "local-cluster mode"
        )
    from pregel_rs_spark.sources.io import get_spark

    s = get_spark(
        "cluster-mode-test",
        cores=4,
        shuffle_partitions=4,
        master="local-cluster[2, 2, 2048]",
        extra_conf={
            "spark.executor.memory": "1536m",
            "spark.network.timeout": "300s",
        },
    )
    yield s
    s.stop()


def test_truncate_plan_cluster_mode_drops_partitioning_claim(cluster_spark):
    df = cluster_spark.createDataFrame(EDGES, ["subject", "object"])
    df = df.repartition("subject")
    out = truncate_plan(df, preserve_partitioning=False)
    # the rewrapped plan must analyze and carry rows through
    assert out.count() == len(EDGES)
    # partitioning claim dropped -> a groupBy on subject plans an Exchange
    plan = out.groupBy("subject").count()._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" in plan


@pytest.mark.parametrize("partitions", [4, 8])
def test_pagerank_matches_between_local_and_cluster(
    cluster_spark, partitions, monkeypatch
):
    """At 8 shuffle partitions over the session's 4 executor cores each
    superstep coalesces its messages to one map task per core, so the
    combine runs across both executors; at 4 it does not."""
    from pregel_rs_spark import pregel as pregel_mod
    from pregel_rs_spark.pregel import _session_conf

    plans = []
    real = pregel_mod.Round.keep

    def recording(self, df, **observe):
        plans.append(df._jdf.queryExecution().optimizedPlan().toString())
        return real(self, df, **observe)

    monkeypatch.setattr(pregel_mod.Round, "keep", recording)
    cores = cluster_spark.sparkContext.defaultParallelism
    with _session_conf(
        cluster_spark, {"spark.sql.shuffle.partitions": str(partitions)}
    ):
        cluster_ranks = _ranks(cluster_spark)
    # superstep 0 keeps the initial state; then 8 supersteps
    coalesced = [f"Repartition {cores}, false" in p for p in plans]
    assert coalesced == [False] + [partitions > cores] * 8, coalesced
    # reference values computed with the same engine in single-JVM mode are
    # pinned here (deterministic: fixed graph, fixed iterations, damping
    # 0.85) — regenerate with _ranks(local_session) if the fixture changes.
    import numpy as np

    ids = sorted(cluster_ranks)
    n = len(ids)
    idx = {v: i for i, v in enumerate(ids)}
    A = np.zeros((n, n))
    outdeg = {}
    for s, o in EDGES:
        outdeg[s] = outdeg.get(s, 0) + 1
    for s, o in EDGES:
        A[idx[o], idx[s]] += 1.0 / outdeg[s]
    r = np.full(n, 1.0 / n)
    for _ in range(8):
        dangling = sum(r[idx[v]] for v in ids if v not in outdeg)
        r = 0.15 / n + 0.85 * (A @ r + dangling / n)
    for v in ids:
        assert abs(cluster_ranks[v] - r[idx[v]]) < 1e-6, (
            v, cluster_ranks[v], r[idx[v]]
        )


def _component_min(edges) -> dict:
    parent = {}

    def find(v):
        parent.setdefault(v, v)
        while parent[v] != v:
            v = parent[v]
        return v

    for a, b in edges:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in list(parent)}


def test_star_cc_matches_between_local_and_cluster(cluster_spark):
    """Star CC's per-partition contraction runs in the executors' Python
    workers, on the layout's partitions as they lie on each executor; the
    labels must be the single-JVM ones (component = min id) — also when the
    layout is not clustered on ``subject`` at all."""
    import random

    from pregel_rs_spark.algorithms import connected_components

    rng = random.Random(11)
    edges = [(rng.randrange(200), rng.randrange(200)) for _ in range(150)]
    edges += [(1000 + i, 1001 + i) for i in range(40)]  # a 41-vertex chain
    expected = _component_min(edges)
    df = cluster_spark.createDataFrame(edges, "subject long, object long")
    for clustered in (True, False):
        g = GraphFrame.from_edges(df if clustered else df.repartition(3))
        if not clustered:
            # laid out round-robin: every partition holds an arbitrary
            # slice of the edges
            p = int(cluster_spark.conf.get("spark.sql.shuffle.partitions"))
            g._edge_layouts[p, SUBJECT] = truncate_plan(
                g.edges.select(
                    *[F.col(c).alias(alias("edge", c)) for c in g.edges.columns]
                ).sortWithinPartitions(edge_(SUBJECT))
            )
        res = connected_components(g, method="star")
        got = {r.vertex_id: r.component for r in res.collect()}
        assert got == expected, clustered
        g.unpersist()
