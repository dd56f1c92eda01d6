"""Fixtures F3 (proper PageRank vs NumPy power-iteration oracle) and
F7 (CC / LPA / triangle fixtures) from FIXTURES.md."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from pregel_rs_spark import GraphFrame
from pregel_rs_spark.algorithms import (
    connected_components,
    connected_components_star,
    label_propagation,
    pagerank,
    triangle_count,
)

EDGES_A = list(zip([0, 0, 1, 2, 3, 4, 4, 4], [1, 2, 2, 3, 3, 1, 2, 3]))
# F7 graph C: two components, one triangle
EDGES_C = [(1, 2), (2, 3), (1, 3), (3, 4), (10, 11)]


def numpy_pagerank(edges, n, d=0.85, tol=1e-12, iters=1000):
    """Power-iteration oracle with dangling-mass redistribution."""
    out_deg = np.zeros(n)
    for s, _ in edges:
        out_deg[s] += 1
    r = np.full(n, 1.0 / n)
    for _ in range(iters):
        nxt = np.zeros(n)
        for s, o in edges:
            nxt[o] += r[s] / out_deg[s]
        dangling = r[out_deg == 0].sum()
        nxt = d * (nxt + dangling / n) + (1 - d) / n
        if np.abs(nxt - r).max() <= tol:
            return nxt
        r = nxt
    return r


def test_pagerank_matches_numpy_oracle(spark):
    e = spark.createDataFrame(EDGES_A, "subject long, object long")
    g = GraphFrame.from_edges(e)
    res = pagerank(g, tol=1e-9)
    got = {r.vertex_id: r.rank for r in res.collect()}
    want = numpy_pagerank(EDGES_A, 5)
    for v in range(5):
        assert got[v] == pytest.approx(want[v], abs=1e-6)
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-6)


def test_k_core_fixpoint_and_prefix(spark):
    from pregel_rs_spark.algorithms import k_core

    # triangle {1,2,3} + tail 3-4-5: the 2-core is exactly the triangle,
    # reached after two peels (5 first, then 4)
    e = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)], "subject long, object long"
    )
    g = GraphFrame.from_edges(e)
    full = {r.vertex_id: r.degree for r in k_core(g, k=2).collect()}
    assert full == {1: 2, 2: 2, 3: 2}
    # fixed 1-round prefix: only 5 has been peeled, 3 still sees 4
    one = {r.vertex_id: r.degree for r in
           k_core(g, k=2, max_rounds=1).collect()}
    assert one == {1: 2, 2: 2, 3: 3}
    # k above the max core: empty
    assert k_core(g, k=3).count() == 0


def test_random_walks_deterministic_with_python_replay(spark):
    from pregel_rs_spark.algorithms import random_walks

    e = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (3, 4)], "subject long, object long"
    )
    g = GraphFrame.from_edges(e)
    got = {
        (r.walk_id, r.step, r.vertex_id)
        for r in random_walks(g, length=2, seed=7).collect()
    }
    # pure-python replay of the documented picker; 4 is dangling (walk ends)
    adj = {1: [2, 3], 2: [3], 3: [4], 4: []}
    want = set()
    for v in adj:
        want.add((v, 0, v))
        cur = v
        for t in (1, 2):
            nbrs = sorted(adj[cur])
            if not nbrs:
                break
            idx = (
                (v % 1000003) * 7919 + (cur % 999983) * 104729 + t * 7919 + 7
            ) % len(nbrs)
            cur = nbrs[idx]
            want.add((v, t, cur))
    assert got == want
    # deterministic: a second run is identical
    again = {
        (r.walk_id, r.step, r.vertex_id)
        for r in random_walks(g, length=2, seed=7).collect()
    }
    assert again == got


def test_random_walks_sampled_starts_subset(spark):
    """A sampled start set yields EXACTLY the corresponding subset of the
    all-vertices walk set (the picker hashes (walk_id, vertex, step), so
    walks are independent of which other walks run) — the 10^12-edge
    usage: seed from a sample, transition over the full graph."""
    from pregel_rs_spark.algorithms import random_walks

    e = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (3, 4), (4, 1), (2, 4)],
        "subject long, object long",
    )
    g = GraphFrame.from_edges(e)
    full = {
        (r.walk_id, r.step, r.vertex_id)
        for r in random_walks(g, length=3, seed=11).collect()
    }
    starts = spark.createDataFrame([(2,), (4,)], "vertex_id long")
    sampled = {
        (r.walk_id, r.step, r.vertex_id)
        for r in random_walks(g, length=3, seed=11, starts=starts).collect()
    }
    assert sampled == {t for t in full if t[0] in (2, 4)}
    assert sampled  # non-degenerate


def test_neighbor_index_bucketed_equals_single_window(spark):
    """The hub-safe bucketed neighbour index must be BIT-IDENTICAL to
    the single-window build at any bucket count — the bucket function is
    monotone in object id, so (bucket, object) order == object order and
    the offset+local-rank recovery is exact.  Exercised over xxhash64-
    style ids (negative half the time, full int64 span — the range-width
    arithmetic must survive a span that overflows long subtraction)."""
    from pregel_rs_spark.algorithms import _neighbor_index

    e = spark.range(400).select(
        F.pmod(F.xxhash64("id"), F.lit(13)).alias("subject"),
        # full-span ids incl. negatives; distinct per (subject, row)
        F.xxhash64(F.col("id") + 1000).alias("object"),
    ).distinct()
    base = {
        (r.nbr_subject, r.nbr_object, r.nbr_idx)
        for r in _neighbor_index(e, 1).collect()
    }
    for b in (2, 7, 32):
        got = {
            (r.nbr_subject, r.nbr_object, r.nbr_idx)
            for r in _neighbor_index(e, b).collect()
        }
        assert got == base, f"bucketed index diverged at B={b}"
    import pytest as _p

    with _p.raises(ValueError):
        _neighbor_index(e, 0)


def test_neighbor_index_million_degree_hub(spark):
    """Synthetic 10^6-degree hub: the bucketed build ranks it without
    any single task sorting the whole adjacency (window partitioned by
    (subject, bucket)); spot-check exactness at the extremes and at a
    probe id whose rank is computed independently."""
    from pregel_rs_spark.algorithms import _neighbor_index

    hub = spark.range(1_000_000).select(
        F.lit(0).alias("subject"), F.xxhash64("id").alias("object")
    ).distinct()
    idx = _neighbor_index(hub, 64)
    n = hub.count()
    stats = idx.agg(
        F.count(F.lit(1)).alias("cnt"),
        F.min("nbr_idx").alias("lo"),
        F.max("nbr_idx").alias("hi"),
        F.count_distinct("nbr_idx").alias("dn"),
    ).collect()[0]
    assert (stats.cnt, stats.lo, stats.hi, stats.dn) == (n, 0, n - 1, n)
    # rank of the median-ish probe equals the count of smaller ids
    probe = hub.approxQuantile("object", [0.5], 0.0)[0]
    want_rank = hub.filter(F.col("object") < probe).count()
    got_rank = (
        idx.filter(F.col("nbr_object") == probe).collect()[0].nbr_idx
    )
    assert got_rank == want_rank
    # the rank window really partitions by (subject, bucket), not subject
    plan = idx._jdf.queryExecution().executedPlan().toString()
    assert "__bucket" in plan


def numpy_pagerank_weighted(edges, n, d=0.85, tol=1e-12, iters=1000):
    """Weighted power-iteration oracle: send rank * w / out_weight."""
    out_w = np.zeros(n)
    for s, _, w in edges:
        out_w[s] += w
    r = np.full(n, 1.0 / n)
    for _ in range(iters):
        nxt = np.zeros(n)
        for s, o, w in edges:
            nxt[o] += r[s] * w / out_w[s]
        dangling = r[out_w == 0].sum()
        nxt = d * (nxt + dangling / n) + (1 - d) / n
        if np.abs(nxt - r).max() <= tol:
            return nxt
        r = nxt
    return r


def test_pagerank_weighted_matches_numpy_oracle(spark):
    # weighted graph with a dangling vertex (3) and a heavy 0→1 edge
    wedges = [(0, 1, 5.0), (0, 2, 1.0), (1, 2, 2.0), (2, 3, 1.0),
              (4, 0, 1.0), (4, 3, 3.0)]
    e = spark.createDataFrame(
        wedges, "subject long, object long, weight double"
    )
    g = GraphFrame.from_edges(e)
    res = pagerank(g, tol=1e-9, weight="weight")
    got = {r.vertex_id: r.rank for r in res.collect()}
    want = numpy_pagerank_weighted(wedges, 5)
    for v in range(5):
        assert got[v] == pytest.approx(want[v], abs=1e-6)
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-6)


def test_pagerank_weighted_unit_weights_match_unweighted(spark):
    # w ≡ 1 must reproduce the unweighted ranks exactly (same fan-out)
    e = spark.createDataFrame(EDGES_A, "subject long, object long")
    ew = e.withColumn("weight", F.lit(1.0))
    r_u = pagerank(GraphFrame.from_edges(e), tol=0.0, max_iterations=4)
    r_w = pagerank(
        GraphFrame.from_edges(ew), tol=0.0, max_iterations=4, weight="weight"
    )
    u = {r.vertex_id: r.rank for r in r_u.collect()}
    w = {r.vertex_id: r.rank for r in r_w.collect()}
    assert u.keys() == w.keys()
    for v in u:
        assert w[v] == pytest.approx(u[v], abs=1e-12)


@pytest.mark.smoke
def test_pagerank_fixture_values(spark):
    """FIXTURES F3: converged ranks on graph A (verified by simulation)."""
    e = spark.createDataFrame(EDGES_A, "subject long, object long")
    res = pagerank(GraphFrame.from_edges(e), tol=1e-9)
    got = {r.vertex_id: r.rank for r in res.collect()}
    want = {0: 0.03, 1: 0.05125, 2: 0.0948125, 3: 0.7939375, 4: 0.03}
    for v, w in want.items():
        assert got[v] == pytest.approx(w, abs=1e-6)


def test_pagerank_dangling(spark):
    """Graph with a dangling vertex: 0→1, 1 has no out-edges.
    Mass must be redistributed, Σrank = 1."""
    e = spark.createDataFrame([(0, 1)], "subject long, object long")
    res = pagerank(GraphFrame.from_edges(e), tol=1e-8, max_iterations=40)
    got = {r.vertex_id: r.rank for r in res.collect()}
    want = numpy_pagerank([(0, 1)], 2)
    for v in range(2):
        assert got[v] == pytest.approx(want[v], abs=1e-6)
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-6)


@pytest.mark.smoke
def test_connected_components(spark):
    e = spark.createDataFrame(EDGES_C, "subject long, object long")
    res = connected_components(GraphFrame.from_edges(e))
    comp = {r.vertex_id: r.component for r in res.collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_connected_components_chain(spark):
    """Long path exercises multi-superstep propagation + early stop."""
    e = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], "subject long, object long"
    )
    res = connected_components(GraphFrame.from_edges(e))
    comp = {r.vertex_id: r.component for r in res.collect()}
    assert set(comp.values()) == {0}


def test_connected_components_star_matches_label(spark):
    """large-star/small-star returns EXACTLY the min-label components."""
    e = spark.createDataFrame(EDGES_C, "subject long, object long")
    g = GraphFrame.from_edges(e)
    star = {
        r.vertex_id: r.component
        for r in connected_components(g, method="star").collect()
    }
    label = {
        r.vertex_id: r.component for r in connected_components(g).collect()
    }
    assert star == label == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_connected_components_star_chain_logarithmic(spark):
    """A 64-vertex chain (diameter 63): star converges in O(log n) rounds
    — strictly fewer than the O(diameter) supersteps min-label needs."""
    n = 64
    e = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "subject long, object long"
    )
    g = GraphFrame.from_edges(e)
    res = connected_components_star(g)
    comp = {r.vertex_id: r.component for r in res.collect()}
    assert set(comp.values()) == {0}
    assert len(comp) == n
    assert res.cc_rounds <= 10, res.cc_rounds  # log₂64 ≈ 6 (+slack) ≪ 63


def test_connected_components_star_isolated_and_random(spark):
    """Random multi-component graph + isolated vertex: star == label."""
    import random

    rng = random.Random(7)
    edges = [(rng.randrange(60), rng.randrange(60)) for _ in range(80)]
    edges = [(a, b) for a, b in edges if a != b]
    e = spark.createDataFrame(edges, "subject long, object long")
    v = spark.createDataFrame(
        [(i,) for i in range(61)], "vertex_id long"  # 60 is isolated
    )
    g = GraphFrame(v, e)
    star = {
        r.vertex_id: r.component
        for r in connected_components(g, method="star").collect()
    }
    label = {
        r.vertex_id: r.component for r in connected_components(g).collect()
    }
    assert star == label
    assert star[60] == 60


# (edges, vertex table or None for from_edges, expected output rows)
STAR_EDGE_CASES = {
    "self_loops": (
        [(1, 1), (1, 2), (3, 3)], None, [(1, 1), (2, 1), (3, 3)],
    ),
    "reciprocal_and_repeated": (
        [(1, 2), (2, 1), (1, 2), (3, 2), (5, 4), (4, 5)], None,
        [(1, 1), (2, 1), (3, 1), (4, 4), (5, 4)],
    ),
    "isolated_vertices": (
        [(2, 3)], ([(i,) for i in range(1, 6)], "vertex_id long"),
        [(1, 1), (2, 2), (3, 2), (4, 4), (5, 5)],
    ),
    "vertex_properties": (
        [(3, 2), (2, 1), (4, 4)],
        ([(i, f"v{i}") for i in range(1, 6)], "vertex_id long, name string"),
        [(1, "v1", 1), (2, "v2", 1), (3, "v3", 1), (4, "v4", 4), (5, "v5", 5)],
    ),
    "vertex_out_degree_column": (
        [(3, 2), (2, 1), (5, 4)],
        ([(i, 10 * i) for i in range(1, 6)], "vertex_id long, out_degree long"),
        [(1, 10, 1), (2, 20, 1), (3, 30, 1), (4, 40, 4), (5, 50, 4)],
    ),
}


@pytest.mark.parametrize("case", sorted(STAR_EDGE_CASES))
def test_connected_components_star_edge_cases(spark, case):
    """star == label == expected, whole rows: vertex property columns
    (a vertex table's own ``out_degree`` included) survive unchanged, and
    no ``out_degree`` leaks from the graph's degree table."""
    edges, vertices, expected = STAR_EDGE_CASES[case]
    e = spark.createDataFrame(edges, "subject long, object long")
    g = (GraphFrame.from_edges(e) if vertices is None
         else GraphFrame(spark.createDataFrame(*vertices), e))
    star = connected_components(g, method="star")
    label = connected_components(g)
    assert star.columns == label.columns == [*g.vertices.columns, "component"]
    rows = [sorted(map(tuple, r.collect())) for r in (star, label)]
    assert rows[0] == rows[1] == expected
    g.unpersist()


@pytest.mark.parametrize("partitions", [1, 64])
@pytest.mark.parametrize("id_type", ["int", "bigint", "string"])
def test_connected_components_star_extremes(spark, id_type, partitions):
    """star == label for every id type, when one partition contracts the
    whole graph, and when most partitions of the edge layout are empty
    (64 partitions, 30 edges)."""
    import random

    rng = random.Random(13)
    pairs = [(rng.randrange(40), rng.randrange(40)) for _ in range(30)]
    # string ids order differently from their numbers ("10" < "9"), and
    # non-ASCII ones by UTF-8 bytes ("é" > "z")
    to_id = {"int": int, "bigint": int,
             "string": lambda i: ("é" if i % 7 == 0 else "") + str(i)}[id_type]
    edges = [(to_id(a), to_id(b)) for a, b in pairs]
    key = "spark.sql.shuffle.partitions"
    p0 = spark.conf.get(key)
    spark.conf.set(key, str(partitions))
    try:
        e = spark.createDataFrame(edges, f"subject {id_type}, object {id_type}")
        g = GraphFrame.from_edges(e)
        star = connected_components(g, method="star")
        rows = [
            sorted(map(tuple, r.select("vertex_id", "component").collect()))
            for r in (star, connected_components(g))
        ]
        assert dict(star.dtypes)["component"] == id_type
        g.unpersist()
    finally:
        spark.conf.set(key, p0)
    assert rows[0] == rows[1]
    assert len({c for _, c in rows[0]}) > 1
    if partitions == 1:
        # one contraction task reads every edge, so the bound admits its
        # forest: round 1 is the finish
        assert star.cc_rounds == 1


def test_connected_components_star_rejects_no_rounds(spark):
    e = spark.createDataFrame(EDGES_C, "subject long, object long")
    g = GraphFrame.from_edges(e)
    for bad in (0, -1):
        with pytest.raises(ValueError, match="max_iterations"):
            connected_components_star(g, max_iterations=bad)
    with pytest.raises(ValueError, match="max_iterations"):
        connected_components(g, max_iterations=0, method="star")


def test_label_propagation(spark):
    e = spark.createDataFrame(EDGES_C, "subject long, object long")
    res = label_propagation(GraphFrame.from_edges(e), max_iterations=5)
    lab = {r.vertex_id: r.label for r in res.collect()}
    # one label per component; the two components get distinct labels
    assert len({lab[1], lab[2], lab[3]}) == 1
    assert lab[10] == lab[11]
    assert lab[1] != lab[10]


def test_label_propagation_frees_its_blocks_on_error(spark, monkeypatch):
    from pregel_rs_spark import pregel as pregel_mod

    def persistent():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    baseline = persistent()
    calls = []
    real = pregel_mod.truncate_plan

    def failing_in_iteration_2(df, *a, **kw):
        calls.append(df.columns)
        if len(calls) == 3:  # the initial labels, iteration 1, iteration 2
            raise RuntimeError("iteration 2 fails")
        return real(df, *a, **kw)

    monkeypatch.setattr(pregel_mod, "truncate_plan", failing_in_iteration_2)
    e = spark.createDataFrame(EDGES_C, "subject long, object long")
    with pytest.raises(RuntimeError, match="iteration 2 fails"):
        label_propagation(GraphFrame.from_edges(e), max_iterations=5)
    assert persistent() <= baseline


def test_triangle_count(spark):
    e = spark.createDataFrame(EDGES_C, "subject long, object long")
    res = triangle_count(GraphFrame.from_edges(e))
    tri = {r.vertex_id: r.triangles for r in res.collect()}
    assert tri == {1: 1, 2: 1, 3: 1, 4: 0, 10: 0, 11: 0}


def test_triangle_count_k4(spark):
    """K4 has 4 triangles, each vertex in 3."""
    edges = [(a, b) for a in range(4) for b in range(4) if a < b]
    e = spark.createDataFrame(edges, "subject long, object long")
    res = triangle_count(GraphFrame.from_edges(e))
    tri = {r.vertex_id: r.triangles for r in res.collect()}
    assert tri == {0: 3, 1: 3, 2: 3, 3: 3}


def test_triangle_count_direction_insensitive(spark):
    """Reversed/duplicated directed edges count each triangle once."""
    e = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 1), (1, 3)], "subject long, object long"
    )
    res = triangle_count(GraphFrame.from_edges(e))
    tri = {r.vertex_id: r.triangles for r in res.collect()}
    assert tri == {1: 1, 2: 1, 3: 1}


def test_max_value_builtin(spark):
    """Reference example parity (examples/maximum_value.rs): all vertices
    converge to the global max reachable value, exact."""
    from pregel_rs_spark.algorithms import max_value

    vertices = spark.createDataFrame(
        [(0, 3), (1, 6), (2, 2), (3, 1)], "vertex_id long, value long"
    )
    edges = spark.createDataFrame(
        [(0, 1), (1, 0), (1, 3), (2, 1), (2, 3), (3, 2)],
        "subject long, object long",
    )
    res = max_value(GraphFrame(vertices, edges), max_iterations=10)
    got = {r.vertex_id: r.max_value for r in res.collect()}
    assert got == {0: 6, 1: 6, 2: 6, 3: 6}


def test_pagerank_open_vs_closed_world(spark):
    """Join pruning on closed graphs must not change results: the same
    edge set run through a closed-world graph (object-side join dropped)
    and an open-world graph (reference full triplet) agree to 1e-12."""
    e = spark.createDataFrame(EDGES_A, "subject long, object long")
    closed = pagerank(GraphFrame.from_edges(e), tol=0.0, max_iterations=5)
    v = (
        e.select(F.col("subject").alias("vertex_id"))
        .unionAll(e.select("object"))
        .distinct()
    )
    open_ = pagerank(GraphFrame(v, e, closed=False), tol=0.0, max_iterations=5)
    a = {r.vertex_id: r.rank for r in closed.collect()}
    b = {r.vertex_id: r.rank for r in open_.collect()}
    assert a.keys() == b.keys()
    for k in a:
        assert abs(a[k] - b[k]) < 1e-12


def test_sssp_unit_weights(spark):
    """BFS hop counts on a small DAG-with-cycle; unreached stays +inf."""
    from pregel_rs_spark.algorithms import sssp

    edges = [(1, 2), (2, 3), (3, 1), (2, 4), (4, 5), (9, 1)]
    e = spark.createDataFrame(edges, "subject long, object long")
    res = sssp(GraphFrame.from_edges(e), source=1, max_iterations=20)
    got = {r.vertex_id: r.distance for r in res.collect()}
    assert got[1] == 0.0
    assert got[2] == 1.0
    assert got[3] == 2.0
    assert got[4] == 2.0
    assert got[5] == 3.0
    assert got[9] == float("inf")  # no in-path from 1


def test_sssp_weighted(spark):
    """Weighted relaxations: the longer-hop cheaper path must win."""
    from pregel_rs_spark.algorithms import sssp

    edges = [(1, 2, 10.0), (1, 3, 1.0), (3, 4, 1.0), (4, 2, 1.0)]
    e = spark.createDataFrame(edges, "subject long, object long, w double")
    res = sssp(GraphFrame.from_edges(e), source=1, weight_column="w",
               max_iterations=20)
    got = {r.vertex_id: r.distance for r in res.collect()}
    assert got[2] == 3.0  # 1->3->4->2, not the direct 10.0 edge
    assert got[3] == 1.0
    assert got[4] == 2.0


def test_sssp_frontier_matches_default(spark):
    """``frontier=True`` (active-filter send side) returns the identical
    distance map — unit AND weighted — with the ``changed`` scratch
    column dropped from the result.  Weighted re-relaxation is the sharp
    case: a vertex that improves again in a later round must re-enter
    the frontier and propagate (Bellman-Ford correctness)."""
    from pregel_rs_spark.algorithms import sssp

    edges = [(1, 2), (2, 3), (3, 1), (2, 4), (4, 5), (9, 1)]
    e = spark.createDataFrame(edges, "subject long, object long")
    g = GraphFrame.from_edges(e)
    want = {r.vertex_id: r.distance
            for r in sssp(g, source=1, max_iterations=20).collect()}
    res = sssp(g, source=1, max_iterations=20, frontier=True)
    assert "changed" not in res.columns
    assert {r.vertex_id: r.distance for r in res.collect()} == want

    we = [(1, 2, 10.0), (1, 3, 1.0), (3, 4, 1.0), (4, 2, 1.0),
          (2, 5, 1.0)]
    ew = spark.createDataFrame(we, "subject long, object long, w double")
    gw = GraphFrame.from_edges(ew)
    want_w = {r.vertex_id: r.distance
              for r in sssp(gw, source=1, weight_column="w",
                            max_iterations=20).collect()}
    got_w = {r.vertex_id: r.distance
             for r in sssp(gw, source=1, weight_column="w",
                           max_iterations=20, frontier=True).collect()}
    # vertex 2 improves twice (10.0 then 3.0) and must re-propagate the
    # improvement to 5 (4.0, not 11.0)
    assert got_w == want_w and got_w[5] == 4.0


def test_hits_vs_numpy(spark):
    """Jacobi HITS (synchronous BSP) must match the NumPy recurrence
    a' = Aᵀh, h' = Aa from all-ones, then L1 normalization."""
    import numpy as np

    from pregel_rs_spark.algorithms import hits

    edges = [(1, 2), (1, 3), (2, 3), (3, 1), (4, 3), (2, 4)]
    ids = [1, 2, 3, 4]
    idx = {v: i for i, v in enumerate(ids)}
    A = np.zeros((4, 4))
    for s, o in edges:
        A[idx[s], idx[o]] = 1.0
    a = np.ones(4)
    h = np.ones(4)
    for _ in range(3):
        a, h = A.T @ h, A @ a
    a /= a.sum()
    h /= h.sum()

    e = spark.createDataFrame(edges, "subject long, object long")
    res = hits(GraphFrame.from_edges(e), iterations=3)
    got = {r.vertex_id: (r.auth, r.hub) for r in res.collect()}
    for v in ids:
        assert abs(got[v][0] - a[idx[v]]) < 1e-9, (v, got[v], a[idx[v]])
        assert abs(got[v][1] - h[idx[v]]) < 1e-9, (v, got[v], h[idx[v]])


def test_hits_unnormalized_exact(spark):
    """normalize=False returns the raw sums: after 1 iteration auth =
    in-degree and hub = out-degree exactly."""
    from pregel_rs_spark.algorithms import hits

    edges = [(1, 2), (1, 3), (2, 3), (3, 1)]
    e = spark.createDataFrame(edges, "subject long, object long")
    res = hits(GraphFrame.from_edges(e), iterations=1, normalize=False)
    got = {r.vertex_id: (r.auth, r.hub) for r in res.collect()}
    assert got == {
        1: (1.0, 2.0),  # in {3}, out {2,3}
        2: (1.0, 1.0),
        3: (2.0, 1.0),
    }


def test_personalized_pagerank_vs_numpy(spark):
    """PPR with a single seed: restart mass (teleport + dangling) lands on
    the seed only; Σ rank stays 1; values match power iteration at 1e-8."""
    import numpy as np

    from pregel_rs_spark.algorithms import personalized_pagerank

    edges = [(1, 2), (2, 3), (3, 1), (3, 4), (5, 1)]  # 4 dangling
    ids = [1, 2, 3, 4, 5]
    idx = {v: i for i, v in enumerate(ids)}
    n = len(ids)
    out_deg = np.zeros(n)
    for s, _ in edges:
        out_deg[idx[s]] += 1
    p = np.zeros(n)
    p[idx[1]] = 1.0
    r = p.copy()
    d = 0.85
    for _ in range(60):
        msgs = np.zeros(n)
        for s, o in edges:
            msgs[idx[o]] += r[idx[s]] / out_deg[idx[s]]
        dang = r[out_deg == 0].sum()
        r = d * (msgs + dang * p) + (1 - d) * p

    e = spark.createDataFrame(edges, "subject long, object long")
    res = personalized_pagerank(
        GraphFrame.from_edges(e), sources=[1], tol=1e-12, max_iterations=60
    )
    got = {row.vertex_id: row.rank for row in res.collect()}
    assert abs(sum(got.values()) - 1.0) < 1e-9
    for v in ids:
        assert abs(got[v] - r[idx[v]]) < 1e-8, (v, got[v], r[idx[v]])


def test_personalized_pagerank_rejects_empty_sources(spark):
    import pytest

    from pregel_rs_spark.algorithms import personalized_pagerank

    e = spark.createDataFrame([(1, 2)], "subject long, object long")
    with pytest.raises(ValueError):
        personalized_pagerank(GraphFrame.from_edges(e), sources=[])


def _scc_oracle(vertices, edges):
    """Brute-force mutual-reachability SCC: label = MAX member id."""
    from collections import defaultdict

    adj = defaultdict(set)
    for s, o in edges:
        adj[s].add(o)

    def reach(v):
        seen = {v}
        st = [v]
        while st:
            u = st.pop()
            for w in adj[u]:
                if w not in seen:
                    seen.add(w)
                    st.append(w)
        return seen

    r = {v: reach(v) for v in vertices}
    return {v: max(w for w in r[v] if v in r[w]) for v in vertices}


def test_scc_two_cycles_bridge(spark):
    """Two cycles joined by a one-way bridge stay separate SCCs; a tail
    vertex is a singleton."""
    from pregel_rs_spark.algorithms import strongly_connected_components

    edges = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 4), (5, 6)]
    vs = [1, 2, 3, 4, 5, 6]
    e = spark.createDataFrame(edges, "subject long, object long")
    res = strongly_connected_components(GraphFrame.from_edges(e))
    got = {r.vertex_id: r.component for r in res.collect()}
    assert got == _scc_oracle(vs, edges)
    assert got[1] == got[2] == got[3] == 3
    assert got[4] == got[5] == 5
    assert got[6] == 6


def test_scc_decreasing_chain_multi_round(spark):
    """Monotone-decreasing chain: every vertex is a singleton SCC and the
    coloring algorithm needs multiple rounds (one color class, one root
    peeled per round) — exercises the round loop, not just round 1."""
    from pregel_rs_spark.algorithms import strongly_connected_components

    edges = [(5, 4), (4, 3), (3, 2), (2, 1)]
    e = spark.createDataFrame(edges, "subject long, object long")
    res = strongly_connected_components(GraphFrame.from_edges(e))
    got = {r.vertex_id: r.component for r in res.collect()}
    assert got == {v: v for v in [1, 2, 3, 4, 5]}


def test_scc_mixed_vs_oracle(spark):
    """Denser mixed graph vs the brute-force oracle."""
    import random

    from pregel_rs_spark.algorithms import strongly_connected_components

    rng = random.Random(7)
    vs = list(range(1, 21))
    edges = sorted({(rng.choice(vs), rng.choice(vs)) for _ in range(60)})
    edges = [(s, o) for s, o in edges if s != o]
    e = spark.createDataFrame(edges, "subject long, object long")
    g = GraphFrame(
        spark.createDataFrame([(v,) for v in vs], "vertex_id long"), e
    )
    res = strongly_connected_components(g)
    got = {r.vertex_id: r.component for r in res.collect()}
    assert got == _scc_oracle(vs, edges)


def _ball(adj, v, k):
    cur = {v}
    for _ in range(k):
        cur = cur | {w for u in cur for w in adj.get(u, ())}
    return cur


def test_neighborhood_sizes_exact_small(spark):
    from pregel_rs_spark.algorithms import neighborhood_sizes

    e = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4)], "subject long, object long"
    )
    g = GraphFrame.from_edges(e)
    adj = {1: [2], 2: [3], 3: [1, 4]}
    for k in (0, 1, 2, 3):
        got = {
            r.vertex_id: r.ball_size
            for r in neighborhood_sizes(g, k).collect()
        }
        want = {v: len(_ball(adj, v, k)) for v in (1, 2, 3, 4)}
        assert got == want, (k, got, want)


def _portable_reg_val(v, log2m):
    p = 2147483647
    x0 = (v % p + v % 2147483629) % p
    x1 = (x0 * 48271 + 13) % p
    x2 = (x1 * 69621) % p
    x3 = (x2 * 40692) % p
    h = x2 * (1 << 28) + x3 % (1 << 28)
    m = 1 << log2m
    w = h >> log2m
    wb = 59 - log2m
    return h % m, (wb + 1) if w == 0 else (wb + 1 - w.bit_length())


def test_hyperball_registers_match_python_replay(spark):
    from pregel_rs_spark.algorithms import hyperball_registers

    edges = [(1, 2), (2, 3), (3, 1), (3, 4), (5, 1)]
    e = spark.createDataFrame(edges, "subject long, object long")
    g = GraphFrame.from_edges(e)
    adj = {}
    for s, o in edges:
        adj.setdefault(s, []).append(o)
    got = {
        (r.vertex_id, r.reg, r.val)
        for r in hyperball_registers(g, k=2, log2m=5, portable=True).collect()
    }
    want = set()
    for v in (1, 2, 3, 4, 5):
        per_reg = {}
        for u in _ball(adj, v, 2):
            reg, val = _portable_reg_val(u, 5)
            per_reg[reg] = max(per_reg.get(reg, 0), val)
        want |= {(v, reg, val) for reg, val in per_reg.items()}
    assert got == want


@pytest.mark.smoke
def test_hyperball_estimate_tracks_exact(spark):
    """HLL estimate vs exact ball sizes on a 200-vertex random digraph
    (deterministic: xxhash64 + fixed edge set). m=128 -> ~9% std error."""
    from pregel_rs_spark.algorithms import hyperball, neighborhood_sizes

    n = 200
    edges = [
        (v, (v * 17 + j * 31 + 7) % n)
        for v in range(n)
        for j in range(4)
        if (v * 17 + j * 31 + 7) % n != v
    ]
    e = spark.createDataFrame(edges, "subject long, object long")
    g = GraphFrame.from_edges(e)
    exact = {
        r.vertex_id: r.ball_size for r in neighborhood_sizes(g, 2).collect()
    }
    est = {
        r.vertex_id: r.ball_size_est
        for r in hyperball(g, 2, log2m=7).collect()
    }
    assert set(est) == set(exact)
    rel = [abs(est[v] - exact[v]) / exact[v] for v in exact]
    mean_rel = sum(rel) / len(rel)
    assert mean_rel < 0.15, mean_rel
    # aggregate (sum of ball sizes ~ avg reachability) within 5%
    tot_err = abs(sum(est.values()) - sum(exact.values())) / sum(exact.values())
    assert tot_err < 0.05, tot_err


def test_hyperball_extreme_log2m_sane(spark):
    """Regression for the scaled-integer register sum: with the hard-coded
    2^(55-val) scale, log2m=4 allowed val=56 → shiftleft(1, -1) → Java
    masks to shift 63 → Long.MIN_VALUE terms (silently garbage estimates),
    and log2m ≥ 9 could overflow the int64 sum.  The scale now tracks
    w_bits+1, keeping every term exact and the sum ≤ 2^59 across the whole
    documented log2m range — estimates must stay finite, positive and
    bounded at both extremes."""
    import math

    from pregel_rs_spark.algorithms import hyperball

    n = 120
    edges = [
        (v, (v * 13 + j * 29 + 3) % n)
        for v in range(n)
        for j in range(3)
        if (v * 13 + j * 29 + 3) % n != v
    ]
    e = spark.createDataFrame(edges, "subject long, object long")
    g = GraphFrame.from_edges(e)
    for log2m in (4, 10, 16):
        est = {
            r.vertex_id: r.ball_size_est
            for r in hyperball(g, 2, log2m=log2m).collect()
        }
        assert len(est) == n
        for v, x in est.items():
            assert math.isfinite(x) and 0.0 < x <= 20.0 * n, (log2m, v, x)

    with pytest.raises(ValueError, match="log2m"):
        hyperball(g, 2, log2m=3)


def test_effective_diameter_cycle(spark):
    """Directed 25-cycle: N(k) = 25(k+1) up to k=24, then flat 625.
    q=0.9 -> target 562.5, exact interpolated x = 21.5; HLL (m=128) sum
    noise averages out over 25 vertices, so the estimate lands within
    ~1.5 hops.  Also pins that the growth-based stop fires well before
    max_k."""
    from pregel_rs_spark.algorithms import effective_diameter

    n = 25
    e = spark.createDataFrame(
        [(i, (i + 1) % n) for i in range(n)], "subject long, object long"
    )
    g = GraphFrame.from_edges(e)
    res = effective_diameter(g, q=0.9, max_k=60, log2m=7)
    assert 24 <= res["rounds"] <= 30, res["rounds"]
    assert 20.0 <= res["effective_diameter"] <= 23.0, res
    assert res["nf"][0] < res["nf"][-1]


def test_degree_histogram_buckets(spark):
    """Integer-exact log2 buckets: degree d lands in floor(log2 d)+1;
    zero-out-degree sinks land in bucket 0."""
    from pregel_rs_spark.algorithms import degree_histogram

    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 5)], "subject long, object long"
    )
    g = GraphFrame.from_edges(edges)
    rows = {r.bucket: r for r in degree_histogram(g, "out").collect()}
    assert set(rows) == {0, 1, 2}
    assert rows[2].n_vertices == 1          # vertex 1, degree 3
    assert (rows[2].min_degree, rows[2].max_degree) == (3, 3)
    assert rows[1].n_vertices == 1          # vertex 2, degree 1
    assert rows[0].n_vertices == 3          # sinks 3, 4, 5
    assert rows[0].max_degree == 0
    # power-of-two boundary: degree 4 must land in bucket 3, not 2
    e2 = spark.createDataFrame(
        [(1, o) for o in (2, 3, 4, 5)], "subject long, object long"
    )
    r2 = {r.bucket: r for r in
          degree_histogram(GraphFrame.from_edges(e2), "out").collect()}
    assert r2[3].min_degree == 4
    # in-direction
    rin = {r.bucket: r for r in degree_histogram(g, "in").collect()}
    assert rin[1].n_vertices == 4 and rin[0].n_vertices == 1


def test_reciprocity(spark):
    from pregel_rs_spark.algorithms import reciprocity

    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (1, 3), (1, 3), (4, 4)],
        "subject long, object long",
    )
    r = reciprocity(GraphFrame.from_edges(edges)).collect()[0]
    # distinct non-loop edges: (1,2),(2,1),(1,3) — 2 reciprocal
    assert (r.n_edges, r.n_reciprocal) == (3, 2)
    assert abs(r.reciprocity - round(2 / 3, 6)) < 1e-12


def test_harmonic_centrality_cycle_and_star(spark):
    """Exact harmonic values are known on a directed cycle (every vertex:
    sum_{t=1..k} 1/t) and a star (direction asymmetry); the HLL estimates
    must land within the small-ball linear-counting envelope and be
    invariant to input partitioning."""
    from pregel_rs_spark.algorithms import harmonic_centrality

    n = 40
    cyc = spark.createDataFrame(
        [(i, (i + 1) % n) for i in range(n)], "subject long, object long"
    )
    g = GraphFrame.from_edges(cyc)
    h = {r.vertex_id: r.harmonic
         for r in harmonic_centrality(g, k=4, log2m=5, portable=True,
                                      reverse=False).collect()}
    exact = 1 + 1 / 2 + 1 / 3 + 1 / 4  # one new vertex per hop
    for v, val in h.items():
        assert abs(val - exact) < 0.8, (v, val)
    # partitioning invariance (bit-identical floats)
    h2 = {r.vertex_id: r.harmonic
          for r in harmonic_centrality(
              GraphFrame.from_edges(cyc.repartition(7)), k=4, log2m=5,
              portable=True, reverse=False).collect()}
    assert h == h2

    star = spark.createDataFrame(
        [(0, i) for i in range(1, 21)], "subject long, object long"
    )
    gs = GraphFrame.from_edges(star)
    out_h = {r.vertex_id: r.harmonic
             for r in harmonic_centrality(gs, k=2, log2m=5, portable=True,
                                          reverse=False).collect()}
    in_h = {r.vertex_id: r.harmonic
            for r in harmonic_centrality(gs, k=2, log2m=5, portable=True,
                                         reverse=True).collect()}
    # out-direction: the hub reaches 20 leaves at distance 1, leaves reach 0
    assert out_h[0] > 10 and all(abs(out_h[i]) < 0.5 for i in range(1, 21))
    # in-direction (the centrality convention): leaves each reached by the
    # hub at distance 1 (~1.0), the hub by nobody
    assert abs(in_h[0]) < 0.5
    for i in range(1, 21):
        assert abs(in_h[i] - 1.0) < 0.5, (i, in_h[i])


def test_clustering_coefficient(spark):
    from pregel_rs_spark.algorithms import clustering_coefficient

    # K4 plus a pendant vertex hanging off vertex 1
    k4 = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (1, 5)]
    g = GraphFrame.from_edges(
        spark.createDataFrame(k4, "subject long, object long")
    )
    rows = {r.vertex_id: r for r in clustering_coefficient(g).collect()}
    assert rows[1].triangles == 3 and rows[1].und_degree == 4
    assert rows[1].coefficient == 0.5          # 3 / C(4,2)
    for v in (2, 3, 4):
        assert rows[v].triangles == 3 and rows[v].und_degree == 3
        assert rows[v].coefficient == 1.0      # closed neighborhood
    assert rows[5].und_degree == 1 and rows[5].coefficient == 0.0


def test_cocitation_pairs_counts_and_hub_cap(spark):
    """Hand-built co-citation fixture + the max_out_degree hub guard: a
    directory page linking to everything must not contribute pairs."""
    from pregel_rs_spark.algorithms import cocitation_pairs

    edges = [
        (1, 10), (1, 11), (1, 12),       # 1 cites 10,11,12
        (2, 10), (2, 11),                # 2 cites 10,11
        (3, 12), (3, 13),                # 3 cites 12,13
        # hub 9 cites 10..14 — dropped when max_out_degree < 5
        (9, 10), (9, 11), (9, 12), (9, 13), (9, 14),
    ]
    g = GraphFrame.from_edges(
        spark.createDataFrame(edges, "subject long, object long")
    )
    got = {
        (r.page_a, r.page_b): r.n_shared
        for r in cocitation_pairs(g, min_shared=1, max_out_degree=4).collect()
    }
    # only sources 1,2,3 survive the cap → pairs from their citation lists
    assert got == {
        (10, 11): 2,   # cited together by 1 and 2
        (10, 12): 1,
        (11, 12): 1,
        (12, 13): 1,
    }
    # with the hub admitted, (10,11) gains its vote and (13,14) appears
    full = {
        (r.page_a, r.page_b): r.n_shared
        for r in cocitation_pairs(g, min_shared=1, max_out_degree=5).collect()
    }
    assert full[(10, 11)] == 3 and full[(13, 14)] == 1


def test_degree_assortativity_matches_numpy(spark):
    from pregel_rs_spark.algorithms import degree_assortativity

    edges = [(0, 1), (0, 2), (1, 2), (2, 3), (3, 1), (4, 1), (4, 3)]
    g = GraphFrame.from_edges(
        spark.createDataFrame(edges, "subject long, object long")
    )
    row = degree_assortativity(g).collect()[0]
    out_deg = {}
    in_deg = {}
    for s, o in edges:
        out_deg[s] = out_deg.get(s, 0) + 1
        in_deg[o] = in_deg.get(o, 0) + 1
    xs = np.array([out_deg[s] for s, _ in edges], dtype=float)
    ys = np.array([in_deg[o] for _, o in edges], dtype=float)
    expect = np.corrcoef(xs, ys)[0, 1]
    assert row.n_edges == len(edges)
    assert abs(row.assortativity - round(expect, 6)) < 1e-9


def test_sssp_weighted_matches_bellman_ford(spark):
    """Weighted min-plus SSSP vs a pure-Python Bellman-Ford replay,
    including a case where the cheapest route uses MORE hops."""
    from pregel_rs_spark.algorithms import sssp

    edges = [
        (0, 1, 10.0),          # direct but expensive
        (0, 2, 1.0), (2, 3, 1.0), (3, 1, 1.0),   # 3 hops, cost 3
        (1, 4, 2.0),
        (5, 0, 1.0),           # 5 reaches everything; nothing reaches 5
    ]
    g = GraphFrame.from_edges(
        spark.createDataFrame(edges, "subject long, object long, w double")
    )
    res = {
        r.vertex_id: r.distance
        for r in sssp(g, source=0, weight_column="w").collect()
    }
    dist = {v: float("inf") for v in range(6)}
    dist[0] = 0.0
    for _ in range(6):
        for s, o, w in edges:
            if dist[s] + w < dist[o]:
                dist[o] = dist[s] + w
    assert res == dist
    assert res[1] == 3.0 and res[4] == 5.0 and res[5] == float("inf")


def test_bibliographic_coupling_is_transposed_cocitation(spark):
    from pregel_rs_spark.algorithms import cocitation_pairs

    edges = [(1, 10), (1, 11), (2, 10), (2, 11), (3, 11), (3, 12)]
    g = GraphFrame.from_edges(
        spark.createDataFrame(edges, "subject long, object long")
    )
    got = {
        (r.page_a, r.page_b): r.n_shared
        for r in cocitation_pairs(g, min_shared=1, direction="coupling").collect()
    }
    # sources sharing targets: 1&2 share {10,11}; 1&3 and 2&3 share {11}
    assert got == {(1, 2): 2, (1, 3): 1, (2, 3): 1}
    with pytest.raises(ValueError):
        cocitation_pairs(g, direction="nope")


def test_pagerank_warm_start_same_fixpoint_fewer_supersteps(spark):
    """init_ranks warm start: the update map is an affine contraction, so
    any start converges to the SAME ranks; after a LOCAL edge append on an
    irregular graph, starting from yesterday's fixpoint must cost strictly
    fewer supersteps than uniform (incremental crawl-update path)."""
    N = 300
    edges = sorted(
        {(a, (a * a * 7 + b * 13 + 1) % N)
         for a in range(N) for b in range(1 + a % 3)
         if a != (a * a * 7 + b * 13 + 1) % N}
    )
    e0 = spark.createDataFrame(edges, "subject long, object long")
    g0 = GraphFrame.from_edges(e0)
    r0 = pagerank(g0, tol=1e-9, max_iterations=300)
    assert len(r0.pregel_metrics) > 10  # irregular: actually iterates

    # same graph, warm-started from its own fixpoint: near-instant
    rw = pagerank(g0, tol=1e-9, max_iterations=300,
                  init_ranks=r0.select("vertex_id", "rank"))
    assert len(rw.pregel_metrics) <= 2
    got = {r.vertex_id: r.rank for r in rw.collect()}
    want = {r.vertex_id: r.rank for r in r0.collect()}
    assert all(abs(got[v] - want[v]) <= 1e-8 for v in want)

    # incremental crawl: append 3 edges, warm-start from the old ranks
    e1 = e0.union(
        spark.createDataFrame([(0, 150), (150, 75), (299, 3)],
                              "subject long, object long")
    )
    g1 = GraphFrame.from_edges(e1)
    cold = pagerank(g1, tol=1e-9, max_iterations=300)
    warm = pagerank(g1, tol=1e-9, max_iterations=300,
                    init_ranks=r0.select("vertex_id", "rank"))
    got = {r.vertex_id: r.rank for r in warm.collect()}
    want = {r.vertex_id: r.rank for r in cold.collect()}
    assert all(abs(got[v] - want[v]) <= 1e-7 for v in want)
    assert len(warm.pregel_metrics) < len(cold.pregel_metrics)


def test_k_truss_peels_to_fixpoint(spark):
    """K4 + pendant triangle + dangling edge: 3-truss keeps K4 and the
    triangle (dangling edge peeled); 4-truss keeps only the K4 with
    support 2 on every edge; peeling cascades (an edge losing its
    triangle partner is removed in a LATER round)."""
    from pregel_rs_spark.algorithms import k_truss

    edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
             (4, 5), (4, 6), (5, 6), (6, 7)]
    g = GraphFrame.from_edges(
        spark.createDataFrame(edges, "subject long, object long")
    )
    t3 = {(r.a, r.b): r.support for r in k_truss(g, k=3).collect()}
    assert set(t3) == {(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
                       (4, 5), (4, 6), (5, 6)}
    assert t3[(4, 5)] == 1 and t3[(1, 2)] == 2
    t4 = {(r.a, r.b): r.support for r in k_truss(g, k=4).collect()}
    assert set(t4) == {(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)}
    assert all(v == 2 for v in t4.values())
    # cascade: a triangle chain where peeling the weakest edge collapses
    # the rest over multiple rounds
    chain = [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (3, 5)]
    g2 = GraphFrame.from_edges(
        spark.createDataFrame(chain, "subject long, object long")
    )
    t4c = k_truss(g2, k=4).collect()
    assert t4c == []  # neither triangle has edge-support 2 → all peeled
    with pytest.raises(ValueError):
        k_truss(g, k=1)


def test_link_prediction_scores_and_hub_cap(spark):
    """Square 1-2-3-4 + diagonal 1-3 + pendant 5-1: scores match the
    closed-form Adamic-Adar sums; a low max_degree drops hub centers."""
    import math

    from pregel_rs_spark.algorithms import link_prediction

    edges = [(1, 2), (2, 3), (3, 4), (4, 1), (1, 3), (5, 1)]
    g = GraphFrame.from_edges(
        spark.createDataFrame(edges, "subject long, object long")
    )
    got = {
        (r.page_a, r.page_b): (r.common_neighbors, r.adamic_adar)
        for r in link_prediction(g).collect()
    }
    aa4 = round(1 / math.log(4), 6)
    # (2,4) share {1 (deg 4), 3 (deg 3)}; (x,5) share only hub 1
    assert got == {
        (2, 4): (2, round(1 / math.log(4) + 1 / math.log(3), 6)),
        (2, 5): (1, aa4),
        (3, 5): (1, aa4),
        (4, 5): (1, aa4),
    }
    # adjacent pairs never appear even when they share neighbors
    assert (1, 3) not in got and (1, 2) not in got
    # capping centers at degree 3 removes hub 1 — only (2,4) survives
    # via center 3, with one fewer shared neighbor
    capped = {
        (r.page_a, r.page_b): (r.common_neighbors, r.adamic_adar)
        for r in link_prediction(g, max_degree=3).collect()
    }
    assert capped == {(2, 4): (1, round(1 / math.log(3), 6))}


def test_transitivity_exact(spark):
    from pregel_rs_spark.algorithms import transitivity

    # square + diagonal + pendant: 2 triangles, 11 wedges
    edges = [(1, 2), (2, 3), (3, 4), (4, 1), (1, 3), (5, 1)]
    g = GraphFrame.from_edges(
        spark.createDataFrame(edges, "subject long, object long")
    )
    row = transitivity(g).collect()[0]
    assert (row.triangles, row.wedges) == (2, 11)
    assert row.transitivity == round(6 / 11, 6)
    # wedge-free graph (single edge) → 0.0, not NULL/div-by-zero
    g2 = GraphFrame.from_edges(
        spark.createDataFrame([(1, 2)], "subject long, object long")
    )
    row2 = transitivity(g2).collect()[0]
    assert (row2.triangles, row2.wedges, row2.transitivity) == (0, 0, 0.0)


def test_modularity_two_cliques(spark):
    """Two K3 cliques joined by one bridge edge: the natural partition
    scores the textbook Q; the all-one-community labeling scores 0."""
    from pregel_rs_spark.algorithms import modularity

    edges = [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)]
    g = GraphFrame.from_edges(
        spark.createDataFrame(edges, "subject long, object long")
    )
    labels = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 2), (5, 2), (6, 2)],
        "vertex_id long, label long",
    )
    row = modularity(g, labels).collect()[0]
    # m=7; within: c1=3, c2=3; d_1=7, d_2=7
    # Q = (3/7 - (7/14)^2) + (3/7 - (7/14)^2) = 6/7 - 1/2
    assert row.n_edges_und == 7 and row.n_communities == 2
    assert row.modularity == round(6 / 7 - 0.5, 6)
    one = spark.createDataFrame(
        [(v, 9) for v in range(1, 7)], "vertex_id long, label long"
    )
    assert modularity(g, one).collect()[0].modularity == 0.0
    # unlabeled vertices fall back to singleton communities: labeling
    # only clique 1 leaves 4,5,6 as singletons with d_c but no within edge
    part = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1)], "vertex_id long, label long"
    )
    rowp = modularity(g, part).collect()[0]
    assert rowp.n_communities == 4
    # Q = (3/7 - (7/14)^2) + 3 singletons with within=0:
    #     4: d=3 → -(3/14)^2 ; 5: d=2 ; 6: d=2
    expected = (3 / 7 - 0.25) - (3 / 14) ** 2 - 2 * (2 / 14) ** 2
    assert abs(rowp.modularity - expected) < 2e-6


def test_katz_centrality_walk_counts(spark):
    """Directed 5-vertex fixture: scores equal the hand-enumerated
    beta-weighted walk counts; k validation raises."""
    import pytest as _pytest

    from pregel_rs_spark.algorithms import katz_centrality

    edges = [(1, 2), (2, 3), (3, 4), (4, 1), (1, 3), (5, 1)]
    g = GraphFrame.from_edges(
        spark.createDataFrame(edges, "subject long, object long")
    )
    got = {r.vertex_id: r.katz for r in katz_centrality(g, 0.1, 3).collect()}
    assert got == {1: 0.212, 2: 0.121, 3: 0.233, 4: 0.123, 5: 0.0}
    with _pytest.raises(ValueError, match="k must be >= 1"):
        katz_centrality(g, 0.1, 0)


def test_squares_counts_and_hub_cap(spark):
    """K4 has 3 rectangles, C4 has 1, a chorded square still 1; a tight
    center cap produces the documented undercount."""
    from pregel_rs_spark.algorithms import squares

    def g(edges):
        return GraphFrame.from_edges(
            spark.createDataFrame(edges, "subject long, object long")
        )

    k4 = g([(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)])
    row = squares(k4).collect()[0]
    assert (row.wedge_pairs, row.squares) == (6, 3)
    c4 = g([(1, 2), (2, 3), (3, 4), (4, 1)])
    row = squares(c4).collect()[0]
    assert (row.wedge_pairs, row.squares) == (2, 1)
    chorded = g([(1, 2), (2, 3), (3, 4), (4, 1), (1, 3)])
    row = squares(chorded).collect()[0]
    assert (row.wedge_pairs, row.squares) == (2, 1)
    # cap at 2 drops the degree-3 centers 1 and 3: only the (1,3) pair
    # survives via centers 2 and 4 — wedge_pairs 1, squares floor to 0
    row = squares(chorded, max_degree=2).collect()[0]
    assert (row.wedge_pairs, row.squares) == (1, 0)
    path = g([(1, 2), (2, 3)])
    row = squares(path).collect()[0]
    assert (row.wedge_pairs, row.squares) == (0, 0)


def test_effective_diameter_frame_matches_dict(spark):
    """The collect-free frame version agrees with the driver-side dict
    version (same rounds, same estimator) within the 1e-6-per-vertex
    scaled-integer rounding; NF totals are monotone."""
    import pytest as _pytest

    from pregel_rs_spark.algorithms import (
        effective_diameter,
        effective_diameter_frame,
        neighborhood_function_frame,
    )

    edges = [(i, (i + 1) % 8) for i in range(8)]  # directed 8-cycle
    g = GraphFrame.from_edges(
        spark.createDataFrame(edges, "subject long, object long")
    )
    nf = {
        r.hop: r.nf
        for r in neighborhood_function_frame(
            g, k=4, log2m=5, portable=True
        ).collect()
    }
    assert sorted(nf) == [0, 1, 2, 3, 4]
    assert all(nf[t + 1] >= nf[t] for t in range(4))
    row = effective_diameter_frame(
        g, k=4, q=0.9, log2m=5, portable=True
    ).collect()[0]
    ref = effective_diameter(
        g, q=0.9, max_k=4, log2m=5, portable=True, rel_stop=0.0
    )
    assert row.nf_final_scaled == nf[4]
    assert abs(row.effective_diameter - ref["effective_diameter"]) < 1e-3
    with _pytest.raises(ValueError, match="q must be"):
        effective_diameter_frame(g, k=2, q=0.0)


def test_negative_edge_samples_deterministic_and_clean(spark):
    """Negatives are reproducible, never positives/self-loops, follow the
    documented hash, and are independent of input partitioning."""
    from pregel_rs_spark.algorithms import negative_edge_samples

    edges = [(1, 2), (2, 3), (3, 4), (4, 1), (1, 3), (5, 1)]
    g = GraphFrame.from_edges(
        spark.createDataFrame(edges, "subject long, object long")
    )
    res = negative_edge_samples(g, n_per_vertex=3, seed=7)
    got = {(r.subject, r.object, r.sample_id) for r in res.collect()}
    # python replica: index = rank of vid within (vid % 64) groups plus
    # offsets — with vids 1..5 and 64 partitions each group is a
    # singleton, so vidx orders by (vid % 64) = vid itself -> idx i -> vid i+1
    vids = [1, 2, 3, 4, 5]
    order = sorted(vids, key=lambda x: (x % 64, x))
    pos = {(s, o) for s, o in edges}
    expected = set()
    for u in vids:
        for j in (1, 2, 3):
            cand = order[((u % 999983) * 104729 + j * 7919 + 7) % 5]
            if cand != u and (u, cand) not in pos:
                expected.add((u, cand, j))
    assert got == expected
    assert all((s, o) not in pos and s != o for s, o, _ in got)
    # repartitioned input -> identical sample
    g2 = GraphFrame.from_edges(
        spark.createDataFrame(edges, "subject long, object long")
        .repartition(7)
    )
    got2 = {
        (r.subject, r.object, r.sample_id)
        for r in negative_edge_samples(g2, n_per_vertex=3, seed=7).collect()
    }
    assert got2 == got
    import pytest as _pytest

    with _pytest.raises(ValueError, match="n_per_vertex"):
        negative_edge_samples(g, n_per_vertex=0)


def test_trustrank_matches_numpy_and_spam_mass(spark):
    """TrustRank vs a NumPy seeded power iteration; spam mass formula;
    absent seeds ignored; no-seed ValueError."""
    import numpy as np

    from pregel_rs_spark.algorithms import spam_mass, trustrank

    edges = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (4, 3), (5, 0)]
    g = GraphFrame.from_edges(
        spark.createDataFrame(edges, "subject long, object long")
    )
    # seed 99 is not in the graph -> ignored; effective seeds {0, 3}
    seeds = spark.createDataFrame([(0,), (3,), (99,)], "vertex_id long")
    res = trustrank(g, seeds, tol=1e-10)
    got = {r.vertex_id: r.rank for r in res.collect()}

    n, d = 6, 0.85
    p = np.zeros(n)
    p[[0, 3]] = 0.5
    out = {u: 0 for u in range(n)}
    for s, _ in edges:
        out[s] += 1
    r = p.copy()
    for _ in range(300):
        m = np.zeros(n)
        for s, o in edges:
            m[o] += r[s] / out[s]
        dang = sum(r[u] for u in range(n) if out[u] == 0)
        r = d * (m + dang * p) + (1 - d) * p
    for v in range(n):
        assert got[v] == pytest.approx(r[v], abs=1e-6)
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-6)
    # vertex 5 has no path FROM any seed -> zero trust
    assert got[5] == pytest.approx(0.0, abs=1e-9)

    sm = {x.vertex_id: x for x in spam_mass(g, seeds, tol=1e-10).collect()}
    want_pr = numpy_pagerank(edges, n)
    for v in range(n):
        assert sm[v].rank == pytest.approx(want_pr[v], abs=1e-6)
        assert sm[v].trust_rank == pytest.approx(r[v], abs=1e-6)
        assert sm[v].spam_mass == pytest.approx(
            (want_pr[v] - r[v]) / want_pr[v], abs=1e-5
        )
    # the unlinked-from-seeds vertex carries ALL its rank as spam mass
    assert sm[5].spam_mass == pytest.approx(1.0, abs=1e-6)

    with pytest.raises(ValueError, match="seed"):
        trustrank(g, spark.createDataFrame([(99,)], "vertex_id long"))


def test_neighbor_sample_python_replay_and_bounds(spark):
    """Layer-wise fan-out sampling: exact md5 replica, per-vertex bound,
    start-set subsetting, partitioning invariance."""
    import hashlib

    from pregel_rs_spark.algorithms import neighbor_sample

    edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 5), (3, 4), (4, 1),
             (5, 1), (5, 2), (5, 3), (5, 4)]
    g = GraphFrame.from_edges(
        spark.createDataFrame(edges, "subject long, object long")
    )
    res = neighbor_sample(g, fanouts=[2, 1], seed=9)
    got = {(r.root, r.hop, r.subject, r.object) for r in res.collect()}

    adj = {}
    for s, o in edges:
        adj.setdefault(s, []).append(o)

    def pick(u, fan, hop):
        nbrs = sorted(
            adj.get(u, []),
            key=lambda v: (hashlib.md5(f"{u}|{v}|9|{hop}".encode()).hexdigest(), v),
        )
        return nbrs[:fan]

    vids = sorted({x for e in edges for x in e})
    expected = set()
    for root in vids:
        frontier = {root}
        for hop, fan in enumerate([2, 1], 1):
            nxt = set()
            for u in sorted(frontier):
                for v in pick(u, fan, hop):
                    expected.add((root, hop, u, v))
                    nxt.add(v)
            frontier = nxt
    assert got == expected
    # per (root, hop, subject) the fan-out bound holds
    from collections import Counter

    c = Counter((r, h, s) for r, h, s, _ in got)
    fan_of = {1: 2, 2: 1}
    assert all(cnt <= fan_of[h] for (_, h, _), cnt in c.items())
    # a start set yields exactly that root's slice of the full sample
    sub = neighbor_sample(
        g, fanouts=[2, 1], seed=9,
        starts=spark.createDataFrame([(5,)], "root long"),
    )
    assert {(r.root, r.hop, r.subject, r.object) for r in sub.collect()} == {
        t for t in expected if t[0] == 5
    }
    # partitioning invariance
    g2 = GraphFrame.from_edges(
        spark.createDataFrame(edges, "subject long, object long")
        .repartition(5)
    )
    got2 = {
        (r.root, r.hop, r.subject, r.object)
        for r in neighbor_sample(g2, fanouts=[2, 1], seed=9).collect()
    }
    assert got2 == got
    with pytest.raises(ValueError, match="fanouts"):
        neighbor_sample(g, fanouts=[])


def test_salsa_matches_numpy_jacobi(spark):
    """SALSA vs a NumPy replica of the same Jacobi iteration; TKC
    resistance sanity: the degree normalization keeps the clique from
    monopolizing authority the way raw HITS sums would."""
    import numpy as np

    from pregel_rs_spark.algorithms import salsa

    edges = [(0, 1), (0, 2), (1, 2), (2, 0), (3, 2), (3, 4), (4, 3)]
    g = GraphFrame.from_edges(
        spark.createDataFrame(edges, "subject long, object long")
    )
    k = 4
    res = salsa(g, iterations=k)
    got = {r.vertex_id: (r.auth, r.hub) for r in res.collect()}

    n = 5
    od = np.zeros(n)
    ind = np.zeros(n)
    for s, o in edges:
        od[s] += 1
        ind[o] += 1
    auth = np.ones(n)
    hub = np.ones(n)
    for _ in range(k):
        na = np.zeros(n)
        nh = np.zeros(n)
        for s, o in edges:
            na[o] += hub[s] / od[s]
            nh[s] += auth[o] / ind[o]
        auth, hub = na, nh
    auth /= auth.sum()
    hub /= hub.sum()
    for v in range(n):
        assert got[v][0] == pytest.approx(auth[v], abs=1e-9)
        assert got[v][1] == pytest.approx(hub[v], abs=1e-9)


def test_maximal_independent_set_luby(spark):
    """MIS vs a pure-Python replay of the same priority rounds, plus the
    independence + maximality invariants at fixpoint and the fixed-round
    deterministic prefix the driver oracle unrolls."""
    from pregel_rs_spark.algorithms import maximal_independent_set

    edges = [
        (0, 1), (1, 2), (2, 0),          # triangle
        (2, 3), (3, 4), (4, 5), (5, 6),  # path
        (7, 7),                          # self-loop (ignored)
        (8, 9), (9, 8),                  # reciprocated pair
        (10, 10),                        # isolated via self-loop only
    ]
    g = GraphFrame.from_edges(
        spark.createDataFrame(edges, "subject long, object long")
    )
    verts = sorted(r.vertex_id for r in g.vertices.collect())

    def prio(v):
        return (((v % 999983) + 999983) % 999983 * 104729 + 7919) % 999983

    # pure-Python Luby replay with identical (priority, id) order
    nbrs = {v: set() for v in verts}
    for s, o in edges:
        if s != o:
            nbrs[s].add(o)
            nbrs[o].add(s)
    state = {v: "undecided" for v in verts}
    rounds_trace = []
    while any(s == "undecided" for s in state.values()):
        und = {v for v, s in state.items() if s == "undecided"}
        winners = {
            v
            for v in und
            if all(
                (prio(v), v) < (prio(u), u) for u in nbrs[v] if u in und
            )
        }
        for w in winners:
            state[w] = "mis"
        for w in winners:
            for u in nbrs[w]:
                if state[u] == "undecided":
                    state[u] = "excluded"
        rounds_trace.append(dict(state))

    res = maximal_independent_set(g)
    got = {r.vertex_id: r.state for r in res.collect()}
    assert got == state

    mis = {v for v, s in got.items() if s == "mis"}
    # independence: no edge inside the set
    for s, o in edges:
        if s != o:
            assert not (s in mis and o in mis)
    # maximality: every non-member has a member neighbor
    for v in verts:
        if v not in mis:
            assert nbrs[v] & mis, v
    # self-loop-only vertices are isolated -> always in the MIS
    assert got[7] == "mis" and got[10] == "mis"

    # fixed-round budget returns exactly the round-1 deterministic prefix
    res1 = {
        r.vertex_id: r.state
        for r in maximal_independent_set(g, max_rounds=1).collect()
    }
    assert res1 == rounds_trace[0]


def test_bowtie_classes_all_six(spark):
    """Bow-tie decomposition on a hand-built graph exercising every class:
    3-cycle core, IN chain, OUT chain, a core-bypassing tube, both tendril
    orientations, and a disconnected 2-cycle SCC."""
    from pregel_rs_spark.algorithms import bowtie_classes

    e = spark.createDataFrame(
        [
            (1, 2), (2, 3), (3, 1),      # CORE: SCC {1,2,3}, label 3
            (5, 4), (4, 1),              # IN: 5 -> 4 -> core
            (2, 6), (6, 7),              # OUT: core -> 6 -> 7
            (4, 10), (10, 6),            # TUBE: IN -> 10 -> OUT, no core
            (5, 11),                     # TENDRIL: reachable from IN only
            (12, 6),                     # TENDRIL: reaches OUT only
            (8, 9), (9, 8),              # DISCONNECTED 2-cycle SCC {8,9}
        ],
        "subject long, object long",
    )
    res = {
        r.vertex_id: (r.component, r.bowtie)
        for r in bowtie_classes(GraphFrame.from_edges(e)).collect()
    }
    assert {v for v, (_, b) in res.items() if b == "core"} == {1, 2, 3}
    assert {v for v, (_, b) in res.items() if b == "in"} == {4, 5}
    assert {v for v, (_, b) in res.items() if b == "out"} == {6, 7}
    assert {v for v, (_, b) in res.items() if b == "tube"} == {10}
    assert {v for v, (_, b) in res.items() if b == "tendril"} == {11, 12}
    assert {v for v, (_, b) in res.items() if b == "disconnected"} == {8, 9}
    assert res[1][0] == 3 and res[8][0] == 9  # SCC labels = max member id


def test_bowtie_core_tiebreak_larger_label(spark):
    """Equal-size largest SCCs: the core is the one with the larger
    component label (deterministic), everything else disconnected."""
    from pregel_rs_spark.algorithms import bowtie_classes

    e = spark.createDataFrame(
        [(1, 2), (2, 1), (5, 6), (6, 5)], "subject long, object long"
    )
    res = {
        r.vertex_id: r.bowtie
        for r in bowtie_classes(GraphFrame.from_edges(e)).collect()
    }
    assert res == {5: "core", 6: "core", 1: "disconnected", 2: "disconnected"}


def _py_coreness(edges):
    """Exact core numbers by sequential min-degree peeling (the textbook
    O(E) Matula-Beck algorithm, run in pure Python as the oracle)."""
    adj = {}
    for a, b in edges:
        if a == b:
            continue
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    core = {}
    deg = {v: len(ns) for v, ns in adj.items()}
    alive = set(adj)
    k = 0
    while alive:
        v = min(alive, key=lambda x: (deg[x], x))
        k = max(k, deg[v])  # core number = running max of removal degree
        core[v] = k
        alive.discard(v)
        for u in adj[v]:
            if u in alive:
                deg[u] -= 1
    return core


def test_coreness_matches_peeling_oracle(spark):
    from pregel_rs_spark.algorithms import coreness

    # K4 clique + triangle sharing vertex 3 + a tail: cores 3 / 2 / 1
    raw = [
        (0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3),   # K4 -> core 3
        (3, 4), (4, 5), (3, 5),                            # triangle -> 2
        (5, 6), (6, 7),                                    # tail -> 1
        (7, 7),                                            # self-loop dropped
        (1, 0),                                            # reverse dup
    ]
    e = spark.createDataFrame(raw, "subject long, object long")
    got = {
        r.vertex_id: r.coreness
        for r in coreness(GraphFrame.from_edges(e)).collect()
    }
    assert got == {0: 3, 1: 3, 2: 3, 3: 3, 4: 2, 5: 2, 6: 1, 7: 1}

    # pseudo-random graph: fixpoint must equal exact sequential peeling
    rnd = [((i * 7919) % 37, (i * 104729 + 13) % 37) for i in range(140)]
    rnd = [(a, b) for a, b in rnd if a != b]
    e2 = spark.createDataFrame(rnd, "subject long, object long")
    got2 = {
        r.vertex_id: r.coreness
        for r in coreness(GraphFrame.from_edges(e2)).collect()
    }
    assert got2 == _py_coreness(rnd)

    # fixed-round prefix is monotone: round-1 values >= fixpoint values
    one = {
        r.vertex_id: r.coreness
        for r in coreness(GraphFrame.from_edges(e2), max_rounds=1).collect()
    }
    assert set(one) == set(got2)
    assert all(one[v] >= got2[v] for v in got2)


def test_landmark_distances_truncated_bfs(spark):
    """landmark_distances: exact hop distances along edge direction,
    truncation at max_hops, early stop, multi-landmark min semantics."""
    from pregel_rs_spark.algorithms import landmark_distances
    from pregel_rs_spark.graphframe import GraphFrame

    # chain 1→2→3→4→5 plus shortcut 1→4
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (1, 4)],
        "subject long, object long",
    )
    g = GraphFrame.from_edges(edges)
    out = {
        (r.vertex_id, r.landmark): r.dist
        for r in landmark_distances(g, [1, 3], max_hops=2).collect()
    }
    assert out == {
        (1, 1): 0, (3, 3): 0,
        (2, 1): 1, (4, 1): 1, (4, 3): 1,
        (3, 1): 2, (5, 1): 2, (5, 3): 2,
    }
    # truncation: max_hops=1 drops the dist-2 frontier
    out1 = {
        (r.vertex_id, r.landmark): r.dist
        for r in landmark_distances(g, [1], max_hops=1).collect()
    }
    assert out1 == {(1, 1): 0, (2, 1): 1, (4, 1): 1}
    # early stop past the graph's reach: same result at max_hops=50
    out50 = {
        (r.vertex_id, r.landmark): r.dist
        for r in landmark_distances(g, [3], max_hops=50).collect()
    }
    assert out50 == {(3, 3): 0, (4, 3): 1, (5, 3): 2}


def test_maximal_matching_invariants_and_exact(spark):
    """maximal_matching: a valid matching (no vertex twice), maximal (no
    remaining edge has both endpoints unmatched), exact on a toy path."""
    from pregel_rs_spark.algorithms import maximal_matching
    from pregel_rs_spark.graphframe import GraphFrame

    # path 1-2-3-4-5 → a maximal matching covers >= 2 edges
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "subject long, object long"
    )
    g = GraphFrame.from_edges(edges)
    m = maximal_matching(g).collect()
    used = [v for r in m for v in (r.vertex_a, r.vertex_b)]
    assert len(used) == len(set(used))  # a matching
    matched = set(used)
    for a, b in [(1, 2), (2, 3), (3, 4), (4, 5)]:
        assert a in matched or b in matched  # maximal
    assert all(r.vertex_a < r.vertex_b for r in m)

    # triangle: exactly one edge matched
    tri = GraphFrame.from_edges(
        spark.createDataFrame([(1, 2), (2, 3), (1, 3)], "subject long, object long")
    )
    assert len(maximal_matching(tri).collect()) == 1


def test_topo_layers_chain_and_cycle(spark):
    """topo_layers: exact layers on a DAG; cycle vertices (and vertices
    locked behind the cycle) are absent; max_layers truncates."""
    from pregel_rs_spark.algorithms import topo_layers
    from pregel_rs_spark.graphframe import GraphFrame

    # DAG: 1→2→3, 1→3, 4→3 ; cycle 10↔11 feeding 12
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (4, 3), (10, 11), (11, 10), (10, 12)],
        "subject long, object long",
    )
    g = GraphFrame.from_edges(edges)
    got = {r.vertex_id: r.layer for r in topo_layers(g, max_layers=10).collect()}
    assert got == {1: 0, 4: 0, 2: 1, 3: 2}  # 10,11 cyclic; 12 locked
    trunc = {
        r.vertex_id: r.layer
        for r in topo_layers(g, max_layers=2).collect()
    }
    assert trunc == {1: 0, 4: 0, 2: 1}


def test_community_edge_cut_with_lpa(spark):
    """community_edge_cut: exact counts on a toy labeling; integration
    with label_propagation labels (two cliques + one bridge → the only
    cut edge is the bridge); partial labelings surface as unlabeled."""
    from pregel_rs_spark.algorithms import community_edge_cut, label_propagation
    from pregel_rs_spark.graphframe import GraphFrame

    # two triangles joined by one bridge edge
    ed = [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)]
    g = GraphFrame.from_edges(
        spark.createDataFrame(ed, "subject long, object long")
    )
    labels = g.vertices.select(
        "vertex_id",
        (F.col("vertex_id") <= 3).cast("int").alias("label"),
    )
    r = community_edge_cut(g, labels).collect()[0]
    assert (r.edges, r.cut_edges, r.unlabeled) == (7, 1, 0)
    assert r.cut_frac == round(1 / 7, 6)  # the op rounds to 6

    lpa = label_propagation(g, max_iterations=5).select(
        "vertex_id", "label"
    )
    r2 = community_edge_cut(g, lpa).collect()[0]
    assert r2.unlabeled == 0 and 0 <= r2.cut_frac <= 1

    partial = labels.filter(F.col("vertex_id") != 1)
    r3 = community_edge_cut(g, partial).collect()[0]
    assert r3.unlabeled == 2  # edges (1,2) and (1,3)


def test_incremental_degrees_equals_full_recompute(spark):
    """incremental_out_degrees ∘ edge_delta ≡ full out_degrees on the new
    snapshot — additions, removals, brand-new vertices, and degree-to-0
    vertices all handled."""
    from pregel_rs_spark.algorithms import edge_delta, incremental_out_degrees
    from pregel_rs_spark.graphframe import GraphFrame

    old = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (3, 1)], "subject long, object long"
    )
    new = spark.createDataFrame(
        # vertex 3 loses its only out-edge (leaves the table); vertex 9 new
        [(1, 2), (2, 3), (2, 4), (9, 1)], "subject long, object long"
    )
    old_deg = GraphFrame.from_edges(old).out_degrees()
    inc = {
        r.vertex_id: r.out_degree
        for r in incremental_out_degrees(old_deg, edge_delta(old, new)).collect()
    }
    full = {
        r.vertex_id: r.out_degree
        for r in GraphFrame.from_edges(new).out_degrees().collect()
    }
    assert inc == full == {1: 1, 2: 2, 9: 1}


def test_degree_percentiles_exact(spark):
    """degree_percentiles: SQL PERCENT_RANK semantics ((rank-1)/(n-1)),
    deterministic tie-break, in-direction support."""
    from pregel_rs_spark.algorithms import degree_percentiles
    from pregel_rs_spark.graphframe import GraphFrame

    g = GraphFrame.from_edges(
        spark.createDataFrame(
            [(1, 2), (1, 3), (2, 3), (3, 1), (3, 2), (3, 4)],
            "subject long, object long",
        )
    )
    out = {r.vertex_id: r for r in degree_percentiles(g).collect()}
    # degrees: 1->2, 2->1, 3->3 ; order (2,1),(1,2),(3,3) -> ranks 0,.5,1
    assert out[2].pct_rank == 0.0
    assert out[1].pct_rank == 0.5
    assert out[3].pct_rank == 1.0
    ind = {r.vertex_id: r.degree for r in degree_percentiles(g, "in").collect()}
    assert ind == {1: 1, 2: 2, 3: 2, 4: 1}


def _bc_py(edges, sources, max_hops, scale=1_000_000):
    """Pure-Python replay of the scaled-int hop-bounded Brandes pipeline
    (independent of Spark — dict BFS + the identical floor arithmetic)."""
    from collections import defaultdict

    adj = defaultdict(set)
    for s, o in edges:
        adj[s].add(o)
    bc = defaultdict(int)
    for src in sorted(set(sources)):
        sigma = {src: 1}
        levels = [[src]]
        settled = {src}
        for _ in range(max_hops):
            nxt = defaultdict(int)
            for v in levels[-1]:
                for w in adj[v]:
                    if w not in settled:
                        nxt[w] += sigma[v]
            if not nxt:
                break
            levels.append(sorted(nxt))
            for w, sg in nxt.items():
                sigma[w] = sg
                settled.add(w)
        delta = {v: 0 for v in levels[-1]}
        for d in range(len(levels) - 2, 0, -1):
            cur = {}
            for v in levels[d]:
                t = 0
                for w in adj[v]:
                    if w in delta:
                        t += (sigma[v] * (scale + delta[w])) // sigma[w]
                cur[v] = t
            for v in levels[d]:
                bc[v] += cur[v]
            delta = cur
        for v in levels[-1]:
            bc[v] += 0
        # every reached vertex appears (possibly with 0)
        for lv in levels[1:]:
            for v in lv:
                bc[v] += 0
    return dict(bc)


def test_betweenness_diamond_exact(spark):
    """Hand-computed Brandes on the diamond 1→{2,3}→4→5 from source 1:
    each of 2, 3 brokers half of the two s→5 three-hop paths plus half a
    two-hop path to 4; vertex 4 brokers both paths to 5."""
    from pregel_rs_spark.algorithms import betweenness

    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 4), (3, 4), (4, 5)], "subject long, object long"
    )
    g = GraphFrame.from_edges(edges)
    out = {r.vertex_id: (r.bc_scaled, r.bc) for r in betweenness(g, [1], 3).collect()}
    assert out == {
        2: (1_000_000, 1.0),
        3: (1_000_000, 1.0),
        4: (1_000_000, 1.0),
        5: (0, 0.0),
    }


def test_betweenness_matches_python_replay(spark):
    """Multi-source, 3-hop run on a 40-vertex deterministic graph matches
    the independent pure-Python scaled-int Brandes replay row for row."""
    from pregel_rs_spark.algorithms import betweenness

    edges = [(v, (v * 7 + 3) % 40) for v in range(40)] + [
        (v, (v * 13 + 1) % 40) for v in range(40)
    ]
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, "subject long, object long")
    g = GraphFrame.from_edges(df)
    got = {
        r.vertex_id: r.bc_scaled for r in betweenness(g, [0, 5, 11], 3).collect()
    }
    want = _bc_py(set(edges), [0, 5, 11], 3)
    assert got == want
    # bc is exactly the scaled value over 1e6, rounded
    for r in betweenness(g, [0, 5, 11], 3).collect():
        assert r.bc == round(r.bc_scaled / 1e6, 6)


def test_betweenness_validation(spark):
    from pregel_rs_spark.algorithms import betweenness

    e = spark.createDataFrame([(1, 2)], "subject long, object long")
    g = GraphFrame.from_edges(e)
    with pytest.raises(ValueError):
        betweenness(g, [], 2)
    with pytest.raises(ValueError):
        betweenness(g, [1], 0)
    with pytest.raises(ValueError):
        betweenness(g, [1], 2, scale=0)


def _kruskal(edges, weight=None):
    """Kruskal replay under the identical (w, a, b) total order."""
    if weight is None:
        und = sorted(
            {(1 + (min(a, b) + max(a, b)) % 5, min(a, b), max(a, b)) for a, b in edges}
        )
    else:
        best = {}
        for a, b, w in edges:
            k = (min(a, b), max(a, b))
            best[k] = min(best.get(k, w), w)
        und = sorted((w, a, b) for (a, b), w in best.items())
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    out = []
    for w, a, b in und:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
            out.append((a, b, w))
    return sorted(out)


def test_msf_matches_kruskal(spark):
    """Borůvka forest equals Kruskal's under the shared (w, a, b) total
    order — unique MSF, exact equality, on a 30-vertex two-ring graph."""
    from pregel_rs_spark.algorithms import minimum_spanning_forest

    edges = [(v, (v * 7 + 3) % 30) for v in range(30)] + [
        (v, (v * 13 + 1) % 30) for v in range(30)
    ]
    edges = [(a, b) for a, b in edges if a != b]
    g = GraphFrame.from_edges(
        spark.createDataFrame(edges, "subject long, object long")
    )
    got = sorted(
        (r.vertex_a, r.vertex_b, r.weight)
        for r in minimum_spanning_forest(g).collect()
    )
    assert got == _kruskal(edges)
    # spanning forest size: |V| - #components (union-find replay)
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    verts = {v for e in edges for v in e}
    for a, b in edges:
        parent[find(a)] = find(b)
    ncomp = len({find(v) for v in verts})
    assert len(got) == len(verts) - ncomp


def test_msf_default_weight_on_hashed_ids(spark):
    """The default weight ``1 + (a + b) % 5`` is exact for ids whose sum
    leaves bigint (xxhash64 link-graph ids near 2^62): no ANSI overflow,
    and the weights Kruskal's replay computes with Python ints."""
    from pregel_rs_spark.algorithms import minimum_spanning_forest

    base = 2**62 + 1
    edges = [(base, base + 1), (base + 1, base + 3)]
    assert all(a + b >= 2**63 for a, b in edges)
    g = GraphFrame.from_edges(
        spark.createDataFrame(edges, "subject long, object long")
    )
    got = sorted(
        (r.vertex_a, r.vertex_b, r.weight)
        for r in minimum_spanning_forest(g).collect()
    )
    assert got == _kruskal(edges)


def test_msf_weight_column_and_disconnected(spark):
    """Explicit weight column (MIN over parallel edges) + disconnected
    input → one tree per component."""
    from pregel_rs_spark.algorithms import minimum_spanning_forest

    rows = [(1, 2, 9), (2, 1, 4), (2, 3, 1), (1, 3, 2), (10, 11, 7)]
    df = spark.createDataFrame(rows, "subject long, object long, weight long")
    g = GraphFrame.from_edges(df)
    got = sorted(
        (r.vertex_a, r.vertex_b, r.weight)
        for r in minimum_spanning_forest(g).collect()
    )
    # parallel (1,2) collapses to weight 4; MSF picks (2,3,1),(1,3,2); 10-11 tree
    assert got == [(1, 3, 2), (2, 3, 1), (10, 11, 7)]
    assert got == _kruskal([(a, b, w) for a, b, w in rows], weight=True)


def test_msf_bounded_prefix_and_strict(spark):
    """max_rounds=1 with strict=False returns round-1 picks only (a valid
    sub-forest); strict=True raises loudly when rounds remain."""
    from pregel_rs_spark.algorithms import minimum_spanning_forest

    # path 0-1-2-...-9: round 1 cannot finish (log n rounds needed)
    edges = [(i, i + 1) for i in range(9)]
    g = GraphFrame.from_edges(
        spark.createDataFrame(edges, "subject long, object long")
    )
    full = sorted(
        (r.vertex_a, r.vertex_b) for r in minimum_spanning_forest(g).collect()
    )
    assert full == [(i, i + 1) for i in range(9)]  # the path IS its MSF
    part = minimum_spanning_forest(g, max_rounds=1, strict=False).collect()
    assert 0 < len(part) <= 9
    assert {(r.vertex_a, r.vertex_b) for r in part} <= set(full)
    with pytest.raises(RuntimeError, match="did not converge"):
        minimum_spanning_forest(g, max_rounds=1, strict=True)


def _jp_coloring_py(edges):
    """Round-synchronous Jones-Plassmann replay with the engine's
    (priority, id) total order and greedy mex."""

    def pri(v):
        return ((v % 999983 + 999983) % 999983 * 104729 + 7919) % 999983

    und = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    nbrs = {}
    for a, b in und:
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    col, unc = {}, set(nbrs)
    while unc:
        sel = [
            v
            for v in unc
            if all((pri(v), v) > (pri(u), u) for u in nbrs[v] if u in unc)
        ]
        for v in sel:
            used = {col[u] for u in nbrs[v] if u in col}
            k = 0
            while k in used:
                k += 1
            col[v] = k
        unc -= set(sel)
    return col


def test_greedy_coloring_proper_and_replay(spark):
    """Coloring is proper (no monochromatic edge) and matches the
    round-synchronous Jones-Plassmann Python replay exactly."""
    from pregel_rs_spark.algorithms import greedy_coloring

    edges = [(v, (v * 7 + 3) % 40) for v in range(40)] + [
        (v, (v * 13 + 1) % 40) for v in range(40)
    ] + [(v, (v + 1) % 40) for v in range(40)]
    edges = [(a, b) for a, b in edges if a != b]
    g = GraphFrame.from_edges(
        spark.createDataFrame(edges, "subject long, object long")
    )
    got = {r.vertex_id: r.color for r in greedy_coloring(g).collect()}
    assert got == _jp_coloring_py(edges)
    for a, b in {(min(a, b), max(a, b)) for a, b in edges}:
        assert got[a] != got[b]


def test_greedy_coloring_clique_and_bounded(spark):
    """K4 needs exactly colors {0,1,2,3}; bounded prefix is a subset of
    the full coloring; strict raises when rounds remain."""
    from pregel_rs_spark.algorithms import greedy_coloring

    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    g = GraphFrame.from_edges(
        spark.createDataFrame(k4, "subject long, object long")
    )
    full = {r.vertex_id: r.color for r in greedy_coloring(g).collect()}
    assert sorted(full.values()) == [0, 1, 2, 3]
    part = {
        r.vertex_id: r.color
        for r in greedy_coloring(g, max_rounds=2, strict=False).collect()
    }
    assert part == {v: c for v, c in full.items() if v in part} and len(part) == 2
    with pytest.raises(RuntimeError, match="did not converge"):
        greedy_coloring(g, max_rounds=1, strict=True)


def _wl_py(edges, rounds):
    """Pure-Python replay of the sum-hash WL recoloring."""
    M, A, B = 999_999_999_989, 104_729, 7_919

    def h(x):
        return ((x % M + M) % M * A + B) % M

    und = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    nbrs = {}
    for a, b in und:
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    col = {v: len(ns) % M for v, ns in nbrs.items()}
    for _ in range(rounds):
        col = {
            v: (13 * h(col[v]) % M + sum(h(col[u]) for u in nbrs[v]) % M) % M
            for v in nbrs
        }
    return col


def test_wl_colors_replay_and_structure(spark):
    """wl_colors matches the Python replay exactly; structurally
    equivalent vertices share colors (path endpoints vs middles), and
    refinement separates degree-equal but neighborhood-distinct roles."""
    from pregel_rs_spark.algorithms import wl_colors

    # path 0-1-2-3-4-5: endpoints {0,5}, next-in {1,4}, middles {2,3}
    path = [(i, i + 1) for i in range(5)]
    g = GraphFrame.from_edges(
        spark.createDataFrame(path, "subject long, object long")
    )
    got = {r.vertex_id: r.wl_color for r in wl_colors(g, rounds=2).collect()}
    assert got == _wl_py(path, 2)
    assert got[0] == got[5] and got[1] == got[4] and got[2] == got[3]
    # round 0 = degree classes only: 1 and 2 collide; round 2 splits them
    got0 = {r.vertex_id: r.wl_color for r in wl_colors(g, rounds=0).collect()}
    assert got0[1] == got0[2]
    assert got[1] != got[2]
    # a bigger deterministic graph, exact replay
    edges = [(v, (v * 7 + 3) % 50) for v in range(50)] + [
        (v, (v * 13 + 1) % 50) for v in range(50)
    ]
    edges = [(a, b) for a, b in edges if a != b]
    g2 = GraphFrame.from_edges(
        spark.createDataFrame(edges, "subject long, object long")
    )
    got2 = {r.vertex_id: r.wl_color for r in wl_colors(g2, rounds=3).collect()}
    assert got2 == _wl_py(edges, 3)


def test_densest_subgraph_peels_to_clique(spark):
    from pregel_rs_spark.algorithms import densest_subgraph

    # K5 clique (density 10/5 = 2.0) + a 6-vertex path dangling off it
    # (path vertices have degree <= 2 and are peeled before the clique)
    clique = [(a, b) for a in range(1, 6) for b in range(a + 1, 6)]
    path = [(5, 10), (10, 11), (11, 12), (12, 13), (13, 14)]
    e = spark.createDataFrame(clique + path, "subject long, object long")
    g = GraphFrame.from_edges(e)
    trace, verts = densest_subgraph(g, return_subgraph=True)
    rows = {r.peel_round: r for r in trace.collect()}
    # round 0: 10 vertices, 15 edges, density 1.5; the first peel with
    # threshold deg*V*2 <= 6*E (deg <= 4.5) removes EVERYTHING including
    # the clique (deg 4..5), so the best subgraph is the full graph --
    # the documented 2(1+eps) approximation: 1.5 >= 2.0 / 3
    assert rows[0].n_vertices == 10 and rows[0].n_edges == 15
    assert rows[0].density == 1.5
    best = {r.vertex_id for r in verts.collect()}
    assert len(best) == rows[max(rows)].n_vertices or len(best) == 10
    # tighter eps=1/10: threshold deg*V*10 <= 22*E keeps the clique core
    trace2, verts2 = densest_subgraph(
        g, epsilon_num=1, epsilon_den=10, return_subgraph=True
    )
    best2 = {r.vertex_id for r in verts2.collect()}
    t2 = sorted((r.peel_round, r.n_vertices, r.n_edges, r.density)
                for r in trace2.collect())
    # the max-density round must be the K5 clique itself
    dens = {r[0]: r[3] for r in t2}
    best_round = max(dens, key=lambda k: (dens[k], -k))
    assert best2 == {1, 2, 3, 4, 5}
    assert dens[best_round] == 2.0
    # fixed 0-round prefix: trace is just the input graph summary
    t0 = densest_subgraph(g, max_rounds=0).collect()
    assert len(t0) == 1 and t0[0].n_vertices == 10


def test_node2vec_walks_match_python_replay(spark):
    """Second-order biased picks are a pure function of
    (walk, prev, cur, step) — a Python replay of the integer arithmetic
    reproduces every step exactly; uniform weights reduce the bias cases
    to a single branch (near == far == return)."""
    from pregel_rs_spark.algorithms import node2vec_walks

    edges = sorted({(1, 2), (1, 3), (2, 3), (2, 4), (3, 4), (4, 1), (3, 1)})
    e = spark.createDataFrame(edges, "subject long, object long")
    g = GraphFrame.from_edges(e)
    out = node2vec_walks(g, length=3, w_return=1, w_near=4, w_far=2)
    rows = sorted((r.walk_id, r.step, r.vertex_id) for r in out.collect())

    nbrs = {}
    for s, o in edges:
        nbrs.setdefault(s, []).append(o)
    for s in nbrs:
        nbrs[s].sort()
    eset = set(edges)
    seed = 42

    def replay(start, length, wr, wn, wf):
        acc = [(start, 0, start)]
        cur, prev = start, None
        for t in range(1, length + 1):
            if cur not in nbrs:
                break
            cands = nbrs[cur]
            if t == 1:
                idx = ((start % 1000003) * 7919
                       + (cur % 999983) * 104729
                       + t * 7919 + seed) % len(cands)
                nxt = cands[idx]
            else:
                ws = [wr if c == prev
                      else (wn if (prev, c) in eset else wf)
                      for c in cands]
                r = ((start % 1000003) * 7919 + (cur % 999983) * 104729
                     + (prev % 999983) * 31 + t * 7919 + seed) % sum(ws)
                cb = 0
                for c, w in zip(cands, ws):
                    if cb <= r < cb + w:
                        nxt = c
                        break
                    cb += w
            acc.append((start, t, nxt))
            prev, cur = cur, nxt
        return acc

    exp = sorted(x for v in (1, 2, 3, 4) for x in replay(v, 3, 1, 4, 2))
    assert rows == exp
    # invalid weights rejected
    import pytest as _p
    with _p.raises(ValueError, match="weights"):
        node2vec_walks(g, 2, w_return=0)


def test_skipgram_pairs_and_pmi_hand_computed(spark):
    """Window-2 pairs from a 2-walk corpus against hand-enumerated
    counts; PMI against the closed-form ln(cnt*T/(cc*cx))."""
    import math

    from pregel_rs_spark.algorithms import pmi_scores, skipgram_pairs

    walks = spark.createDataFrame(
        # walk 1: 1 -> 2 -> 3 ; walk 2: 2 -> 3
        [(1, 0, 1), (1, 1, 2), (1, 2, 3), (2, 0, 2), (2, 1, 3)],
        "walk_id long, step int, vertex_id long",
    )
    pairs = {
        (r.center, r.context): r.cnt
        for r in skipgram_pairs(walks, window=2).collect()
    }
    # walk 1 contributes all 6 ordered pairs of {1,2,3}; walk 2 both of {2,3}
    assert pairs == {
        (1, 2): 1, (2, 1): 1, (1, 3): 1, (3, 1): 1,
        (2, 3): 2, (3, 2): 2,
    }
    out = {
        (r.center, r.context): (r.cnt, r.pmi)
        for r in pmi_scores(skipgram_pairs(walks, window=2)).collect()
    }
    T = 8
    cc = {1: 2, 2: 3, 3: 3}
    for (x, y), c in pairs.items():
        exp = round(math.log(c * T / (cc[x] * cc[y])), 6)
        assert abs(out[(x, y)][1] - exp) < 1e-6, ((x, y), out[(x, y)], exp)
    import pytest as _p
    with _p.raises(ValueError, match="window"):
        skipgram_pairs(walks, window=0)


def test_powerlaw_alpha_matches_closed_form(spark):
    """CSN eq. 3.1 on a hand-built degree sequence: out-degrees
    {1: 3, 2: 2, 3: 1} with dmin=2 -> tail degrees [3, 2], alpha =
    1 + 2 / (ln(3/1.5) + ln(2/1.5))."""
    import math

    from pregel_rs_spark.algorithms import powerlaw_alpha

    edges = (
        [(1, o) for o in (10, 11, 12)]
        + [(2, o) for o in (10, 11)]
        + [(3, 10)]
    )
    g = GraphFrame.from_edges(
        spark.createDataFrame(edges, "subject long, object long")
    )
    row = powerlaw_alpha(g, dmin=2).collect()[0]
    exp = 1 + 2 / (math.log(3 / 1.5) + math.log(2 / 1.5))
    assert row.n_tail == 2 and row.dmin == 2
    assert abs(row.alpha - round(exp, 6)) < 1e-6
    # empty tail -> NULL alpha, zero count
    row0 = powerlaw_alpha(g, dmin=10).collect()[0]
    assert row0.n_tail == 0 and row0.alpha is None
    import pytest as _p
    with _p.raises(ValueError, match="dmin"):
        powerlaw_alpha(g, dmin=0)
    with _p.raises(ValueError, match="direction"):
        powerlaw_alpha(g, direction="both")


def test_eigenvector_centrality_path_counts(spark):
    """x_k = k-step in-path counts: on 1->3, 2->3, 3->4 the 2-step
    paths end only at 4 (two of them: 1-3-4 and 2-3-4); scores divide
    by the total exactly."""
    from pregel_rs_spark.algorithms import eigenvector_centrality

    g = GraphFrame.from_edges(spark.createDataFrame(
        [(1, 3), (2, 3), (3, 4)], "subject long, object long"))
    out = {r.vertex_id: (r.paths_k, r.score)
           for r in eigenvector_centrality(g, k=2).collect()}
    assert out[4] == (2, 1.0)
    assert out[1] == (0, 0.0) and out[2] == (0, 0.0) and out[3] == (0, 0.0)
    one = {r.vertex_id: r.paths_k
           for r in eigenvector_centrality(g, k=1).collect()}
    assert one == {1: 0, 2: 0, 3: 2, 4: 1}
    import pytest as _p
    with _p.raises(ValueError, match="k must"):
        eigenvector_centrality(g, k=0)


def test_louvain_two_cliques(spark):
    """Two K3 cliques + bridge, hand-replayed with the parity guard:
    round 0 (even ids move): 2→1, 4→5, 6→5; round 1 (odd ids): 3→1
    (gain2 16 beats staying), 1 and 5 stay in their winning communities.
    Result = the natural two-clique partition, and its modularity is the
    textbook 6/7 − 1/2."""
    from pregel_rs_spark.algorithms import louvain, modularity

    edges = [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)]
    g = GraphFrame.from_edges(
        spark.createDataFrame(edges, "subject long, object long")
    )
    got = {
        r.vertex_id: r.community for r in louvain(g, rounds=2).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 5, 5: 5, 6: 5}
    labels = louvain(g, rounds=2).select(
        "vertex_id", F.col("community").alias("label")
    )
    q = modularity(g, labels).collect()[0]
    assert q.modularity == round(6 / 7 - 0.5, 6)
    import pytest as _pytest

    with _pytest.raises(ValueError):
        louvain(g, rounds=0)


def test_louvain_parity_guard_blocks_swap(spark):
    """A single edge (1,2): without the parity guard both endpoints would
    adopt each other's label forever; with it, round 0 moves only vertex
    2 (2→1) and round 1 leaves vertex 1 in place (own-community gain2 ==
    candidate gain2 → stays by the own-label no-op)."""
    from pregel_rs_spark.algorithms import louvain

    g = GraphFrame.from_edges(
        spark.createDataFrame([(1, 2)], "subject long, object long")
    )
    got = {
        r.vertex_id: r.community for r in louvain(g, rounds=2).collect()
    }
    assert got == {1: 1, 2: 1}


def test_louvain_negative_ids_are_eligible(spark):
    """Regression (ADVICE r3): the eligibility guard must use pmod, not
    Spark's sign-preserving % — a negative odd id yields -1 under % and
    would never match round parity 0/1, freezing those vertices in their
    own community forever.  xxhash64 vertex ids from the extraction
    pipeline are negative half the time, so an all-negative-odd triangle
    must still coalesce: round 0 (parity 0) moves nobody, round 1
    (parity 1) must move at least one of {-1,-3,-5}."""
    from pregel_rs_spark.algorithms import louvain

    g = GraphFrame.from_edges(
        spark.createDataFrame(
            [(-1, -3), (-3, -5), (-1, -5)], "subject long, object long"
        )
    )
    got = {
        r.vertex_id: r.community for r in louvain(g, rounds=2).collect()
    }
    assert set(got) == {-1, -3, -5}
    assert any(v != k for k, v in got.items()), (
        "no negative-odd vertex ever moved — % sign bug is back"
    )


def test_opic_hand_replay_and_conservation(spark):
    """2-cycle plus a dangling vertex at scale=12, hand-replayed 3
    rounds: shares, pot remainders, and the DIV/MOD redistribution all
    exact — (history, cash) = (45,17),(45,17),(17,0); intermediate
    rounds checked too (cash totals stay within n·scale with the pot
    carrying the difference)."""
    from pregel_rs_spark.algorithms import opic

    g = GraphFrame.from_edges(
        spark.createDataFrame([(1, 2), (2, 1), (3, 1)],
                              "subject long, object long")
    )
    # vertex 3 HAS an out-edge above; rebuild with 3 dangling instead:
    # edges 1->2, 2->1 and an explicit vertex table {1,2,3}
    from pregel_rs_spark.graphframe import GraphFrame as GF

    edges = spark.createDataFrame([(1, 2), (2, 1)], "subject long, object long")
    verts = spark.createDataFrame([(1,), (2,), (3,)], "vertex_id long")
    g = GF(verts, edges)
    r1 = {r.vertex_id: (r.history, r.cash) for r in opic(g, k=1, scale=12).collect()}
    assert r1 == {1: (12, 16), 2: (12, 16), 3: (12, 4)}
    r2 = {r.vertex_id: (r.history, r.cash) for r in opic(g, k=2, scale=12).collect()}
    assert r2 == {1: (28, 17), 2: (28, 17), 3: (16, 1)}
    r3 = {r.vertex_id: (r.history, r.cash) for r in opic(g, k=3, scale=12).collect()}
    assert r3 == {1: (45, 17), 2: (45, 17), 3: (17, 0)}
    import pytest as _p

    with _p.raises(ValueError):
        opic(g, k=0)


def test_triad_census_one_of_each_type(spark):
    """Seven disjoint triangles, one per closed M-A-N type — the census
    returns exactly one of each (030T/030C/120D/120U/120C/210/300)."""
    from pregel_rs_spark.algorithms import triad_census

    edges = [
        (1, 2), (2, 3), (1, 3),                      # 030T transitive
        (11, 12), (12, 13), (13, 11),                # 030C cycle
        (21, 22), (22, 21), (23, 21), (23, 22),      # 120D
        (31, 32), (32, 31), (31, 33), (32, 33),      # 120U
        (41, 42), (42, 41), (41, 43), (43, 42),      # 120C
        (51, 52), (52, 51), (51, 53), (53, 51), (52, 53),        # 210
        (61, 62), (62, 61), (62, 63), (63, 62), (61, 63), (63, 61),  # 300
    ]
    g = GraphFrame.from_edges(
        spark.createDataFrame(edges, "subject long, object long")
    )
    got = {r.triad_type: r.n for r in triad_census(g).collect()}
    assert got == {
        "030T": 1, "030C": 1, "120D": 1, "120U": 1,
        "120C": 1, "210": 1, "300": 1,
    }


def test_opic_incremental_continuation_exact(spark):
    """OPIC's incremental property, bit-exact: opic(g, 3) equals
    opic(g, 1, init=opic_state(g, 2)) row for row — the carried pot makes
    the continuation identical to the uninterrupted run (the crawl-
    frontier checkpoint/update cycle)."""
    from pregel_rs_spark.algorithms import opic, opic_state
    from pregel_rs_spark.graphframe import GraphFrame as GF

    edges = spark.createDataFrame([(1, 2), (2, 1)], "subject long, object long")
    verts = spark.createDataFrame([(1,), (2,), (3,)], "vertex_id long")
    g = GF(verts, edges)
    full = {
        r.vertex_id: (r.history, r.cash)
        for r in opic(g, k=3, scale=12).collect()
    }
    st, pot = opic_state(g, k=2, scale=12)
    resumed = {
        r.vertex_id: (r.history, r.cash)
        for r in opic(g, k=1, scale=12, init=(st, pot)).collect()
    }
    assert resumed == full
    assert pot == 1  # the round-2 carry from the hand-replay fixture


def test_rich_club_clique_plus_pendants(spark):
    """K4 rich core with a pendant leaf on each corner: degrees are 4
    (core) and 1 (leaves).  k=1,2: only the 4 core vertices qualify and
    all 6 core edges survive -> phi = 1.0; k=4: nobody qualifies -> NULL;
    validation raises."""
    from pregel_rs_spark.algorithms import rich_club

    core = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
    pendants = [(1, 11), (2, 12), (3, 13), (4, 14)]
    g = GraphFrame.from_edges(
        spark.createDataFrame(core + pendants, "subject long, object long")
    )
    got = {
        r.k: (r.n_nodes, r.n_edges, r.phi)
        for r in rich_club(g, ks=(1, 2, 4)).collect()
    }
    assert got == {
        1: (4, 6, 1.0),
        2: (4, 6, 1.0),
        4: (0, 0, None),
    }
    import pytest as _p

    with _p.raises(ValueError):
        rich_club(g, ks=())


def test_edge_betweenness_path_and_diamond(spark):
    """Path 1->2->3 from source 1: edge (1,2) carries 2 paths, (2,3)
    one.  Diamond 1->{2,3}->4: the two tail edges carry 1 + 1/2 each,
    the two head edges 1/2 each — the textbook Brandes edge split,
    scaled-int exact."""
    from pregel_rs_spark.algorithms import edge_betweenness

    path = GraphFrame.from_edges(
        spark.createDataFrame([(1, 2), (2, 3)], "subject long, object long")
    )
    got = {
        (r.subject, r.object): r.ebc
        for r in edge_betweenness(path, sources=[1], max_hops=2).collect()
    }
    assert got == {(1, 2): 2.0, (2, 3): 1.0}
    diamond = GraphFrame.from_edges(
        spark.createDataFrame(
            [(1, 2), (1, 3), (2, 4), (3, 4)], "subject long, object long"
        )
    )
    got2 = {
        (r.subject, r.object): r.ebc
        for r in edge_betweenness(diamond, sources=[1], max_hops=2).collect()
    }
    assert got2 == {(1, 2): 1.5, (1, 3): 1.5, (2, 4): 0.5, (3, 4): 0.5}
    import pytest as _p

    with _p.raises(ValueError):
        edge_betweenness(path, sources=[], max_hops=2)


# A triangle-rich core (K4 on 1, 2, 3, 9) with a path hanging off it: every
# iterative algorithm below needs at least two rounds on it.
EDGES_ROUNDS = [(1, 2), (1, 3), (2, 3), (1, 9), (2, 9), (3, 9),
                (3, 4), (4, 5), (5, 6), (6, 7), (7, 8)]


def _iterative_runs():
    from pregel_rs_spark import algorithms as A
    from pregel_rs_spark.operators.redirects import resolve_redirects

    return {
        "k_core": lambda g: A.k_core(g, k=2),
        "k_truss": lambda g: A.k_truss(g, k=3),
        "maximal_independent_set": A.maximal_independent_set,
        "maximal_matching": A.maximal_matching,
        "topo_layers": lambda g: A.topo_layers(g, max_layers=10),
        "minimum_spanning_forest": A.minimum_spanning_forest,
        "greedy_coloring": A.greedy_coloring,
        "landmark_distances": lambda g: A.landmark_distances(g, [1], 4),
        # reversed, so that max ids flow along the edges: the forward
        # coloring's nested Pregel run needs a second superstep
        "strongly_connected_components": lambda g: (
            A.strongly_connected_components(GraphFrame.from_edges(
                g.edges.select(
                    F.col("object").alias("subject"),
                    F.col("subject").alias("object"),
                )
            ))
        ),
        "coreness": A.coreness,
        "densest_subgraph": lambda g: A.densest_subgraph(g, epsilon_num=0),
        "resolve_redirects": lambda g: resolve_redirects(
            g.edges.select("subject", "object")
        ),
    }


def _persistent_rdds(spark) -> set:
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keySet()}


@pytest.mark.parametrize("name", sorted(_iterative_runs()))
def test_blocks_freed_when_round_2_fails(spark, monkeypatch, name):
    """A round that raises leaves no block of the run behind: every block
    the loop (or a run nested in one of its rounds) materialized is freed."""
    from pregel_rs_spark import pregel as pregel_mod

    real = pregel_mod.Round.keep

    def failing_in_round_2(self, df, **observe):
        if self.n == 2:
            raise RuntimeError("round 2 fails")
        return real(self, df, **observe)

    g = GraphFrame.from_edges(
        spark.createDataFrame(EDGES_ROUNDS, "subject long, object long")
    )
    baseline = _persistent_rdds(spark)
    monkeypatch.setattr(pregel_mod.Round, "keep", failing_in_round_2)
    with pytest.raises(RuntimeError, match="round 2 fails"):
        _iterative_runs()[name](g)
    g.unpersist()
    assert _persistent_rdds(spark) <= baseline


@pytest.mark.parametrize("name", ["k_core", "landmark_distances"])
def test_every_job_is_a_materialization(spark, monkeypatch, name):
    """Convergence scalars ride the materialization jobs: a run launches
    exactly one Spark job per block it materializes, plus one per
    broadcast its materializations build, and none besides.  Run on edges
    with no size estimate (an RDD-backed frame: nothing broadcasts) and on
    a sized local relation, whose materialized states keep their small
    estimates, so their joins broadcast."""
    import pandas as pd

    from pregel_rs_spark import algorithms as algorithms_mod
    from pregel_rs_spark import pregel as pregel_mod

    materialized, builds = [], []
    real = pregel_mod.truncate_plan

    def counting(df, *a, **kw):
        materialized.append(df.columns)
        # with AQE off each broadcast exchange is built by a job of its
        # own; a reused one is not built again
        plan = df._jdf.queryExecution().executedPlan().toString()
        builds.append(sum(
            "BroadcastExchange" in line and "ReusedExchange" not in line
            for line in plan.splitlines()
        ))
        return real(df, *a, **kw)

    monkeypatch.setattr(pregel_mod, "truncate_plan", counting)
    monkeypatch.setattr(algorithms_mod, "truncate_plan", counting)
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    sources = {
        "unsized": spark.createDataFrame(EDGES_ROUNDS, "subject long, object long"),
        "sized": spark.createDataFrame(
            pd.DataFrame(EDGES_ROUNDS, columns=["subject", "object"])
        ),
    }
    for source, edges in sources.items():
        materialized.clear()
        builds.clear()
        g = GraphFrame.from_edges(edges)
        group = f"jobs-{name}-{source}"
        prev = spark.conf.get("spark.sql.adaptive.enabled")
        # AQE submits each shuffle stage as a job of its own; off, a job is
        # exactly one action
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        sc.setJobGroup(group, group)
        try:
            _iterative_runs()[name](g)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            spark.conf.set("spark.sql.adaptive.enabled", prev)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = sc.statusTracker().getJobIdsForGroup(group)
        checkpoints = [
            j for j in jobs
            if store.job(j).name().startswith("localCheckpoint ")
        ]
        # two rounds at least, each one job per materialized frame
        assert len(materialized) >= 3
        assert len(checkpoints) == len(materialized), (jobs, materialized)
        assert len(jobs) == len(materialized) + sum(builds), (jobs, builds)
        assert (sum(builds) > 0) == (source == "sized"), builds


def test_k_core_builds_its_degree_filter_once_per_round(spark):
    """A peeling round semi-joins the edges to its degree filter on both
    endpoints.  The two joins read one filter plan, so on sized edges with
    AQE off (each broadcast build a job of its own) a run launches one job
    per materialization and at most one build per peeling round."""
    import pandas as pd

    from pregel_rs_spark.algorithms import k_core

    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    edges = spark.createDataFrame(
        pd.DataFrame(EDGES_ROUNDS, columns=["subject", "object"])
    )
    g = GraphFrame.from_edges(edges)
    group = "k_core-degree-filter-builds"
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    sc.setJobGroup(group, group)
    try:
        res = k_core(g, k=2)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        spark.conf.set("spark.sql.adaptive.enabled", prev)
    # the 2-core of EDGES_ROUNDS is the 4-clique {1, 2, 3, 9}
    assert {r.vertex_id: r.degree for r in res.collect()} == {
        1: 3, 2: 3, 3: 3, 9: 3
    }
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    checkpoints = [
        j for j in jobs if store.job(j).name().startswith("localCheckpoint ")
    ]
    # materializations: the initial edges, one per peeling round, the result
    rounds = len(checkpoints) - 2
    assert rounds >= 2
    assert len(jobs) - len(checkpoints) <= rounds, (len(jobs), len(checkpoints))


def test_pagerank_stats_bootstrap_rides_a_materialization(spark, monkeypatch):
    """The dangling mass over PageRank's initial state is observed on the
    initial state's own materialization: on a graph with dangling vertices
    a call launches one job per block it materializes, plus only the
    broadcast of each superstep's stats row and the result's collect.
    (PageRank's vertex counts ride the degree table's materialization.)"""
    from pregel_rs_spark import algorithms as algorithms_mod
    from pregel_rs_spark import graphframe as graphframe_mod
    from pregel_rs_spark import pregel as pregel_mod

    materialized, builds = [], []
    real = pregel_mod.truncate_plan

    def counting(df, *a, **kw):
        materialized.append(df.columns)
        # with AQE off each broadcast exchange is built by a job of its own
        plan = df._jdf.queryExecution().executedPlan().toString()
        builds.append(plan.count("BroadcastExchange"))
        return real(df, *a, **kw)

    for mod in (pregel_mod, algorithms_mod, graphframe_mod):
        monkeypatch.setattr(mod, "truncate_plan", counting)
    # 4 and 5 dangle
    g = GraphFrame.from_edges(spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4), (1, 5)], "subject long, object long"
    ))
    sc = spark.sparkContext
    group = "jobs-pagerank-dangling"
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    sc.setJobGroup(group, group)
    try:
        res = pagerank(g, tol=None, max_iterations=4)
        ranks = dict(map(tuple, res.select("vertex_id", "rank").collect()))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        spark.conf.set("spark.sql.adaptive.enabled", prev)
        g.unpersist()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    supersteps = len(res.pregel_metrics)
    assert supersteps == 4
    # the edge layout, the degree table, the initial state, 4 supersteps
    assert len(materialized) == 7, materialized
    # each superstep broadcasts its stats row (a graph's first run keeps
    # the message plan, which broadcasts no state)
    assert builds == [0] * 3 + [1] * supersteps, builds
    assert len(jobs) == len(materialized) + sum(builds) + 1, (jobs, builds)
    assert sum(ranks.values()) == pytest.approx(1.0, abs=1e-12)
