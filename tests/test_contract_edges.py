"""The per-partition contraction that starts star connected components
(``unionfind.contract_edges`` and its ``mapInArrow`` body), tested on
NumPy and Arrow data alone — no Spark."""

import numpy as np
import pyarrow as pa
import pytest

from pregel_rs_spark import unionfind
from pregel_rs_spark.unionfind import contract_edges, contract_partition

N_CHAIN = 10**5


def _component_min(x, c) -> dict:
    """Reference union-find: vertex -> minimum id of its component."""
    parent = {}

    def find(v):
        parent.setdefault(v, v)
        while parent[v] != v:
            parent[v] = parent[parent[v]]
            v = parent[v]
        return v

    for a, b in zip(x.tolist(), c.tolist()):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in list(parent)}


def _check(x, c):
    """Every property round 1 of star CC relies on."""
    v, root = contract_edges(x, c)
    assert len(v) == len(root) <= len(x)
    assert (v > root).all()  # oriented x > c
    assert len(set(v.tolist())) == len(v)  # each vertex at most once as x
    expected = _component_min(x, c)
    got = dict(zip(v.tolist(), root.tolist()))
    # every vertex maps to its component minimum (so connectivity is kept:
    # an edge's two endpoints share one), and the minima are left out
    assert got == {u: m for u, m in expected.items() if u != m}
    return v, root


@pytest.mark.parametrize("seed", range(20))
def test_random_multigraphs_match_reference_union_find(seed):
    rng = np.random.default_rng(seed)
    n = int(rng.integers(2, 200))
    m = int(rng.integers(1, 3 * n))
    ids = rng.choice(10**9, size=n, replace=False)
    x, c = ids[rng.integers(0, n, m)], ids[rng.integers(0, n, m)]
    _check(x, c)


def _chain(order):
    return order[:-1], order[1:]


@pytest.mark.parametrize("kind", ["sorted", "reversed", "zigzag", "random"])
def test_long_chains(kind):
    i = np.arange(N_CHAIN, dtype=np.int64)
    order = {
        "sorted": i,
        "reversed": i[::-1],
        # 0, n-1, 1, n-2, …: every other vertex is a local maximum
        "zigzag": np.column_stack([i[: N_CHAIN // 2], i[::-1][: N_CHAIN // 2]]).ravel(),
        "random": np.random.default_rng(3).permutation(N_CHAIN),
    }[kind]
    v, root = _check(*_chain(order))
    assert len(v) == N_CHAIN - 1 and set(root.tolist()) == {0}


def test_repeated_edges_and_self_loops():
    x = np.array([5, 2, 5, 2, 9, 9, 7])
    c = np.array([2, 5, 2, 5, 9, 7, 7])
    v, root = _check(x, c)
    assert sorted(zip(v.tolist(), root.tolist())) == [(5, 2), (9, 7)]


def test_empty_and_single_edge():
    empty = np.array([], dtype=np.int64)
    v, root = contract_edges(empty, empty)
    assert len(v) == len(root) == 0
    v, root = _check(np.array([4]), np.array([8]))
    assert (v.tolist(), root.tolist()) == ([8], [4])


def test_string_ids_follow_utf8_byte_order():
    x = np.array(["b", "é", "z", "Z", "ab"], dtype=object)
    c = np.array(["a", "z", "é", "b", "Z"], dtype=object)
    v, root = _check(x, c)
    # Python str order is code-point order, which is UTF-8 byte order
    assert sorted(s.encode() for s in ("a", "b", "é", "z", "Z", "ab")) == [
        s.encode() for s in sorted(("a", "b", "é", "z", "Z", "ab"))
    ]
    assert dict(zip(v.tolist(), root.tolist())) == {
        "ab": "Z", "b": "Z", "a": "Z", "é": "z",
    }


def _batch(x, c, type_):
    return pa.RecordBatch.from_arrays(
        [pa.array(x, type=type_), pa.array(c, type=type_)], names=["x", "c"]
    )


@pytest.mark.parametrize("type_", [pa.int32(), pa.int64(), pa.string()])
def test_partition_keeps_the_id_type(type_):
    cast = str if type_ == pa.string() else int
    first = _batch([cast(3), cast(4)], [cast(1), cast(3)], type_)
    second = _batch([cast(2)], [cast(1)], type_)
    empty = _batch([], [], type_)
    (out,) = contract_partition(iter([first, empty, second]))
    assert out.schema == first.schema
    assert sorted(zip(out.column(0).to_pylist(), out.column(1).to_pylist())) == [
        (cast(2), cast(1)), (cast(3), cast(1)), (cast(4), cast(1)),
    ]


def test_empty_partition_yields_no_batch():
    assert list(contract_partition(iter([]))) == []
    assert list(contract_partition(iter([_batch([], [], pa.int64())]))) == []


def test_partition_folds_many_small_batches(monkeypatch):
    """A partition arriving as many batches is folded into a running forest:
    same stars as one contraction of all its edges, while no contraction
    sees more than the forest, as many edges again and one batch."""
    rng = np.random.default_rng(7)
    n, m, size = 3000, 20_000, 100
    ids = rng.choice(10**9, size=n, replace=False)
    x, c = ids[rng.integers(0, n, m)], ids[rng.integers(0, n, m)]
    seen = []

    def spy(a, b):
        seen.append(len(a))
        return contract_edges(a, b)

    monkeypatch.setattr(unionfind, "contract_edges", spy)
    batches = [
        _batch(x[i:i + size], c[i:i + size], pa.int64()) for i in range(0, m, size)
    ]
    (out,) = contract_partition(iter(batches))
    got = dict(zip(out.column(0).to_pylist(), out.column(1).to_pylist()))
    assert got == {u: r for u, r in _component_min(x, c).items() if u != r}
    assert len(seen) > 1 and max(seen) <= 2 * n + size < m
    assert sum(seen) <= 3 * m
