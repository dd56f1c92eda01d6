"""NumPy reference results for the benchmark's correctness checks.

The graph is given as two int64 arrays ``src``/``dst`` (one entry per edge,
exactly the edge table the engine reads).  Vertices are the sorted distinct
ids of both columns, as ``GraphFrame.from_edges`` derives them.
"""

from __future__ import annotations

import numpy as np


class Graph:
    def __init__(self, src: np.ndarray, dst: np.ndarray) -> None:
        self.ids = np.unique(np.concatenate([src, dst]))
        self.src = np.searchsorted(self.ids, src)
        self.dst = np.searchsorted(self.ids, dst)
        self.n = len(self.ids)

    def index_of(self, ids: np.ndarray) -> np.ndarray:
        """Positions of ``ids`` in ``self.ids``; raises if any id is unknown
        or the set is not exactly the vertex set."""
        if len(ids) != self.n:
            raise ValueError(f"{len(ids)} result rows for {self.n} vertices")
        pos = np.searchsorted(self.ids, ids)
        pos = np.minimum(pos, self.n - 1)
        if not np.array_equal(self.ids[pos], ids) or len(np.unique(pos)) != self.n:
            raise ValueError("result vertex ids differ from the graph's")
        return pos


def pagerank(g: Graph, damping: float = 0.85, tol: float = 1e-15,
             max_iterations: int = 1000) -> tuple[np.ndarray, int]:
    """Power iteration with uniform start and dangling mass spread evenly:
    ``r' = d·(Pᵀr + dangling/n) + (1−d)/n``, stopping at L∞ step ≤ ``tol``.
    Returns ``(ranks in self.ids order, iterations)``."""
    n = g.n
    deg = np.bincount(g.src, minlength=n).astype(np.float64)
    dangling = deg == 0
    inv = np.divide(1.0, deg, out=np.zeros(n), where=~dangling)
    r = np.full(n, 1.0 / n)
    for it in range(1, max_iterations + 1):
        msg = np.bincount(g.dst, weights=(r * inv)[g.src], minlength=n)
        nxt = damping * (msg + r[dangling].sum() / n) + (1.0 - damping) / n
        delta = np.abs(nxt - r).max()
        r = nxt
        if delta <= tol:
            return r, it
    return r, max_iterations


def min_label_components(g: Graph) -> np.ndarray:
    """Undirected components labelled by their minimum vertex id: min-label
    propagation over both edge directions until no label changes."""
    lab = np.arange(g.n)  # ids are sorted, so the min index is the min id
    a = np.concatenate([g.src, g.dst])
    b = np.concatenate([g.dst, g.src])
    while True:
        nxt = lab.copy()
        np.minimum.at(nxt, b, lab[a])
        nxt = nxt[nxt]  # pointer jump: labels are vertex indices
        if np.array_equal(nxt, lab):
            return g.ids[lab]
        lab = nxt
