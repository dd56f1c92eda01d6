"""Per-partition union-find: the contraction that starts star connected
components (:func:`pregel_rs_spark.algorithms.connected_components_star`),
one task per core's share of the edge layout, and the one-task finish that
ends it once the active edge set fits the average share of a contraction
task.

The module is registered with cloudpickle to be pickled by value, which
touches only how this module's own functions are pickled.  Star CC runs
inside ``dedup_clusters`` and the query surface, whose sessions need not
put this package on the executors' Python path, and a by-reference
:func:`contract_partition` would make every task import the package (and
with it the whole engine); by value, a task needs NumPy and pyarrow only.
"""

import sys

from pyspark import cloudpickle

cloudpickle.register_pickle_by_value(sys.modules[__name__])


def contract_edges(x, c):
    """Connected components of the edges ``x[i] — c[i]`` by a vectorized
    union-find: returns ``(v, root)`` with one row per vertex that is not
    its component's minimum id, ``root`` being that minimum.

    Ids are coded by ``np.unique`` (code order = id order, also for
    ``str``: code-point order is UTF-8 byte order, Spark's), every edge
    hooks its larger root under its smaller one (``np.minimum.at``), and
    pointer jumping flattens the trees; repeated until no edge spans two
    roots.  A root is never hooked under a larger id, so each final root is
    its component's minimum and the output is a forest of stars with
    |V| − components ≤ |E| rows.
    """
    import numpy as np

    ids, code = np.unique(np.concatenate([x, c]), return_inverse=True)
    a, b = code[:len(x)], code[len(x):]
    root = np.arange(len(ids))
    while True:
        a, b = root[a], root[b]
        spans = a != b
        a, b = a[spans], b[spans]
        if not len(a):
            break
        np.minimum.at(root, np.maximum(a, b), np.minimum(a, b))
        while True:
            up = root[root]
            if np.array_equal(up, root):
                break
            root = up
    v = np.flatnonzero(root != np.arange(len(ids)))
    return ids[v], ids[root[v]]


def contract_partition(batches):
    """``mapInArrow`` body of :func:`connected_components_star`: one
    partition's ``(x, c)`` edges in, their :func:`contract_edges` stars
    out, in the input's schema (so any id type passes through).  An empty
    partition yields no batch.

    The batches are folded into a running forest: once the edges held back
    reach the forest's size, forest and edges are contracted together (a
    forest of stars has the components of the edges it came from).  So a
    task holds the forest (one row per vertex at most) plus about as many
    edges again, plus one batch, however many edges its partition has.  As
    each contraction takes at most as many forest rows as new edges, all
    of a partition's contractions together read at most about 3× its
    edges.
    """
    import numpy as np
    import pyarrow as pa

    schema, xs, cs = None, [], []  # the forest so far, then held-back edges
    forest = held = 0
    for batch in batches:
        if not batch.num_rows:
            continue
        schema = batch.schema
        xs.append(batch.column("x").to_numpy(zero_copy_only=False))
        cs.append(batch.column("c").to_numpy(zero_copy_only=False))
        held += batch.num_rows
        if held >= forest:
            v, root = contract_edges(np.concatenate(xs), np.concatenate(cs))
            xs, cs, forest, held = [v], [root], len(v), 0
    if held:
        v, root = contract_edges(np.concatenate(xs), np.concatenate(cs))
        xs, cs, forest = [v], [root], len(v)
    if not forest:
        return
    yield pa.RecordBatch.from_arrays(
        [pa.array(xs[0], type=schema.field("x").type),
         pa.array(cs[0], type=schema.field("c").type)],
        schema=schema,
    )
