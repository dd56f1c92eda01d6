"""Bucketed edge/vertex storage: write-once co-location for the link graph.

At 100 TB the edge table is the fact table every job touches, and almost
every operator keys it the same way (``subject``): degree aggregation,
the Pregel triplet join, triangle orientation, domain rollups.  A plain
parquet scan makes the first of those jobs pay a full-table Exchange to
get hash clustering on the key.  A ``GraphFrame`` lays its edges out once
and reuses that layout for every Pregel run on the same graph object
(``GraphFrame._edge_layout``), but the layout lives in executor memory:
it is paid again by every new session, every new ``GraphFrame`` over the
same table, and every resume in a fresh process.  Spark's native
bucketing moves that shuffle to write time: ``bucketBy(n, key)`` fixes
file-to-bucket assignment by ``hash(key) % n``, the catalog remembers
it, and any later scan exposes ``HashPartitioning(key, n)`` to the
planner — so a ``groupBy(key)`` or a
join against an identically-bucketed table plans with ZERO Exchange, in
every job, forever, including the fresh process a checkpoint resume
starts in (tests/test_bucketed.py pins both plan shapes).  A graph's
edge layout on the bucket key, when the bucket count equals
``spark.sql.shuffle.partitions``, is then built from the bucketed scan
by a within-partition sort alone: the planner drops the layout's
exchange, which the scan already satisfies.

This is deliberately the reference's missing storage layer re-thought for
Spark (weso/pregel-rs holds edges in a transient in-memory Polars frame —
src/graph_frame.rs:17-21 — so it has no cross-job layout to exploit; the
Iceberg story in sources/io.py is the cluster-catalog variant of the same
idea).  Bucket count rule of thumb at scale: total edge bytes / ~256 MB,
rounded to a power of two — 100 TB → ~2^18 buckets; local tests use 8.

Bucketed tables need a table catalog (bucket metadata lives there, not in
the files).  The session's in-memory catalog works for single-process
runs; on a cluster you'd back it with the metastore / Iceberg catalog.
``path=`` makes the table EXTERNAL so the data outlives ``DROP TABLE``
and lands somewhere a test can clean up.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..columns import OBJECT, SUBJECT


def write_bucketed(
    df: DataFrame,
    name: str,
    buckets: int,
    key: str = SUBJECT,
    path: str | None = None,
    sort: bool = True,
    mode: str = "overwrite",
) -> None:
    """Save ``df`` as a parquet table bucketed (and by default sorted)
    by ``key``.

    ``sort=True`` additionally sorts within each bucket file, which lets a
    sort-merge join over two co-bucketed tables skip its Sort nodes when
    Spark reads one file per bucket (``spark.sql.legacy.bucketedTableScan``
    aside, the Exchange elimination alone is the scale win — the sort is
    opportunistic).
    """
    w = df.write.format("parquet").mode(mode).bucketBy(buckets, key)
    if sort:
        w = w.sortBy(key)
    if path is not None:
        w = w.option("path", path)
    w.saveAsTable(name)


def read_bucketed(spark: SparkSession, name: str) -> DataFrame:
    """Scan a bucketed table THROUGH THE CATALOG (``spark.table``) — a
    direct ``spark.read.parquet(path)`` on the same files would lose the
    bucket spec and re-shuffle downstream."""
    return spark.table(name)


def write_bucketed_edges(
    edges: DataFrame,
    name: str,
    buckets: int,
    path: str | None = None,
) -> None:
    """Edge-table convenience: bucket by ``subject`` (the key of the
    send-messages join and of out-degree aggregation).  Jobs that key by
    ``object`` (in-degrees) still shuffle — if a workload is
    in-degree-heavy, write a second table bucketed by ``object``; at
    web scale two layouts of the edge list is the standard trade
    (storage is cheap, the per-job 100 TB shuffle is not)."""
    if SUBJECT not in edges.columns or OBJECT not in edges.columns:
        raise ValueError(
            f"edge table must have ({SUBJECT}, {OBJECT}) columns; "
            f"got {edges.columns}"
        )
    write_bucketed(edges, name, buckets, key=SUBJECT, path=path)


def write_bucketed_edges_by_object(
    edges: DataFrame,
    name: str,
    buckets: int,
    path: str | None = None,
) -> None:
    """The second standard layout: bucketed by ``object`` — makes
    in-degree aggregation and any object-keyed join Exchange-free (the
    dual of :func:`write_bucketed_edges`; "two layouts of the edge list"
    is the web-scale trade the subject-bucketed docstring describes —
    storage is cheap, the per-job 100 TB shuffle is not).  Plan shape
    pinned in tests/test_bucketed.py."""
    if SUBJECT not in edges.columns or OBJECT not in edges.columns:
        raise ValueError(
            f"edge table must have ({SUBJECT}, {OBJECT}) columns; "
            f"got {edges.columns}"
        )
    write_bucketed(edges, name, buckets, key=OBJECT, path=path)


def zorder_key(
    df: DataFrame, col_x: str, col_y: str, bits: int = 8
) -> DataFrame:
    """Z-order (Morton) layout key over two integer columns — the
    multi-dimensional clustering key Delta/Iceberg-style OPTIMIZE uses so
    range predicates on EITHER column prune files (public technique:
    Morton 1966 interleaved codes; z-ordering in lakehouse table
    formats).  Sorting a 100 TB table by ``zkey`` before write gives
    file-level min/max zone maps locality in both dimensions at once.

    Each column is range-normalized to ``bits`` bits with exact integer
    arithmetic — bucket = (v − min) · 2^bits div (max − min + 1) — from
    one O(1) min/max aggregate (broadcast onto the scan; no sort, no
    sampling), then the two bucket values are bit-interleaved
    (x even positions, y odd) into a ``2·bits``-wide long.  Everything is
    int64-exact and engine-portable: the oracle replays bucket and
    interleave bit for bit.

    Scale shape: one tiny stats agg + one map-only projection — zero
    data-sized shuffles; the (optional) sort by zkey afterwards is the
    write job's existing ordering pass.  Returns the input columns plus
    ``zkey``.
    """
    from pyspark.sql import functions as F

    if not 1 <= bits <= 31:
        raise ValueError(f"bits must be in [1, 31], got {bits}")
    stats = df.agg(
        F.min(col_x).cast("long").alias("__minx"),
        F.max(col_x).cast("long").alias("__maxx"),
        F.min(col_y).cast("long").alias("__miny"),
        F.max(col_y).cast("long").alias("__maxy"),
    )
    m = 1 << bits
    # true integral division (DIV) keeps the bucket exact for any int64
    # range with (max-min+1) < 2^(63-bits) — double '/' would round past
    # 2^53 (documented contract; hash-id columns need bits <= 8)
    bx = F.expr(
        f"CAST(((CAST({col_x} AS BIGINT) - __minx) * {m})"
        f" DIV (__maxx - __minx + 1) AS BIGINT)"
    )
    by = F.expr(
        f"CAST(((CAST({col_y} AS BIGINT) - __miny) * {m})"
        f" DIV (__maxy - __miny + 1) AS BIGINT)"
    )
    tagged = df.crossJoin(F.broadcast(stats)).withColumns(
        {"__bx": bx, "__by": by}
    )
    zk = None
    for i in range(bits):
        x_bit = F.shiftright(F.col("__bx"), i).bitwiseAND(F.lit(1)) * F.lit(
            1 << (2 * i)
        )
        y_bit = F.shiftright(F.col("__by"), i).bitwiseAND(F.lit(1)) * F.lit(
            1 << (2 * i + 1)
        )
        term = x_bit + y_bit
        zk = term if zk is None else zk + term
    return tagged.select(*df.columns, zk.cast("long").alias("zkey"))
