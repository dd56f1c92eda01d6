"""GraphFrame — the relational graph data model.

Parity with /root/reference/src/graph_frame.rs: a graph is two DataFrames,
``vertices`` (required column ``vertex_id``) and ``edges`` (required columns
``subject`` and ``object``); arbitrary extra property columns are allowed on
both.  There is no adjacency structure — the graph is purely relational and
every graph operation is a DataFrame plan optimized by Catalyst.

Scale notes (100 TB / 10^12-doc design point):
  * ``from_edges`` is `select → unionAll → distinct` — one shuffle on the id,
    partial-aggregated map-side by Spark automatically.
  * degrees are single hash aggregations with map-side partial combine; no
    join unless the zero-degree-preserving variant is requested.
  * ids should be 64-bit (``F.xxhash64(url)`` upstream) so shuffles move
    fixed-width keys, never strings.
  * the physical layout belongs to the graph, as in GraphX (Gonzalez et al.,
    OSDI 2014: partition once, memoize degrees): on first use the graph
    materializes its edges hash-partitioned and sorted on ``subject`` and
    its out-degree vertex table hash-partitioned on ``vertex_id``, both at
    ``spark.sql.shuffle.partitions`` (a graph run again by Pregel runs that
    ship small vertex state to the edges also lays its edges out on
    ``object``); every later Pregel run reuses them until
    :meth:`GraphFrame.unpersist`.  Like ``DataFrame.cache`` the layout is
    a snapshot of the inputs at first use.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from pregel_rs_spark.columns import OBJECT, SUBJECT, VERTEX_ID, alias, edge_
from pregel_rs_spark.pregel import (
    _LOOP_CONF,
    _free_checkpoint,
    _session_conf,
    truncate_plan,
)


class MissingColumnError(ValueError):
    """A required graph column is absent.

    Message strings mirror the reference exactly
    (graph_frame.rs:90-100, asserted at graph_frame.rs:291-336).
    """

    @classmethod
    def vertex_id(cls) -> "MissingColumnError":
        return cls(f"Missing column {VERTEX_ID} in vertices")

    @classmethod
    def subject(cls) -> "MissingColumnError":
        return cls(f"Missing column {SUBJECT} in edges")

    @classmethod
    def object_(cls) -> "MissingColumnError":
        return cls(f"Missing column {OBJECT} in edges")


class GraphFrame:
    """A graph as two DataFrames (graph_frame.rs:16-22, 127-139)."""

    def __init__(
        self, vertices: DataFrame, edges: DataFrame, *, closed: bool = False
    ) -> None:
        if VERTEX_ID not in vertices.columns:
            raise MissingColumnError.vertex_id()
        if SUBJECT not in edges.columns:
            raise MissingColumnError.subject()
        if OBJECT not in edges.columns:
            raise MissingColumnError.object_()
        self._vertices = vertices
        self._edges = edges
        # closed-world: every edge endpoint is guaranteed present in
        # ``vertices`` (true by construction for from_edges) — lets the
        # Pregel engine drop vertex-side triplet joins whose only remaining
        # purpose would be endpoint filtering.
        self.closed = closed
        # Materialized layouts keyed by spark.sql.shuffle.partitions (the
        # edge layouts also by their partitioning column).  The edge
        # layouts are shared with every graph derived by with_vertices
        # (same edges); the degree tables are this graph's.
        self._edge_layouts: dict[tuple[int, str], DataFrame] = {}
        self._degree_tables: dict[int, DataFrame] = {}
        # the (partitions, key) edge layouts a Pregel run asked for and
        # went without (see _layout_wanted); shared like the layouts
        self._layout_asks: set[tuple[int, str]] = set()
        # each degree table's (vertices, dangling vertices), observed on
        # the table's own materialization job
        self._degree_counts: dict[int, tuple[int, int]] = {}

    # Read-only, so a memoized layout can never describe other data than
    # the graph it belongs to; derive a new graph instead.
    @property
    def vertices(self) -> DataFrame:
        return self._vertices

    @property
    def edges(self) -> DataFrame:
        return self._edges

    def with_vertices(self, vertices: DataFrame) -> "GraphFrame":
        """The same graph over a new vertex table — the same vertex ids
        with other property columns (e.g. annotated with ranks or seeds).
        The result shares this graph's edge layout, so a Pregel run on it
        does not lay the edges out again."""
        g = GraphFrame(vertices, self._edges, closed=self.closed)
        g._edge_layouts = self._edge_layouts
        g._layout_asks = self._layout_asks
        return g

    def unpersist(self) -> "GraphFrame":
        """Free the materialized edge layouts and degree tables.  Graphs
        derived by :meth:`with_vertices` share the edge layout, so they
        lose it too; any of them rebuilds it on next use."""
        for table in (*self._edge_layouts.values(),
                      *self._degree_tables.values()):
            _free_checkpoint(table)
        self._edge_layouts.clear()
        self._degree_tables.clear()
        self._degree_counts.clear()
        return self

    # -- constructors ---------------------------------------------------------

    @classmethod
    def from_edges(cls, edges: DataFrame) -> "GraphFrame":
        """Derive the vertex set as distinct(src ∪ dst)
        (graph_frame.rs:155-172)."""
        vertices = (
            edges.select(F.col(SUBJECT).alias(VERTEX_ID))
            .unionAll(edges.select(F.col(OBJECT).alias(VERTEX_ID)))
            .distinct()
        )
        return cls(vertices, edges, closed=True)

    # -- degrees --------------------------------------------------------------

    def out_degrees(self) -> DataFrame:
        """Per-source edge counts as ``(vertex_id, out_degree)``.

        Reference parity (graph_frame.rs:185-193) including its quirk:
        vertices with zero out-edges are ABSENT (no join back to vertices).
        Use :meth:`out_degrees_full` when dangling vertices matter.
        """
        return self.edges.groupBy(F.col(SUBJECT).alias(VERTEX_ID)).agg(
            F.count(OBJECT).alias("out_degree")
        )

    def in_degrees(self) -> DataFrame:
        """Per-destination edge counts as ``(object, in_degree)``.

        Reference parity (graph_frame.rs:206-214) including its quirk: the
        group key keeps the name ``object`` (not renamed to ``vertex_id``).
        """
        return self.edges.groupBy(F.col(OBJECT)).agg(
            F.count(SUBJECT).alias("in_degree")
        )

    def out_degrees_full(self) -> DataFrame:
        """All vertex columns + ``out_degree`` with zero-degree vertices kept
        (our extension; needed for dangling-mass handling — SURVEY §1.4)."""
        counts = self.out_degrees()
        return self.vertices.join(counts, VERTEX_ID, "left").withColumn(
            "out_degree", F.coalesce(F.col("out_degree"), F.lit(0))
        )

    def in_degrees_full(self) -> DataFrame:
        """All vertex columns + ``in_degree`` with zero-degree vertices kept."""
        counts = self.in_degrees().withColumnRenamed(OBJECT, VERTEX_ID)
        return self.vertices.join(counts, VERTEX_ID, "left").withColumn(
            "in_degree", F.coalesce(F.col("in_degree"), F.lit(0))
        )

    # -- physical layout -----------------------------------------------------

    def _edge_layout(self, key: str = SUBJECT) -> DataFrame:
        """The ``edge.*``-prefixed edges, hash-partitioned on ``edge.<key>``
        (``subject`` or ``object``) at ``spark.sql.shuffle.partitions``,
        sorted within partitions, and materialized with that partitioning
        and ordering advertised — the Pregel triplet join's edge side, and,
        keyed on ``subject``, the input of an exchange-free out-degree
        aggregate.  Built once per partition count and key; a second key
        re-keys the layout already built at that partition count, so the
        edges' own plan runs once.  Edges read from a table bucketed on
        ``key`` at that many buckets (sources/bucketed.py) are laid out
        so already: the build keeps the bucketed scan and drops its
        exchange.  A table bucketed at another count is exchanged, and
        its scan runs one task per bucket."""
        spark = self._edges.sparkSession
        p = int(spark.conf.get("spark.sql.shuffle.partitions"))
        if (p, key) not in self._edge_layouts:
            laid_out = [df for (q, _), df in self._edge_layouts.items() if q == p]
            edges = laid_out[0] if laid_out else self._edges.select(
                *[F.col(c).alias(alias("edge", c)) for c in self._edges.columns]
            )
            col = edge_(key)
            with _session_conf(spark, _LOOP_CONF):
                self._edge_layouts[p, key] = truncate_plan(
                    edges.repartition(p, col).sortWithinPartitions(col)
                )
        return self._edge_layouts[p, key]

    def _layout_wanted(self, key: str) -> bool:
        """Whether a Pregel run should read the edge layout on ``key``:
        when it is built at ``spark.sql.shuffle.partitions``, or when a run
        on these edges asked for it before.  A first ask is recorded and
        answered no.  A layout on a second key is one more exchange of
        every edge, which the messages one run saves need not repay; a
        graph run again is being reused, and the layout serves every later
        run."""
        p = int(self._edges.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        wanted = (p, key) in self._edge_layouts or (p, key) in self._layout_asks
        self._layout_asks.add((p, key))
        return wanted

    def _degree_table(self) -> DataFrame:
        """:meth:`out_degrees_full`, materialized and hash-partitioned on
        ``vertex_id`` at ``spark.sql.shuffle.partitions`` — the layout
        the Pregel state keeps, so a run starting from it never
        re-exchanges the state.  The counts aggregate the edge layout,
        which is already clustered on the group key: no edge exchange.
        A vertex table that already carries ``out_degree`` keeps its own
        column, so the table holds every vertex column unchanged: it is
        also the graph's memoized vertex table.  Its vertex and dangling
        counts ride the same job (:meth:`_vertex_counts`)."""
        spark = self._edges.sparkSession
        p = int(spark.conf.get("spark.sql.shuffle.partitions"))
        if p not in self._degree_tables:
            table = self._vertices
            if "out_degree" not in table.columns:
                counts = self._edge_layout().groupBy(
                    edge_(SUBJECT).alias(VERTEX_ID)
                ).agg(F.count(edge_(OBJECT)).alias("out_degree"))
                table = table.join(counts, VERTEX_ID, "left").withColumn(
                    "out_degree", F.coalesce(F.col("out_degree"), F.lit(0))
                )
            # a no-op over the join, whose output is laid out so already
            table = table.repartition(p, VERTEX_ID)
            counts = Observation()
            table = table.observe(
                counts,
                F.count(F.lit(1)).alias("n"),
                F.sum((F.col("out_degree") == 0).cast("long")).alias("dangling"),
            )
            with _session_conf(spark, _LOOP_CONF):
                self._degree_tables[p] = truncate_plan(table)
            seen = counts.get
            self._degree_counts[p] = (seen["n"], seen["dangling"] or 0)
        return self._degree_tables[p]

    def _vertex_counts(self) -> tuple[int, int]:
        """``(vertices, dangling vertices)`` of :meth:`_degree_table` —
        the vertices and those with ``out_degree == 0`` — as observed on
        the table's materialization: memoized with the table, no job of
        their own."""
        self._degree_table()
        p = int(self._edges.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        return self._degree_counts[p]
