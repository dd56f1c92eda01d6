"""Built-in graph algorithms over the Pregel engine.

The reference ships no algorithm library — PageRank and max-value exist only
as builder configs in its examples (examples/pagerank.rs:22-41,
examples/maximum_value.rs:27-40).  Per the north rule we provide four
built-ins as first-class functions; all are expressed as Pregel builder
configs except triangle counting, which is a pure join pipeline.

Scale notes per algorithm are inline; the common ones:
  * every algorithm works on ``(subject, object)`` edge tables of arbitrary
    size — no driver-side collection of vertices or edges, ever;
  * the only driver-side scalars are O(1) aggregates (vertex count,
    dangling mass, convergence delta); inside a loop they are observed on
    the round's materialization jobs (``pregel.iterate``), never an action
    of their own.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pregel_rs_spark.columns import (
    OBJECT,
    SUBJECT,
    VERTEX_ID,
    edge_,
    msg,
    subject,
)
from pregel_rs_spark.graphframe import GraphFrame
from pregel_rs_spark.pregel import (
    MessageReceiver,
    PregelBuilder,
    _free_checkpoint,
    iterate,
    truncate_plan,
)
from pregel_rs_spark.unionfind import contract_partition


def _with_out_degrees(graph: GraphFrame) -> GraphFrame:
    """``graph`` over its memoized degree table (GraphFrame._degree_table),
    which keeps a vertex table's own ``out_degree`` column."""
    return graph.with_vertices(graph._degree_table())


def pagerank(
    graph: GraphFrame,
    damping: float = 0.85,
    tol: float = 1e-6,
    max_iterations: int = 100,
    checkpoint_store=None,
    checkpoint_every: int = 5,
    resume: bool = False,
    weight: str | None = None,
    init_ranks: DataFrame | None = None,
) -> DataFrame:
    """Standard PageRank with damping and dangling-mass redistribution.

    Per-superstep dataflow: each vertex sends ``rank / out_degree`` along its
    out-edges (receiver = Object); messages are sum-aggregated, combined
    map-side once per core (the triplets are coalesced to one map task per
    core), so each receiver gets at most ``cores`` partial rows per
    superstep over the shuffle; the dangling mass ``Σ rank over
    out_degree==0`` is one scalar aggregate on the checkpointed state,
    folded into the v_prog closure:

        rank' = d * (msg + dangling/n) + (1-d)/n

    The vertex and dangling counts are observed on the degree table's
    materialization, once per graph.  The sums' association follows the
    grouping of partial rows, so ranks at different core counts may differ
    in the last bits.

    With ``weight=<edge column>`` (weighted PageRank — e.g. the host graph,
    where an edge carries the count of page-level links) each vertex instead
    sends ``rank * w(e) / out_weight`` where ``out_weight = Σ w`` over its
    out-edges — mass still sums to 1 per superstep, so the unweighted path
    is the special case w≡1.  Weights must be positive.

    Converges when max|rank'−rank| ≤ tol (north rule: 1e-6).
    Oracle for tests: NumPy power iteration (FIXTURES.md F3).

    ``init_ranks`` warm-starts the iteration from a previous run's
    ``(vertex_id, rank)`` table — the incremental-crawl-update path: after
    appending a day's edges, restart from yesterday's ranks instead of
    uniform.  The update map ``r → d·(P+D)ᵀr + (1−d)/n`` is an affine
    contraction (‖d(P+D)‖₁ = d < 1), so ANY start vector converges to the
    SAME fixpoint — warm-starting changes the superstep count, never the
    answer (pinned in tests).  Vertices absent from ``init_ranks`` (newly
    crawled pages) start at the uniform 1/n; no renormalization is needed
    because total mass converges to 1 on its own.

    Returns ``(vertex_id, …props, out_degree, rank)``.
    """
    # The graph's memoized degree table: built on the first call,
    # hash-partitioned like the Pregel state, so the superstep-0 init and
    # the loop read the in-memory copy, and later calls on the same graph
    # shuffle nothing but their messages.  Its n / dangling counts were
    # observed on its own materialization: no job here.
    g = _with_out_degrees(graph)
    n, n_dangling = graph._vertex_counts()
    has_dangling = n_dangling > 0
    if weight is not None:
        # Total outgoing weight (the weighted fan-out denominator),
        # aggregated from the edge layout, which is already clustered on
        # the group key: no exchange on either side of the join.
        out_w = g._edge_layout().groupBy(
            edge_(SUBJECT).alias(VERTEX_ID)
        ).agg(F.sum(edge_(weight)).cast("double").alias("out_weight"))
        g = g.with_vertices(
            g.vertices.join(out_w, VERTEX_ID, "left").withColumn(
                "out_weight", F.coalesce(F.col("out_weight"), F.lit(0.0))
            )
        )
    if init_ranks is not None:
        prev = init_ranks.select(
            VERTEX_ID, F.col("rank").alias("__warm_rank__")
        )
        g = g.with_vertices(g.vertices.join(prev, VERTEX_ID, "left"))

    # Dangling mass rides the engine's per-superstep stats action and is
    # injected as a broadcast COLUMN (PregelContext.stat_col), not a
    # literal: a changing literal would alter the generated code each
    # superstep and pay a full JIT recompile per iteration.  Skipped
    # entirely when the graph has no zero-out-degree vertices.
    from pregel_rs_spark.pregel import PregelContext

    dangling_col = (
        PregelContext.stat_col("dangling") if has_dangling else F.lit(0.0)
    )
    v_prog = (
        F.coalesce(msg(), F.lit(0.0)) + dangling_col / float(n)
    ) * damping + (1.0 - damping) / n

    builder = (
        PregelBuilder(g)
        .max_iterations(max_iterations)
        .with_vertex_column("rank")
        .initial_message(
            F.coalesce(F.col("__warm_rank__"), F.lit(1.0 / n))
            if init_ranks is not None
            else F.lit(1.0 / n)
        )
        .send_messages(
            MessageReceiver.OBJECT,
            subject("rank") * edge_(weight) / subject("out_weight")
            if weight is not None
            else subject("rank") / subject("out_degree"),
        )
        .aggregate_messages(F.sum(msg()))
        .v_prog(v_prog)
        .with_tolerance(tol)
    )
    if has_dangling:
        builder = builder.with_state_stat(
            "dangling",
            F.coalesce(
                F.sum(F.when(F.col("out_degree") == 0, F.col("rank"))),
                F.lit(0.0),
            ),
        )
    if checkpoint_store is not None:
        builder = builder.with_checkpoint(checkpoint_store, checkpoint_every)
    engine = builder.build()
    res = engine.run(resume=resume)
    if init_ranks is not None:
        res = res.drop("__warm_rank__")
    # expose per-superstep metrics to benchmarks (supersteps/hour is the
    # BASELINE.json north metric); plain Python attribute on the DataFrame
    res.pregel_metrics = engine.metrics
    return res


def max_value(
    graph: GraphFrame, value_column: str = "value", max_iterations: int = 10
) -> DataFrame:
    """Maximum-value propagation (reference examples/maximum_value.rs:27-40).

    Every vertex starts at its own ``value_column``; each superstep it sends
    its current maximum along out-edges, aggregates with max, and keeps the
    larger of (own, received).  With ``with_exact_convergence`` the loop
    stops as soon as no value changes — O(diameter) supersteps.

    Returns ``(vertex_id, …props, max_value)``.
    """
    return (
        PregelBuilder(graph)
        .max_iterations(max_iterations)
        .with_vertex_column("max_value")
        .initial_message(F.col(value_column))
        .send_messages(MessageReceiver.OBJECT, subject("max_value"))
        .aggregate_messages(F.max(msg()))
        .v_prog(F.greatest(F.col("max_value"), F.coalesce(msg(), F.col("max_value"))))
        .with_exact_convergence()
        .build()
        .run()
    )


def connected_components(
    graph: GraphFrame,
    max_iterations: int = 100,
    checkpoint_store=None,
    method: str = "label",
) -> DataFrame:
    """Connected components via min-label propagation (undirected).

    ``method="label"`` (default) is the reference-faithful BSP min-label
    loop below — O(diameter) supersteps.  ``method="star"`` dispatches to
    :func:`connected_components_star` — the large-star/small-star
    formulation converging in O(log n) rounds, the right choice on
    web-scale graphs with long chains.  Both return identical components
    (component = min vertex id, exact).

    Each vertex starts labelled with its own id; every superstep the minimum
    label flows across every edge in both directions, and each vertex keeps
    the least label seen.  Exact convergence when no label changes.

    Undirectedness is materialized ONCE by symmetrizing the edge table
    (src→dst ∪ dst→src, distinct) before the loop, so each superstep is a
    single send along out-edges with only the subject-side triplet join —
    half the join work of the two-direction formulation, and the engine's
    closed-world join pruning applies.

    Diameter-bound iterations: at 10^12-vertex web scale prefer the
    large-star/small-star variant; min-label is the reference-faithful BSP
    formulation and converges in O(diameter) supersteps.

    Returns ``(vertex_id, …props, component)`` — component = min vertex id
    in the component (exact, deterministic).
    """
    if method == "star":
        return connected_components_star(graph, max_iterations)
    if method != "label":
        raise ValueError(f"method must be 'label' or 'star', got {method!r}")
    e = graph.edges.select(SUBJECT, OBJECT)
    sym = e.unionByName(
        e.select(F.col(OBJECT).alias(SUBJECT), F.col(SUBJECT).alias(OBJECT))
    ).distinct()
    g = GraphFrame(graph.vertices, sym, closed=graph.closed)
    builder = (
        PregelBuilder(g)
        .max_iterations(max_iterations)
        .with_vertex_column("component")
        .initial_message(F.col(VERTEX_ID))
        .send_messages(MessageReceiver.OBJECT, subject("component"))
        .aggregate_messages(F.min(msg()))
        .v_prog(F.least(F.col("component"), F.coalesce(msg(), F.col("component"))))
        .with_exact_convergence()
    )
    if checkpoint_store is not None:
        builder = builder.with_checkpoint(checkpoint_store, 5)
    try:
        return builder.build().run()
    finally:
        g.unpersist()  # the symmetrized graph lives only inside this call


def connected_components_star(
    graph: GraphFrame, max_iterations: int = 50
) -> DataFrame:
    """Connected components in O(log n) rounds via alternating
    large-star/small-star edge rewrites (Kiveris et al., "Connected
    Components in MapReduce and Beyond" — public literature; no reference
    counterpart, this is the scale path the min-label docstring points to).

    Invariant: the edge multiset is repeatedly rewritten, preserving
    connectivity, until it is a forest of stars — every non-minimum vertex
    holds exactly one edge to its component's minimum id.

      * large-star: each vertex attaches its LARGER neighbours to the
        minimum of its neighbourhood (incl. itself);
      * small-star: each vertex attaches its smaller-or-equal neighbours
        (and itself) to that minimum.

    Before round 1, the graph's edge layout is contracted where it lies:
    its partitions are coalesced (no shuffle) to one per core, and one
    ``mapInArrow`` pass runs a NumPy union-find over each one's edges
    (:func:`pregel_rs_spark.unionfind.contract_edges`), emitting
    ``(v, local minimum of v)`` for every vertex that is not its local
    component's minimum — a forest of stars, oriented ``x > c``, never
    larger than the partition's edges, and correct for any partitioning
    (the layout's clustering on ``subject`` only makes it shrink more).
    One task per core, not per layout partition, because each Python task
    costs a fixed ~0.3 CPU-s of worker set-up.  The pass shuffles nothing
    and is materialized once, as round 1's input; its job also observes
    its input rows and its output rows ``n``.

    Per round, each shuffling on vertex ids: the neighbourhood-min
    aggregate, the join back to it, the small-star window on ``x`` and a
    distinct — no driver-side data.  Convergence is detected by an O(1)
    (count, bit_xor of row hashes) signature of the edge set, observed on
    the round's own materialization job (no action of its own); O(log n)
    rounds total vs O(diameter) supersteps for min-label (a 10^8-long
    chain needs ~27 rounds here, 10^8 there).

    The finish: once the active edge set holds no more rows than the
    contraction's tasks read on average (``bound`` = its input rows,
    observed on its job, over its task count: no knob sets it), whether
    right after the contraction or after a round, the next round runs it
    through the same union-find in one task (``coalesce(1)``) and stops:
    the exact components, with no star round and no shuffle (the
    "filtering" finish of Lattanzi et al., SPAA 2011).  The contraction
    and every round keep the connectivity of the edges they read, so a
    union-find over the whole active set is exact.  On a graph whose
    active set never shrinks to the bound the rounds run as above.

    Memory: each Python worker folds its task's Arrow batches into a
    running forest (:func:`pregel_rs_spark.unionfind.contract_partition`),
    so it holds O(task vertices + one batch), not the task's edges, and
    the finish's one task reads at most ``bound`` rows, no more than a
    contraction task read on average: the finish asks no more of one
    worker than the contraction did.  That memory is outside Spark's
    memory manager (``spark.executor.pyspark.memory`` caps it, if set).
    The workers need NumPy and pyarrow on the executors.

    Returns ``(vertex_id, …props, component)`` — identical output contract
    and values (component = min vertex id) as method="label"; the lazy
    result reads the graph's memoized vertex table until graph.unpersist().
    """
    if max_iterations < 1:
        raise ValueError(f"max_iterations must be >= 1, got {max_iterations}")
    from pyspark.sql import Observation
    from pyspark.sql.window import Window

    # round 1 starts from the edge layout with each partition contracted to
    # its local stars, so every round's edges are oriented x > c; the
    # filter keeps self-loops (no connectivity, though the union-find would
    # shrug them off) and null ids (NumPy has none) on the JVM side
    layout = graph._edge_layout().select(
        edge_(SUBJECT).alias("x"), edge_(OBJECT).alias("c")
    ).filter(F.col("x") != F.col("c"))
    # the result's vertex table, built before the contraction: on a call
    # that has just built the layout, this job also refreshes the
    # scheduler's record of where the layout's blocks are (the layout's
    # own job left it empty), so the coalesce below groups partitions by
    # block location on every call, not by index on the first one only
    vertices = graph._degree_table().select(*graph.vertices.columns)
    # one contraction task per core, not per layout partition: a Python
    # task costs a fixed ~0.3 CPU-s of worker set-up whatever it carries,
    # and merging co-located partitions (no shuffle) only contracts more.
    # Its input rows ride its own job, observed below the coalesce
    cores = layout.sparkSession.sparkContext.defaultParallelism
    read = Observation()
    contracted = (
        layout.observe(read, F.count(F.lit(1)).alias("rows"))
        .coalesce(cores)
        .mapInArrow(contract_partition, layout.schema)
    )
    count = F.count(F.lit(1))
    bound = 0.0

    def contract(r) -> DataFrame:
        nonlocal bound
        E = r.keep(contracted, n=count)
        # the average share of a contraction task (one per partition of
        # its output): the finish's one task reads no more than that
        bound = read.get["rows"] / E._ck_rdd.getNumPartitions()
        return E

    def star_round(E: DataFrame, r) -> tuple[DataFrame, bool]:
        if r.prev["n"] <= bound:
            # the finish: one union-find over the whole active set
            finish = E.coalesce(1).mapInArrow(contract_partition, E.schema)
            return r.keep(finish), True
        # -- large-star: neighbourhood over BOTH directions ----------------
        d = E.select(F.col("x").alias("u"), F.col("c").alias("v")).unionAll(
            E.select(F.col("c").alias("u"), F.col("x").alias("v"))
        )
        mins = d.groupBy("u").agg(F.min("v").alias("mv"))
        mins = mins.select("u", F.least(F.col("mv"), F.col("u")).alias("m"))
        # attach strictly-larger neighbours v to m(u); m ≤ u < v keeps the
        # (x, c) orientation invariant; repeats die in the distinct
        large = (
            d.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("x"), F.col("m").alias("c"))
        )
        # -- small-star: x and each of its c attach to min(c) --------------
        nxt = (
            large.withColumn("m", F.min("c").over(Window.partitionBy("x")))
            .select(F.explode(F.array(
                F.struct(F.col("c").alias("x"), F.col("m").alias("c")),
                F.struct("x", F.col("m").alias("c")),
            )).alias("e"))
            .select("e.x", "e.c")
            .filter(F.col("x") != F.col("c"))
            .distinct()
        )
        # fixpoint when the edge set's (count, hash) signature repeats
        E = r.keep(nxt, n=count, h=F.expr("bit_xor(xxhash64(x, c))"))
        return E, r.seen == r.prev

    E, rounds, _ = iterate(contract, star_round, max_iterations)

    # fixpoint: every row is (vertex, component-min); vertices with no row
    # (isolated or the minimum itself) are their own component
    mapping = E.groupBy(F.col("x").alias(VERTEX_ID)).agg(
        F.min("c").alias("__comp__")
    )
    res = (
        vertices
        .join(mapping, VERTEX_ID, "left")
        .withColumn(
            "component", F.coalesce(F.col("__comp__"), F.col(VERTEX_ID))
        )
        .drop("__comp__")
    )
    res.cc_rounds = rounds
    return res


def label_propagation(
    graph: GraphFrame, max_iterations: int = 5
) -> DataFrame:
    """Community detection by label propagation (synchronous, deterministic).

    Each vertex adopts the most frequent label among its (undirected)
    neighbours **plus its own** (self-inclusion prevents the classic
    synchronous-LPA two-cycle oscillation on bipartite structures); ties
    break to the smallest label so runs are reproducible (FIXTURES.md F7
    requires exact results).  Not a Pregel single-value
    aggregation — the mode needs a two-level groupBy — so it is implemented
    directly as the same triplet dataflow with a
    ``groupBy(dst, label).count()`` → ``max_by(label, (count, -label))``
    reduction, iterated with per-step localCheckpoint like the engine.

    Returns ``(vertex_id, label)``.
    """
    edges = graph.edges.select(SUBJECT, OBJECT)
    # undirected: symmetrize once, persist (reused every iteration)
    sym = edges.unionByName(
        edges.select(F.col(OBJECT).alias(SUBJECT), F.col(SUBJECT).alias(OBJECT))
    ).distinct().repartition(F.col(SUBJECT)).persist()

    def vote(labels: DataFrame, r) -> tuple[DataFrame, bool]:
        neigh = sym.join(
            labels, sym[SUBJECT] == labels[VERTEX_ID], "inner"
        ).select(F.col(OBJECT).alias("dst"), F.col("label"))
        # self-inclusion: each vertex votes for its own current label
        neigh = neigh.unionByName(
            labels.select(F.col(VERTEX_ID).alias("dst"), F.col("label"))
        )
        counts = neigh.groupBy("dst", "label").agg(
            F.count(F.lit(1)).alias("cnt")
        )
        # mode with deterministic min-label tie-break: max_by over
        # struct(cnt, -label) — larger cnt wins, then smaller label
        # (negated for max ordering).
        new = counts.groupBy("dst").agg(
            F.max_by(
                F.col("label"), F.struct(F.col("cnt"), -F.col("label"))
            ).alias("new_label")
        )
        nxt = labels.join(new, labels[VERTEX_ID] == new["dst"], "left").select(
            F.col(VERTEX_ID),
            F.coalesce(F.col("new_label"), F.col("label")).alias("label"),
        )
        return r.keep(nxt), False

    labels = graph.vertices.select(
        F.col(VERTEX_ID), F.col(VERTEX_ID).alias("label")
    )
    try:
        return iterate(lambda r: r.keep(labels), vote, max_iterations).state
    finally:
        sym.unpersist()


def _triangles_from_undirected(und: DataFrame) -> DataFrame:
    """Enumerate each triangle of a canonical undirected simple edge table
    ``(a, b)`` with a < b EXACTLY ONCE, as ``(u, v, w)`` (u = minimum-RANK
    corner, rank(v) < rank(w)) — the degree-ordered compact-forward join
    shared by :func:`triangle_count` and :func:`k_truss`.

    Rank = (degree, id): orienting every edge low→high bounds each
    vertex's oriented out-degree by O(sqrt(m)), so the wedge intermediate
    is Σ out_deg² = O(m^1.5) — skew-safe on power-law hubs.
    """
    deg = (
        und.select(F.col("a").alias("v"))
        .unionAll(und.select(F.col("b")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    da = deg.select(F.col("v").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("v").alias("b"), F.col("deg").alias("deg_b"))
    ranked = und.join(da, "a").join(db, "b")
    lo_first = (F.col("deg_a") < F.col("deg_b")) | (
        (F.col("deg_a") == F.col("deg_b")) & (F.col("a") < F.col("b"))
    )
    o = ranked.select(
        F.when(lo_first, F.col("a")).otherwise(F.col("b")).alias("src"),
        F.when(lo_first, F.struct("deg_a", F.col("a").alias("id")))
        .otherwise(F.struct(F.col("deg_b").alias("deg_a"), F.col("b").alias("id")))
        .alias("src_rank"),
        F.when(lo_first, F.col("b")).otherwise(F.col("a")).alias("dst"),
        F.when(lo_first, F.struct(F.col("deg_b").alias("deg_a"), F.col("b").alias("id")))
        .otherwise(F.struct("deg_a", F.col("a").alias("id")))
        .alias("dst_rank"),
    )

    e1 = o.select(
        F.col("src").alias("u"), F.col("dst").alias("v"), F.col("dst_rank").alias("rv")
    )
    e2 = o.select(
        F.col("src").alias("u"), F.col("dst").alias("w"), F.col("dst_rank").alias("rw")
    )
    wedges = (
        e1.join(e2, "u")
        .filter(F.col("rv") < F.col("rw"))
        .select("u", "v", "w")
    )
    closing = o.select(F.col("src").alias("v"), F.col("dst").alias("w"))
    return wedges.join(closing, ["v", "w"], "inner").select("u", "v", "w")


def triangle_count(graph: GraphFrame) -> DataFrame:
    """Per-vertex triangle counts via neighbour-set intersection joins.

    Not message passing (north rule lists it as a built-in; SURVEY §7.2.4):
    compact-forward / degree-ordered wedge counting.  Each undirected edge
    is oriented from its lower-(degree, id) endpoint to the higher one —
    an acyclic orientation in which every vertex's out-degree is bounded by
    O(sqrt(m)), so the wedge intermediate is Σ out_deg² = O(m^1.5) instead
    of the O(Σ deg²) a naive id-canonicalization pays on power-law hubs
    (one mega-hub of degree d would otherwise alone contribute d²):

        o(u,v) ⋈ o(u,w) on u, rank(v) < rank(w)  →  wedge (v, u, w)
        wedge  ⋈  o(v,w)                          →  triangle

    Each triangle is found exactly once (its minimum-rank corner is the
    wedge center); each corner gets +1.  Both joins are equi-joins on
    vertex ids — sort-merge/shuffled-hash by Catalyst; the wedge frame is
    never collected.

    Returns ``(vertex_id, triangles)`` for ALL vertices (0 for none).
    """
    tris = _triangles_from_undirected(_und_simple(graph.edges))

    corners = (
        tris.select(F.col("u").alias(VERTEX_ID))
        .unionAll(tris.select(F.col("v")))
        .unionAll(tris.select(F.col("w")))
    )
    per_vertex = corners.groupBy(VERTEX_ID).agg(
        F.count(F.lit(1)).alias("triangles")
    )
    return (
        graph.vertices.select(VERTEX_ID)
        .join(per_vertex, VERTEX_ID, "left")
        .withColumn("triangles", F.coalesce(F.col("triangles"), F.lit(0)))
    )


def hits(
    graph: GraphFrame,
    iterations: int = 10,
    normalize: bool = True,
) -> DataFrame:
    """HITS hubs & authorities (Kleinberg, JACM'99) — synchronous BSP
    variant (no reference counterpart; extension like :func:`sssp`):

        auth_{k+1}(v) = Σ_{u→v} hub_k(u)
        hub_{k+1}(v)  = Σ_{v→w} auth_k(w)

    Both updates read the PRE-update values (the engine's synchronous
    state contract), i.e. Jacobi rather than the textbook Gauss-Seidel
    ordering — the two interleave the same power iterations on AᵀA and
    AAᵀ one step apart, converge to the same principal directions, and
    (the point here) are exactly reproducible by SQL unrolling, which the
    driver oracle does.

    One superstep per iteration: both directions ship in the SAME message
    shuffle as a two-field struct — to the object ``(h=hub, a=NULL)``,
    to the subject ``(h=NULL, a=auth)`` — aggregated field-wise with sum
    (NULLs drop out; map-side partial aggregation collapses hub receivers
    before the shuffle exactly as in PageRank).

    ``normalize=True`` L1-normalizes each score vector once at the end
    (two scalar aggregates, one action) instead of per-iteration — the
    iterates are scale-free, and skipping k normalization barriers keeps
    the superstep plan byte-identical across iterations.  With the
    default double precision, unnormalized scores stay finite for
    iterations ≲ 300/log10(d_max); pass ``normalize=False`` to get raw
    sums for small k.

    Returns ``(vertex_id, …props, auth, hub)``.
    """
    from pregel_rs_spark.columns import object_

    null_d = F.lit(None).cast("double")

    def pair(h, a):
        return F.struct(h.alias("h"), a.alias("a"))

    res = (
        PregelBuilder(graph)
        .max_iterations(iterations)
        .with_vertex_column("auth")
        .initial_message(F.lit(1.0))
        .with_state_column(
            "hub", F.lit(1.0), F.coalesce(msg()["a"], F.lit(0.0))
        )
        .send_messages(MessageReceiver.OBJECT, pair(subject("hub"), null_d))
        .send_messages(MessageReceiver.SUBJECT, pair(null_d, object_("auth")))
        .aggregate_messages(pair(F.sum(msg()["h"]), F.sum(msg()["a"])))
        .v_prog(F.coalesce(msg()["h"], F.lit(0.0)))
        .build()
        .run()
    )
    if normalize:
        s = res.agg(
            F.sum("auth").alias("sa"), F.sum("hub").alias("sh")
        ).collect()[0]
        sa = s["sa"] or 1.0
        sh = s["sh"] or 1.0
        res = res.withColumn(
            "auth", F.col("auth") / F.lit(float(sa))
        ).withColumn("hub", F.col("hub") / F.lit(float(sh)))
    return res


def personalized_pagerank(
    graph: GraphFrame,
    sources: list[int],
    damping: float = 0.85,
    tol: float | None = 1e-6,
    max_iterations: int = 100,
) -> DataFrame:
    """Personalized PageRank: random walks restart at ``sources`` instead
    of uniformly (Jeh & Widom, WWW'03; extension — the reference ships
    only global PageRank in examples/pagerank.rs).

        rank' = d·(msg + dangling·p(v)) + (1−d)·p(v)

    where p is uniform over ``sources`` and zero elsewhere; dangling mass
    re-enters through the teleport distribution (the walk restarts), so
    Σ rank = 1 every superstep exactly as in the global variant.

    ``sources`` is a driver-side literal (`isin`) — the intended use is a
    handful of seed pages; for million-seed personalization build the
    teleport column by a join instead.  Superstep plan, checkpointing and
    the broadcast dangling-stat column are identical to :func:`pagerank`
    — same single message shuffle per superstep at any scale.

    Returns ``(vertex_id, …props, out_degree, rank)``.
    """
    if not sources:
        raise ValueError("personalized_pagerank needs ≥1 source vertex")
    g = _with_out_degrees(graph)
    has_dangling = graph._vertex_counts()[1] > 0

    from pregel_rs_spark.pregel import PregelContext

    p_v = F.when(
        F.col(VERTEX_ID).isin([int(s) for s in sources]),
        F.lit(1.0 / len(sources)),
    ).otherwise(F.lit(0.0))
    dangling_col = (
        PregelContext.stat_col("dangling") if has_dangling else F.lit(0.0)
    )
    v_prog = (
        F.coalesce(msg(), F.lit(0.0)) + dangling_col * p_v
    ) * damping + (1.0 - damping) * p_v

    builder = (
        PregelBuilder(g)
        .max_iterations(max_iterations)
        .with_vertex_column("rank")
        .initial_message(p_v)
        .send_messages(
            MessageReceiver.OBJECT, subject("rank") / subject("out_degree")
        )
        .aggregate_messages(F.sum(msg()))
        .v_prog(v_prog)
    )
    if tol is not None and tol > 0:
        builder = builder.with_tolerance(tol)
    if has_dangling:
        builder = builder.with_state_stat(
            "dangling",
            F.coalesce(
                F.sum(F.when(F.col("out_degree") == 0, F.col("rank"))),
                F.lit(0.0),
            ),
        )
    return builder.build().run()


def sssp(
    graph: GraphFrame,
    source: int,
    weight_column: str | None = None,
    max_iterations: int = 100,
    frontier: bool = False,
) -> DataFrame:
    """Single-source shortest paths — the canonical Pregel algorithm
    (Malewicz et al., SIGMOD'10 §5.2; not shipped by the reference, which
    stops at max-value propagation — examples/maximum_value.rs).

    Every vertex starts at distance 0 (the source) or +inf; each superstep
    a vertex sends ``own_distance + edge_weight`` along its out-edges,
    aggregates received offers with ``min``, and keeps the smaller of
    (own, best offer).  ``with_exact_convergence`` stops the loop the first
    superstep in which no distance improves — O(diameter) supersteps for
    unit weights (Bellman-Ford rounds for weighted graphs).

    ``weight_column``: optional edge column with non-negative weights;
    default = unit weights (hop count).

    ``frontier=True`` (web-scale option): track a ``changed`` state flag
    and send offers only from vertices whose distance improved last
    superstep (``with_active_filter`` — identical result by min-agg
    idempotence, pinned in tests).  The default path already keeps
    early-superstep shuffles near-empty (NULL offers from unreached
    vertices collapse map-side), but once most of the graph is reached
    it re-sends O(reached) offers every remaining superstep; the
    frontier path sends O(edges-out-of-frontier) instead — on a
    high-diameter 10^12-edge web graph that is the difference between
    O(reached · diameter) and O(E) total shuffled messages.  The extra
    boolean state column costs one byte-ish per vertex row.

    Scale shape: identical to PageRank's superstep — one co-partitioned
    triplet join + one message shuffle per superstep.  Offers from
    still-unreached vertices are NULL (the ``F.when`` has no ``otherwise``),
    so the min-aggregation ignores them and map-side partial aggregation
    collapses them to at most one NULL partial per (receiver, partition)
    before the shuffle — early-superstep shuffles stay near-empty on
    high-diameter graphs.

    Returns ``(vertex_id, …props, distance)`` with unreached vertices at
    +inf (DOUBLE) — exact-equal semantics for hop counts.
    """
    from pregel_rs_spark.columns import edge_

    INF = float("inf")
    w = edge_(weight_column) if weight_column else F.lit(1.0)
    offer = F.when(
        subject("distance") != F.lit(INF), subject("distance") + w
    )  # NULL (dropped by min-agg) when the sender is still unreached
    b = (
        PregelBuilder(graph)
        .max_iterations(max_iterations)
        .with_vertex_column("distance")
        .initial_message(
            F.when(F.col(VERTEX_ID) == F.lit(source), F.lit(0.0)).otherwise(
                F.lit(INF)
            )
        )
        .send_messages(MessageReceiver.OBJECT, offer)
        .aggregate_messages(F.min(msg()))
        .v_prog(F.least(F.col("distance"), F.coalesce(msg(), F.col("distance"))))
        .with_exact_convergence()
    )
    if frontier:
        b = b.with_state_column(
            "changed",
            F.col(VERTEX_ID) == F.lit(source),
            F.coalesce(msg() < F.col("distance"), F.lit(False)),
        ).with_active_filter(subject("changed"))
    res = b.build().run()
    return res.drop("changed") if frontier else res


def _max_value_over(
    vertices: DataFrame, edges: DataFrame, max_iterations: int
) -> DataFrame:
    """:func:`max_value` over a graph built for this one run, whose layout
    is freed on every exit path."""
    g = GraphFrame(vertices, edges, closed=True)
    try:
        return max_value(g, max_iterations=max_iterations)
    finally:
        g.unpersist()


def strongly_connected_components(
    graph: GraphFrame,
    max_rounds: int = 50,
    max_iterations: int = 200,
) -> DataFrame:
    """Strongly connected components via forward coloring + backward flag
    propagation (Orzan's coloring scheme; see also FW-BW-Trim — public
    literature; extension, no reference counterpart).

    Per round, on the still-unassigned subgraph:

      1. *Color*: propagate the maximum vertex id along out-edges to
         fixpoint — ``color(v)`` = max id with a path to ``v``.  A vertex
         with ``color(v) == v`` is a *root*: no higher id reaches it, so it
         is the maximum of its own SCC.
      2. *Backward flag*: within each color class (edges whose endpoints
         share a color — inter-class paths are impossible for SCC members),
         propagate ``root-reached`` along REVERSED edges to fixpoint.
         Flagged vertices reach their root both ways → SCC found.
      3. Assign ``component = color`` to flagged vertices, remove them,
         repeat.  Isolated vertices are their own root and exit in the
         same round, so trivial SCCs never linger.

    Both phases are :func:`max_value` runs (exact convergence, O(diameter)
    supersteps each); every round's frames pass through ``truncate_plan``
    so lineage stays O(1) in rounds.  Real web graphs finish in a few
    rounds (one giant SCC + trivial ones); the adversarial worst case (a
    monotone-id chain) degrades to O(n) rounds — the known weakness of
    distributed coloring SCC — and trips ``max_rounds`` loudly rather than
    spinning.

    Component label = MAX vertex id in the SCC (exact, deterministic).
    Returns ``(vertex_id, …props, component)``.
    """
    ids = graph.vertices.select(VERTEX_ID)
    edges0 = (
        graph.edges.select(SUBJECT, OBJECT)
        .filter(F.col(SUBJECT) != F.col(OBJECT))
        .distinct()
    )

    def color_round(state, r):
        active_v, assigned = state
        if r.prev["n"] == 0:
            return state, True
        # edges of the live subgraph (both endpoints unassigned)
        e_act = r.keep(
            edges0.join(
                active_v.select(F.col(VERTEX_ID).alias(SUBJECT)), SUBJECT,
                "left_semi",
            ).join(
                active_v.select(F.col(VERTEX_ID).alias(OBJECT)), OBJECT,
                "left_semi",
            )
        )

        # 1. forward coloring: color(v) = max id reaching v
        fwd = r.keep(_max_value_over(
            active_v.withColumn("value", F.col(VERTEX_ID)), e_act, max_iterations
        ))
        colors = r.keep(
            fwd.select(VERTEX_ID, F.col("max_value").alias("color"))
        )

        # 2. backward flag within color classes, from the roots
        sc = colors.select(
            F.col(VERTEX_ID).alias(SUBJECT), F.col("color").alias("__sc__")
        )
        oc = colors.select(
            F.col(VERTEX_ID).alias(OBJECT), F.col("color").alias("__oc__")
        )
        rev = (
            e_act.join(sc, SUBJECT).join(oc, OBJECT)
            .filter(F.col("__sc__") == F.col("__oc__"))
            .select(
                F.col(OBJECT).alias(SUBJECT), F.col(SUBJECT).alias(OBJECT)
            )
        )
        flags = r.keep(_max_value_over(
            colors.withColumn(
                "value", (F.col("color") == F.col(VERTEX_ID)).cast("long")
            ),
            rev,
            max_iterations,
        ))

        done = flags.filter(F.col("max_value") == 1).select(
            VERTEX_ID, F.col("color").alias("component")
        )
        return (
            r.keep(
                active_v.join(done.select(VERTEX_ID), VERTEX_ID, "left_anti"),
                n=F.count(F.lit(1)),
            ),
            r.keep(done if assigned is None else assigned.unionByName(done)),
        ), False

    (active_v, assigned), _, converged = iterate(
        lambda r: (r.keep(ids, n=F.count(F.lit(1))), None),
        color_round,
        max_rounds,
    )
    _free_checkpoint(active_v)
    if not converged:
        _free_checkpoint(assigned)
        raise RuntimeError(
            f"strongly_connected_components did not converge in {max_rounds} "
            "rounds — the graph has a long monotone-id SCC chain; raise "
            "max_rounds (the algorithm makes progress every round)"
        )
    if assigned is None:  # zero-vertex graph
        return graph.vertices.withColumn(
            "component", F.col(VERTEX_ID)
        ).limit(0)
    return graph.vertices.join(assigned, VERTEX_ID, "inner")


def k_core(
    graph: GraphFrame,
    k: int,
    max_rounds: int | None = None,
) -> DataFrame:
    """Vertices of the k-core: the maximal subgraph where every vertex has
    undirected degree ≥ k (boilerplate/link-farm filtering and crawl-
    frontier pruning on web graphs; no reference counterpart — extension).

    Iterative peeling: drop every vertex with degree < k, recompute degrees
    on the induced subgraph, repeat to fixpoint (``max_rounds=None``) or
    for a fixed round budget (deterministic prefix — what the driver-gate
    query uses so a DuckDB oracle can unroll it).

    Scale shape: each round is one hash aggregation (degree) + two
    semi-joins (induced subgraph) on the shrinking edge set — O(E_t)
    shuffle per round, no driver-side data, lineage truncated per round
    (the surviving-edge frame is checkpointed so round t+1's plan does not
    re-derive rounds 1..t), and the fixpoint test's edge count rides that
    materialization — no action of its own.  Rounds = peeling depth of the
    graph, typically ≪ diameter on web graphs for small k.

    Returns ``(vertex_id, degree)`` — the surviving vertices with their
    degree in the (possibly partially peeled) subgraph.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    und = _und_simple(graph.edges)

    def peel(und: DataFrame, r) -> tuple[DataFrame, bool]:
        # Both semi-joins read one degree filter: Spark builds its exchange
        # once per round and reuses it.  That needs the edge blocks kept
        # without their partitioning (which no join here can use), since a
        # scan's partitioning keeps per-instance ids when it is compared.
        keep = _degrees(und).filter(F.col("degree") >= k).select(VERTEX_ID)
        kept = keep[VERTEX_ID]
        nxt = r.keep(
            und.join(keep, und["a"] == kept, "left_semi")
            .join(keep, und["b"] == kept, "left_semi"),
            n=F.count(F.lit(1)),
        )
        # fixpoint when no edge was peeled
        return nxt, r.seen["n"] in (r.prev["n"], 0)

    und = iterate(
        lambda r: r.keep(und, n=F.count(F.lit(1))), peel, max_rounds,
        preserve_partitioning=False,
    ).state
    # materialize the (small, O(V)) result BEFORE freeing the edge blocks it
    # reads — the returned frame is lazy and must not depend on them
    res = truncate_plan(_degrees(und).filter(F.col("degree") >= k))
    _free_checkpoint(und)
    return res


def k_truss(
    graph: GraphFrame,
    k: int = 3,
    max_rounds: int | None = None,
) -> DataFrame:
    """Edges of the k-truss: the maximal subgraph where every edge sits in
    ≥ k−2 triangles (Cohen 2008 — public literature; the edge-level
    cohesion companion to :func:`k_core`, and a sharper community /
    link-farm signal on web graphs: a k-truss is always inside the
    (k−1)-core but ignores degree inflated by non-clustered edges).

    Per round: enumerate triangles of the CURRENT surviving subgraph with
    the shared degree-ordered compact-forward join
    (:func:`_triangles_from_undirected` — O(m^1.5) wedge bound,
    skew-safe), count per-edge support as three corner-edge projections +
    one hash aggregation, and peel edges with support < k−2.  Removing an
    edge can drop another edge's support, so the loop runs to fixpoint
    (or ``max_rounds`` — a bounded prefix is deterministic and is what
    the driver row verifies, mirroring ``kcore3_r2``).  Each round ends
    in one materialization, whose job also observes the edge count the
    fixpoint test reads; previous-round blocks are freed.

    Returns the surviving canonical undirected edges with their support
    measured ON THE FINAL SUBGRAPH: ``(a, b, support)``, a < b.
    """
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")

    def _support(e: DataFrame) -> DataFrame:
        tris = _triangles_from_undirected(e)
        # each triangle (u, v, w) supports its three canonical edges
        edges3 = (
            tris.select(
                F.least("u", "v").alias("a"), F.greatest("u", "v").alias("b")
            )
            .unionAll(tris.select(F.least("u", "w"), F.greatest("u", "w")))
            .unionAll(tris.select(F.least("v", "w"), F.greatest("v", "w")))
        )
        sup = edges3.groupBy("a", "b").agg(
            F.count(F.lit(1)).alias("support")
        )
        return e.join(sup, ["a", "b"], "left").withColumn(
            "support", F.coalesce(F.col("support"), F.lit(0)).cast("long")
        )

    def peel(und: DataFrame, r) -> tuple[DataFrame, bool]:
        nxt = r.keep(
            _support(und).filter(F.col("support") >= k - 2).select("a", "b"),
            n=F.count(F.lit(1)),
        )
        return nxt, r.seen["n"] in (r.prev["n"], 0)

    und = _und_simple(graph.edges)
    und = iterate(
        lambda r: r.keep(und, n=F.count(F.lit(1))), peel, max_rounds
    ).state
    res = truncate_plan(_support(und))
    _free_checkpoint(und)
    return res


def _neighbor_index(edges: DataFrame, buckets: int) -> DataFrame:
    """Neighbour index ``(nbr_subject, nbr_object, nbr_idx)`` with
    ``nbr_idx`` = the neighbour's 0-based rank in OBJECT-ID ORDER within
    its subject's adjacency — the deterministic, SQL-replayable order
    the walk samplers pick from.

    ``buckets = 1``: one ``row_number() over (partition by subject order
    by object)`` window — a single task sorts a hub's WHOLE adjacency,
    fine to ~10^7-degree hubs, a straggler/OOM at the 10^8-degree hubs a
    10^12-edge web graph contains.

    ``buckets = B > 1``: hub-safe two-level build that returns the
    IDENTICAL index.  Each neighbour is range-bucketed by a MONOTONE
    function of its object id (``floor((object - min) / width)`` in
    doubles — long→double casts and floor are monotone, so bucket order
    == object order; uniform for the xxhash64-distributed ids the
    extraction pipeline emits, and never worse than the single window
    for adversarially clustered ids).  The rank window then partitions
    by ``(subject, bucket)`` — per-task sort is ~degree/B — and the
    global rank is recovered as ``per-bucket offset + local rank``,
    where the offsets are a running sum over the ≤B per-bucket COUNTS
    per subject (a tiny window).  Monotonicity of the bucket function
    makes (bucket, object) order equal object order, so the result is
    bit-identical to the ``buckets = 1`` index for any B.
    """
    from pyspark.sql.window import Window

    if buckets < 1:
        raise ValueError(f"buckets must be >= 1, got {buckets}")
    if buckets == 1:
        wspec = Window.partitionBy(SUBJECT).orderBy(OBJECT)
        return edges.select(
            F.col(SUBJECT).alias("nbr_subject"),
            F.col(OBJECT).alias("nbr_object"),
            (F.row_number().over(wspec) - 1).cast("long").alias("nbr_idx"),
        )
    stats = edges.agg(
        F.min(OBJECT).cast("double").alias("__o_min"),
        F.max(OBJECT).cast("double").alias("__o_max"),
    )
    # width in doubles: a full-int64 id span overflows long subtraction,
    # and monotonicity (all we need for correctness) survives rounding
    width = F.greatest(
        (F.col("__o_max") - F.col("__o_min") + F.lit(1.0))
        / F.lit(float(buckets)),
        F.lit(1.0),
    )
    bucketed = edges.crossJoin(F.broadcast(stats)).select(
        F.col(SUBJECT).alias("nbr_subject"),
        F.col(OBJECT).alias("nbr_object"),
        F.least(
            F.lit(buckets - 1),
            F.floor(
                (F.col(OBJECT).cast("double") - F.col("__o_min")) / width
            ).cast("int"),
        ).alias("__bucket"),
    )
    w_local = Window.partitionBy("nbr_subject", "__bucket").orderBy(
        "nbr_object"
    )
    local = bucketed.select(
        "nbr_subject",
        "nbr_object",
        "__bucket",
        (F.row_number().over(w_local) - 1).cast("long").alias("__l_idx"),
    )
    sizes = bucketed.groupBy("nbr_subject", "__bucket").agg(
        F.count(F.lit(1)).alias("__cnt")
    )
    w_off = (
        Window.partitionBy("nbr_subject")
        .orderBy("__bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = sizes.select(
        "nbr_subject",
        "__bucket",
        F.coalesce(F.sum("__cnt").over(w_off), F.lit(0))
        .cast("long")
        .alias("__off"),
    )
    return local.join(offsets, ["nbr_subject", "__bucket"]).select(
        "nbr_subject",
        "nbr_object",
        (F.col("__off") + F.col("__l_idx")).alias("nbr_idx"),
    )


def random_walks(
    graph: GraphFrame,
    length: int,
    seed: int = 42,
    starts: DataFrame | None = None,
    nbr_buckets: int = 32,
) -> DataFrame:
    """Deterministic pseudo-random walk sampling — one ``length``-step walk
    per vertex, the standard corpus generator for skip-gram graph
    embeddings (DeepWalk/node2vec family; no reference counterpart —
    extension).

    The "randomness" is a pure arithmetic hash of (walk id, current
    vertex, step) so the result is reproducible across engines and
    cluster sizes AND expressible in plain SQL for the driver oracle:

        idx_t = ((walk_id % 1000003)·7919 + (cur % 999983)·104729
                 + t·7919 + seed) mod out_degree(cur)

    picks the ``idx_t``-th neighbour in (object-id order).  All operands
    stay < 2^40 so the arithmetic is exact in any 64-bit engine.  Walks
    stop early at dangling vertices (inner join against the degree table
    drops them).

    Scale shape: the neighbour index (row_number per subject — one
    window shuffle) and the degree table are built ONCE and checkpointed;
    each step is two co-partitionable equi-joins on the current vertex,
    state is O(walks) rows, lineage truncated per step.  Walk steps and
    start-set size are the knobs: for a corpus over a 10^12-edge graph
    you seed walks from a vertex SAMPLE via ``starts`` (a DataFrame with
    a ``vertex_id`` column — e.g. ``graph.vertices.sample(0.001, seed)``
    or a stratified pick), not every vertex; transitions still use the
    FULL graph.  Default ``starts=None`` keeps one walk per vertex.
    Because the per-step choice is a pure hash of (walk_id, vertex, step),
    the walks from a sampled start set are EXACTLY the corresponding
    subset of the all-vertices walk set.

    The neighbour index is built hub-safe by default
    (``nbr_buckets = 32``): :func:`_neighbor_index` range-buckets each
    adjacency by a monotone function of the object id and ranks within
    ``(subject, bucket)``, so no single task ever sorts a mega-hub's
    whole adjacency — and the index (hence every walk) is bit-identical
    to the single-window build at any bucket count.  ``nbr_buckets = 1``
    selects the plain single-window build.

    Returns ``(walk_id, step, vertex_id)`` — step 0 is the start vertex.
    """
    if length < 0:
        raise ValueError(f"length must be >= 0, got {length}")
    edges = graph.edges.select(SUBJECT, OBJECT).distinct()
    nbr = truncate_plan(_neighbor_index(edges, nbr_buckets))
    deg = truncate_plan(
        edges.groupBy(F.col(SUBJECT).alias("deg_subject")).agg(
            F.count(F.lit(1)).alias("out_degree")
        )
    )

    start_set = graph.vertices if starts is None else starts
    state = start_set.select(
        F.col(VERTEX_ID).alias("walk_id"),
        F.col(VERTEX_ID).alias("vertex_id"),
        F.lit(0).alias("step"),
    )
    frames = [state]
    for t in range(1, length + 1):
        j = state.join(
            deg, state["vertex_id"] == deg["deg_subject"], "inner"
        )
        pick = (
            (F.col("walk_id").cast("long") % F.lit(1000003)) * F.lit(7919)
            + (F.col("vertex_id").cast("long") % F.lit(999983))
            * F.lit(104729)
            + F.lit(t * 7919 + seed)
        ) % F.col("out_degree")
        j = j.select(
            "walk_id",
            F.col("vertex_id").alias("cur"),
            pick.alias("pick_idx"),
        )
        state = truncate_plan(
            j.join(
                nbr,
                (j["cur"] == nbr["nbr_subject"])
                & (j["pick_idx"] == nbr["nbr_idx"]),
                "inner",
            ).select(
                "walk_id",
                F.col("nbr_object").alias("vertex_id"),
                F.lit(t).alias("step"),
            )
        )
        frames.append(state)

    out = frames[0]
    for f in frames[1:]:
        out = out.unionAll(f)
    return out.select("walk_id", "step", "vertex_id")


# ---------------------------------------------------------------------------
# Neighborhood function / HyperBall (effective-diameter & centrality toolkit)
# ---------------------------------------------------------------------------

def neighborhood_sizes(graph: GraphFrame, k: int) -> DataFrame:
    """EXACT k-hop neighborhood function: for every vertex v, the number of
    distinct vertices reachable from v in ≤ ``k`` out-hops, v included
    (no reference counterpart — extension; the exact baseline for
    :func:`hyperball`).

    Materializes the full reach set ``(src, member)`` — O(Σ|ball_k(v)|)
    rows, which explodes on well-connected graphs.  This is the
    ORACLE/baseline path for small k and verification scale only; at
    100 TB use :func:`hyperball`, whose state is O(V·m) regardless of
    ball size.

    Returns ``(vertex_id, ball_size)``.
    """
    if k < 0:
        raise ValueError(f"k must be >= 0, got {k}")
    edges = graph.edges.select(SUBJECT, OBJECT).distinct()
    reach = graph.vertices.select(
        F.col(VERTEX_ID).alias("src"), F.col(VERTEX_ID).alias("member")
    )

    def expand(reach: DataFrame, r) -> tuple[DataFrame, bool]:
        step = reach.join(
            edges, reach["member"] == edges[SUBJECT], "inner"
        ).select("src", F.col(OBJECT).alias("member"))
        return r.keep(reach.unionAll(step).distinct()), False

    reach = iterate(lambda r: r.keep(reach), expand, k).state
    return reach.groupBy(F.col("src").alias(VERTEX_ID)).agg(
        F.count(F.lit(1)).alias("ball_size")
    )


_HLL_BITS = 59  # usable hash bits: keeps the PORTABLE hash overflow-free
                # in any signed-64 SQL engine (DuckDB raises on overflow)


def _hyperball_hash(col, portable: bool):
    """Uniform non-negative hash of a vertex id, < 2**59.

    ``portable=False`` (production): xxhash64 masked to 59 bits — the
    well-mixed default.  ``portable=True``: a chain of Lehmer
    multiply-mod-(2^31-1) rounds (MINSTD/L'Ecuyer multipliers) whose every
    intermediate stays < 2**47, so a SQL oracle (DuckDB) replays it
    bit-identically.  Two chained states form the 59-bit output: the
    register index comes from the deeper round's low bits, the
    leading-zero geometry from the earlier round's full 31-bit value —
    measured all-32/32 register occupancy and textbook-geometric rho on
    dense, strided, and 62-bit id domains.
    """
    col = col.cast("long")  # int32 ids would overflow mid-product
    if portable:
        p = F.lit(2147483647)  # 2^31 - 1 (prime)
        x0 = (col % p + col % F.lit(2147483629)) % p  # fold, div-free
        x1 = (x0 * F.lit(48271) + F.lit(13)) % p
        x2 = (x1 * F.lit(69621)) % p
        x3 = (x2 * F.lit(40692)) % p
        return x2 * F.lit(1 << 28) + x3 % F.lit(1 << 28)
    return F.xxhash64(col).bitwiseAND(F.lit((1 << _HLL_BITS) - 1))


def hyperball_registers(
    graph: GraphFrame,
    k: int,
    log2m: int = 6,
    portable: bool = False,
) -> DataFrame:
    """HyperBall register table after ``k`` rounds (Boldi & Vigna,
    "In-Core Computation of Geometric Centralities with HyperBall", 2013;
    no reference counterpart — extension).

    Per-vertex HyperLogLog sketch of the ≤k-hop out-ball, kept SPARSE and
    EXPLODED as ``(vertex_id, reg, val)`` rows — registers never touched
    are implicitly 0.  Round t unions each vertex's rows with its
    out-neighbors' rows and takes ``max(val)`` per (vertex, reg): HLL
    union IS element-wise register max, so the whole algorithm is one
    hash aggregation per round — map-side partial max combines hub
    fan-in, shuffle is O(E·m_touched) worst case but O(V·m) state, no
    UDFs, no arrays, no skew concentration (a hub's rows spread over m
    register keys).  This is the 100 TB path for neighborhood functions /
    effective diameter / closeness, where :func:`neighborhood_sizes`'
    exact reach sets explode.

    ``val`` = (leading zeros of the hash's top ``59-log2m`` bits) + 1,
    computed exactly via the length of the binary string — no floating
    log2 edge cases.  Integer-exact end-to-end, so a SQL oracle can
    verify the full pipeline bit-for-bit (``portable=True``).
    """
    return _hyperball(graph, k, log2m, portable, lambda *_: (None, False))[0]


def _hyperball(graph, k, log2m, portable, fold):
    """Run HyperBall for up to ``k`` rounds.  After the register table of
    each round (round 0 included) is materialized, ``fold(acc, sketch, r)``
    folds it into the caller's accumulator (None at round 0) and returns
    ``(acc, converged)``; ``r`` is the :func:`iterate` round, so a fold
    materializes with ``r.keep``.  Returns the final ``(sketch, acc)``; the
    sketch's blocks are the caller's."""
    if k < 0:
        raise ValueError(f"k must be >= 0, got {k}")
    if not 4 <= log2m <= 16:
        raise ValueError(f"log2m must be in [4,16], got {log2m}")
    m = 1 << log2m
    w_bits = _HLL_BITS - log2m

    edges = graph.edges.select(SUBJECT, OBJECT).distinct()
    h = _hyperball_hash(F.col(VERTEX_ID), portable)
    w = F.shiftrightunsigned(h, log2m)

    def init(r):
        sketch = r.keep(graph.vertices.select(
            F.col(VERTEX_ID),
            h.bitwiseAND(F.lit(m - 1)).cast("long").alias("reg"),
            F.when(w == 0, F.lit(w_bits + 1))
            .otherwise(F.lit(w_bits + 1) - F.length(F.bin(w)))
            .cast("long")
            .alias("val"),
        ))
        return sketch, fold(None, sketch, r)[0]

    def union(state, r):
        sketch, acc = state
        inc = edges.join(
            sketch, edges[OBJECT] == sketch[VERTEX_ID], "inner"
        ).select(edges[SUBJECT].alias(VERTEX_ID), "reg", "val")
        sketch = r.keep(
            sketch.unionAll(inc)
            .groupBy(VERTEX_ID, "reg")
            .agg(F.max("val").alias("val"))
        )
        acc, converged = fold(acc, sketch, r)
        return (sketch, acc), converged

    return iterate(init, union, k).state


def hyperball(
    graph: GraphFrame,
    k: int,
    log2m: int = 6,
    portable: bool = False,
) -> DataFrame:
    """Approximate k-hop neighborhood function: HLL estimate of
    ``|ball_k(v)|`` per vertex from :func:`hyperball_registers`.

    Standard HLL estimator with small-range (linear-counting) correction;
    no large-range correction is needed at 59 hash bits.  One
    aggregation over the register table — O(V) result.

    Returns ``(vertex_id, ball_size_est)`` (double).
    """
    regs = hyperball_registers(graph, k, log2m, portable)
    return _hll_estimates(regs, log2m)


def _hll_estimates(regs: DataFrame, log2m: int) -> DataFrame:
    """Per-vertex HLL cardinality estimates from a sparse register table.

    The register sum Σ 2^-val is accumulated as a SCALED INTEGER
    (Σ 2^(S-val) with S = w_bits+1 = the max possible val, so every term
    is a nonneg int64 power of two and the sum stays ≤ m·2^(S-1) = 2^59
    for every log2m in [4,16]): integer addition is order-independent,
    so the estimate is bit-deterministic under any partitioning AND
    engine-portable (a float sum's value depends on reduction order) —
    this is what lets the estimator have an exact SQL oracle.  Scaling by
    the log2m-dependent S (55 at the oracle's log2m=5) rather than a
    constant keeps the shift nonnegative at log2m=4 (val can reach 56)
    and the sum overflow-free at log2m ≥ 9.
    """
    if not 4 <= log2m <= 16:
        raise ValueError(f"log2m must be in [4,16], got {log2m}")
    m = 1 << log2m
    scale = _HLL_BITS - log2m + 1  # = max val; term exponents land in [0, S)
    alpha = {4: 0.673, 5: 0.697, 6: 0.709}.get(
        log2m, 0.7213 / (1 + 1.079 / m)
    )
    per_v = regs.groupBy(VERTEX_ID).agg(
        F.count(F.lit(1)).alias("n_present"),
        F.sum(
            F.expr(
                f"shiftleft(CAST(1 AS BIGINT), CAST({scale} - val AS INT))"
            )
        ).alias("scaled_sum"),
    )
    # absent registers contribute 2^-0 = 1 each; zeros = absent registers
    # (present rows always have val >= 1)
    s = F.col("scaled_sum") / F.lit(float(1 << scale)) + (
        F.lit(float(m)) - F.col("n_present")
    )
    raw = F.lit(alpha * m * m) / s
    zeros = F.lit(float(m)) - F.col("n_present")
    est = F.when(
        (raw <= F.lit(2.5 * m)) & (zeros > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / zeros),
    ).otherwise(raw)
    return per_v.select(VERTEX_ID, est.alias("ball_size_est"))


def effective_diameter(
    graph: GraphFrame,
    q: float = 0.9,
    max_k: int = 64,
    log2m: int = 7,
    portable: bool = False,
    rel_stop: float = 1e-3,
) -> dict:
    """Effective diameter via HyperBall (Boldi & Vigna 2013; Palmer et
    al.'s ANF definition): the interpolated hop count x at which the
    neighborhood function N(x) — the number of reachable (source, target)
    pairs within ≤x hops — first reaches ``q`` of its final value.

    Runs HyperBall rounds, summing the per-vertex ball estimates after
    each (the sum is observed on the estimates' materialization, one job
    per round that reads the already-materialized register table), and
    stops when N grows by < ``rel_stop`` relative or ``max_k`` is hit.
    Driver state is one float per round.

    Returns ``{"effective_diameter": x, "rounds": r, "nf": [N(0)..N(r)]}``
    — an O(1) summary statistic, computed distributed.
    """
    if not 0 < q <= 1:
        raise ValueError(f"q must be in (0,1], got {q}")
    totals: list[float] = []

    def total(acc, sketch, r):
        # N(t) rides the materialization of the per-vertex estimates
        r.keep(_hll_estimates(sketch, log2m), s=F.sum("ball_size_est"))
        totals.append(float(r.seen["s"]))
        return None, len(totals) >= 2 and totals[-1] <= totals[-2] * (1.0 + rel_stop)

    _free_checkpoint(_hyperball(graph, max_k, log2m, portable, total)[0])
    target = q * totals[-1]
    x = float(len(totals) - 1)
    for t, n in enumerate(totals):
        if n >= target:
            if t == 0:
                x = 0.0
            else:
                lo, hi = totals[t - 1], totals[t]
                x = (t - 1) + (target - lo) / (hi - lo)
            break
    return {
        "effective_diameter": x,
        "rounds": len(totals) - 1,
        "nf": totals,
    }


def degree_histogram(graph: GraphFrame, direction: str = "out") -> DataFrame:
    """Log2-bucketed degree distribution — the standard first look at a web
    graph's (power-law) shape.

    Bucket for degree d ≥ 1 is ``length(bin(d))`` = floor(log2 d) + 1,
    computed on the INTEGER binary representation (`bin`), not float
    ``log2`` — floor(log2(2^k)) is 1-ulp-fragile in floating point and the
    fix must be engine-portable for the SQL oracle.  Degree-0 vertices
    (zero out-degree sinks under ``direction="out"``) land in bucket 0.

    Scale shape: one groupBy(vertex) count + one groupBy(bucket) count —
    two hash aggregations, the second over ≤64 rows.  Returns
    ``(bucket, min_degree, max_degree, n_vertices)`` where the bucket
    covers degrees [2^(bucket-1), 2^bucket - 1].

    Reference parity: builds on the same degree derivation as
    pregel-rs GraphFrame::out_degrees (graph_frame.rs:185-193); the histogram
    itself is this repo's web-scale extension.
    """
    if direction == "out":
        deg = graph.out_degrees_full()
        dcol = "out_degree"
    elif direction == "in":
        deg = graph.in_degrees_full()
        dcol = "in_degree"
    else:
        raise ValueError(f"direction must be 'out' or 'in', got {direction!r}")
    bucket = F.when(F.col(dcol) <= 0, F.lit(0)).otherwise(
        F.length(F.bin(F.col(dcol).cast("long")))
    )
    return (
        deg.select(F.col(dcol).alias("degree"), bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.min("degree").alias("min_degree"),
            F.max("degree").alias("max_degree"),
            F.count(F.lit(1)).alias("n_vertices"),
        )
        .select(
            F.col("bucket").cast("long").alias("bucket"),
            F.col("min_degree").cast("long").alias("min_degree"),
            F.col("max_degree").cast("long").alias("max_degree"),
            "n_vertices",
        )
    )


def reciprocity(graph: GraphFrame) -> DataFrame:
    """Edge reciprocity: the fraction of distinct directed edges (u, v),
    u ≠ v, whose reverse (v, u) is also present — a one-row summary of how
    bidirectional the link graph is (near 0 for the open web, near 1 for
    social graphs).

    Scale shape: distinct on (subject, object) then ONE self left-semi
    join on the swapped key — both sides shuffle-partition on the same
    2-column hash; no window, no collect.  Returns one row
    ``(n_edges, n_reciprocal, reciprocity)`` (reciprocity rounded 6 dp
    for engine portability).
    """
    e = (
        graph.edges.select(SUBJECT, OBJECT)
        .filter(F.col(SUBJECT) != F.col(OBJECT))
        .distinct()
    )
    rev = e.select(
        F.col(OBJECT).alias(SUBJECT), F.col(SUBJECT).alias(OBJECT)
    )
    recip = e.join(rev, [SUBJECT, OBJECT], "left_semi")
    return (
        e.agg(F.count(F.lit(1)).alias("n_edges"))
        .crossJoin(recip.agg(F.count(F.lit(1)).alias("n_reciprocal")))
        .select(
            "n_edges",
            "n_reciprocal",
            F.round(
                F.col("n_reciprocal") / F.greatest(F.col("n_edges"), F.lit(1)),
                6,
            ).alias("reciprocity"),
        )
    )


def harmonic_centrality(
    graph: GraphFrame,
    k: int = 8,
    log2m: int = 6,
    portable: bool = False,
    reverse: bool = True,
) -> DataFrame:
    """Approximate harmonic centrality via HyperBall (Boldi & Vigna 2014,
    "Axioms for centrality" / the HyperBall paper's headline application):

        H(v) = Σ_{u≠v} 1 / d(u, v)
             ≈ Σ_{t=1..k} (|B_t(v)| − |B_{t−1}(v)|) / t

    where |B_t| are the per-round HLL ball estimates — contributions past
    k hops are truncated (they decay as 1/t and HyperBall converges once
    balls stop growing).  ``reverse=True`` (the centrality convention)
    measures incoming distance d(u, v) by running the sketches over
    reversed edges.

    Execution: telescoping the sum gives fixed per-round coefficients
    (c_0 = −1, c_t = 1/t − 1/(t+1), c_k = 1/k), so the accumulator is ONE
    running column folded in round order — each round adds one
    co-partitioned join on vertex_id against the just-materialized
    register table, no per-round collect, O(V) state.  The fold order and
    the scaled-integer register sums (see :func:`_hll_estimates`) make the
    float result bit-deterministic and engine-portable — the SQL oracle
    replays the identical arithmetic.

    Returns ``(vertex_id, harmonic)`` (double, unrounded).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    g = (
        GraphFrame(
            graph.vertices,
            graph.edges.select(
                F.col(OBJECT).alias(SUBJECT), F.col(SUBJECT).alias(OBJECT)
            ),
            closed=graph.closed,
        )
        if reverse
        else graph
    )
    coeffs = (
        [-1.0]
        + [1.0 / t - 1.0 / (t + 1) for t in range(1, k)]
        + [1.0 / k]
    )

    def fold(acc, sketch, r):
        est = _hll_estimates(sketch, log2m).select(
            VERTEX_ID, F.col("ball_size_est").alias("__e__")
        )
        term = F.lit(coeffs[r.n]) * F.col("__e__")
        if acc is None:
            acc = est.select(VERTEX_ID, term.alias("harmonic"))
        else:
            acc = acc.join(est, VERTEX_ID).select(
                VERTEX_ID, (F.col("harmonic") + term).alias("harmonic")
            )
        # materialized, so freeing the previous round's register blocks
        # never forces a recompute of this fold step
        return r.keep(acc), False

    sketch, acc = _hyperball(g, k, log2m, portable, fold)
    _free_checkpoint(sketch)
    return acc


def clustering_coefficient(graph: GraphFrame) -> DataFrame:
    """Local clustering coefficient on the undirected simple graph:
    C(v) = triangles(v) / C(deg(v), 2) — how close v's neighborhood is to
    a clique; the standard companion statistic to :func:`triangle_count`
    (Watts-Strogatz).

    Pure composition: the degree-ordered triangle pipeline (O(m^1.5)
    wedges, skew-safe) + one undirected-degree aggregation + one
    co-keyed join.  The coefficient divides two EXACT integers in double
    precision (single IEEE op, engine-portable), rounded to 6 dp.

    Returns ``(vertex_id, triangles, und_degree, coefficient)`` for all
    vertices (degree < 2 → coefficient 0.0).
    """
    tri = triangle_count(graph)
    deg = _degrees(_und_simple(graph.edges)).withColumnRenamed(
        "degree", "und_degree"
    )
    d = F.col("und_degree")
    return (
        tri.join(deg, VERTEX_ID, "left")
        .withColumn("und_degree", F.coalesce(d, F.lit(0)).cast("long"))
        .withColumn(
            "coefficient",
            F.when(
                d >= 2,
                F.round(
                    (F.lit(2.0) * F.col("triangles")) / (d * (d - F.lit(1))),
                    6,
                ),
            ).otherwise(F.lit(0.0)),
        )
        .select(VERTEX_ID, "triangles", "und_degree", "coefficient")
    )


def cocitation_pairs(
    graph: GraphFrame,
    min_shared: int = 2,
    max_out_degree: int = 1000,
    direction: str = "cocitation",
) -> DataFrame:
    """Co-citation similarity (Small 1973 — the classic bibliometric
    measure; on the web graph: two URLs are related if the same pages link
    to both): pairs of targets cited by ≥ ``min_shared`` common sources.

    ``direction="coupling"`` computes bibliographic coupling instead
    (Kessler 1963): pairs of SOURCES sharing ≥ ``min_shared`` common
    targets — the identical join on the transposed edge table, so the cap
    then bounds target in-degree.

    Scale shape: ONE self equi-join of the distinct edge table on
    ``subject`` + a count aggregation — pairwise work is generated per
    citing page, never corpus×corpus.  The blow-up knob is a hub page
    linking to d targets, which contributes C(d, 2) join rows, so sources
    with out-degree > ``max_out_degree`` are dropped first (the analogue
    of the LSH ``max_bucket`` / embedding ``max_block`` guards — a
    directory page linking to 10^5 URLs carries no co-citation signal and
    would otherwise emit 5·10^9 rows).  The degree filter is computed with
    one hash aggregation and applied as a broadcast-able semi-join key set
    at web scale; here it rides the same shuffle partitioning as the
    self-join.

    Returns ``(page_a, page_b, n_shared)`` with page_a < page_b.
    """
    if direction not in ("cocitation", "coupling"):
        raise ValueError(
            f"direction must be 'cocitation' or 'coupling', got {direction!r}"
        )
    if direction == "coupling":
        e = graph.edges.select(
            F.col(OBJECT).alias(SUBJECT), F.col(SUBJECT).alias(OBJECT)
        ).distinct()
    else:
        e = graph.edges.select(SUBJECT, OBJECT).distinct()
    ok = (
        e.groupBy(SUBJECT)
        .agg(F.count(F.lit(1)).alias("__d__"))
        .filter(F.col("__d__") <= max_out_degree)
        .select(SUBJECT)
    )
    e = e.join(ok, SUBJECT, "left_semi")
    a = e.select(SUBJECT, F.col(OBJECT).alias("page_a"))
    b = e.select(SUBJECT, F.col(OBJECT).alias("page_b"))
    return (
        a.join(b, SUBJECT)
        .filter(F.col("page_a") < F.col("page_b"))
        .groupBy("page_a", "page_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def degree_assortativity(graph: GraphFrame) -> DataFrame:
    """Degree assortativity of the directed graph (Newman 2002/2003,
    public literature): the Pearson correlation, over distinct edges, of
    the source's out-degree with the target's in-degree — negative for
    the web (hubs point at low-in-degree pages), positive for social
    graphs.  A one-row summary companion to :func:`degree_histogram` /
    :func:`reciprocity`.

    Scale shape: two hash-agg degree tables + two co-keyed joins onto the
    edge table + one scalar ``corr`` aggregate — no windows, no collect;
    at web scale both degree tables partition on the same vertex hash as
    the edge join keys.  Pearson r is scale-invariant, so the sample /
    population normalization choice cancels and the value is
    engine-portable (rounded 6 dp).

    Returns one row ``(n_edges, assortativity)``; assortativity is NULL
    when either degree sequence is constant (zero variance).
    """
    e = graph.edges.select(SUBJECT, OBJECT).distinct()
    od = e.groupBy(SUBJECT).agg(F.count(F.lit(1)).alias("__od__"))
    ind = (
        e.groupBy(OBJECT).agg(F.count(F.lit(1)).alias("__id__"))
        .withColumnRenamed(OBJECT, "__dst__")
    )
    joined = e.join(od, SUBJECT).join(
        ind, e[OBJECT] == F.col("__dst__")
    )
    return joined.agg(
        F.count(F.lit(1)).alias("n_edges"),
        F.round(
            F.corr(F.col("__od__").cast("double"), F.col("__id__").cast("double")), 6
        ).alias("assortativity"),
    )


def _degrees(und: DataFrame) -> DataFrame:
    """``(vertex_id, degree)`` of a canonical undirected edge table."""
    return (
        und.select(F.col("a").alias(VERTEX_ID))
        .unionAll(und.select(F.col("b")))
        .groupBy(VERTEX_ID)
        .agg(F.count(F.lit(1)).alias("degree"))
    )


def _und_simple(edges: DataFrame) -> DataFrame:
    """Canonical undirected simple edge table ``(a, b)`` with a < b:
    self-loops dropped, direction and multiplicity collapsed."""
    return (
        edges.select(
            F.least(SUBJECT, OBJECT).alias("a"),
            F.greatest(SUBJECT, OBJECT).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )


def link_prediction(
    graph: GraphFrame,
    min_shared: int = 1,
    max_degree: int = 1000,
) -> DataFrame:
    """Common-neighbors + Adamic-Adar link prediction (Liben-Nowell &
    Kleinberg 2003; Adamic & Adar 2003 — both public literature) on the
    undirected simple graph: for every NON-adjacent pair (a, b) sharing
    ≥ ``min_shared`` neighbors, the number of shared neighbors and the
    Adamic-Adar score Σ_z 1/ln(deg(z)) over shared neighbors z — the
    classic "which links are missing" primitive for web/social graphs.

    Scale shape: one undirected-degree hash agg, one self equi-join of
    the neighbor table on the wedge CENTER, one pair aggregation, one
    anti-join against the edge set — all key-partitioned, nothing
    collected.  The blow-up knob is a hub center z of degree d emitting
    C(d, 2) candidate pairs, so centers with degree > ``max_degree`` are
    dropped first — the same guard as :func:`cocitation_pairs`
    ``max_out_degree`` and the LSH ``max_bucket`` cap (a 10^5-degree
    hub contributes ~5·10^9 pairs and no per-pair signal).  Every shared
    neighbor that survives has degree ≥ 2 (it touches both a and b), so
    1/ln(deg) is always finite.

    Returns ``(page_a, page_b, common_neighbors, adamic_adar)`` with
    page_a < page_b, scores rounded 6 dp (engine-portable).
    """
    und = _und_simple(graph.edges)
    nbrs = und.select(F.col("a").alias("z"), F.col("b").alias("v")).unionAll(
        und.select(F.col("b").alias("z"), F.col("a").alias("v"))
    )
    deg = nbrs.groupBy("z").agg(F.count(F.lit(1)).alias("deg_z"))
    centers = deg.filter(
        (F.col("deg_z") >= 2) & (F.col("deg_z") <= max_degree)
    )
    wedges = nbrs.join(centers, "z")
    lhs = wedges.select("z", "deg_z", F.col("v").alias("page_a"))
    rhs = wedges.select("z", F.col("v").alias("page_b"))
    pairs = (
        lhs.join(rhs, "z")
        .filter(F.col("page_a") < F.col("page_b"))
        .groupBy("page_a", "page_b")
        .agg(
            F.count(F.lit(1)).alias("common_neighbors"),
            F.round(
                F.sum(F.lit(1.0) / F.log(F.col("deg_z").cast("double"))), 6
            ).alias("adamic_adar"),
        )
        .filter(F.col("common_neighbors") >= min_shared)
    )
    existing = und.select(
        F.col("a").alias("page_a"), F.col("b").alias("page_b")
    )
    return pairs.join(existing, ["page_a", "page_b"], "left_anti")


def transitivity(graph: GraphFrame) -> DataFrame:
    """Global clustering coefficient (transitivity): 3·triangles / wedges
    on the undirected simple graph — the one-row corpus summary companion
    to the per-vertex :func:`clustering_coefficient` (Newman 2003).

    Pure composition: the degree-ordered O(m^1.5) triangle pipeline plus
    one undirected-degree hash agg; wedges = Σ_v C(deg(v), 2) is computed
    from the degree table, never enumerated.  Both counts are exact
    integers; the ratio is a single IEEE double division, rounded 6 dp.

    Returns one row ``(triangles, wedges, transitivity)``; transitivity is
    0.0 on a wedge-free graph.
    """
    und = _und_simple(graph.edges)
    tri_total = _triangles_from_undirected(und).agg(
        F.count(F.lit(1)).alias("triangles")
    )
    d = F.col("deg")
    wedge_total = (
        und.select(F.col("a").alias("v"))
        .unionAll(und.select(F.col("b")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("deg"))
        .agg(F.sum((d * (d - F.lit(1))) / F.lit(2)).cast("long").alias("wedges"))
    )
    w = F.col("wedges")
    return (
        tri_total.crossJoin(wedge_total)  # two 1-row frames — not a data join
        .select(
            "triangles",
            "wedges",
            F.when(
                w > 0,
                F.round(F.lit(3.0) * F.col("triangles") / w, 6),
            ).otherwise(F.lit(0.0)).alias("transitivity"),
        )
    )


def modularity(graph: GraphFrame, labels: DataFrame) -> DataFrame:
    """Newman-Girvan modularity Q of a vertex labeling on the undirected
    simple graph: Q = Σ_c [ m_c/m − (d_c / 2m)² ] where m is the total
    undirected edge count, m_c the edges with both endpoints in community
    c, and d_c the total undirected degree of c — the standard quality
    score for :func:`label_propagation` / :func:`connected_components`
    partitions (Newman & Girvan 2004, public literature).

    ``labels`` is any ``(vertex_id, label)`` frame covering the graph's
    vertices (extra vertices are ignored; a graph vertex absent from
    ``labels`` forms its own singleton community for the degree term and
    contributes no within edge — Q stays well-defined).

    Scale shape: two label joins onto the edge table (vertex-hash keyed,
    broadcast-able when the label frame is small), two hash aggs, one
    O(#communities) reduction to a single row — no windows, no collect.

    Returns one row ``(n_edges_und, n_communities, modularity)`` rounded
    6 dp; modularity is NULL on an edgeless graph.
    """
    und = _und_simple(graph.edges)
    la = labels.select(
        F.col(VERTEX_ID).alias("a"), F.col("label").alias("label_a")
    )
    lb = labels.select(
        F.col(VERTEX_ID).alias("b"), F.col("label").alias("label_b")
    )
    tagged = und.join(la, "a", "left").join(lb, "b", "left")
    # Unlabeled endpoints become singleton communities keyed by vertex id;
    # struct(is_fallback, id) keeps them disjoint from real labels.
    ca = F.when(
        F.col("label_a").isNotNull(),
        F.struct(F.lit(0).alias("f"), F.col("label_a").alias("k")),
    ).otherwise(F.struct(F.lit(1).alias("f"), F.col("a").alias("k")))
    cb = F.when(
        F.col("label_b").isNotNull(),
        F.struct(F.lit(0).alias("f"), F.col("label_b").alias("k")),
    ).otherwise(F.struct(F.lit(1).alias("f"), F.col("b").alias("k")))
    sides = tagged.select(ca.alias("ca"), cb.alias("cb"))
    per_comm = (
        sides.select(F.col("ca").alias("c"), (F.col("ca") == F.col("cb")).alias("w"))
        .unionAll(
            sides.select(F.col("cb").alias("c"), (F.col("ca") == F.col("cb")).alias("w"))
        )
        .groupBy("c")
        .agg(
            F.count(F.lit(1)).alias("d_c"),
            # within edges counted once per endpoint → sum(w)/2 per community
            F.sum(F.col("w").cast("long")).alias("w2_c"),
        )
    )
    m = und.agg(F.count(F.lit(1)).alias("m"))
    return (
        per_comm.crossJoin(m)  # 1-row m broadcast onto the community rollup
        .agg(
            F.first("m").cast("long").alias("n_edges_und"),
            F.count(F.lit(1)).cast("long").alias("n_communities"),
            F.round(
                F.sum(
                    F.col("w2_c") / (F.lit(2.0) * F.col("m"))
                    - (F.col("d_c") / (F.lit(2.0) * F.col("m"))) ** F.lit(2)
                ),
                6,
            ).alias("modularity"),
        )
    )


def katz_centrality(
    graph: GraphFrame, beta: float = 0.1, k: int = 3
) -> DataFrame:
    """Truncated Katz centrality (Katz 1953): score(v) = Σ_{i=1..k} β^i ·
    walks_i(v) where walks_i(v) counts directed walks of length i ENDING
    at v — PageRank's un-normalized cousin, a standard web-authority
    signal.  Finite k keeps every term an exact integer count, so results
    are engine-portable (the β^i weights are built by repeated
    multiplication on both sides).

    Scale shape: per level one equi-join of the walk-count state onto the
    distinct edge table + one hash agg on the destination — the same
    message-shuffle shape as a Pregel superstep; state is one long per
    vertex, plans truncated per level so lineage stays O(1).

    Returns ``(vertex_id, katz)`` for all vertices, rounded 6 dp.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    e = graph.edges.select(SUBJECT, OBJECT).distinct()
    w = graph.vertices.select(VERTEX_ID, F.lit(1).cast("long").alias("w"))
    score = graph.vertices.select(VERTEX_ID, F.lit(0.0).alias("katz"))

    def walk(state, r):
        w, score, beta_i = state
        beta_i *= beta
        msgs = (
            e.join(w, e[SUBJECT] == w[VERTEX_ID])
            .groupBy(F.col(OBJECT).alias(VERTEX_ID))
            .agg(F.sum("w").alias("w"))
        )
        w = r.keep(
            graph.vertices.select(VERTEX_ID)
            .join(msgs, VERTEX_ID, "left")
            .select(VERTEX_ID, F.coalesce(F.col("w"), F.lit(0)).alias("w"))
        )
        score = r.keep(
            score.join(w, VERTEX_ID)
            .select(
                VERTEX_ID,
                (F.col("katz") + F.lit(beta_i) * F.col("w")).alias("katz"),
            )
        )
        return (w, score, beta_i), False

    w, score, _ = iterate(lambda r: (w, score, 1.0), walk, k).state
    _free_checkpoint(w)
    return score.select(VERTEX_ID, F.round("katz", 6).alias("katz"))


def squares(graph: GraphFrame, max_degree: int = 1000) -> DataFrame:
    """Global 4-cycle (rectangle) count on the undirected simple graph via
    co-degrees: every 4-cycle u–x–v–y has exactly two opposite pairs
    ({u,v} and {x,y}), and a pair with c common neighbors anchors
    C(c, 2) rectangles — so squares = Σ_{u<v} C(codeg(u,v), 2) / 2
    (Chiba & Nishizeki 1985's rectangle identity; public literature).
    With triangles (:func:`transitivity`) this is the standard pair of
    small-motif densities for web-graph characterization.

    Scale shape: the same hub-capped wedge pipeline as
    :func:`link_prediction` — one undirected-degree agg, one self
    equi-join on the wedge CENTER, one pair agg, one O(1) reduction.
    Wedge centers with degree > ``max_degree`` are dropped first (a
    degree-d center emits C(d, 2) pair rows), so with the cap active the
    count is over bounded-degree centers only — exact whenever no center
    exceeds the cap, a documented undercount otherwise (the same
    contract as ``cocitation_pairs``).  Integer math throughout; the
    final halving is integer ``DIV`` (each rectangle is seen once per
    opposite pair whose two CENTERS both pass the cap).

    Returns one row ``(wedge_pairs, squares)`` — both exact BIGINTs.
    """
    und = _und_simple(graph.edges)
    nbrs = und.select(F.col("a").alias("z"), F.col("b").alias("v")).unionAll(
        und.select(F.col("b").alias("z"), F.col("a").alias("v"))
    )
    centers = (
        nbrs.groupBy("z")
        .agg(F.count(F.lit(1)).alias("deg_z"))
        .filter((F.col("deg_z") >= 2) & (F.col("deg_z") <= max_degree))
        .select("z")
    )
    wedges = nbrs.join(centers, "z")
    pairs = (
        wedges.select("z", F.col("v").alias("u"))
        .join(wedges.select("z", F.col("v").alias("w")), "z")
        .filter(F.col("u") < F.col("w"))
        .groupBy("u", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return pairs.agg(
        F.sum(F.expr("(c * (c - 1)) DIV 2")).cast("long").alias("wedge_pairs")
    ).select(
        "wedge_pairs",
        F.expr("wedge_pairs DIV 2").cast("long").alias("squares"),
    )


def neighborhood_function_frame(
    graph: GraphFrame, k: int, log2m: int = 7, portable: bool = False
) -> DataFrame:
    """Neighborhood function N(t) for t = 0..k as a DataFrame (ANF,
    Palmer et al. 2002, via HyperBall): N(t) = Σ_v |ball_t(v)| estimated
    from the HLL register table after each round.

    Portability: each per-vertex estimate is rounded at 1e-6 and summed
    as a SCALED INTEGER (×10^6, exact BIGINT addition) — a float sum's
    value depends on reduction order, the integer sum does not, so the
    frame is bit-deterministic under any partitioning and has an exact
    SQL oracle.  Each round's one-row total is materialized before the
    next round advances (the register table's blocks are freed
    round-over-round); driver state is O(k) rows, never per-vertex.

    Returns ``(hop, nf)`` with k+1 rows; ``nf`` is N(hop) × 10^6.
    """

    def fold(rows, sketch, r):
        row = r.keep(
            _hll_estimates(sketch, log2m)
            .agg(
                F.sum(
                    F.round(F.col("ball_size_est") * F.lit(1000000.0), 0)
                    .cast("long")
                ).alias("nf")
            )
            .select(F.lit(r.n).cast("long").alias("hop"), "nf")
        )
        return (*(rows or ()), row), False

    sketch, rows = _hyperball(graph, k, log2m, portable, fold)
    _free_checkpoint(sketch)
    out = rows[0]
    for r in rows[1:]:
        out = out.unionAll(r)
    return out


def effective_diameter_frame(
    graph: GraphFrame,
    k: int,
    q: float = 0.9,
    log2m: int = 7,
    portable: bool = False,
) -> DataFrame:
    """Effective diameter as a one-row DataFrame: the interpolated hop
    count x where N(x) first reaches ``q`` of N(k), computed from
    :func:`neighborhood_function_frame`'s exact-integer totals — the
    collect-free, oracle-checkable companion to
    :func:`effective_diameter` (which early-stops on convergence and
    returns a driver-side dict).

    All arithmetic after the integer NF totals is a fixed sequence of
    IEEE-double ops on identical inputs, so the rounded result is
    engine-portable.  The window/lag runs over a (k+1)-row frame — O(k)
    driver-independent rows, never per-vertex data.

    Returns one row ``(hop_reached, nf_final_scaled,
    effective_diameter)``.
    """
    from pyspark.sql.window import Window

    if not 0 < q <= 1:
        raise ValueError(f"q must be in (0,1], got {q}")
    nf = neighborhood_function_frame(graph, k, log2m, portable)
    nfw = nf.withColumn("prev_nf", F.lag("nf").over(Window.orderBy("hop")))
    tgt = nf.agg(F.max_by("nf", "hop").alias("nf_final")).select(
        "nf_final", (F.col("nf_final") * F.lit(q)).alias("target")
    )
    hit = (
        nfw.crossJoin(tgt)  # 1-row target onto a (k+1)-row frame
        .filter(F.col("nf") >= F.col("target"))
        .orderBy("hop")
        .limit(1)
    )
    interp = (F.col("hop") - F.lit(1)) + (
        (F.col("target") - F.col("prev_nf"))
        / (F.col("nf") - F.col("prev_nf"))
    )
    return hit.select(
        F.col("hop").alias("hop_reached"),
        F.col("nf_final").alias("nf_final_scaled"),
        F.round(
            F.when(F.col("hop") == 0, F.lit(0.0)).otherwise(interp), 6
        ).alias("effective_diameter"),
    )


def negative_edge_samples(
    graph: GraphFrame,
    n_per_vertex: int = 1,
    seed: int = 42,
    index_partitions: int = 64,
) -> DataFrame:
    """Deterministic negative-edge sampling — the standard contrastive
    counterpart to :func:`random_walks` for training link-prediction /
    graph-embedding models (skip-gram negative sampling, Mikolov et al.
    2013; GNN link prediction): for every vertex u, propose
    ``n_per_vertex`` uniform pseudo-random candidate targets from the
    FULL vertex set, then drop candidates that are self-loops or real
    edges (anti-join).  The arithmetic picker is the same pure-hash idea
    as :func:`random_walks`, so the sample is reproducible across
    engines, partitionings and cluster sizes, and SQL-replayable:

        idx(u, j) = ((u % 999983)·104729 + j·7919 + seed) mod |V|

    picks the idx-th vertex in a deterministic global enumeration.

    The enumeration is the scale-critical piece: a bare ``row_number()
    over (order by vertex_id)`` sorts every vertex in ONE task, so the
    index is built two-level instead — ``row_number`` within
    ``vertex_id % index_partitions`` groups (parallel windows) plus
    per-group offsets from a cumulative sum over the ``index_partitions``-
    row count table.  The resulting index is NOT id-sorted but it is a
    deterministic bijection onto [0, |V|) computable identically in any
    engine — which is all uniform sampling needs.

    Dropped candidates (positives / self-loops) are NOT re-drawn — the
    output is a deterministic subset of u's n proposals (expected loss
    |E|/|V|² per draw, negligible on sparse graphs); callers that need
    exactly n survivors oversample and trim.  Returns ``(subject,
    object, sample_id)`` with sample_id in [1, n_per_vertex].
    """
    from pyspark.sql.window import Window

    if n_per_vertex < 1:
        raise ValueError(f"n_per_vertex must be >= 1, got {n_per_vertex}")
    v = graph.vertices.select(VERTEX_ID)
    local = v.withColumn("p", F.col(VERTEX_ID) % index_partitions).withColumn(
        "r",
        F.row_number().over(
            Window.partitionBy("p").orderBy(VERTEX_ID)
        ).cast("long") - 1,
    )
    counts = local.groupBy("p").agg(F.count(F.lit(1)).alias("c"))
    offsets = counts.withColumn(
        "off",
        F.coalesce(
            F.sum("c").over(
                Window.orderBy("p").rowsBetween(
                    Window.unboundedPreceding, -1
                )
            ),
            F.lit(0),
        ),
    ).select("p", "off")
    idx = local.join(offsets, "p").select(
        F.col(VERTEX_ID).alias("cand_vid"),
        (F.col("off") + F.col("r")).alias("vidx"),
    )
    total = v.agg(F.count(F.lit(1)).alias("n_v"))
    draws = (
        v.crossJoin(total)  # 1-row |V| onto the vertex table
        .select(
            F.col(VERTEX_ID).alias("subject"),
            F.explode(
                F.sequence(
                    F.lit(1).cast("long"), F.lit(n_per_vertex).cast("long")
                )
            ).alias("sample_id"),
            F.col("n_v"),
        )
        .select(
            "subject",
            "sample_id",
            (
                (
                    (F.col("subject") % 999983) * 104729
                    + F.col("sample_id") * 7919
                    + F.lit(seed)
                )
                % F.col("n_v")
            ).alias("vidx"),
        )
    )
    cand = draws.join(idx, "vidx").select(
        "subject", F.col("cand_vid").alias("object"), "sample_id"
    )
    cand = cand.filter(F.col("subject") != F.col("object"))
    pos = graph.edges.select(SUBJECT, OBJECT).distinct()
    return cand.join(
        pos,
        (cand["subject"] == pos[SUBJECT]) & (cand["object"] == pos[OBJECT]),
        "left_anti",
    )


def trustrank(
    graph: GraphFrame,
    seeds: DataFrame,
    damping: float = 0.85,
    tol: float | None = 1e-6,
    max_iterations: int = 100,
) -> DataFrame:
    """TrustRank (Gyöngyi, Garcia-Molina & Pedersen, VLDB'04): PageRank
    whose teleport distribution is uniform over a curated set of trusted
    seed pages/hosts instead of over all vertices — trust flows out of
    the seeds along links, and link-spam neighborhoods that global
    PageRank rewards receive almost none of it.

        rank' = d·(msg + dangling·p(v)) + (1−d)·p(v),
        p uniform over seeds ∩ V, zero elsewhere

    This is :func:`personalized_pagerank` with the teleport built by a
    JOIN instead of a driver-side ``isin`` literal — the scale path that
    function's docstring points to: a production trusted-seed list (or a
    whole TLD whitelist) is itself a table of millions of rows, which
    must never ride the query plan as a literal.  One broadcast-or-hash
    left join annotates the vertex table before the loop; the
    per-superstep plan (single message shuffle, zero-job stats,
    broadcast dangling column) is byte-identical to PageRank's.

    ``seeds`` is any DataFrame whose first column holds vertex ids;
    seeds absent from the graph are ignored (they get no mass to give).
    Σ rank = 1 every superstep exactly as in the global variant.

    Returns ``(vertex_id, …props, out_degree, teleport, rank)``.
    """
    seed_ids = seeds.select(
        F.col(seeds.columns[0]).cast("long").alias(VERTEX_ID)
    ).distinct()
    g0 = _with_out_degrees(graph)
    marked = g0.vertices.join(
        seed_ids.withColumn("__seed__", F.lit(1)), VERTEX_ID, "left"
    )
    stats = marked.agg(
        F.sum((F.col("out_degree") == 0).cast("long")).alias("n_dangling"),
        F.sum(F.coalesce(F.col("__seed__"), F.lit(0))).alias("n_seeds"),
    ).collect()[0]
    n_seeds = int(stats["n_seeds"] or 0)
    if n_seeds == 0:
        raise ValueError("trustrank needs >=1 seed present in the graph")
    has_dangling = (stats["n_dangling"] or 0) > 0
    # teleport becomes a static vertex property (carried through the
    # apply select each superstep — SURVEY §2.1 op 11), so the loop never
    # re-touches the seed table
    verts = marked.withColumn(
        "teleport",
        F.when(F.col("__seed__").isNotNull(), F.lit(1.0 / n_seeds)).otherwise(
            F.lit(0.0)
        ),
    ).drop("__seed__")
    g = g0.with_vertices(verts)

    from pregel_rs_spark.pregel import PregelContext

    dangling_col = (
        PregelContext.stat_col("dangling") if has_dangling else F.lit(0.0)
    )
    p_v = F.col("teleport")
    v_prog = (
        F.coalesce(msg(), F.lit(0.0)) + dangling_col * p_v
    ) * damping + (1.0 - damping) * p_v
    builder = (
        PregelBuilder(g)
        .max_iterations(max_iterations)
        .with_vertex_column("rank")
        .initial_message(p_v)
        .send_messages(
            MessageReceiver.OBJECT, subject("rank") / subject("out_degree")
        )
        .aggregate_messages(F.sum(msg()))
        .v_prog(v_prog)
    )
    if tol is not None and tol > 0:
        builder = builder.with_tolerance(tol)
    if has_dangling:
        builder = builder.with_state_stat(
            "dangling",
            F.coalesce(
                F.sum(F.when(F.col("out_degree") == 0, F.col("rank"))),
                F.lit(0.0),
            ),
        )
    return builder.build().run()


def spam_mass(
    graph: GraphFrame,
    seeds: DataFrame,
    damping: float = 0.85,
    tol: float | None = 1e-6,
    max_iterations: int = 100,
) -> DataFrame:
    """Relative spam mass (Gyöngyi et al., "Link Spam Detection Based on
    Mass Estimation", VLDB'06): the fraction of a page's PageRank that
    does NOT come from trusted sources,

        spam_mass(v) = (pr(v) − tr(v)) / pr(v)

    with pr = global PageRank and tr = :func:`trustrank` over the same
    graph at the same damping.  Values near 1 mean almost all of the
    page's rank arrives from untrusted neighborhoods (link-spam signal);
    seeds themselves and pages well-linked from them score near or below
    0.  The two rank vectors are two runs of the same engine plus one
    vertex-keyed join — no new shuffle shape; at web scale both runs
    reuse the identical pre-partitioned edge table.

    Returns ``(vertex_id, rank, trust_rank, spam_mass)``; pr(v) is never
    0 on a closed graph (the (1−d)/n floor), so the ratio is total.
    """
    pr = pagerank(
        graph, damping=damping, tol=tol, max_iterations=max_iterations
    ).select(VERTEX_ID, "rank")
    tr = trustrank(
        graph, seeds, damping=damping, tol=tol, max_iterations=max_iterations
    ).select(VERTEX_ID, F.col("rank").alias("trust_rank"))
    return pr.join(tr, VERTEX_ID).select(
        VERTEX_ID,
        "rank",
        "trust_rank",
        ((F.col("rank") - F.col("trust_rank")) / F.col("rank")).alias(
            "spam_mass"
        ),
    )


def neighbor_sample(
    graph: GraphFrame,
    fanouts: list[int],
    seed: int = 42,
    starts: DataFrame | None = None,
) -> DataFrame:
    """Deterministic layer-wise neighbor fan-out sampling — the
    mini-batch subgraph builder for GNN training (GraphSAGE, Hamilton et
    al. NeurIPS'17; node-wise variant): from every root, keep at most
    ``fanouts[t-1]`` out-neighbors per visited vertex at hop t, so a
    k-hop block has ≤ Π fanouts edges per root regardless of hub degrees
    — the explicit bound that makes k-hop expansion feasible on a web
    graph where unsampled 2-hop balls around hubs are the whole graph.

    Selection is pseudo-random but fully deterministic and engine-
    portable: neighbor (u, v) survives hop t iff its rank under
    ``md5(u | v | seed | t)`` is ≤ fanout (ties broken by v) — the same
    md5-threshold idiom as ``corpus_sample``, replayable in any SQL
    engine, stable across partitionings and cluster sizes.  The
    selection is per (vertex, hop), shared by all roots that reach the
    vertex — one window pass per hop over the frontier-semi-joined edge
    table, never per-root work.

    Plan per hop: semi-join edges to the current frontier on subject
    (filter BEFORE the window — the row_number partition is by subject,
    so pre-filtering by subject keeps each retained partition complete),
    one window rank per subject, one join back to the root set.
    Frontier is distinct per hop, bounding growth at ≤ Σ_t Π fanouts.

    ``starts`` (optional, first column = root vertex ids) restricts the
    root set — the training-batch path; default: every vertex.  Returns
    ``(root, hop, subject, object)`` — the union of per-hop sampled
    edge blocks, hop in [1, len(fanouts)].
    """
    from pyspark.sql.window import Window

    if not fanouts or any(f < 1 for f in fanouts):
        raise ValueError(f"fanouts must be non-empty positive, got {fanouts}")
    roots = (
        starts.select(F.col(starts.columns[0]).cast("long").alias("root"))
        if starts is not None
        else graph.vertices.select(F.col(VERTEX_ID).alias("root"))
    ).distinct()
    # duplicate edges would make the rank ill-defined (two identical rows
    # straddling the cutoff) — sample over the simple graph
    edges = graph.edges.select(SUBJECT, OBJECT).distinct()
    frontier = roots.select("root", F.col("root").alias("node"))
    blocks: list[DataFrame] = []
    for t, fan in enumerate(fanouts, 1):
        cand = frontier.join(
            edges, frontier["node"] == edges[SUBJECT]
        ).select("root", SUBJECT, OBJECT)
        ranked = cand.select(SUBJECT, OBJECT).distinct().withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy(SUBJECT).orderBy(
                    F.md5(
                        F.concat_ws(
                            "|",
                            F.col(SUBJECT),
                            F.col(OBJECT),
                            F.lit(seed),
                            F.lit(t),
                        )
                    ),
                    OBJECT,
                )
            ),
        ).filter(F.col("rn") <= fan).drop("rn")
        step = cand.join(ranked, [SUBJECT, OBJECT]).select(
            "root", F.lit(t).cast("long").alias("hop"), SUBJECT, OBJECT
        )
        blocks.append(step)
        frontier = step.select(
            "root", F.col(OBJECT).alias("node")
        ).distinct()
    out = blocks[0]
    for b in blocks[1:]:
        out = out.unionByName(b)
    return out


def salsa(
    graph: GraphFrame,
    iterations: int = 10,
    normalize: bool = True,
) -> DataFrame:
    """SALSA hubs & authorities (Lempel & Moran, WWW'00 — the
    Stochastic Approach for Link-Structure Analysis): HITS with both
    sums degree-normalized, i.e. a random walk alternating one backward
    and one forward step on the bipartite hub/authority view:

        auth_{k+1}(v) = Σ_{u→v} hub_k(u)  / out_degree(u)
        hub_{k+1}(v)  = Σ_{v→w} auth_k(w) / in_degree(w)

    The normalization is what makes SALSA resistant to the
    tightly-knit-community (TKC) effect that lets a small dense clique
    capture HITS's principal eigenvector — each page distributes one
    unit of endorsement instead of d copies, so scores track *how many*
    pages endorse you, not how loudly a clique self-amplifies.

    Same engine shape as :func:`hits` (Jacobi two-field struct message,
    ONE shuffle per superstep carrying both directions, map-side
    combine); both degrees are static vertex columns joined once before
    the loop.  Division is total: an edge u→v implies out_degree(u) ≥ 1
    and in_degree(v) ≥ 1.  ``normalize=True`` L1-normalizes both score
    vectors once at the end (iterates are scale-free; per-iteration
    normalization barriers skipped exactly as in HITS).

    Returns ``(vertex_id, out_degree, in_degree, auth, hub)``.
    """
    from pregel_rs_spark.columns import object_

    verts = graph._degree_table().join(
        graph.in_degrees_full().select(VERTEX_ID, "in_degree"), VERTEX_ID
    )
    g = graph.with_vertices(truncate_plan(verts))

    null_d = F.lit(None).cast("double")

    def pair(h, a):
        return F.struct(h.alias("h"), a.alias("a"))

    res = (
        PregelBuilder(g)
        .max_iterations(iterations)
        .with_vertex_column("auth")
        .initial_message(F.lit(1.0))
        .with_state_column(
            "hub", F.lit(1.0), F.coalesce(msg()["a"], F.lit(0.0))
        )
        .send_messages(
            MessageReceiver.OBJECT,
            pair(subject("hub") / subject("out_degree"), null_d),
        )
        .send_messages(
            MessageReceiver.SUBJECT,
            pair(null_d, object_("auth") / object_("in_degree")),
        )
        .aggregate_messages(pair(F.sum(msg()["h"]), F.sum(msg()["a"])))
        .v_prog(F.coalesce(msg()["h"], F.lit(0.0)))
        .build()
        .run()
    )
    if normalize:
        s = res.agg(
            F.sum("auth").alias("sa"), F.sum("hub").alias("sh")
        ).collect()[0]
        sa = s["sa"] or 1.0
        sh = s["sh"] or 1.0
        res = res.withColumn(
            "auth", F.col("auth") / F.lit(float(sa))
        ).withColumn("hub", F.col("hub") / F.lit(float(sh)))
    _free_checkpoint(g.vertices)
    return res


def _mis_priority(vid):
    """Deterministic Lehmer-style priority, replayable in ANSI SQL.

    Reduced-before-multiply so the product never leaves int64 even for
    full-range (negative) xxhash64 vertex ids:
    ``p(v) = ((v mod 999983 + 999983) mod 999983 * 104729 + 7919)
    mod 999983``.  Collisions are broken by vertex_id, so the total
    order ``(p(v), v)`` is collision-free; priority quality only
    affects expected round count, never correctness.
    """
    m = F.lit(999983)
    nonneg = ((vid % m) + m) % m
    return (nonneg * F.lit(104729) + F.lit(7919)) % m


def maximal_independent_set(
    graph: GraphFrame,
    max_rounds: int | None = None,
) -> DataFrame:
    """Luby-style maximal independent set (Luby, SIAM J. Comput. 1986)
    over the undirected simple view of the graph — the classic parallel
    symmetry-breaking primitive (crawl-scheduler conflict sets, landmark
    selection, distributed coloring seeds; no reference counterpart —
    extension beyond pregel-rs src/graph_frame.rs).

    Round t: every still-undecided vertex whose ``(priority, vertex_id)``
    is strictly smaller than every undecided neighbor's joins the MIS
    (isolated undecided vertices win vacuously); winners' undecided
    neighbors become excluded.  Priorities are a fixed deterministic hash
    (:func:`_mis_priority`), so the result is exactly reproducible — the
    driver oracle replays the same rounds in SQL.  Expected O(log n)
    rounds on bounded-degeneracy web graphs.

    Scale shape per round: two left-semi joins restrict the edge set to
    undecided×undecided (shrinking every round), one min-aggregation per
    vertex for the neighbor priority floor, one distinct neighbor
    expansion for exclusion — all hash-partitioned on vertex id, no
    driver-side data beyond one O(1) count per round, observed on the
    round's last materialization; lineage truncated per round.

    ``max_rounds=None`` runs to fixpoint (every vertex decided: the set
    is then independent AND maximal).  A fixed budget returns the
    deterministic prefix with residual ``'undecided'`` rows — what the
    driver-gate query uses so DuckDB can unroll the rounds.

    Returns ``(vertex_id, state)`` with state in
    ``('mis', 'excluded', 'undecided')``.
    """
    und = _und_simple(graph.edges)
    # both directions: neighbor lookups are one equi-join on "a"
    sym = und.unionAll(und.select(F.col("b").alias("a"), F.col("a").alias("b")))
    spark = graph.edges.sparkSession
    empty = spark.createDataFrame([], "vertex_id long")

    def luby(state, r):
        sym, undecided, mis, excluded = state
        u_a = undecided.select(F.col(VERTEX_ID).alias("a"))
        u_b = undecided.select(F.col(VERTEX_ID).alias("b"))
        e_act = sym.join(u_a, "a", "left_semi").join(u_b, "b", "left_semi")
        # per undecided vertex: the smallest (priority, id) among undecided
        # neighbors; vertices absent from e_act have none and win vacuously
        floor = e_act.groupBy(F.col("a").alias(VERTEX_ID)).agg(
            F.min(
                F.struct(
                    _mis_priority(F.col("b")).alias("p"), F.col("b").alias("v")
                )
            ).alias("nbr")
        )
        winners = r.keep(
            undecided.join(floor, VERTEX_ID, "left")
            .filter(
                F.col("nbr").isNull()
                | (
                    F.struct(
                        _mis_priority(F.col(VERTEX_ID)).alias("p"),
                        F.col(VERTEX_ID).alias("v"),
                    )
                    < F.col("nbr")
                )
            )
            .select(VERTEX_ID)
        )
        newly_excluded = r.keep(
            e_act.join(
                winners.select(F.col(VERTEX_ID).alias("a")), "a", "left_semi"
            )
            .select(F.col("b").alias(VERTEX_ID))
            .distinct()
        )
        mis = r.keep(mis.unionAll(winners))
        excluded = r.keep(excluded.unionAll(newly_excluded))
        undecided = r.keep(
            undecided.join(winners, VERTEX_ID, "left_anti").join(
                newly_excluded, VERTEX_ID, "left_anti"
            ),
            n=F.count(F.lit(1)),
        )
        return (sym, undecided, mis, excluded), r.seen["n"] == 0

    state = iterate(
        lambda r: (
            r.keep(sym), r.keep(graph.vertices.select(VERTEX_ID)), empty, empty
        ),
        luby,
        max_rounds,
    ).state
    _, undecided, mis, excluded = state
    res = truncate_plan(
        mis.select(VERTEX_ID, F.lit("mis").alias("state"))
        .unionAll(excluded.select(VERTEX_ID, F.lit("excluded").alias("state")))
        .unionAll(
            undecided.select(VERTEX_ID, F.lit("undecided").alias("state"))
        )
    )
    _free_checkpoint(state)
    return res


def bowtie_classes(
    graph: GraphFrame,
    max_iterations: int = 200,
    max_scc_rounds: int = 50,
) -> DataFrame:
    """Bow-tie decomposition of a directed graph (Broder et al., WWW 2000,
    "Graph structure in the Web" — public literature; extension, no
    reference counterpart): classify every vertex relative to the largest
    strongly connected component — the giant CORE of a web link graph:

      * ``core``         — member of the largest SCC (size ties broken
        toward the larger component label, deterministically);
      * ``in``           — reaches the core, not in it;
      * ``out``          — reachable from the core, not in it;
      * ``tube``         — reachable from IN *and* reaches OUT while
        bypassing the core entirely;
      * ``tendril``      — reachable from IN, or reaches OUT, but not both;
      * ``disconnected`` — none of the above.

    Five fixpoint propagations total: one SCC run (Orzan coloring,
    :func:`strongly_connected_components`) and four flag-reachability
    sweeps (:func:`max_value` with exact convergence — forward and
    backward from the core, forward from IN, backward from OUT), each
    O(diameter) supersteps of one co-partitioned triplet join + one
    message shuffle; the backward sweeps materialize the reversed edge
    table once each.  The only driver-side value is the core's component
    label (an O(1) single-row collect).  At web scale this is the exact
    shape of the published measurements (Broder ran BFS from/to the giant
    SCC; the flag sweep is BFS without the level bookkeeping).

    Returns ``(vertex_id, component, bowtie)`` — ``component`` is the SCC
    label (max member id), ``bowtie`` one of the six class strings.
    """
    comp = strongly_connected_components(
        graph, max_rounds=max_scc_rounds, max_iterations=max_iterations
    ).select(VERTEX_ID, "component")
    comp = truncate_plan(comp)
    top = (
        comp.groupBy("component")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.desc("component"))
        .limit(1)
        .collect()
    )
    if not top:  # zero-vertex graph
        return (
            graph.vertices.select(VERTEX_ID)
            .withColumn("component", F.col(VERTEX_ID))
            .withColumn("bowtie", F.lit("disconnected"))
            .limit(0)
        )
    core_label = top[0]["component"]

    edges = (
        graph.edges.select(SUBJECT, OBJECT)
        .filter(F.col(SUBJECT) != F.col(OBJECT))
        .distinct()
    )
    rev = edges.select(
        F.col(OBJECT).alias(SUBJECT), F.col(SUBJECT).alias(OBJECT)
    )

    def _reach(seed_flags: DataFrame, e: DataFrame, out_name: str) -> DataFrame:
        """Fixpoint max-propagation of a 0/1 seed flag along ``e``."""
        res = _max_value_over(seed_flags, e, max_iterations)
        return truncate_plan(
            res.select(VERTEX_ID, (F.col("max_value") == 1).alias(out_name))
        )

    core_seed = comp.select(
        VERTEX_ID,
        (F.col("component") == F.lit(core_label)).cast("long").alias("value"),
    )
    fwd_core = _reach(core_seed, edges, "out_reach")  # core ∪ OUT
    bwd_core = _reach(core_seed, rev, "in_reach")     # core ∪ IN

    base = comp.join(fwd_core, VERTEX_ID).join(bwd_core, VERTEX_ID)
    is_core = F.col("component") == F.lit(core_label)
    is_in = F.col("in_reach") & ~is_core
    is_out = F.col("out_reach") & ~is_core

    from_in = _reach(
        base.select(VERTEX_ID, is_in.cast("long").alias("value")),
        edges,
        "from_in",
    )
    to_out = _reach(
        base.select(VERTEX_ID, is_out.cast("long").alias("value")),
        rev,
        "to_out",
    )
    return (
        base.join(from_in, VERTEX_ID)
        .join(to_out, VERTEX_ID)
        .select(
            VERTEX_ID,
            "component",
            F.when(is_core, F.lit("core"))
            .when(is_in, F.lit("in"))
            .when(is_out, F.lit("out"))
            .when(F.col("from_in") & F.col("to_out"), F.lit("tube"))
            .when(F.col("from_in") | F.col("to_out"), F.lit("tendril"))
            .otherwise(F.lit("disconnected"))
            .alias("bowtie"),
        )
    )


def coreness(
    graph: GraphFrame,
    max_rounds: int | None = None,
) -> DataFrame:
    """Full k-core decomposition — every vertex's core number in one run
    (``k_core`` answers one k; this answers all of them, the standard
    graph-mining summary for link-farm strata and crawl prioritization on
    web graphs; no reference counterpart — extension beyond pregel-rs
    src/graph_frame.rs).

    Distributed h-index fixpoint (Montresor, De Pellegrini & Miorandi,
    "Distributed k-core decomposition", IEEE TPDS 2013 — public): start
    with ``core(v) = deg(v)``; each round replace ``core(v)`` with the
    h-index of its neighbors' current values (the largest h such that ≥ h
    neighbors have ``core ≥ h``).  Values are monotonically nonincreasing
    and converge to the exact core numbers; rounds needed ≪ n in practice
    (bounded by the graph's degeneracy ordering depth).

    Scale shape — the h-index is computed WITHOUT sorting each vertex's
    full adjacency: neighbor values are first collapsed to
    ``(v, value, count)`` by a hash aggregation (map-side combine turns a
    hub's billions of neighbor rows into ≤ #distinct-values rows), then a
    cumulative-count window over the distinct values yields
    ``h = max(min(value, #neighbors with core ≥ value)))``.  The window's
    per-vertex row count is the number of DISTINCT neighbor core values —
    bounded by max-coreness, not by degree — so mega-hubs cost the same
    as modest vertices after the combine.  Per round: one join (edges ×
    core), two hash aggs, one tiny window — all key-partitioned, no
    driver-side data; lineage truncated per round.

    ``max_rounds=None`` iterates to the fixpoint, detected by the sum of
    the values (they only fall), observed on each round's materialization
    job — no action of its own; a fixed ``max_rounds`` bounds the rounds —
    the deterministic prefix the driver-gate oracle unrolls in SQL.

    Returns ``(vertex_id, coreness)`` for every vertex with ≥ 1 edge
    (isolated vertices have coreness 0 and carry no rows here, matching
    ``k_core``'s edge-derived vertex set).
    """
    from pyspark.sql.window import Window

    def nbrs_of(und: DataFrame) -> DataFrame:
        return und.select(
            F.col("a").alias(VERTEX_ID), F.col("b").alias("nbr")
        ).unionAll(und.select(F.col("b"), F.col("a")))

    w = (
        Window.partitionBy(VERTEX_ID)
        .orderBy(F.desc("val"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # values only fall, so a round changed none iff their sum held
    total = F.sum("coreness")

    def h_index(state, r):
        und, core = state
        nbr_vals = nbrs_of(und).join(
            core.select(
                F.col(VERTEX_ID).alias("nbr"), F.col("coreness").alias("val")
            ),
            "nbr",
        )
        counts = nbr_vals.groupBy(VERTEX_ID, "val").agg(
            F.count(F.lit(1)).alias("cnt")
        )
        h = (
            counts.withColumn("cnt_ge", F.sum("cnt").over(w))
            .groupBy(VERTEX_ID)
            .agg(F.max(F.least(F.col("val"), F.col("cnt_ge"))).alias("h"))
        )
        nxt = r.keep(
            core.join(h, VERTEX_ID).select(
                VERTEX_ID,
                F.least(F.col("coreness"), F.col("h"))
                .cast("long")
                .alias("coreness"),
            ),
            total=total,
        )
        return (und, nxt), r.seen["total"] == r.prev["total"]

    def init(r):
        und = r.keep(_und_simple(graph.edges))
        core = nbrs_of(und).groupBy(VERTEX_ID).agg(
            F.count(F.lit(1)).cast("long").alias("coreness")
        )
        return und, r.keep(core, total=total)

    und, core = iterate(init, h_index, max_rounds).state
    _free_checkpoint(und)
    return core


def landmark_distances(
    graph: GraphFrame,
    landmarks: list[int],
    max_hops: int,
) -> DataFrame:
    """Truncated multi-source BFS distances to a small landmark set — the
    distance-sketch primitive (public technique: landmark/beacon distance
    oracles, Potamias et al. CIKM'09; also the feature stage of
    web-graph proximity ranking).  For every vertex reachable from a
    landmark in ≤ ``max_hops`` hops it returns the exact hop distance
    ``d(landmark → vertex)`` along edge direction; vertex similarity /
    closeness features then read off the k-dimensional distance vector.

    Frontier-style iteration on the composite key (vertex, landmark):
    per hop, one equi-join of the current frontier against the edge table
    (subject side), a distinct on the composite key, and an anti-join
    against the already-settled table — BFS's "first visit is the
    shortest" invariant means settled pairs never improve, so each pair
    is shuffled O(1) times over the whole run.  State is
    O(reached pairs) ≤ |V|·k, never |V|·k up front; a mega-hub costs k
    rows per hop, not k copies of its adjacency.  Plans are truncated per
    hop (O(1) lineage); the loop stops early when a hop settles nothing.

    No reference counterpart (extension; the reference's only
    distance-flavored fixture is max-value propagation).  Landmarks must
    be explicit vertex ids — deterministic by construction; pick them by
    degree or hash off-line.  Returns (vertex_id, landmark, dist) —
    BIGINT/BIGINT/INT, exact.
    """
    if not landmarks:
        raise ValueError("landmarks must name >= 1 vertex id")
    if max_hops < 0:
        raise ValueError(f"max_hops must be >= 0, got {max_hops}")
    spark = graph.edges.sparkSession
    edges = graph.edges.select(SUBJECT, OBJECT).distinct()
    landmarks0 = spark.createDataFrame(
        [(int(l), int(l), 0) for l in sorted(set(landmarks))],
        schema=f"{VERTEX_ID} long, landmark long, dist int",
    )

    def hop(state, r):
        settled, frontier = state
        nxt = r.keep(
            frontier.join(edges, frontier[VERTEX_ID] == edges[SUBJECT])
            .select(
                F.col(OBJECT).alias(VERTEX_ID),
                "landmark",
                F.lit(r.n).cast("int").alias("dist"),
            )
            .distinct()
            .join(
                settled.select(VERTEX_ID, "landmark"),
                [VERTEX_ID, "landmark"],
                "left_anti",
            ),
            n=F.count(F.lit(1)),
        )
        if r.seen["n"] == 0:
            return state, True
        return (r.keep(settled.unionByName(nxt)), nxt), False

    def init(r):
        settled = r.keep(landmarks0)
        return settled, settled

    settled, frontier = iterate(init, hop, max_hops).state
    if frontier is not settled:
        _free_checkpoint(frontier)
    return settled


def _edge_priority(a, b):
    """Deterministic edge priority, replayable in ANSI SQL (the
    :func:`_mis_priority` idiom lifted to pairs; reduced-before-multiply
    keeps everything in int64 for full-range xxhash64 ids)."""
    m = F.lit(999983)
    na = ((a % m) + m) % m
    nb = ((b % m) + m) % m
    return (na * F.lit(104729) + nb * F.lit(7919) + F.lit(17)) % m


def maximal_matching(
    graph: GraphFrame,
    max_rounds: int | None = None,
    strict: bool = True,
) -> DataFrame:
    """Distributed maximal matching over the undirected simple view —
    the handshake / locally-minimal-edge algorithm (public technique:
    Israeli-Itai-style parallel matching; matching is also the motivating
    example in Malewicz et al. SIGMOD'10 §1).  Pipelines use it for
    conflict-free pairing: co-crawl scheduling, pairwise dedup
    arbitration, graph coarsening (pair-contract for multilevel
    partitioning).

    Per round, every vertex picks its minimum-priority incident edge
    (priority = :func:`_edge_priority`, ties on (a, b) — a collision-free
    total order); an edge both endpoints picked joins the matching, its
    endpoints leave the graph.  The globally minimal remaining edge is
    always mutually picked, so every round matches ≥ 1 edge
    (termination); hash priorities give O(log n) expected rounds.  Per
    round: one union, one (vertex) hash agg, two equi-joins, two
    anti-joins — all shuffle-bounded by the live edge set, which only
    shrinks.  ``max_rounds`` defaults to 50 with a loud error on
    non-convergence (the :func:`maximal_independent_set` convention).
    Returns matched pairs ``(vertex_a, vertex_b)`` with
    ``vertex_a < vertex_b``.
    """
    if max_rounds is None:
        max_rounds = 50
    und = _und_simple(graph.edges).withColumn(
        "pri", _edge_priority(F.col("a"), F.col("b"))
    )
    spark = graph.edges.sparkSession
    matched = spark.createDataFrame([], "vertex_a long, vertex_b long")

    def handshake(state, r):
        und, matched = state
        if r.prev["n"] == 0:
            return state, True
        e = F.struct("pri", "a", "b")
        inc = und.select(F.col("a").alias("v"), e.alias("e")).unionByName(
            und.select(F.col("b").alias("v"), e.alias("e"))
        )
        pick = inc.groupBy("v").agg(F.min("e").alias("e"))
        cand = (
            und.join(
                pick.select(F.col("v").alias("a"), F.col("e").alias("ea")),
                "a",
            )
            .join(
                pick.select(F.col("v").alias("b"), F.col("e").alias("eb")),
                "b",
            )
            .filter((F.col("ea") == e) & (F.col("eb") == e))
            .select("a", "b")
        )
        matched = r.keep(
            matched.unionByName(
                cand.select(
                    F.col("a").alias("vertex_a"), F.col("b").alias("vertex_b")
                )
            )
        )
        mv = (
            cand.select(F.col("a").alias("v"))
            .unionByName(cand.select(F.col("b").alias("v")))
            .distinct()
        )
        und = r.keep(
            und.join(mv.select(F.col("v").alias("a")), "a", "left_anti")
            .join(mv.select(F.col("v").alias("b")), "b", "left_anti"),
            n=F.count(F.lit(1)),
        )
        return (und, matched), False

    (und, matched), _, converged = iterate(
        lambda r: (r.keep(und, n=F.count(F.lit(1))), matched),
        handshake,
        max_rounds,
    )
    _free_checkpoint(und)
    if strict and not converged:
        _free_checkpoint(matched)
        raise RuntimeError(
            f"maximal_matching did not converge in {max_rounds} rounds — "
            "raise max_rounds (every round matches >= 1 edge, so this "
            "bounds |V|/2; hash priorities make O(log n) typical)"
        )
    # strict=False: the bounded-round PARTIAL matching (still a valid
    # matching, maximality not guaranteed) — the SQL-unrollable mode the
    # driver oracle uses, mirroring maximal_independent_set(max_rounds=2).
    return matched


def topo_layers(
    graph: GraphFrame,
    max_layers: int,
) -> DataFrame:
    """Topological layering of the acyclic part of a directed graph —
    iterative zero-in-degree peel (Kahn's algorithm, layered): layer 0 is
    every vertex with no incoming edge, layer k+1 becomes exposed when
    layers ≤ k are removed.  Pipeline uses: dependency scheduling over
    derived-table DAGs, redirect/canonical chain depth, DAG-depth
    features.  Vertices on or downstream-locked-by a cycle are never
    exposed and are ABSENT from the result (the honest contract — a
    cycle has no topological position; compose with
    :func:`strongly_connected_components` to collapse cycles first).

    Per layer: one in-degree semi-join + one anti-join on the shrinking
    live edge set — O(layers) rounds, each shuffle-bounded by live
    edges.  ``max_layers`` is an explicit cap (layers beyond it are
    absent), so the driver-side loop is bounded by contract, not data.
    Returns ``(vertex_id, layer)``.
    """
    if max_layers < 1:
        raise ValueError(f"max_layers must be >= 1, got {max_layers}")
    spark = graph.edges.sparkSession
    out = spark.createDataFrame([], f"{VERTEX_ID} long, layer int")

    def expose(state, r):
        edges, live_v, out = state
        targets = edges.select(F.col(OBJECT).alias(VERTEX_ID)).distinct()
        exposed = r.keep(
            live_v.join(targets, VERTEX_ID, "left_anti"), n=F.count(F.lit(1))
        )
        if r.seen["n"] == 0:
            return state, True
        out = r.keep(
            out.unionByName(
                exposed.select(
                    VERTEX_ID, F.lit(r.n - 1).cast("int").alias("layer")
                )
            )
        )
        live_v = r.keep(live_v.join(exposed, VERTEX_ID, "left_anti"))
        edges = r.keep(
            edges.join(
                exposed.select(F.col(VERTEX_ID).alias(SUBJECT)),
                SUBJECT,
                "left_anti",
            )
        )
        return (edges, live_v, out), False

    edges, live_v, out = iterate(
        lambda r: (
            r.keep(
                graph.edges.select(SUBJECT, OBJECT)
                .filter(F.col(SUBJECT) != F.col(OBJECT))
                .distinct()
            ),
            r.keep(graph.vertices.select(VERTEX_ID)),
            out,
        ),
        expose,
        max_layers,
    ).state
    _free_checkpoint((edges, live_v))
    return out


def coarsen_graph(
    graph: GraphFrame,
    max_rounds: int | None = None,
    strict: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """One multilevel-coarsening step (public technique: the matching-
    contraction level of METIS-style multilevel partitioning, Karypis &
    Kumar '98): contract each :func:`maximal_matching` pair into a
    super-vertex (label = the pair's MIN id; unmatched vertices survive
    as themselves), relabel edges, drop collapsed self-loops, and sum
    edge multiplicity into a ``weight`` column.  Halves the active
    vertex count per level on matchable graphs — the standard preamble
    to partitioning, visualization, or hierarchy-building at web scale.

    Returns ``(mapping, coarse_edges)``: mapping =
    ``(vertex_id, super_id)`` covering EVERY vertex; coarse_edges =
    ``(subject, object, weight)`` over super ids.  Shape: the matching's
    rounds plus two relabel equi-joins and one (subject, object) hash
    agg — no pairwise work.  ``strict=False`` (bounded rounds) makes the
    whole composition SQL-unrollable, the :func:`maximal_matching`
    convention.
    """
    matched = maximal_matching(graph, max_rounds=max_rounds, strict=strict)
    pairs = matched.select(
        F.col("vertex_a").alias(VERTEX_ID),
        F.col("vertex_a").alias("super_id"),
    ).unionByName(
        matched.select(
            F.col("vertex_b").alias(VERTEX_ID),
            F.col("vertex_a").alias("super_id"),
        )
    )
    mapping = (
        graph.vertices.select(VERTEX_ID)
        .join(pairs, VERTEX_ID, "left")
        .select(
            VERTEX_ID,
            F.coalesce("super_id", F.col(VERTEX_ID)).alias("super_id"),
        )
    )
    e = graph.edges.select(SUBJECT, OBJECT)
    coarse = (
        e.join(
            mapping.select(
                F.col(VERTEX_ID).alias(SUBJECT), F.col("super_id").alias("__s")
            ),
            SUBJECT,
        )
        .join(
            mapping.select(
                F.col(VERTEX_ID).alias(OBJECT), F.col("super_id").alias("__o")
            ),
            OBJECT,
        )
        .filter(F.col("__s") != F.col("__o"))
        .groupBy(F.col("__s").alias(SUBJECT), F.col("__o").alias(OBJECT))
        .agg(F.count(F.lit(1)).cast("long").alias("weight"))
    )
    return mapping, coarse


def community_edge_cut(
    graph: GraphFrame,
    labels: DataFrame,
    label_col: str = "label",
) -> DataFrame:
    """Partition-quality metric: the edge cut of a vertex labeling — the
    count and fraction of (distinct, non-loop) edges whose endpoints
    carry different labels (the quantity graph partitioners minimize and
    community detection implicitly optimizes; public standard metric).
    Pipelines use it to audit LPA/CC/coarsening output and to cost a
    partitioning before committing a bucketed layout to storage.

    Two label equi-joins + one scalar aggregate — no pairwise work;
    edges whose endpoints lack a label are counted separately
    (``unlabeled``) rather than silently dropped, so the metric can't
    silently flatter a partial labeling.  Returns ONE row
    (edges, cut_edges, unlabeled, cut_frac round 6).
    """
    e = (
        graph.edges.select(SUBJECT, OBJECT)
        .filter(F.col(SUBJECT) != F.col(OBJECT))
        .distinct()
    )
    ls = labels.select(
        F.col(VERTEX_ID).alias(SUBJECT), F.col(label_col).alias("__ls")
    )
    lo = labels.select(
        F.col(VERTEX_ID).alias(OBJECT), F.col(label_col).alias("__lo")
    )
    j = e.join(ls, SUBJECT, "left").join(lo, OBJECT, "left")
    return j.agg(
        F.count(F.lit(1)).cast("long").alias("edges"),
        F.sum(
            (
                F.col("__ls").isNotNull()
                & F.col("__lo").isNotNull()
                & (F.col("__ls") != F.col("__lo"))
            ).cast("long")
        ).cast("long").alias("cut_edges"),
        F.sum(
            (F.col("__ls").isNull() | F.col("__lo").isNull()).cast("long")
        ).cast("long").alias("unlabeled"),
    ).select(
        "edges",
        "cut_edges",
        "unlabeled",
        F.round(F.col("cut_edges") / F.col("edges"), 6).alias("cut_frac"),
    )


def edge_delta(old_edges: DataFrame, new_edges: DataFrame) -> DataFrame:
    """Edge-set delta between two graph snapshots: ``(subject, object,
    delta)`` with delta ∈ {+1 added, −1 removed}; unchanged edges are
    ABSENT — the whole point of incremental maintenance is that
    downstream work scales with |delta|, not |graph|.  Both inputs are
    treated as edge SETS (distinct).  Two anti equi-joins on the
    md5-free composite key; at 10^12 edges this is the same two-sided
    anti-join shape ``crawl_delta`` uses for pages.
    """
    o = old_edges.select(SUBJECT, OBJECT).distinct()
    n = new_edges.select(SUBJECT, OBJECT).distinct()
    added = n.join(o, [SUBJECT, OBJECT], "left_anti").withColumn(
        "delta", F.lit(1)
    )
    removed = o.join(n, [SUBJECT, OBJECT], "left_anti").withColumn(
        "delta", F.lit(-1)
    )
    return added.unionByName(removed)


def incremental_out_degrees(
    old_degrees: DataFrame, delta: DataFrame
) -> DataFrame:
    """Incremental view maintenance of the out-degree table: apply an
    :func:`edge_delta` to a previously-computed ``(vertex_id,
    out_degree)`` table WITHOUT rescanning the edge set — the standard
    materialized-aggregate maintenance rule (new = old + Σdelta),
    touching O(|delta| + |old|) rows with one tiny hash agg and one
    full-outer join keyed by vertex.  At daily-crawl scale this replaces
    a 10^12-edge rescan with a |changed-edges| pass.

    Result equals a FULL recompute on the new snapshot exactly
    (including the reference out_degrees quirk: vertices whose degree
    drops to 0 leave the table) — equivalence IS the driver oracle.
    Returns ``(vertex_id, out_degree)``.
    """
    dd = delta.groupBy(F.col(SUBJECT).alias(VERTEX_ID)).agg(
        F.sum("delta").cast("long").alias("__dd")
    )
    return (
        old_degrees.join(dd, VERTEX_ID, "full_outer")
        .select(
            VERTEX_ID,
            (
                F.coalesce(F.col("out_degree"), F.lit(0))
                + F.coalesce(F.col("__dd"), F.lit(0))
            ).cast("long").alias("out_degree"),
        )
        .filter(F.col("out_degree") > 0)
    )


def degree_percentiles(graph: GraphFrame, direction: str = "out") -> DataFrame:
    """Per-vertex degree percentile rank — the normalized hubness feature
    ranking models consume (raw degree is scale-dependent; its percentile
    is portable across crawl snapshots).  ``percent_rank`` over (degree,
    vertex_id) — the vertex-id tie-break makes ranks deterministic even
    on the plateau of equal-degree vertices, and SQL-standard
    PERCENT_RANK is engine-identical, so the row is exactly oracled.

    One degree aggregation + one global sort (a window without PARTITION
    BY is range-partitioned by Spark's sort machinery — distributed, not
    single-task; at 10^12 vertices this is the same shape as any global
    ranking).  Returns ``(vertex_id, degree, pct_rank round 6)``.
    """
    from pyspark.sql import Window

    if direction not in ("out", "in"):
        raise ValueError(f"direction must be 'out' or 'in', got {direction}")
    key, cnt = (SUBJECT, OBJECT) if direction == "out" else (OBJECT, SUBJECT)
    deg = graph.edges.groupBy(F.col(key).alias(VERTEX_ID)).agg(
        F.count(cnt).alias("degree")
    )
    w = Window.orderBy("degree", VERTEX_ID)
    return deg.select(
        VERTEX_ID,
        "degree",
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
    )


def _bfs_levels(
    graph: GraphFrame, sources: list[int], max_hops: int
) -> tuple[DataFrame, list[DataFrame], list[int]]:
    """Forward phase of :func:`betweenness` and :func:`edge_betweenness`:
    level-synchronous BFS from ``sources`` with integer path counting on
    the composite key ``(vertex, src)``.  Per hop one frontier×edges
    equi-join, one integer-sum groupBy and one anti-join against the
    settled pairs; stops early when a hop reaches no new pair.

    Returns the materialized distinct edge table, the levels
    ``(vertex_id, src, sigma)``, level 0 being the sources themselves, and
    each level's maximum sigma (observed on its materialization).
    """
    spark = graph.edges.sparkSession
    lvl0 = spark.createDataFrame(
        [(int(s), int(s), 1) for s in sorted(set(sources))],
        schema=f"{VERTEX_ID} long, src long, sigma long",
    )

    def hop(state, r):
        edges, levels, settled = state
        prev = levels[-1]
        msgs = prev.join(edges, prev[VERTEX_ID] == edges[SUBJECT]).select(
            F.col(OBJECT).alias(VERTEX_ID),
            prev["src"].alias("src"),
            prev["sigma"].alias("sigma"),
        )
        nxt = r.keep(
            msgs.groupBy(VERTEX_ID, "src")
            .agg(F.sum("sigma").alias("sigma"))
            .join(settled, [VERTEX_ID, "src"], "left_anti"),
            n=F.count(F.lit(1)),
            sigma=F.max("sigma"),
        )
        if r.seen["n"] == 0:
            return state, True
        sigmas.append(r.seen["sigma"])
        settled = r.keep(settled.unionByName(nxt.select(VERTEX_ID, "src")))
        return (edges, (*levels, nxt), settled), False

    def init(r):
        edges = r.keep(graph.edges.select(SUBJECT, OBJECT).distinct())
        lvl = r.keep(lvl0)
        return edges, (lvl,), lvl.select(VERTEX_ID, "src")

    sigmas = [1]
    edges, levels, settled = iterate(init, hop, max_hops).state
    _free_checkpoint(settled)
    return edges, list(levels), sigmas


def _overflow_guard(name: str, d: int, sigma: int, dmax, scale: int) -> None:
    """Raise if a backward level's scaled-integer term
    ``sigma * (scale + delta)`` could exceed int64."""
    dmax = dmax or 0
    if sigma * (scale + dmax) >= 2**63:
        raise OverflowError(
            f"{name} scaled-int overflow risk at level {d}: "
            f"max sigma {sigma} * (scale + max delta {dmax}) >= 2^63; "
            "lower scale, hops, or the source sample"
        )


def betweenness(
    graph: GraphFrame,
    sources: list[int],
    max_hops: int,
    scale: int = 1_000_000,
) -> DataFrame:
    """Hop-bounded Brandes betweenness centrality from an explicit source
    set (public technique: Brandes JMS'01 dependency accumulation;
    source-sampled betweenness per Brandes-Pich'07 / Riondato-Kornaropoulos
    WSDM'14).  The web-graph use: rank pages by how much shortest-path
    traffic they broker between hub seeds — the navigational-centrality
    complement to PageRank's endorsement centrality.

    Semantics: directed, unit hop metric, shortest paths of length
    ``<= max_hops`` only, sources = the sampled pivot set (exact Brandes
    = all vertices as sources; at 10^12 vertices you sample pivots, which
    is the standard estimator).  Endpoints get no credit (Brandes'
    convention): ``bc(v) = sum over (s, w) pairs of sigma_sv/sigma_sw *
    (1 + delta_w)`` restricted to shortest paths through ``v``.

    Engine-portability: the fractional dependency ``delta`` is carried as
    a SCALED INTEGER — per backward level each term is
    ``(sigma_v * (scale + delta_w)) div sigma_w`` in int64, so every
    aggregation is an integer sum (order-independent, bit-identical in
    any engine) and the DuckDB oracle replays the whole pipeline exactly.
    The floor per term under-counts by < 1/scale per (v, w) pair —
    documented estimator bias, not engine noise.  An overflow guard
    raises if ``max(sigma) * (scale + max(delta))`` could exceed int64 at
    any level (sigma grows with path multiplicity; bounded hops + sampled
    sources keep it small in practice).

    Scale shape: forward phase is level-synchronous BFS with path
    counting on the composite key ``(vertex, src)`` — per hop one
    frontier×edges equi-join, one integer-sum groupBy, one anti-join
    against settled pairs (each pair shuffled O(1) times across the run);
    backward phase mirrors it level by level.  State is O(reached pairs)
    <= |V|·|sources|; plans are truncated per level (O(1) lineage).  No
    reference counterpart (extension — the reference ships no centrality
    beyond its PageRank example config).

    Returns ``(vertex_id, bc_scaled, bc)`` for every vertex reached at
    depth >= 1 from any source: ``bc_scaled`` the exact int64 scaled
    dependency sum, ``bc = round(bc_scaled / scale, 6)``.
    """
    if not sources:
        raise ValueError("sources must name >= 1 vertex id")
    if max_hops < 1:
        raise ValueError(f"max_hops must be >= 1, got {max_hops}")
    if scale < 1:
        raise ValueError(f"scale must be >= 1, got {scale}")
    spark = graph.edges.sparkSession
    edges, levels, sigmas = _bfs_levels(graph, sources, max_hops)
    deepest = len(levels) - 1
    if deepest == 0:
        return spark.createDataFrame(
            [], schema=f"{VERTEX_ID} long, bc_scaled long, bc double"
        )

    # -- backward: scaled-integer dependency accumulation, deepest first --
    def accumulate(deltas, r):
        d = deepest - r.n
        below = (
            levels[d + 1]
            .join(deltas[0], [VERTEX_ID, "src"])
            .select(
                F.col(VERTEX_ID).alias("w_id"),
                F.col("src").alias("w_src"),
                F.col("sigma").alias("w_sigma"),
                F.col("delta").alias("w_delta"),
            )
        )
        _overflow_guard("betweenness", d, sigmas[d], r.prev.get("dmax"), scale)
        cur = levels[d]
        contrib = (
            cur.join(edges, cur[VERTEX_ID] == edges[SUBJECT])
            .join(
                below,
                (F.col(OBJECT) == F.col("w_id")) & (cur["src"] == F.col("w_src")),
            )
            .select(
                cur[VERTEX_ID].alias(VERTEX_ID),
                cur["src"].alias("src"),
                F.expr(f"(sigma * ({scale} + w_delta)) div w_sigma").alias("term"),
            )
            .groupBy(VERTEX_ID, "src")
            .agg(F.sum("term").alias("delta"))
        )
        delta_d = r.keep(
            levels[d]
            .select(VERTEX_ID, "src")
            .join(contrib, [VERTEX_ID, "src"], "left")
            .fillna({"delta": 0}),
            dmax=F.max("delta"),
        )
        return (delta_d, *deltas), False

    zero = F.lit(0).cast("long").alias("delta")
    deltas = iterate(
        lambda r: (levels[deepest].select(VERTEX_ID, "src", zero),),
        accumulate,
        deepest - 1,
    ).state
    # -- fold: per-vertex sum over sources and levels --
    acc = deltas[0]
    for delta in deltas[1:]:
        acc = acc.unionByName(delta)
    return acc.groupBy(VERTEX_ID).agg(
        F.sum("delta").alias("bc_scaled"),
        F.round(F.sum("delta") / F.lit(float(scale)), 6).alias("bc"),
    )


def minimum_spanning_forest(
    graph: GraphFrame,
    max_rounds: int | None = None,
    strict: bool = True,
) -> DataFrame:
    """Minimum spanning forest via Borůvka's algorithm — the canonical
    O(log n)-round distributed MSF (public technique: Borůvka 1926;
    the parallel formulation is standard in Pregel/MapReduce texts, e.g.
    Malewicz et al. SIGMOD'10 §1 cites it as a motivating workload).
    Web-pipeline uses: cheapest backbone of a host-similarity graph,
    single-linkage clustering of near-dup components (MSF = the
    single-linkage dendrogram), redundancy pruning of crawl topologies.

    Weights: if the edge table has a ``weight`` column the undirected
    simple view takes MIN(weight) per (a, b) pair; otherwise the
    deterministic ``1 + (a + b) % 5``, exact for any ids (the
    :func:`sssp_weighted` convention).  Ties are broken by the composite
    total order ``(weight, a, b)`` — collision-free, so the MSF is UNIQUE
    and equals Kruskal's result under the same order (exact oracle, no
    tie-ambiguity).

    Per Borůvka round: every component picks its minimum incident
    cross-component edge (one union + one struct-min hash agg — the
    :func:`maximal_matching` idiom lifted to components), mutual picks'
    2-cycles are broken toward the smaller label, and the resulting
    parent forest is contracted by pointer doubling (O(log depth) tiny
    self-joins).  Every component with a live edge merges, so component
    count at least halves per round — O(log n) rounds total.  The live
    edge set only shrinks (intra-component edges are dropped each round),
    bounding every shuffle by the surviving frontier; a mega-hub costs
    one agg row per component, never its adjacency in one task.

    No reference counterpart (extension).  Returns the forest edges
    ``(vertex_a, vertex_b, weight)`` with ``vertex_a < vertex_b``.
    ``max_rounds`` defaults to 50 with a loud error on non-convergence
    when ``strict`` (the :func:`maximal_independent_set` convention);
    ``strict=False`` returns the bounded-prefix forest (the oracle mode:
    a fixed round budget is exactly SQL-unrollable).
    """
    if max_rounds is None:
        max_rounds = 50
    if max_rounds < 1:
        raise ValueError(f"max_rounds must be >= 1, got {max_rounds}")
    has_w = "weight" in graph.edges.columns
    base = graph.edges.select(
        F.least(SUBJECT, OBJECT).alias("a"),
        F.greatest(SUBJECT, OBJECT).alias("b"),
        *([F.col("weight").cast("long").alias("w")] if has_w else []),
    ).filter(F.col("a") != F.col("b"))
    if has_w:
        und0 = base.groupBy("a", "b").agg(F.min("w").alias("w"))
    else:
        # exact for any ids: a + b in decimal(20,0) cannot overflow
        # (xxhash64 ids near 2^62 do in bigint, which ANSI mode raises),
        # and its sign-preserving % 5 equals bigint's wherever that fits
        a, b = (F.col(c).cast("decimal(20,0)") for c in "ab")
        und0 = base.distinct().withColumn(
            "w", (F.lit(1) + (a + b) % F.lit(5)).cast("long")
        )
    spark = graph.edges.sparkSession
    forest = spark.createDataFrame([], "vertex_a long, vertex_b long, weight long")

    def jump(par: DataFrame, r) -> tuple[DataFrame, bool]:
        j = (
            par.select("c", F.col("p").alias("mid"))
            .join(par.select(F.col("c").alias("mid"), F.col("p").alias("p2")), "mid")
        )
        par = r.keep(
            j.select(
                "c",
                F.col("p2").alias("p"),
                (F.col("p2") != F.col("mid")).alias("moved"),
            ),
            moved=F.count_if("moved"),
        )
        return par, r.seen["moved"] == 0

    def boruvka(state, r):
        und, comp, forest = state
        live = r.keep(
            und.join(
                comp.select(F.col("v").alias("a"), F.col("comp").alias("ca")), "a"
            )
            .join(
                comp.select(F.col("v").alias("b"), F.col("comp").alias("cb")), "b"
            )
            .filter(F.col("ca") != F.col("cb"))
            .select("a", "b", "w", "ca", "cb"),
            n=F.count(F.lit(1)),
        )
        if r.seen["n"] == 0:
            return state, True
        est = F.struct("w", "a", "b", "oc")
        cand = live.select(
            F.col("ca").alias("c"), "w", "a", "b", F.col("cb").alias("oc")
        ).unionByName(
            live.select(
                F.col("cb").alias("c"), "w", "a", "b", F.col("ca").alias("oc")
            )
        )
        pick = cand.select("c", est.alias("e")).groupBy("c").agg(
            F.min("e").alias("e")
        )
        parent0 = pick.select(
            "c",
            F.col("e.oc").alias("p"),
            F.col("e.w").alias("w"),
            F.col("e.a").alias("a"),
            F.col("e.b").alias("b"),
        )
        chosen = parent0.select("w", "a", "b").distinct()
        forest = r.keep(
            forest.unionByName(
                chosen.select(
                    F.col("a").alias("vertex_a"),
                    F.col("b").alias("vertex_b"),
                    F.col("w").alias("weight"),
                )
            )
        )
        # break mutual-pick 2-cycles toward the smaller label (the merged
        # tree's root), then contract by pointer doubling
        mm = parent0.select("c", "p")
        mutual = mm.intersect(
            mm.select(F.col("p").alias("c"), F.col("c").alias("p"))
        ).withColumn("m", F.lit(1))
        par = mm.join(mutual, ["c", "p"], "left").select(
            "c",
            F.when(
                F.col("m").isNotNull() & (F.col("c") < F.col("p")), F.col("c")
            )
            .otherwise(F.col("p"))
            .alias("p"),
        )
        par = r.keep(iterate(lambda q: q.keep(par), jump).state)
        comp = r.keep(
            comp.join(par.select(F.col("c").alias("comp"), "p"), "comp", "left")
            .select("v", F.coalesce("p", "comp").alias("comp"))
        )
        # intra-component edges never come back: shrink the live set
        return (r.keep(live.select("a", "b", "w")), comp, forest), False

    def init(r):
        und = r.keep(und0)
        comp = (
            und.select(F.col("a").alias("v"))
            .unionByName(und.select(F.col("b").alias("v")))
            .distinct()
            .select("v", F.col("v").alias("comp"))
        )
        return und, r.keep(comp), forest

    (und, comp, forest), _, converged = iterate(init, boruvka, max_rounds)
    _free_checkpoint((und, comp))
    if strict and not converged:
        _free_checkpoint(forest)
        raise RuntimeError(
            f"minimum_spanning_forest did not converge in {max_rounds} rounds; "
            "raise max_rounds (O(log n) expected) or pass strict=False for "
            "the bounded-prefix forest"
        )
    return forest


def greedy_coloring(
    graph: GraphFrame,
    max_rounds: int | None = None,
    strict: bool = True,
) -> DataFrame:
    """Distributed greedy graph coloring — Jones-Plassmann (public
    technique: Jones & Plassmann, SIAM J. Sci. Comput. 1993; the standard
    parallel greedy coloring).  Web-pipeline uses: conflict-free
    scheduling rounds (hosts sharing an edge never crawl in the same
    slot), register allocation-style resource assignment over co-location
    graphs, and seeding for distributed symmetry breaking.

    Per round, every uncolored vertex whose deterministic priority
    (:func:`_mis_priority`, ties on vertex id — collision-free total
    order) is a strict local maximum among its UNCOLORED neighbors picks
    the minimum color unused by its colored neighbors (the greedy mex).
    Selected sets per round are independent sets, so the coloring is
    always proper; every round colors at least the globally maximal
    uncolored vertex (termination), and hash priorities give the usual
    O(log n / log log n)-ish expected rounds on bounded-degree graphs.

    The mex is computed distributively, never per-vertex in Python:
    candidates = {0} ∪ {c+1 : c a colored-neighbor color}, mex = MIN
    candidate that is NOT itself a colored-neighbor color — one union,
    one anti-join, one MIN agg, all integer-exact (SQL-replayable).
    Per round: the live-edge neighbor view shrinks monotonically
    (colored endpoints drop out), bounding every shuffle by the
    surviving frontier.  Colors are dense small ints ≤ degeneracy+1 in
    the usual greedy sense (not optimal chromatic — NP-hard).

    No reference counterpart (extension).  Returns ``(vertex_id,
    color)``; ``max_rounds`` defaults to 50 with a loud error on
    non-convergence when ``strict`` (the :func:`maximal_independent_set`
    convention); ``strict=False`` returns the bounded-prefix partial
    coloring (the oracle mode — vertices not yet colored are absent).
    """
    if max_rounds is None:
        max_rounds = 50
    if max_rounds < 1:
        raise ValueError(f"max_rounds must be >= 1, got {max_rounds}")
    und = _und_simple(graph.edges)
    spark = graph.edges.sparkSession
    colored = spark.createDataFrame([], f"{VERTEX_ID} long, color int")

    def jones_plassmann(state, r):
        nbr, uncol, colored = state
        if r.prev["n"] == 0:
            return state, True
        # edges whose BOTH endpoints are uncolored decide local maxima
        live = nbr.join(uncol, "v").join(
            uncol.select(F.col("v").alias("u")), "u"
        )
        pv, pu = _mis_priority(F.col("v")), _mis_priority(F.col("u"))
        losers = (
            live.filter(
                (pv < pu) | ((pv == pu) & (F.col("v") < F.col("u")))
            )
            .select("v")
            .distinct()
        )
        sel = r.keep(uncol.join(losers, "v", "left_anti"))
        # greedy mex over already-colored neighbors
        nc = (
            nbr.join(sel, "v")
            .join(
                colored.select(
                    F.col(VERTEX_ID).alias("u"), F.col("color").alias("c")
                ),
                "u",
            )
            .select("v", "c")
            .distinct()
        )
        cand = sel.select("v", F.lit(0).alias("k")).unionByName(
            nc.select("v", (F.col("c") + 1).alias("k"))
        )
        mex = (
            cand.join(
                nc.select("v", F.col("c").alias("k")), ["v", "k"], "left_anti"
            )
            .groupBy("v")
            .agg(F.min("k").cast("int").alias("color"))
        )
        colored = r.keep(
            colored.unionByName(
                mex.select(F.col("v").alias(VERTEX_ID), "color")
            )
        )
        uncol = r.keep(
            uncol.join(sel, "v", "left_anti"), n=F.count(F.lit(1))
        )
        return (nbr, uncol, colored), False

    def init(r):
        nbr = r.keep(_symmetric(und))
        return nbr, r.keep(nbr.select("v").distinct(), n=F.count(F.lit(1))), colored

    (nbr, uncol, colored), _, converged = iterate(
        init, jones_plassmann, max_rounds
    )
    _free_checkpoint((nbr, uncol))
    if strict and not converged:
        _free_checkpoint(colored)
        raise RuntimeError(
            f"greedy_coloring did not converge in {max_rounds} rounds; "
            "raise max_rounds or pass strict=False for the bounded-prefix "
            "partial coloring"
        )
    return colored


def _symmetric(und: DataFrame) -> DataFrame:
    """Both directions ``(v, u)`` of a canonical undirected edge table."""
    return und.select(F.col("a").alias("v"), F.col("b").alias("u")).unionByName(
        und.select(F.col("b").alias("v"), F.col("a").alias("u"))
    )


_WL_M = 999_999_999_989  # largest prime < 1e12: keeps h*A in int64
_WL_A = 104_729
_WL_B = 7_919


def _wl_hash(x):
    """Lehmer-style recolor hash over the WL modulus — reduced before the
    multiply so everything stays in int64 (term < 1e12, ×104729 < 2^63)."""
    m = F.lit(_WL_M)
    return (((x % m) + m) % m * F.lit(_WL_A) + F.lit(_WL_B)) % m


def wl_colors(graph: GraphFrame, rounds: int = 2) -> DataFrame:
    """1-dimensional Weisfeiler-Leman color refinement (public technique:
    the WL isomorphism test; Shervashidze et al. JMLR'11 WL kernels; the
    expressiveness yardstick of message-passing GNNs, Xu et al. ICLR'19).
    Web-pipeline uses: structural-role features (two pages with the same
    WL color at round k have isomorphic k-hop neighborhoods up to hash
    collision) for template/mirror detection, spam-farm shape signatures,
    and GNN pre-bucketing.

    This is the SUM-HASH variant: a vertex's new color is
    ``(13·h(c_v) + Σ_u h(c_u)) mod M`` over its undirected neighbors,
    with ``h`` the Lehmer hash above and M prime < 1e12 — the neighbor
    multiset enters through an order-independent integer SUM, so the
    operator is one equi-join + one map-side-combinable hash agg per
    round (no collect_list: a mega-hub costs a running sum, never its
    adjacency in one buffer) and the arithmetic replays exactly in ANSI
    SQL.  Versus canonical sorted-multiset WL this trades theoretical
    injectivity for hash equality-up-to-collision (< 1e-4 total at 1e4
    vertices against M ≈ 1e12; partial sums stay in int64 for degrees
    < ~9·10^6 — beyond that, pre-reduce per salt bucket).  Initial color
    = degree.

    No reference counterpart (extension).  Returns ``(vertex_id,
    wl_color)`` for every non-isolated vertex.
    """
    if rounds < 0:
        raise ValueError(f"rounds must be >= 0, got {rounds}")
    und = _und_simple(graph.edges)

    def refine(state, r):
        nbr, col = state
        msgs = nbr.join(
            col.select(F.col("v").alias("u"), F.col("c").alias("cu")), "u"
        ).select("v", _wl_hash(F.col("cu")).alias("t"))
        sums = msgs.groupBy("v").agg((F.sum("t") % F.lit(_WL_M)).alias("s"))
        col = r.keep(
            col.join(sums, "v").select(
                "v",
                (
                    (F.lit(13) * _wl_hash(F.col("c")) % F.lit(_WL_M) + F.col("s"))
                    % F.lit(_WL_M)
                ).alias("c"),
            )
        )
        return (nbr, col), False

    def init(r):
        nbr = r.keep(_symmetric(und))
        return nbr, r.keep(
            nbr.groupBy("v").agg((F.count(F.lit(1)) % F.lit(_WL_M)).alias("c"))
        )

    nbr, col = iterate(init, refine, rounds).state
    _free_checkpoint(nbr)
    return col.select(F.col("v").alias(VERTEX_ID), F.col("c").alias("wl_color"))


def densest_subgraph(
    graph: GraphFrame,
    epsilon_num: int = 1,
    epsilon_den: int = 2,
    max_rounds: int | None = None,
    return_subgraph: bool = False,
):
    """Greedy 2(1+ε)-approximate densest subgraph via batched peeling
    (Charikar 2000 greedy; Bahmani, Kumar & Vassilvitskii, VLDB 2012
    MapReduce batched variant — both public literature; no reference
    counterpart — extension).  On web graphs the densest subgraph is the
    classic link-farm / spam-cluster detector: a ρ≈E/V far above the
    corpus average flags a tightly interlinked region.

    Per round, on the current undirected simple subgraph with V vertices
    (edge endpoints), E edges and density ρ = E/V, EVERY vertex with
    degree ≤ 2(1+ε)ρ is removed at once; the round whose subgraph had the
    maximum density wins.  Bahmani et al. prove O(log_{1+ε} n) rounds and
    a 2(1+ε) approximation factor.  ε is passed as the exact rational
    ``epsilon_num/epsilon_den`` so the peel test is INTEGER arithmetic —
    remove v  iff  deg(v)·V·eps_den ≤ 2·(eps_den+eps_num)·E — replayable
    bit-for-bit by a SQL oracle (defaults give deg·V ≤ 3·E).  Both sides
    are computed in decimal(38,0): at 10^12 vertices deg·V overflows
    int64, decimal does not.

    Scale shape: each round is one degree hash-aggregation + two
    semi-joins on the shrinking edge set (O(E_t) shuffle, key-partitioned);
    the edge set and the degree table are materialized, and V_t and E_t
    are observed on those two jobs — no action of their own.  Lineage is
    truncated per round.  The density trace lives in O(rounds) driver
    scalars — never row data.

    Returns a trace DataFrame ``(peel_round, n_vertices, n_edges,
    density)`` (density = E/V rounded 6 dp; round 0 is the input graph) — or, with
    ``return_subgraph=True``, the tuple ``(trace, vertices)`` where
    ``vertices`` is ``(vertex_id, degree)`` of the best (max-density,
    earliest-round tie-break) subgraph.

    ``max_rounds`` bounds the peel count (deterministic prefix — the
    driver-gate query uses 2 so the DuckDB oracle can unroll it);
    ``None`` peels until the subgraph is empty (the full algorithm).
    """
    if epsilon_num < 0 or epsilon_den <= 0:
        raise ValueError(
            f"epsilon must be a nonnegative rational, got "
            f"{epsilon_num}/{epsilon_den}"
        )
    spark = graph.edges.sparkSession
    und = _und_simple(graph.edges)
    coef = 2 * (epsilon_den + epsilon_num)

    # V and E are observed on the materializations of the degree table
    # and the edge set; the density trace lives in O(rounds) scalars
    def measured(und: DataFrame, r) -> tuple[DataFrame, DataFrame]:
        und = r.keep(und, n_e=F.count(F.lit(1)))
        return und, r.keep(_degrees(und), n_v=F.count(F.lit(1)))

    trace: list[tuple[int, int, int, float]] = []
    best_density = -1.0

    def peel(state, r):
        nonlocal best_density
        und, deg, best = state
        n_v, n_e = r.prev["n_v"], r.prev["n_e"]
        density = 0.0 if n_v == 0 else round(n_e / n_v, 6)
        trace.append((r.n - 1, n_v, n_e, density))
        if return_subgraph and density > best_density and n_v > 0:
            best, best_density = deg, density
        if n_e == 0 or (max_rounds is not None and r.n > max_rounds):
            return (und, deg, best), True
        # integer-exact batched peel: KEEP v iff deg·V·den > coef·E
        keep = deg.filter(
            F.col("degree").cast("decimal(38,0)")
            * F.lit(n_v).cast("decimal(38,0)")
            * F.lit(epsilon_den)
            > F.lit(coef).cast("decimal(38,0)")
            * F.lit(n_e).cast("decimal(38,0)")
        ).select(VERTEX_ID)
        nxt = und.join(
            keep.select(F.col(VERTEX_ID).alias("a")), "a", "left_semi"
        ).join(keep.select(F.col(VERTEX_ID).alias("b")), "b", "left_semi")
        return (*measured(nxt, r), best), False

    und, deg, best = iterate(
        lambda r: (*measured(und, r), None), peel
    ).state
    _free_checkpoint((und, deg) if deg is not best else und)
    trace_df = spark.createDataFrame(
        trace, "peel_round int, n_vertices bigint, n_edges bigint, density double"
    )
    if return_subgraph:
        return trace_df, (
            best
            if best is not None
            else spark.createDataFrame([], f"{VERTEX_ID} bigint, degree bigint")
        )
    return trace_df


def node2vec_walks(
    graph: GraphFrame,
    length: int,
    w_return: int = 1,
    w_near: int = 4,
    w_far: int = 2,
    seed: int = 42,
    starts: DataFrame | None = None,
    nbr_buckets: int = 32,
) -> DataFrame:
    """Second-order biased walks (node2vec — Grover & Leskovec, KDD 2016;
    public literature; no reference counterpart — extension): the
    transition out of ``cur`` given the previous vertex weights each
    candidate ``nxt`` by the node2vec α — return (``nxt == prev``),
    near (``(prev, nxt)`` is an edge — BFS-like), far (everything else —
    DFS-like).  Weights are INTEGERS (α(1/p, 1, 1/q) scaled by a common
    multiple: e.g. p=1, q=2 → ``(w_return, w_near, w_far) = (2, 2, 1)``),
    so the weighted pick is exact modular arithmetic, reproducible across
    engines and cluster sizes and SQL-replayable like
    :func:`random_walks`:

        r_t = ((walk % 1000003)·7919 + (cur % 999983)·104729
               + (prev % 999983)·31 + t·7919 + seed) mod W

    with ``W`` the walk's total candidate weight; the picked neighbour is
    the first (by neighbour index) whose cumulative weight exceeds
    ``r_t``.  Step 1 has no ``prev`` and uses :func:`random_walks`'
    uniform first-order pick (the node2vec convention).

    Scale shape: per step, one equi-join to the neighbour index, one
    ``(prev, nxt)``-keyed edge-membership left join (THE node2vec cost —
    O(walks · avg_degree) candidate rows, all key-partitioned, no
    pairwise blow-up), and one per-walk window (a walk has ≤ deg(cur)
    candidate rows).  State is O(walks); lineage truncated per step;
    walks stop early at dangling vertices.  Start from a vertex sample
    via ``starts`` at web scale, exactly as in :func:`random_walks`.
    The neighbour index is the hub-safe bucketed build of
    :func:`_neighbor_index` (``nbr_buckets``), bit-identical to the
    single-window index at any bucket count.

    Returns ``(walk_id, step, vertex_id)`` — step 0 is the start vertex.
    """
    from pyspark.sql.window import Window

    if length < 0:
        raise ValueError(f"length must be >= 0, got {length}")
    if min(w_return, w_near, w_far) < 1:
        raise ValueError(
            f"integer weights must be >= 1, got "
            f"({w_return}, {w_near}, {w_far})"
        )
    edges = graph.edges.select(SUBJECT, OBJECT).distinct()
    nbr = truncate_plan(_neighbor_index(edges, nbr_buckets))
    deg = truncate_plan(
        edges.groupBy(F.col(SUBJECT).alias("deg_subject")).agg(
            F.count(F.lit(1)).alias("out_degree")
        )
    )
    flag = edges.select(
        F.col(SUBJECT).alias("__ps"),
        F.col(OBJECT).alias("__po"),
        F.lit(1).alias("__near"),
    )

    start_set = graph.vertices if starts is None else starts
    state = start_set.select(
        F.col(VERTEX_ID).alias("walk_id"),
        F.col(VERTEX_ID).alias("vertex_id"),
        F.lit(None).cast("long").alias("prev"),
        F.lit(0).alias("step"),
    )
    frames = [state]
    for t in range(1, length + 1):
        if t == 1:
            j = state.join(
                deg, state["vertex_id"] == deg["deg_subject"], "inner"
            )
            pick = (
                (F.col("walk_id").cast("long") % F.lit(1000003))
                * F.lit(7919)
                + (F.col("vertex_id").cast("long") % F.lit(999983))
                * F.lit(104729)
                + F.lit(t * 7919 + seed)
            ) % F.col("out_degree")
            j = j.select(
                "walk_id",
                F.col("vertex_id").alias("cur"),
                pick.alias("pick_idx"),
            )
            state = truncate_plan(
                j.join(
                    nbr,
                    (j["cur"] == nbr["nbr_subject"])
                    & (j["pick_idx"] == nbr["nbr_idx"]),
                    "inner",
                ).select(
                    "walk_id",
                    F.col("nbr_object").alias("vertex_id"),
                    F.col("cur").alias("prev"),
                    F.lit(t).alias("step"),
                )
            )
        else:
            cand = (
                state.join(
                    nbr, state["vertex_id"] == nbr["nbr_subject"], "inner"
                )
                .join(
                    flag,
                    (F.col("prev") == F.col("__ps"))
                    & (F.col("nbr_object") == F.col("__po")),
                    "left",
                )
                .select(
                    "walk_id",
                    F.col("prev"),
                    F.col("vertex_id").alias("cur"),
                    F.col("nbr_object").alias("nxt"),
                    "nbr_idx",
                    F.when(F.col("nbr_object") == F.col("prev"),
                           F.lit(w_return))
                    .when(F.col("__near").isNotNull(), F.lit(w_near))
                    .otherwise(F.lit(w_far))
                    .cast("long")
                    .alias("w"),
                )
            )
            wtot = Window.partitionBy("walk_id")
            wcum = (
                Window.partitionBy("walk_id")
                .orderBy("nbr_idx")
                .rowsBetween(Window.unboundedPreceding, -1)
            )
            r = (
                (F.col("walk_id").cast("long") % F.lit(1000003))
                * F.lit(7919)
                + (F.col("cur").cast("long") % F.lit(999983))
                * F.lit(104729)
                + (F.col("prev").cast("long") % F.lit(999983)) * F.lit(31)
                + F.lit(t * 7919 + seed)
            ) % F.sum("w").over(wtot)
            cand = cand.select(
                "walk_id", "cur", "nxt",
                F.coalesce(F.sum("w").over(wcum), F.lit(0)).alias("cb"),
                F.col("w"),
                r.alias("r"),
            )
            state = truncate_plan(
                cand.filter(
                    (F.col("cb") <= F.col("r"))
                    & (F.col("r") < F.col("cb") + F.col("w"))
                ).select(
                    "walk_id",
                    F.col("nxt").alias("vertex_id"),
                    F.col("cur").alias("prev"),
                    F.lit(t).alias("step"),
                )
            )
        frames.append(state)

    out = frames[0].select("walk_id", "step", "vertex_id")
    for f in frames[1:]:
        out = out.unionAll(f.select("walk_id", "step", "vertex_id"))
    return out


def skipgram_pairs(walks: DataFrame, window: int = 2) -> DataFrame:
    """Skip-gram training pairs from a walk corpus (DeepWalk/node2vec's
    corpus-generation stage — Perozzi et al. KDD 2014; public
    literature): every ordered (center, context) pair of vertices that
    co-occur within ``window`` steps on the same walk, with its
    occurrence count — the input to any word2vec-style embedding
    trainer (and, symmetrized+counted, the co-occurrence matrix the
    PMI factorization view of word2vec uses).

    ``walks`` is :func:`random_walks` / :func:`node2vec_walks` output
    ``(walk_id, step, vertex_id)``.  One self equi-join on walk_id with
    the |Δstep| ≤ window band predicate, one count agg — walks are
    O(length) rows each, so the join fans out ≤ 2·window rows per
    position: O(corpus · window), never pairwise in the graph.  Returns
    ``(center, context, cnt)``.
    """
    if window < 1:
        raise ValueError(f"window must be >= 1, got {window}")
    a = walks.select(
        "walk_id",
        F.col("step").alias("__sa"),
        F.col("vertex_id").alias("center"),
    )
    b = walks.select(
        "walk_id",
        F.col("step").alias("__sb"),
        F.col("vertex_id").alias("context"),
    )
    return (
        a.join(b, "walk_id")
        .filter(
            (F.col("__sa") != F.col("__sb"))
            & (F.abs(F.col("__sa") - F.col("__sb")) <= window)
        )
        .groupBy("center", "context")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def pmi_scores(pairs: DataFrame) -> DataFrame:
    """Pointwise mutual information over a co-occurrence pair table —
    word2vec-as-implicit-matrix-factorization's target matrix (Levy &
    Goldberg, NeurIPS 2014; public literature):

        pmi(x, y) = ln( cnt(x,y) · T / (cnt(x,·) · cnt(·,y)) )

    with T the total pair count; rounded 6 dp (the float-log convention
    of ``dsir_weights``).  ``pairs`` is :func:`skipgram_pairs` output
    ``(center, context, cnt)``.

    Scale shape: two marginal hash aggs (vertex-keyed, broadcast if the
    vocabulary is small, shuffle-joined otherwise), one single-row total
    crossJoined in, one map-side expression — no pairwise work beyond
    the input's own rows.  Returns ``(center, context, cnt, pmi)``.
    """
    mc = pairs.groupBy("center").agg(F.sum("cnt").alias("__cc"))
    mx = pairs.groupBy("context").agg(F.sum("cnt").alias("__cx"))
    tot = pairs.agg(F.sum("cnt").alias("__t"))
    return (
        pairs.join(mc, "center")
        .join(mx, "context")
        .crossJoin(F.broadcast(tot))
        .select(
            "center",
            "context",
            "cnt",
            F.round(
                F.log(
                    F.col("cnt").cast("double")
                    * F.col("__t").cast("double")
                    / (
                        F.col("__cc").cast("double")
                        * F.col("__cx").cast("double")
                    )
                ),
                6,
            ).alias("pmi"),
        )
    )


def powerlaw_alpha(
    graph: GraphFrame, dmin: int = 2, direction: str = "out"
) -> DataFrame:
    """Power-law exponent MLE for the degree distribution — the classic
    web-graph-shape measurement (continuous-approximation maximum
    likelihood: Newman 2005 §3; Clauset, Shalizi & Newman, SIAM Rev.
    2009, eq. 3.1 — public literature; no reference counterpart —
    extension):

        α̂ = 1 + n_tail / Σ_{d_i ≥ dmin} ln( d_i / (dmin − 1/2) )

    over the vertices with ``direction`` degree ≥ ``dmin``.  A web link
    graph typically fits α ≈ 2.1 in-degree / ≈ 2.7 out-degree; a
    pipeline whose extracted edge table drifts far from its historical α
    has a parser or dedup regression.

    Scale shape: one degree hash-aggregation + one single-row aggregate
    (a sum of logs) — nothing collected, no joins.  Returns one row
    ``(n_tail, dmin, alpha)`` (alpha rounded 6 dp; NULL when no vertex
    reaches ``dmin`` or every tail degree equals ``dmin - 1/2``'s
    boundary — i.e. the log-sum is 0).
    """
    if dmin < 1:
        raise ValueError(f"dmin must be >= 1, got {dmin}")
    if direction not in ("out", "in"):
        raise ValueError(f"direction must be 'out' or 'in', got {direction}")
    key = SUBJECT if direction == "out" else OBJECT
    deg = (
        graph.edges.select(key)
        .groupBy(key)
        .agg(F.count(F.lit(1)).alias("d"))
        .filter(F.col("d") >= dmin)
    )
    denom = F.sum(F.log(F.col("d").cast("double") / (dmin - 0.5)))
    return deg.agg(
        F.count(F.lit(1)).alias("n_tail"),
        F.lit(dmin).alias("dmin"),
        F.round(
            F.when(
                denom > 0,
                F.lit(1.0) + F.count(F.lit(1)) / denom,
            ),
            6,
        ).alias("alpha"),
    )


def eigenvector_centrality(graph: GraphFrame, k: int = 3) -> DataFrame:
    """Truncated power-iteration eigenvector centrality (Bonacich 1972;
    the power method — public literature; no reference counterpart —
    extension), kept INTEGER-EXACT the same way :func:`hits` stays
    unnormalized: from x₀ = 1, each step is x_{t+1}(v) = Σ_{u→v} x_t(u),
    so x_k(v) is the NUMBER OF k-STEP IN-PATHS ending at v — pure int64
    arithmetic, order-independent, bit-identical in any engine.  The
    returned ``score`` divides by the single total (one scalar) and
    rounds 6 dp — the direction of the dominant eigenvector without a
    per-step float normalization that would break exact replay.

    int64 bound: x_k ≤ (max in-degree)^k; with the default k=3 that
    overflows only past ~2×10⁶ max degree — raise ``k`` with care on
    hub-heavy graphs (the bound is the documented contract, the same
    one as ``kmeans_assign``'s scaled-int sums).

    Scale shape: k edge equi-joins + k vertex-keyed integer-sum aggs,
    lineage truncated per step; one O(1) scalar action at the end.
    Returns ``(vertex_id, paths_k, score)``.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    e = graph.edges.select(SUBJECT, OBJECT)
    x = graph.vertices.select(
        VERTEX_ID, F.lit(1).cast("long").alias("x")
    )

    def power(x: DataFrame, r) -> tuple[DataFrame, bool]:
        nxt = (
            e.join(
                x.select(
                    F.col(VERTEX_ID).alias("__u"), F.col("x").alias("__xu")
                ),
                e[SUBJECT] == F.col("__u"),
            )
            .groupBy(F.col(OBJECT).alias(VERTEX_ID))
            .agg(F.sum("__xu").alias("x"))
        )
        return r.keep(
            graph.vertices.select(VERTEX_ID)
            .join(nxt, VERTEX_ID, "left")
            .select(VERTEX_ID, F.coalesce("x", F.lit(0)).alias("x"))
        ), False

    x = iterate(lambda r: x, power, k).state
    tot = x.agg(F.sum("x").alias("__t"))
    return (
        x.crossJoin(F.broadcast(tot))
        .select(
            VERTEX_ID,
            F.col("x").alias("paths_k"),
            F.round(
                F.when(
                    F.col("__t") > 0,
                    F.col("x").cast("double") / F.col("__t").cast("double"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("score"),
        )
    )

def louvain(graph: GraphFrame, rounds: int = 2) -> DataFrame:
    """One-level Louvain local moving (Blondel et al. 2008, "Fast
    unfolding of communities in large networks"; public literature — no
    reference counterpart, extension beyond pregel-rs src/graph_frame.rs):
    from singleton communities, each round every ELIGIBLE vertex moves to
    the neighboring community with the highest modularity gain

        ΔQ(v→c) ∝ gain2 = 2·m·k_{v,c} − k_v·Σ_tot(c∖v)

    (the standard isolated-vertex gain scaled by 2m² so every term is an
    exact int64 — same portability convention as :func:`modularity` /
    :func:`eigenvector_centrality`), moving only when gain2 > 0,
    tie-break smallest community id.  SYNCHRONOUS parallel moving
    oscillates on symmetric pairs (u takes v's label while v takes u's),
    so rounds alternate eligibility by vertex-id parity — even ids move
    on even rounds, odd ids on odd rounds — the oscillation guard used
    by public distributed-Louvain implementations (Sotera's
    distributed-louvain-modularity heuristic of letting only part of the
    vertices move per pass).  Deterministic, integer-exact, and
    SQL-replayable round by round.

    int64 bound: 2·m·k_{v,c} ≤ 2·m·k_max — overflows only past
    m·k_max ≈ 4.6×10¹⁸ (e.g. 10¹² edges with a 4.6×10⁶-degree hub),
    the same documented contract as ``eigenvector_centrality``.

    Scale shape per round: one neighbor-label equi-join on the
    symmetrized edge table + three vertex/community-keyed hash aggs
    (k_{v,c}, Σ_tot, two-stage arg-max — no windows, so a mega-hub's
    candidate set never sits in one task's sort); lineage truncated per
    round.  Labels are one long per vertex.

    Returns ``(vertex_id, community)`` for every graph vertex.
    """
    if rounds < 1:
        raise ValueError(f"rounds must be >= 1, got {rounds}")
    und = _und_simple(graph.edges)
    adj = und.select(F.col("a").alias("v"), F.col("b").alias("nb")).unionAll(
        und.select(F.col("b").alias("v"), F.col("a").alias("nb"))
    )
    deg = adj.groupBy("v").agg(F.count(F.lit(1)).alias("k"))
    m = und.agg(F.count(F.lit(1)).cast("long").alias("m"))
    labels = graph.vertices.select(
        VERTEX_ID, F.col(VERTEX_ID).alias("community")
    )
    def move(labels: DataFrame, r) -> tuple[DataFrame, bool]:
        lnb = labels.select(
            F.col(VERTEX_ID).alias("nb"), F.col("community").alias("c")
        )
        cand = adj.join(lnb, "nb").groupBy("v", "c").agg(
            F.count(F.lit(1)).alias("kvc")
        )
        tot = (
            labels.join(deg, labels[VERTEX_ID] == deg["v"])
            .groupBy(F.col("community").alias("c"))
            .agg(F.sum("k").alias("tot_c"))
        )
        own = labels.select(
            F.col(VERTEX_ID).alias("v"), F.col("community").alias("own_c")
        )
        gains = (
            cand.join(tot, "c")
            .join(own, "v")
            .join(deg, "v")
            .crossJoin(F.broadcast(m))
            .select(
                "v",
                "c",
                (
                    F.lit(2) * F.col("m") * F.col("kvc")
                    - F.col("k")
                    * (
                        F.col("tot_c")
                        - F.when(F.col("own_c") == F.col("c"), F.col("k")).otherwise(
                            F.lit(0)
                        )
                    )
                ).alias("gain2"),
            )
            .filter(F.col("gain2") > 0)
        )
        # two-stage arg-max (max gain, then min community id) — no window
        mx = gains.groupBy("v").agg(F.max("gain2").alias("mg"))
        best = (
            gains.join(mx, "v")
            .filter(F.col("gain2") == F.col("mg"))
            .groupBy("v")
            .agg(F.min("c").alias("new_c"))
        )
        labels = r.keep(
            labels.join(
                best, labels[VERTEX_ID] == best["v"], "left"
            ).select(
                labels[VERTEX_ID],
                F.when(
                    # pmod, not %: Spark's % is sign-preserving, so a
                    # negative odd vertex id would yield -1 and never be
                    # eligible to move in any round (xxhash64 ids from the
                    # extraction pipeline ARE negative half the time)
                    (F.pmod(F.col(VERTEX_ID), F.lit(2)) == (r.n - 1) % 2)
                    & F.col("new_c").isNotNull(),
                    F.col("new_c"),
                )
                .otherwise(F.col("community"))
                .alias("community"),
            )
        )
        return labels, False

    return iterate(lambda r: labels, move, rounds).state

def opic(
    graph: GraphFrame,
    k: int = 3,
    scale: int = 1_000_000,
    init: "tuple[DataFrame, int] | None" = None,
) -> DataFrame:
    """OPIC — Adaptive On-line Page Importance Computation (Abiteboul,
    Preda & Cobena WWW'03, public literature; no reference counterpart —
    the crawl-frontier prioritization classic): every page starts with
    equal CASH; each round a page credits its cash to HISTORY, splits it
    evenly over its out-links, and dangling pages + division remainders
    feed a virtual pot redistributed evenly next round.  Importance after
    k rounds ∝ accumulated history — unlike PageRank it needs no
    convergence and updates incrementally as the crawl proceeds, which is
    why frontier schedulers use it.

    This implementation is INTEGER-EXACT (the repo's portability
    convention): cash starts at ``scale`` per vertex; shares are
    ``cash DIV d``; remainders ``cash MOD d``, all dangling cash, and the
    pot's own ``MOD n`` leftover carry forward through a 1-row pot frame.
    Total cash + pot is conserved at exactly ``n·scale`` every round —
    a closed-book invariant the tests assert and any engine replays
    bit-for-bit.

    int64 bound: per-vertex cash ≤ n·scale; with the default
    scale = 10⁶ safe to ~9×10¹¹ vertices.

    Scale shape per round: one out-degree join + one destination-keyed
    integer-sum agg (the message shuffle), two O(1) scalar aggregates
    riding the same plan via 1-row broadcasts (pot, n) — no collects;
    lineage truncated per round.  Returns ``(vertex_id, history, cash)``.
    """
    state, pot = _opic_rounds(graph, k, scale, init)
    return state


def opic_state(
    graph: GraphFrame,
    k: int = 3,
    scale: int = 1_000_000,
    init: "tuple[DataFrame, int] | None" = None,
) -> "tuple[DataFrame, int]":
    """Like :func:`opic` but also returns the carried pot remainder, so a
    later call can CONTINUE exactly where this one stopped — OPIC's
    defining property is that importance updates incrementally as the
    crawl proceeds, and the integer-exact formulation makes continuation
    BIT-EXACT: ``opic(g, a+b) == opic(g, b, init=opic_state(g, a))``
    row for row (pinned in tests).  The pot read is the one O(1) scalar
    action of the checkpoint boundary.
    """
    state, pot = _opic_rounds(graph, k, scale, init)
    pot_val = int(pot.collect()[0]["__pot"])
    return state, pot_val


def _opic_rounds(graph, k, scale, init):
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    e = graph.edges.select(SUBJECT, OBJECT)
    outd = e.groupBy(F.col(SUBJECT).alias("__v")).agg(
        F.count(F.lit(1)).alias("__d")
    )
    n = graph.vertices.agg(F.count(F.lit(1)).cast("long").alias("__n"))
    if init is None:
        state = graph.vertices.select(
            VERTEX_ID,
            F.lit(0).cast("long").alias("history"),
            F.lit(int(scale)).cast("long").alias("cash"),
        )
        pot0 = 0
    else:
        init_state, pot0 = init
        state = init_state.select(
            VERTEX_ID,
            F.col("history").cast("long"),
            F.col("cash").cast("long"),
        )
    pot = state.sparkSession.range(1).select(
        F.lit(int(pot0)).cast("long").alias("__pot")
    )
    for _ in range(k):
        st = state.join(outd, state[VERTEX_ID] == outd["__v"], "left").select(
            VERTEX_ID,
            "history",
            "cash",
            F.coalesce("__d", F.lit(0)).alias("__d"),
        )
        # per-vertex share to each out-neighbor, and what feeds the pot
        st = st.select(
            VERTEX_ID,
            "history",
            "cash",
            "__d",
            F.when(
                F.col("__d") > 0,
                F.expr("CAST(cash DIV __d AS BIGINT)"),
            )
            .otherwise(F.lit(0))
            .alias("__share"),
        ).withColumn(
            "__to_pot",
            F.when(
                F.col("__d") > 0,
                F.col("cash") - F.col("__d") * F.col("__share"),
            ).otherwise(F.col("cash")),
        )
        incoming = (
            e.join(
                st.select(
                    F.col(VERTEX_ID).alias("__u"),
                    F.col("__share").alias("__s"),
                ),
                e[SUBJECT] == F.col("__u"),
            )
            .groupBy(F.col(OBJECT).alias(VERTEX_ID))
            .agg(F.sum("__s").alias("__in"))
        )
        pot_total = (
            st.agg(F.sum("__to_pot").alias("__p"))
            .crossJoin(F.broadcast(pot))
            .select((F.col("__p") + F.col("__pot")).alias("__p"))
        )
        # even pot redistribution: base DIV n now, MOD n carries forward
        pot_split = pot_total.crossJoin(F.broadcast(n)).select(
            F.expr("CAST(__p DIV __n AS BIGINT)").alias("__base"),
            F.expr("CAST(__p % __n AS BIGINT)").alias("__carry"),
        )
        state = truncate_plan(
            st.join(incoming, VERTEX_ID, "left")
            .crossJoin(F.broadcast(pot_split.select("__base")))
            .select(
                VERTEX_ID,
                (F.col("history") + F.col("cash")).alias("history"),
                (
                    F.coalesce("__in", F.lit(0)) + F.col("__base")
                ).alias("cash"),
            )
        )
        pot = pot_split.select(F.col("__carry").alias("__pot"))
    return state, pot

def triad_census(graph: GraphFrame) -> DataFrame:
    """Closed-triad census (Holland & Leinhardt 1970's M-A-N taxonomy,
    via Milo et al. 2002 network motifs — public literature; extension
    beyond pregel-rs src/graph_frame.rs): every connected triple
    (triangle in the undirected skeleton) classified into the 7 closed
    triad types by its arc pattern —

      030T transitive  030C cyclic          (no mutual dyad)
      120D down  120U up  120C cyclic       (one mutual dyad)
      210                                   (two mutual dyads)
      300                                   (all three mutual)

    — the web/social-graph structure signature (feed-forward loops vs
    cycles is the classic motif contrast).  Counts are exact integers.

    Scale shape: the SAME degree-bounded triangle pipeline as
    :func:`triangle_count` (canonical-pair table + two equi-joins — the
    O(m^1.5) wedge bound), with per-pair direction flags carried through
    the joins and a CASE classification — one extra small agg, no new
    shuffle family.  Returns ``(triad_type, n)`` for the types present.
    """
    e = graph.edges.select(SUBJECT, OBJECT).filter(
        F.col(SUBJECT) != F.col(OBJECT)
    ).distinct()
    p = (
        e.select(
            F.least(SUBJECT, OBJECT).alias("a"),
            F.greatest(SUBJECT, OBJECT).alias("b"),
            (F.col(SUBJECT) < F.col(OBJECT)).cast("int").alias("fwd"),
        )
        .groupBy("a", "b")
        .agg(
            F.max("fwd").alias("ab"),
            F.max(1 - F.col("fwd")).alias("ba"),
        )
    )
    c1 = p.select(
        F.col("a").alias("u"), F.col("b").alias("v"),
        F.col("ab").alias("uv_ab"), F.col("ba").alias("uv_ba"),
    )
    c2 = p.select(
        F.col("a").alias("v"), F.col("b").alias("w"),
        F.col("ab").alias("vw_ab"), F.col("ba").alias("vw_ba"),
    )
    c3 = p.select(
        F.col("a").alias("u"), F.col("b").alias("w"),
        F.col("ab").alias("uw_ab"), F.col("ba").alias("uw_ba"),
    )
    tri = c1.join(c2, "v").join(c3, ["u", "w"])
    m_uv = F.col("uv_ab") * F.col("uv_ba")
    m_uw = F.col("uw_ab") * F.col("uw_ba")
    m_vw = F.col("vw_ab") * F.col("vw_ba")
    r = m_uv + m_uw + m_vw
    cyc = (
        (F.col("uv_ab") * F.col("vw_ab") * F.col("uw_ba"))
        + (F.col("uv_ba") * F.col("vw_ba") * F.col("uw_ab"))
    )
    to_third = (
        F.when(m_uv == 1, F.col("uw_ab") + F.col("vw_ab"))
        .when(m_uw == 1, F.col("uv_ab") + F.col("vw_ba"))
        .otherwise(F.col("uv_ba") + F.col("uw_ba"))
    )
    ttype = (
        F.when(r == 3, F.lit("300"))
        .when(r == 2, F.lit("210"))
        .when(
            r == 1,
            F.when(to_third == 2, F.lit("120U"))
            .when(to_third == 0, F.lit("120D"))
            .otherwise(F.lit("120C")),
        )
        .otherwise(F.when(cyc > 0, F.lit("030C")).otherwise(F.lit("030T")))
    )
    return (
        tri.select(ttype.alias("triad_type"))
        .groupBy("triad_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )

def rich_club(
    graph: GraphFrame, ks: "tuple[int, ...]" = (1, 2, 4, 8, 16, 32)
) -> DataFrame:
    """Rich-club coefficient (Zhou & Mondragón 2004; Colizza et al. 2006
    — public literature; extension beyond pregel-rs src/graph_frame.rs):
    for each degree threshold k, the density of the subgraph induced by
    vertices of undirected degree > k,

        φ(k) = 2·E_{>k} / (N_{>k}·(N_{>k}−1))

    — "do the hubs link to each other?", the web/citation-graph
    core-structure signal.  Counts are exact integers; φ rounds 6 dp
    (NULL when fewer than 2 qualifying vertices).

    Scale shape: one undirected-degree hash agg, two degree joins onto
    the edge table (vertex-keyed), then ONE threshold explode (×|ks|, a
    handful of literals) and a k-keyed aggregate on each side — no per-k
    passes, no windows.  Returns ``(k, n_nodes, n_edges, phi)``.
    """
    if not ks or any(k < 0 for k in ks):
        raise ValueError(f"ks must be non-negative thresholds, got {ks}")
    und = _und_simple(graph.edges)
    adj = und.select(F.col("a").alias("v"), F.col("b").alias("nb")).unionAll(
        und.select(F.col("b").alias("v"), F.col("a").alias("nb"))
    )
    deg = adj.groupBy("v").agg(F.count(F.lit(1)).alias("k_v"))
    karr = F.array(*[F.lit(int(k)) for k in sorted(set(ks))])
    nodes_k = (
        deg.select(F.explode(karr).alias("k"), "k_v")
        .groupBy("k")
        .agg(F.sum((F.col("k_v") > F.col("k")).cast("long")).alias("n_nodes"))
    )
    da = deg.select(F.col("v").alias("a"), F.col("k_v").alias("ka"))
    db = deg.select(F.col("v").alias("b"), F.col("k_v").alias("kb"))
    ed = und.join(da, "a").join(db, "b").select(
        F.least("ka", "kb").alias("mindeg")
    )
    edges_k = (
        ed.select(F.explode(karr).alias("k"), "mindeg")
        .groupBy("k")
        .agg(
            F.sum((F.col("mindeg") > F.col("k")).cast("long")).alias("n_edges")
        )
    )
    return nodes_k.join(edges_k, "k").select(
        "k",
        "n_nodes",
        "n_edges",
        F.round(
            F.when(
                F.col("n_nodes") >= 2,
                F.lit(2.0)
                * F.col("n_edges")
                / (F.col("n_nodes") * (F.col("n_nodes") - F.lit(1))),
            ),
            6,
        ).alias("phi"),
    )

def edge_betweenness(
    graph: GraphFrame,
    sources: list[int],
    max_hops: int,
    scale: int = 1_000_000,
) -> DataFrame:
    """Hop-bounded EDGE betweenness from a source sample — the
    Girvan-Newman primitive (Girvan & Newman PNAS'02: communities fall
    out of repeatedly cutting the highest-betweenness edge; public
    literature, extension beyond pregel-rs src/graph_frame.rs): for each
    directed edge (v, w) on a shortest path, the Brandes edge term

        δ(e) = Σ_{s} σ_sv / σ_sw · (1 + δ_s(w))

    with the same scaled-integer discipline as :func:`betweenness`
    (each term ``(σ_v·(scale+δ_w)) div σ_w`` in int64 — exact,
    order-independent, SQL-replayable; floor bias < 1/scale per term).
    Unlike the vertex version, SOURCE-incident edges get credit (an edge
    is interior to a path even when its tail is the endpoint), so the
    backward sweep extends to level 0.

    Scale shape: identical forward BFS-with-path-counting to
    :func:`betweenness`; the backward sweep aggregates the SAME join's
    terms by (tail, head) instead of by tail only — no new shuffle
    family.  Returns ``(subject, object, ebc_scaled, ebc)`` for every
    edge on a counted shortest path.
    """
    if not sources:
        raise ValueError("sources must name >= 1 vertex id")
    if max_hops < 1:
        raise ValueError(f"max_hops must be >= 1, got {max_hops}")
    if scale < 1:
        raise ValueError(f"scale must be >= 1, got {scale}")
    spark = graph.edges.sparkSession
    edges, levels, sigmas = _bfs_levels(graph, sources, max_hops)
    deepest = len(levels) - 1
    if deepest == 0:
        return spark.createDataFrame(
            [], schema="subject long, object long, ebc_scaled long, ebc double"
        )

    def accumulate(state, r):
        delta_below, edge_terms = state
        d = deepest - r.n
        below = (
            levels[d + 1]
            .join(delta_below, [VERTEX_ID, "src"])
            .select(
                F.col(VERTEX_ID).alias("w_id"),
                F.col("src").alias("w_src"),
                F.col("sigma").alias("w_sigma"),
                F.col("delta").alias("w_delta"),
            )
        )
        _overflow_guard(
            "edge_betweenness", d, sigmas[d], r.prev.get("dmax"), scale
        )
        cur = levels[d]
        joined = (
            cur.join(edges, cur[VERTEX_ID] == edges[SUBJECT])
            .join(
                below,
                (F.col(OBJECT) == F.col("w_id"))
                & (cur["src"] == F.col("w_src")),
            )
            .select(
                cur[VERTEX_ID].alias(VERTEX_ID),
                F.col("w_id"),
                cur["src"].alias("src"),
                F.expr(f"(sigma * ({scale} + w_delta)) div w_sigma").alias(
                    "term"
                ),
            )
        )
        edge_terms = (*edge_terms, r.keep(
            joined.groupBy(
                F.col(VERTEX_ID).alias(SUBJECT), F.col("w_id").alias(OBJECT)
            ).agg(F.sum("term").alias("t"))
        ))
        if d >= 1:
            contrib = joined.groupBy(VERTEX_ID, "src").agg(
                F.sum("term").alias("delta")
            )
            delta_below = r.keep(
                levels[d]
                .select(VERTEX_ID, "src")
                .join(contrib, [VERTEX_ID, "src"], "left")
                .fillna({"delta": 0}),
                dmax=F.max("delta"),
            )
        return (delta_below, edge_terms), False

    zero = F.lit(0).cast("long").alias("delta")
    delta_below, edge_terms = iterate(
        lambda r: (levels[deepest].select(VERTEX_ID, "src", zero), ()),
        accumulate,
        deepest,
    ).state
    _free_checkpoint(delta_below)
    acc = edge_terms[0]
    for t in edge_terms[1:]:
        acc = acc.unionByName(t)
    return acc.groupBy(SUBJECT, OBJECT).agg(
        F.sum("t").alias("ebc_scaled"),
        F.round(F.sum("t") / F.lit(float(scale)), 6).alias("ebc"),
    )
