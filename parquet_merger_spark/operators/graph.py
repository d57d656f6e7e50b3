"""Iterative graph algorithms on DataFrames: PageRank by power iteration.

Iterative algorithms are the one class the reference (and plain SQL)
can't express in a single query — each iteration is a join + aggregate,
and the DRIVER loops while every pass stays fully distributed.  This is
the canonical Spark shape for them: the loop is Python control flow over
lazy plans, the data never visits the driver.

Determinism contract (what makes this oracle-able where textbook
PageRank is not): ranks are EXACT INTEGERS in micro-units (1e6 = rank
1.0) and every update is integer arithmetic —

    r'(v) = (1-d)*SCALE + d * sum_u r(u) div outdeg(u)

with ``d`` as the exact ratio 85/100 applied as ``(85 * s) div 100``.
Integer sums are associative, so the result is bit-identical under ANY
partitioning, any engine, any aggregation order — unlike floating-point
PageRank, whose sum order perturbs last ulps and can never hash-match.
The div-floor leaks ≤ outdeg micro-units per node per iteration
(bounded, documented truncation — the price of exactness).

Scale shape per iteration: the state between passes is the O(V)
message table ``m(v) = rank(v) div outdeg(v)``, never an O(E) frame.  A
pass is ONE aggregate: the edges joined against the (broadcast) message
table on ``src``, grouped on ``dst`` — the only E-volume shuffle.  The
next message table is O(V) work: a projection of that aggregate on
symmetric edge lists (a vertex's group size is its out-degree), a join
against the O(V) degree table otherwise.  For many iterations at 100 TB
the message table is cut every second pass to keep the lineage shallow.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from parquet_merger_spark.barrier import materialize, materialize_lazy

SCALE = 1_000_000

# triangle_count: at or under this many (oriented) edges, its degree and
# adjacency-array joins broadcast; above it they shuffle on the vertex key
BROADCAST_EDGE_LIMIT = 5_000_000


def pagerank_int(
    edges: DataFrame,
    iterations: int = 3,
    damping_pct: int = 85,
    src_col: str = "src",
    dst_col: str = "dst",
    assume_distinct: bool = False,
    broadcast_ranks: bool = True,
    assume_symmetric: bool = False,
) -> DataFrame:
    """Integer-exact PageRank over a directed edge list; returns
    ``(vertex, rank_micro)`` after ``iterations`` power steps.

    Vertices = src ∪ dst.  Dangling nodes (no out-edges) contribute
    nothing (their mass evaporates — the simple variant; redistributing
    it adds one scalar aggregate per pass).  ``damping_pct`` is an
    integer percentage so the damping multiply stays exact.  Pass
    ``assume_distinct=True`` when the caller already dedups edges — it
    elides a full shuffle of E.  Pass ``assume_symmetric=True`` when
    the edge list holds both directions of every edge (undirected
    graphs): every vertex is then a dst, and its group in a pass's
    aggregate holds one row per out-edge, so the ranks and the next
    message table are projections of that aggregate — no vertex set, no
    degree join and no join back onto the vertices.

    ``broadcast_ranks`` (default) ships the O(V) message table to every
    executor each pass, so the O(E) edge side never re-shuffles for the
    join: a pass is one map-side join and one aggregate on ``dst``.  The
    O(V) joins of the directed path (degree table onto the aggregate,
    final ranks onto the vertex set) ride the same hint.  Set it False
    when V itself is too big to broadcast (billions of vertices at
    100 TB): the hint becomes the identity and the joins are shuffle
    joins keyed on the vertex — pre-bucket E on ``src`` to keep them
    exchange-free.

    The loop invariants — the edges, plus the degree table and the
    vertex set on the directed path — are shared through checkpoint
    barriers (``barrier.materialize_lazy``), not persisted: each is
    computed once, every pass scans it as a plain RDD, and the call
    leaves no CacheManager entry behind.  The returned frame stays lazy.
    """
    src, dst = F.col(src_col), F.col(dst_col)
    e = edges.select(src.alias("src"), dst.alias("dst"))
    if not assume_distinct:
        e = e.distinct()
    if iterations <= 0:
        # vertex set only — before the barriers, which this path never
        # needs
        if assume_symmetric:
            verts = e.select(F.col("src").alias("vertex")).distinct()
        else:
            verts = (
                e.select(F.col("src").alias("vertex"))
                .union(e.select(F.col("dst").alias("vertex")))
                .distinct()
            )
        return verts.withColumn("rank_micro", F.lit(SCALE).cast("long"))
    maybe_b = F.broadcast if broadcast_ranks else (lambda df: df)
    base = (100 - damping_pct) * SCALE // 100
    # r'(v) from the pass aggregate's sum s (null: no in-edge)
    rank = f"{base}L + ({damping_pct} * coalesce(s, 0L)) div 100"
    e = e.transform(materialize_lazy)
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    if not assume_symmetric:
        # read by every pass's message table: shared, not recomputed
        deg = deg.transform(materialize_lazy)
        # vertices with no in-edge still need the base rank
        vertices = (
            e.select(F.col("src").alias("vertex"))
            .union(e.select(F.col("dst").alias("vertex")))
            .distinct()
            .transform(materialize_lazy)
        )
    # message tables are keyed on "src"; every rank starts at SCALE
    msg = deg.select("src", F.expr(f"{SCALE}L div outdeg").alias("m"))
    aggs = [F.sum("m").alias("s")]
    if assume_symmetric:
        aggs.append(F.count(F.lit(1)).alias("outdeg"))
    for it in range(iterations):
        if it:
            if assume_symmetric:
                msg = agg.select(F.col("vertex").alias("src"), "outdeg", "s")
            else:
                msg = deg.join(
                    maybe_b(agg.select(F.col("vertex").alias("src"), "s")),
                    "src",
                    "left",
                )
            msg = msg.select("src", F.expr(f"({rank}) div outdeg").alias("m"))
            # cut the lineage every second pass, or the plan unrolls
            # every pass before it
            if it % 2 == 0:
                msg = msg.transform(materialize_lazy)
        agg = (
            e.join(maybe_b(msg), "src")
            .groupBy(F.col("dst").alias("vertex"))
            .agg(*aggs)
        )
    if not assume_symmetric:
        agg = vertices.join(maybe_b(agg), "vertex", "left")
    return agg.select("vertex", F.expr(rank).alias("rank_micro"))


def triangle_count(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Exact global triangle count over an undirected edge list, by
    DEGREE-ORDERED ORIENTATION (the classic wedge-check algorithm:
    Schank & Wagner 2005 forward/compact-forward; the MapReduce variant
    is Suri & Vassilvitskii 2011).  Returns ONE row:
    ``(n_vertices, n_edges, n_oriented_wedges, n_triangles)`` — all
    exact BIGINTs, so the result hash-matches any engine computing the
    same statistics.  NOTE: the wedge column counts wedges OVER THE
    DEGREE-ORDERED ORIENTATION (sum over nodes of C(outdeg, 2) — the
    algorithm's actual work bound), NOT the conventional undirected
    2-path census sum C(deg, 2): a 4-cycle has 1 oriented wedge but 4
    undirected ones.  The name says so to keep it from being compared
    against standard graph stats.

    Why orientation is THE 100 TB move: counting wedges (2-paths) around
    high-degree hubs is O(sum deg^2) — a celebrity node with 10M
    neighbors yields 5*10^13 wedges.  Orienting every edge from its
    lower-(degree, id) endpoint to the higher one makes each triangle
    countable exactly once (it has a unique lowest-rank apex) AND bounds
    every node's ORIENTED out-degree by O(sqrt(E)), so total work is
    O(E^1.5) worst-case instead of O(sum deg^2).  Counting is
    EDGE-ITERATOR style: per oriented edge (s, t), triangles closing
    through it are |N+(s) ∩ N+(t)| — one row-local array_intersect over
    out-neighbor arrays joined on the vertex key; the wedge count is
    pure arithmetic (sum C(outdeg, 2)).  No cartesian anywhere, and the
    O(E^1.5) wedge stream is never materialized as rows.

    Ties in degree break by node id, so the orientation — and every
    intermediate — is fully deterministic.

    When the ORIENTED edge set fits under ``BROADCAST_EDGE_LIMIT`` rows,
    the degree and adjacency-array joins run as broadcast hash joins and
    the whole count stays in one stage.  Above the limit — the true
    100 TB regime, where E itself is sharded — they fall back to shuffle
    equi-joins on the vertex key; orientation bounds every out-neighbor
    array at O(sqrt E), so the per-row intersect work — and the total
    O(E^1.5) — survives the scale-up.
    """

    u, v = F.col(src_col), F.col(dst_col)
    # canonical undirected edges (a < b), self-loops dropped
    e = (
        edges.select(F.least(u, v).alias("a"), F.greatest(u, v).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
        # persisted + eagerly materialized (NOT localCheckpoint):
        # degrees AND orientation both scan it and the upstream
        # pair-generation plan may be expensive — but checkpoint blocks
        # can only be freed by the async ContextCleaner after the JVM
        # refs die, and at sf1 the lingering O(E) blocks measurably
        # poisoned every subsequent query in the session; persist gives
        # the same reuse and an explicit unpersist on exit
        .persist()
    )
    n_edges = e.count()  # also gates the degree-table broadcast below
    # persisted + eagerly materialized: THREE consumers (the da/db
    # broadcasts and the n_vertices count) would otherwise each rerun
    # the 2|E| explode+groupBy — differently-aliased projections defeat
    # ReuseExchange, and concurrent broadcast builds race a cold cache
    # (the dup_clusters pathology)
    deg = (
        e.select(F.explode(F.array(F.col("a"), F.col("b"))).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
        .persist()
    )
    # the eager materialization count IS the vertex census — reuse it as
    # a literal below instead of re-aggregating cached deg in the final
    # job (one aggregate subtree fewer; same number by construction)
    n_vertices = deg.count()
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("dega"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("degb"))
    # orient low-(deg, id) -> high-(deg, id)
    lower_first = (F.col("dega") < F.col("degb")) | (
        (F.col("dega") == F.col("degb")) & (F.col("a") < F.col("b"))
    )
    # one broadcast gate for the O(V) degree joins and the adjacency
    # joins below (V <= 2E): an unconditional broadcast hint
    # bypasses autoBroadcastJoinThreshold/AQE, and above the limit the
    # degree table is as unbroadcastable as the edges themselves
    maybe_b = F.broadcast if n_edges <= BROADCAST_EDGE_LIMIT else (lambda df: df)
    oriented = (
        e.join(maybe_b(da), "a")
        .join(maybe_b(db), "b")
        .select(
            F.when(lower_first, F.col("a")).otherwise(F.col("b")).alias("s"),
            F.when(lower_first, F.col("b")).otherwise(F.col("a")).alias("t"),
        )
        # persist, not checkpoint — released on exit (see `e` above);
        # materialized by out_nbrs.count() below (its only consumer until
        # then, so there is no concurrent-build race to guard against)
        .persist()
    )
    # EDGE-ITERATOR counting (compact-forward's DataFrame shape): build
    # each node's oriented out-neighbor ARRAY (O(V) rows), then for
    # every oriented edge (s, t) count |N+(s) ∩ N+(t)| with one
    # row-local array_intersect.  A triangle x<y<z (rank order) is found
    # exactly once — on its apex-leg edge (x, y), where z sits in both
    # out-sets.  The wedge COUNT collapses to arithmetic
    # (sum C(outdeg, 2)), so the O(E^1.5) wedge stream is never
    # materialized at all: the earlier explicit wedge join pushed 41M
    # rows through a join at sf0.1 (8.8s warm); this shape keeps the
    # pipeline at |E| rows with O(deg) row-local work (~2s).
    # |oriented| == |e| exactly (orientation maps each undirected edge to
    # ONE directed edge — the join is key-preserving and lower_first is
    # total), so the broadcast-vs-shuffle decision for the adjacency
    # joins reuses n_edges (``maybe_b`` above) and the r09
    # oriented.count() barrier job is gone (guide §1.2: don't pay for a
    # number you already have); above the limit both joins become
    # shuffle equi-joins on the vertex key — the sharded regime;
    # orientation still bounds every array at O(sqrt E)
    # persisted + eagerly materialized: THREE consumers (the wedge-count
    # aggregate and the differently-aliased ns/nt broadcast projections)
    # would otherwise each rerun the O(E) collect_list shuffle — aliased
    # projections defeat ReuseExchange and concurrent broadcast builds
    # race a cold cache (SURVEY §9.9)
    out_nbrs = (
        oriented.groupBy("s")
        .agg(
            F.sort_array(F.collect_list("t")).alias("nb"),
            F.count(F.lit(1)).alias("od"),
        )
        .persist()
    )
    out_nbrs.count()
    # coalesce: sum over an EMPTY out_nbrs (no orientable edges at all)
    # is NULL, but the census contract is exact BIGINTs — return 0
    wedge_count = out_nbrs.agg(
        F.coalesce(
            F.sum(F.expr("od * (od - 1L) div 2")), F.lit(0).cast("long")
        ).alias("n_oriented_wedges")
    )
    ns = out_nbrs.select(F.col("s"), F.col("nb").alias("ns"))
    nt = out_nbrs.select(F.col("s").alias("t"), F.col("nb").alias("nt"))
    tri_count = (
        oriented.join(maybe_b(ns), "s")
        # left join: the highest-rank node of a component has no
        # out-neighbors and is absent from out_nbrs
        .join(maybe_b(nt), "t", "left")
        .select(
            F.size(
                F.array_intersect(
                    F.col("ns"),
                    # empty array of ns's element type, whatever the id
                    # type is (slice keeps the array type)
                    F.coalesce(F.col("nt"), F.slice(F.col("ns"), 1, 0)),
                )
            ).alias("c")
        )
        .agg(
            F.coalesce(F.sum("c"), F.lit(0).cast("long")).alias("n_triangles")
        )
    )
    # n_vertices / n_edges ride in as literals: both were ALREADY counted
    # driver-side by the eager cache materializations above (jobs inside
    # this operator's own wall), so the final census job no longer
    # re-scans the e/deg caches through two aggregate subtrees + cross
    # joins — it is just the wedge aggregate x the triangle aggregate
    counts = wedge_count.crossJoin(tri_count)
    result = counts.select(
        F.lit(n_vertices).cast("long").alias("n_vertices"),
        F.lit(n_edges).cast("long").alias("n_edges"),
        "n_oriented_wedges",
        "n_triangles",
    )
    # 1-row census: materialize it, then release EVERY persisted
    # intermediate so nothing pins block-manager memory across calls
    result = result.transform(materialize)
    for cached in (deg, out_nbrs, e, oriented):
        cached.unpersist()
    return result
