"""Integer-exact PageRank (operators/graph.py): the Spark loop must equal
a literal Python simulation of the same integer recurrence, and the
determinism contract must hold under repartitioning.
"""

from __future__ import annotations

import pytest

from parquet_merger_spark.operators.graph import SCALE, pagerank_int


def _simulate(edges, iterations=3, damping_pct=85):
    verts = sorted({v for e in edges for v in e})
    out = {}
    for s, _ in set(edges):
        out[s] = out.get(s, 0) + 1
    rank = {v: SCALE for v in verts}
    base = (100 - damping_pct) * SCALE // 100
    for _ in range(iterations):
        s = {v: 0 for v in verts}
        for u, v in set(edges):
            s[v] += rank[u] // out[u]
        rank = {v: base + (damping_pct * s[v]) // 100 for v in verts}
    return rank


EDGES = [
    (1, 2), (1, 3), (2, 3), (3, 1), (4, 3), (4, 1), (2, 4),
]


def test_pagerank_matches_integer_simulation(spark):
    e = spark.createDataFrame(EDGES, "src long, dst long")
    got = {r["vertex"]: r["rank_micro"] for r in pagerank_int(e, 3).collect()}
    assert got == _simulate(EDGES, 3)


def test_pagerank_partitioning_invariant(spark):
    """Integer sums are associative: any physical partitioning must give
    bit-identical ranks."""
    e1 = spark.createDataFrame(EDGES, "src long, dst long").repartition(1)
    e7 = spark.createDataFrame(EDGES, "src long, dst long").repartition(7)
    r1 = sorted(map(tuple, pagerank_int(e1, 3).collect()))
    r7 = sorted(map(tuple, pagerank_int(e7, 3).collect()))
    assert r1 == r7


def test_pagerank_dangling_node_keeps_base_rank(spark):
    # vertex 9 has only in-edges elsewhere? make 9 a pure sink: 1->9
    edges = [(1, 9), (1, 2), (2, 1)]
    e = spark.createDataFrame(edges, "src long, dst long")
    got = {r["vertex"]: r["rank_micro"] for r in pagerank_int(e, 2).collect()}
    assert got == _simulate(edges, 2)
    # sink mass evaporates (simple variant): 9 never contributes, and its
    # own rank is base + damped share of 1's contributions only
    assert got[9] > 0


def test_pagerank_symmetric_path_matches_default(spark):
    """assume_symmetric=True builds each pass's ranks from the
    contributions alone (no vertex join): on a both-directions edge list
    it must equal the simulation and the default path, and leave no
    cache entry behind."""
    edges = sorted({e for a, b in EDGES for e in ((a, b), (b, a))})
    e = spark.createDataFrame(edges, "src long, dst long")
    spark.catalog.clearCache()  # earlier tests' entries are not this call's
    sym = pagerank_int(e, 3, assume_distinct=True, assume_symmetric=True)
    got = {r["vertex"]: r["rank_micro"] for r in sym.collect()}
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    assert got == _simulate(edges, 3)
    default = {r["vertex"]: r["rank_micro"] for r in pagerank_int(e, 3).collect()}
    assert got == default


# a dangling sink (5: no out-edge) and a source (6: no in-edge, so its
# rank is the base and its messages come from the degree table alone)
DIRECTED = EDGES + [(2, 5), (6, 1)]
SYMMETRIC = sorted({e for a, b in EDGES for e in ((a, b), (b, a))})


@pytest.mark.parametrize("broadcast_ranks", [True, False])
@pytest.mark.parametrize("symmetric", [False, True], ids=["directed", "symmetric"])
@pytest.mark.parametrize("iterations", [0, 1, 2, 3, 5])
def test_pagerank_paths_match_simulation(spark, iterations, symmetric, broadcast_ranks):
    """Every pass count on both paths, with and without the broadcast
    hint, equals the simulation and leaves no cache entry behind (the
    loop shares its invariants through checkpoints, not persists)."""
    edges = SYMMETRIC if symmetric else DIRECTED
    e = spark.createDataFrame(edges, "src long, dst long")
    spark.catalog.clearCache()  # earlier tests' entries are not this call's
    ranks = pagerank_int(
        e,
        iterations,
        assume_distinct=True,
        assume_symmetric=symmetric,
        broadcast_ranks=broadcast_ranks,
    )
    got = {r["vertex"]: r["rank_micro"] for r in ranks.collect()}
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    assert got == _simulate(edges, iterations)


def test_pagerank_directed_job_pin(spark, jobs_started):
    """Job census pin for the directed path: the edges, degree table and
    vertex set are each computed once behind a checkpoint, and a pass is
    one aggregate over the edges joined with the message table."""
    e = spark.createDataFrame(EDGES, "src long, dst long")
    assert jobs_started(lambda: pagerank_int(e, 3).collect()) <= 13


# ---------------------------------------------------------------------------
# triangle_count
# ---------------------------------------------------------------------------

from parquet_merger_spark.operators.graph import triangle_count  # noqa: E402


def _tri(spark, edges):
    e = spark.createDataFrame(edges, "src long, dst long")
    return triangle_count(e).collect()[0].asDict()


K4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
# square 0-1-2-3 with diagonal 0-2 => two triangles (0,1,2) (0,2,3)
SQUARE_PLUS_DIAGONAL = [(0, 1), (1, 2), (2, 3), (3, 0), (0, 2)]


def test_triangle_count_k4(spark):
    """K4: 4 vertices, 6 edges, C(4,3)=4 triangles; oriented wedge count
    for a complete graph is also C(4,3) * ... pinned by enumeration."""
    got = _tri(spark, K4)
    assert got["n_vertices"] == 4
    assert got["n_edges"] == 6
    assert got["n_triangles"] == 4


def test_triangle_count_square_plus_diagonal(spark):
    got = _tri(spark, SQUARE_PLUS_DIAGONAL)
    assert got["n_edges"] == 5
    assert got["n_triangles"] == 2


@pytest.mark.parametrize(
    "edges", [K4, SQUARE_PLUS_DIAGONAL], ids=["k4", "square_plus_diagonal"]
)
def test_triangle_count_shuffle_join_regime(spark, monkeypatch, edges):
    """Above ``BROADCAST_EDGE_LIMIT`` the degree and adjacency joins
    shuffle on the vertex key instead of broadcasting; the census is the
    same as on the broadcast path."""
    from parquet_merger_spark.operators import graph

    broadcast = _tri(spark, edges)
    monkeypatch.setattr(graph, "BROADCAST_EDGE_LIMIT", 0)
    assert _tri(spark, edges) == broadcast


def test_triangle_count_triangle_free_cycle(spark):
    """4-cycle: orientation (all degrees tie, id breaks) gives vertex 0
    out-edges {1, 3} — exactly one oriented wedge, and no closing edge.
    (A path would show ZERO oriented wedges: endpoints have degree 1, so
    every edge points inward and no apex keeps two out-edges — the very
    hub-taming effect the orientation exists for.)"""
    edges = [(0, 1), (1, 2), (2, 3), (3, 0)]
    got = _tri(spark, edges)
    assert got["n_triangles"] == 0
    assert got["n_oriented_wedges"] == 1  # the (1,3) wedge at apex 0, unclosed


def test_triangle_count_ignores_direction_dupes_and_loops(spark):
    """Symmetric duplicates, reversed edges, and self-loops must not
    change the census: edges canonicalize to undirected distinct."""
    base = [(0, 1), (1, 2), (0, 2)]
    noisy = base + [(1, 0), (2, 1), (2, 0), (0, 0), (1, 1), (0, 1)]
    assert _tri(spark, base) == _tri(spark, noisy)
    assert _tri(spark, base)["n_triangles"] == 1


def test_triangle_count_self_loops_only_returns_zeros(spark):
    """Sums over an empty oriented set must coalesce to exact 0 (the
    all-BIGINT census contract), never NULL."""
    edges = [(1, 1), (2, 2)]
    got = _tri(spark, edges)
    assert got == {
        "n_vertices": 0,
        "n_edges": 0,
        "n_oriented_wedges": 0,
        "n_triangles": 0,
    }

