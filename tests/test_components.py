"""Connected-components differential test: Spark iterative label
propagation vs a driver-side union-find on the same edge list."""

from __future__ import annotations

from pyspark.sql import functions as F

from map_reduce_showcase_spark.dedup.components import connected_components


def _union_find(pairs: list[tuple[int, int]]) -> dict[int, int]:
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def test_components_match_union_find(spark):
    edges = [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 1), (30, 31)]
    pairs = spark.createDataFrame(edges, ["d1", "d2"])
    got = {
        (r["doc_id"], r["component"])
        for r in connected_components(pairs).collect()
    }
    want = set(_union_find(edges).items())
    assert got == want


def test_components_chain_needs_multiple_rounds(spark):
    # a 12-node path graph: diameter forces >3 propagation rounds
    edges = [(i, i + 1) for i in range(100, 112)]
    pairs = spark.createDataFrame(edges, ["d1", "d2"])
    got = dict(
        (r["doc_id"], r["component"]) for r in connected_components(pairs).collect()
    )
    assert set(got.values()) == {100}
    assert len(got) == 13


def test_pagerank_chunk_cap_invariant(spark, sf_dir):
    """Splitting a vertex's adjacency into capped chunk rows must not
    change PageRank by a single bit: per-chunk partial contributions
    are summed in exact DECIMAL(38,18), so any chunking of the same
    neighbor multiset yields the same per-dst sum. cap=2 forces
    nearly every sf0.001 vertex to split into many chunks; the
    default cap (4096) splits none — identical outputs prove the
    celebrity-vertex defense is free."""
    from map_reduce_showcase_spark.plans.queries_graph import (
        ADJ_CHUNK_CAP,
        _pagerank,
    )

    base = [tuple(r) for r in _pagerank(spark, sf_dir, ADJ_CHUNK_CAP).collect()]
    chunked = [tuple(r) for r in _pagerank(spark, sf_dir, 2).collect()]
    assert base == chunked


def test_pagerank_degree_bound_is_sound(spark, sf_dir):
    """The cheap plan-choice probe (degree(p) ≤ lines(p) x
    (max order size - 1), two narrow lineitem aggregates) must
    DOMINATE the true bidirectional max degree — an under-estimate
    would emit the unchunked plan into a celebrity distribution.
    Also pins that the probe forces the exact path in the cap-2
    invariant test (bound > 2), so that test really exercises the
    chunked branch."""
    from pyspark.sql import functions as F

    from map_reduce_showcase_spark.plans.queries_graph import (
        _pagerank_degree_bound,
        copurchase_edges,
    )

    edges = copurchase_edges(spark, sf_dir)
    bi = edges.unionAll(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    true_max = (
        bi.groupBy("src").agg(F.count(F.lit(1)).alias("od")).agg(F.max("od")).first()[0]
    )
    bound = _pagerank_degree_bound(spark, sf_dir)
    assert true_max > 2  # the cap-2 differential is a real differential
    assert bound >= true_max


def test_triangle_chunk_cap_invariant(spark, sf_dir):
    """The triangle count must be chunking-invariant to the bit:
    both sides of the closing intersection hash neighbors with ONE
    global modulus, so |N+(u) ∩ N+(v)| = Σ_c |chunk_c(u) ∩
    chunk_c(v)| exactly — no neighbor double-counted (it lives in
    one chunk per side) and none lost (a common neighbor's chunk id
    matches by construction). cap=2 forces K = ceil(max_od/2) > 1 at
    sf0.001 — every pivot splits; the default cap computes K=1 there
    (the unchunked round-5 plan). Identical summary rows prove the
    hot-pivot defense never changes the answer — the
    ``test_pagerank_chunk_cap_invariant`` discipline applied to the
    wedge path."""
    from map_reduce_showcase_spark.plans.queries_graph import (
        TRI_CHUNK_CAP,
        _triangle_summary,
    )

    base = [tuple(r) for r in _triangle_summary(spark, sf_dir, TRI_CHUNK_CAP).collect()]
    chunked = [tuple(r) for r in _triangle_summary(spark, sf_dir, 2).collect()]
    assert base == chunked
    assert base[0][3] > 0  # vacuity guard: triangles actually exist
