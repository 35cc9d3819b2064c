"""Graph analytics beyond the reference's degree counting
(``src/app/vertex_degree.rs``): build a co-purchase graph from
``lineitem`` (parts that share an order are linked — the edge
construction is itself a classic MapReduce job), then count
triangles with the degree-oriented wedge algorithm — the standard
way to make triangle counting survive web-scale skew.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .registry import register, t

# Shared DuckDB CTE: the distinct undirected co-purchase edge list,
# canonicalized src < dst. Mirrors copurchase_edges() below.
_EDGES_CTE = """
    e AS (
      SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
      WHERE a.l_partkey < b.l_partkey
    )
"""


def copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct co-purchase edges (src < dst): self-join lineitem on
    l_orderkey. The join key is the table's natural layout key, so at
    100 TB this is a co-partitioned shuffle join with per-order
    fan-out bounded by order size (TPC-H ≤ 7 lines/order) — edge
    generation is linear-ish, never quadratic in the table."""
    from ..functions.util import rebalance

    # rebalance BEFORE the self-join: a single-row-group local file
    # otherwise pins the join-exchange's entire map side (scan +
    # hash-partition + serialize + shuffle write of |E|-fan-out rows)
    # to one task (r17 profile: 1.46 s single-task map stage in both
    # triangle and pagerank). At scale inputs have ≥cores splits and
    # this is the usual guarded no-op.
    li = rebalance(t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey"))
    a = li.alias("a")
    b = li.alias("b")
    return (
        a.join(b, F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        .where(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .select(
            F.col("a.l_partkey").alias("src"),
            F.col("b.l_partkey").alias("dst"),
        )
        .distinct()
    )


@register(
    "graph_triangle_summary",
    oracle=f"""
    WITH {_EDGES_CTE},
    deg AS (
      SELECT vertex, COUNT(*) AS d
      FROM (SELECT src AS vertex FROM e UNION ALL SELECT dst AS vertex FROM e)
      GROUP BY vertex
    ),
    tri AS (
      SELECT COUNT(*) AS n_triangles
      FROM e e1
      JOIN e e2 ON e1.dst = e2.src
      JOIN e e3 ON e3.src = e1.src AND e3.dst = e2.dst
    )
    SELECT (SELECT COUNT(*) FROM e) AS n_edges,
           (SELECT COUNT(*) FROM deg) AS n_vertices,
           (SELECT CAST(SUM(d * (d - 1) / 2) AS BIGINT) FROM deg) AS n_wedges,
           (SELECT n_triangles FROM tri) AS n_triangles,
           round(3.0 * (SELECT n_triangles FROM tri)
                 / (SELECT SUM(d * (d - 1) / 2) FROM deg), 6)
             AS clustering_coeff
    """,
    tags=("graph", "triangles"),
)
def graph_triangle_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting via degree-ordered orientation: orient each
    undirected edge from the (degree, id)-smaller endpoint to the
    larger, so every vertex's out-degree is O(sqrt(m)) even under
    power-law skew; triangles are then counted compact-forward style:
    per oriented edge u→v, |N+(u) ∩ N+(v)| array-intersections over
    the grouped oriented adjacency — the wedge stream is never
    materialized as rows. Each triangle is counted exactly once (at
    its orientation-smallest base edge), so no post-dedup is needed.
    The naive a<b<c 3-way join in the oracle is the verification-
    scale twin; the oriented plan is the one that survives 100 TB —
    hot vertices never join against their full neighborhood.
    The celebrity-pivot chunk defense (see ``_triangle_summary``)
    ENGAGES only when some oriented out-degree exceeds
    TRI_CHUNK_CAP — a driver-side plan-shape choice off one 1-row
    aggregate; at every measured degree distribution the query runs
    the plain unchunked plan with zero scaffolding cost. Output:
    one summary row with the global clustering coefficient
    3 * triangles / wedges."""
    return _triangle_summary(spark, sf_dir, TRI_CHUNK_CAP)


#: max neighbors per oriented-adjacency chunk row — the celebrity-
#: pivot defense, same constant as PageRank's ADJ_CHUNK_CAP.
#: Orientation already caps out-degree at O(sqrt m) (97 at sf0.1,
#: a few hundred at the 16x sweep point), so at every measured
#: distribution K computes to 1 and the emitted plan is EXACTLY the
#: round-6 unchunked shape (round 8 made that literal: K is chosen
#: driver-side and the K=1 branch contains none of the chunk
#: machinery — round 7 ran the modulus attach unconditionally and
#: paid ~+24% for it at the 16x sweep point, tripping the sweep
#: flag). Chunking engages only past 4096 out-neighbors, where one
#: row would otherwise carry a ~32 KB+ array times its full edge
#: fan-in into a single hash partition. Deliberately NOT lower: an
#: interleaved same-JVM A/B (round 7, SCALING.md) measured cap=64
#: (K=4-6 at the sweep points) a consistent 12-27% SLOWER —
#: sub-cap degrees are tiny, so eager chunking only multiplies
#: closing-join rows without relieving any hot task. The cap-2
#: invariant test keeps the engaged path bit-exact so the defense
#: is proven, not latent.
TRI_CHUNK_CAP = 4096


def _oriented_graph(spark: SparkSession, sf_dir: str):
    """(degree frame, degree-oriented edge frame) for the triangle
    closing.

    deg is |V| rows, used four times downstream (two orientation
    broadcasts, the wedge aggregate, the plan-choice bound) —
    checkpointed so the 2|E|-row endpoint shuffle is paid exactly
    once. Orientation is by (degree, id): attach each endpoint's
    degree via a broadcast join — the degree table is tiny next to
    |E| and at true scale stays broadcastable far longer than the
    edge list stays joinable. The oriented edge list stays lazy: the
    closing consumes it exactly once (the grouped adjacency, which is
    itself checkpointed)."""
    edges = copurchase_edges(spark, sf_dir).localCheckpoint()

    deg = (
        edges.select(F.col("src").alias("vertex"))
        .unionAll(edges.select(F.col("dst").alias("vertex")))
        .groupBy("vertex")
        .agg(F.count(F.lit(1)).alias("d"))
        .localCheckpoint()
    )

    ds = F.broadcast(deg).alias("ds")
    dd = F.broadcast(deg).alias("dd")
    oriented = (
        edges.alias("e")
        .join(ds, F.col("e.src") == F.col("ds.vertex"))
        .join(dd, F.col("e.dst") == F.col("dd.vertex"))
        .select(
            F.when(
                (F.col("ds.d") < F.col("dd.d"))
                | ((F.col("ds.d") == F.col("dd.d")) & (F.col("e.src") < F.col("e.dst"))),
                F.struct(F.col("e.src").alias("u"), F.col("e.dst").alias("v")),
            )
            .otherwise(F.struct(F.col("e.dst").alias("u"), F.col("e.src").alias("v")))
            .alias("edge")
        )
        .select(F.col("edge.u").alias("u"), F.col("edge.v").alias("v"))
    )
    return deg, oriented


def _triangle_summary(spark: SparkSession, sf_dir: str, chunk_cap: int) -> DataFrame:
    """Parameterized core of ``graph_triangle_summary``; the
    ``chunk_cap`` knob exists so the bit-exactness invariant test can
    force chunking at test SF (cap 2 vs default must produce
    byte-identical counts — same discipline as
    ``test_pagerank_chunk_cap_invariant``).

    Plan choice (round 8): K = ceil(max_outdeg / cap) is computed
    FIRST, as a driver-side ``.first()`` on a 1-row aggregate over
    the checkpointed oriented edges. Collecting one row to pick a
    plan shape is adaptive execution, not a driver bottleneck — it
    is exactly what AQE does with runtime statistics, and at 100 TB
    it is one aggregate over data the closing join reads anyway.
    With K == 1 (every measured distribution) the emitted plan is
    the round-6 unchunked closing, with no odeg re-aggregation, no
    modulus column, no widened join key — round 7 ran that
    scaffolding unconditionally and measured ~+24% on identical
    data (a 4.09x time tail per 4x of data). A cheap upper bound
    (max UNDIRECTED degree, an aggregate over the |V|-row degree
    frame built anyway) short-circuits the exact out-degree pass in
    the common case: out-degree ≤ degree, so bound ≤ cap proves
    K == 1 without touching the edge list again.

    Chunked closing (engaged path), alignment trick: both sides of
    the intersection hash every neighbor w into chunk
    ``pmod(hash(w), K)`` with ONE GLOBAL modulus (a literal — K is
    already known on the driver), so a common neighbor lands in the
    SAME chunk id on both sides and the per-edge count decomposes
    exactly: |N+(u) ∩ N+(v)| = Σ_c |chunk_c(u) ∩ chunk_c(v)|. The
    closing join then matches on (vertex, chunk) instead of (vertex):
    a hot pivot's d·|array| bytes stop concentrating in one hash
    partition (the K chunk ids fan its reduce work out), per-row
    array payloads shrink by K, and chunk pairs present on only one
    side — which provably contain no common neighbor — never join at
    all. Per-vertex moduli (ceil(od/cap), the PageRank scheme) would
    NOT work here: the two sides of an intersection would disagree on
    chunk boundaries, so the global-max modulus is the price of
    alignment."""
    deg, oriented = _oriented_graph(spark, sf_dir)

    # Compact-forward closing: instead of materializing the wedge
    # stream as ROWS (sum outdeg² of them — 41M at sf0.1 vs 1.2M
    # edges; measured 12s) and hash-joining it against the edge list,
    # group the oriented adjacency into per-vertex arrays and count
    # each edge's triangle closures as |N+(u) ∩ N+(v)|. Each triangle
    # (u<v<w by orientation order) is counted exactly once, at its
    # base edge u→v. The wedge stream never exists: per edge the work
    # is one array intersection over two O(sqrt(m))-bounded arrays
    # (orientation caps out-degree — 97 here vs raw max degree 222),
    # all inside one codegen stage. Measured 1.5-2.5x faster at
    # sf0.1, and the advantage grows with density because shuffle
    # volume drops from O(wedges) rows to O(m · sqrt(m)) array bytes.
    #
    # Plan choice (round 8): pick K on the driver from 1-row
    # aggregates, so the K=1 plan carries ZERO chunk scaffolding.
    # Cheap gate first: out-degree ≤ undirected degree, so if the
    # max over the (checkpointed, |V|-row) degree frame is within
    # the cap, K=1 is proven without another pass over the edges;
    # only a genuinely skewed distribution pays the exact
    # out-degree aggregate.
    max_deg = deg.agg(F.max("d")).first()[0] or 0
    if max_deg <= chunk_cap:
        k_chunks = 1
    else:
        # rare engaged path: the chunked closing consumes oriented
        # repeatedly (the max_od probe, the chunked adjacency, the
        # per-edge join side), so pin it here — the common path never
        # pays this materialization.
        oriented = oriented.localCheckpoint()
        max_od = (
            oriented.groupBy("u")
            .agg(F.count(F.lit(1)).alias("od"))
            .agg(F.max("od"))
            .first()[0]
            or 0
        )
        k_chunks = max(-(-max_od // chunk_cap), 1)

    if k_chunks == 1:
        # r18 closing shape: the oriented edge list IS the grouped
        # adjacency re-exploded — (u, v ∈ nbrs(u)) row for row — so
        # the r17 plan's first join (oriented ⋈ adj on u: an extra
        # exchange of the edge list, a sort of BOTH sides, and a
        # second build of the same adjacency aggregate) is replaced
        # by one explode in the stage already holding adj. The per-
        # edge array payload (the bench's biggest single shuffle,
        # 156 MB at sf0.1) still moves exactly once — that is the
        # compact-forward minimum — but is no longer SORTED: the
        # closing join is a hinted shuffled-hash join whose BUILD
        # side is the |V|-row adjacency (guide §3.1: build the side
        # that is small per partition; the r17-rejected global
        # SMJ→SHJ flip failed on OTHER joins, where the heavy side
        # became the build).
        # The adjacency is checkpointed because BOTH closing-join
        # sides read it (the r17 shape instead checkpointed the
        # 2-long-per-row oriented list and rebuilt this aggregate
        # once per side — two 0.44 s passes over ~100 MB of
        # deserialized checkpoint objects in the profile); the array
        # frame is |V| rows and smaller than the edge list it
        # replaces.
        adj = oriented.groupBy("u").agg(
            F.collect_list("v").alias("nbrs")
        ).localCheckpoint()
        left = adj.select(
            F.col("nbrs").alias("nbrs_u"), F.explode("nbrs").alias("v")
        )
        av = adj.alias("av")
        triangles = (
            left.join(av.hint("shuffle_hash"), F.col("v") == F.col("av.u"))
            .select(
                F.size(
                    F.array_intersect(F.col("nbrs_u"), F.col("av.nbrs"))
                ).alias("k")
            )
            .agg(F.coalesce(F.sum("k"), F.lit(0)).cast("bigint").alias("n_triangles"))
        )
    else:
        # engaged celebrity defense: aligned global modulus (a
        # literal — K is already on the driver), closing join on
        # (vertex, chunk). See the docstring for the exactness
        # argument; the cap-2 invariant test pins it to the bit.
        adj = (
            oriented.groupBy(
                "u", F.pmod(F.hash("v"), F.lit(k_chunks)).alias("c")
            ).agg(F.collect_list("v").alias("nbrs"))
        )
        au = adj.alias("au")
        av = adj.alias("av")
        triangles = (
            oriented.alias("o")
            .join(au, F.col("o.u") == F.col("au.u"))
            .join(
                av,
                (F.col("o.v") == F.col("av.u")) & (F.col("au.c") == F.col("av.c")),
            )
            .select(
                F.size(
                    F.array_intersect(F.col("au.nbrs"), F.col("av.nbrs"))
                ).alias("k")
            )
            .agg(F.coalesce(F.sum("k"), F.lit(0)).cast("bigint").alias("n_triangles"))
        )

    # Degree sum is 2|E|, so the edge count falls out of the same
    # aggregate — one 1-row frame instead of two. The combine with
    # the triangle count joins nothing: union the two single-row
    # frames on an aligned nullable schema and max-fold, so the plan
    # has NO nested-loop/cartesian node anywhere (pinned by test).
    wedges = deg.agg(
        (F.sum("d") / 2).cast("bigint").alias("n_edges"),
        F.count(F.lit(1)).alias("n_vertices"),
        F.sum(F.expr("d * (d - 1) / 2")).cast("bigint").alias("n_wedges"),
    ).select("n_edges", "n_vertices", "n_wedges", F.lit(None).cast("bigint").alias("n_triangles"))

    combined = wedges.unionAll(
        triangles.select(
            F.lit(None).cast("bigint").alias("n_edges"),
            F.lit(None).cast("bigint").alias("n_vertices"),
            F.lit(None).cast("bigint").alias("n_wedges"),
            F.col("n_triangles"),
        )
    )

    return combined.agg(
        F.max("n_edges").alias("n_edges"),
        F.max("n_vertices").alias("n_vertices"),
        F.max("n_wedges").alias("n_wedges"),
        F.max("n_triangles").alias("n_triangles"),
    ).select(
        "n_edges",
        "n_vertices",
        "n_wedges",
        "n_triangles",
        F.round(
            F.lit(3.0) * F.col("n_triangles") / F.col("n_wedges"), 6
        ).alias("clustering_coeff"),
    )


@register(
    "graph_top_copurchase",
    oracle=f"""
    WITH {_EDGES_CTE},
    deg AS (
      SELECT vertex, COUNT(*) AS degree
      FROM (SELECT src AS vertex FROM e UNION ALL SELECT dst AS vertex FROM e)
      GROUP BY vertex
    )
    SELECT vertex AS partkey, degree
    FROM deg
    ORDER BY degree DESC, partkey ASC
    LIMIT 20
    """,
    tags=("graph", "topk"),
)
def graph_top_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most-connected parts in the co-purchase graph: distinct-edge
    degree, top 20. One shuffle for the degree agg, then
    TakeOrderedAndProject — no global sort."""
    edges = copurchase_edges(spark, sf_dir)
    return (
        edges.select(F.col("src").alias("partkey"))
        .unionAll(edges.select(F.col("dst").alias("partkey")))
        .groupBy("partkey")
        .agg(F.count(F.lit(1)).alias("degree"))
        .orderBy(F.col("degree").desc(), F.col("partkey").asc())
        .limit(20)
    )


_PR_ITER_SQL = """
    c{i} AS (
      SELECT bi.dst AS vertex,
             CAST(SUM(CAST(r{p}.r / r{p}.od AS DECIMAL(38,18))) AS DOUBLE) AS s
      FROM bi JOIN r{p} ON bi.src = r{p}.vertex
      GROUP BY 1
    ),
    r{i} AS (
      SELECT c{i}.vertex, deg.od,
             0.15 / (SELECT n FROM nn) + 0.85 * c{i}.s AS r
      FROM c{i} JOIN deg ON deg.vertex = c{i}.vertex
    )
"""

PAGERANK_ITERS = 3

#: max neighbors per adjacency-chunk row — bounds the memory of any
#: single row/agg-buffer regardless of degree skew. 4096 longs ≈
#: 32 KB per row; a 10M-degree celebrity vertex becomes ~2.4k chunk
#: rows instead of one 80 MB array.
ADJ_CHUNK_CAP = 4096


@register(
    "graph_pagerank",
    oracle=(
        """
    WITH e0 AS (
      SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
      WHERE a.l_partkey < b.l_partkey
    ),
    bi AS (SELECT src, dst FROM e0 UNION ALL SELECT dst AS src, src AS dst FROM e0),
    deg AS (SELECT src AS vertex, COUNT(*) AS od FROM bi GROUP BY 1),
    nn AS (SELECT COUNT(*) AS n FROM deg),
    r0 AS (SELECT vertex, od, 1.0 / (SELECT n FROM nn) AS r FROM deg),
    """
        + ",\n".join(
            _PR_ITER_SQL.format(i=i, p=i - 1) for i in range(1, PAGERANK_ITERS + 1)
        )
        + f"""
    SELECT vertex, round(r, 9) AS rank
    FROM r{PAGERANK_ITERS}
    ORDER BY r DESC, vertex ASC
    LIMIT 20
    """
    ),
    tags=("graph", "pagerank", "iterative"),
)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank, PAGERANK_ITERS (=3) fixed power iterations over the
    (bidirectional) co-purchase graph — the engine's iterative-
    algorithm representative alongside connected components, with a
    full value oracle (the DuckDB twin unrolls the same three
    iterations).

    Engine-portable determinism: per-edge contributions r/od are
    identical IEEE doubles in both engines; each iteration's SUM runs
    in DECIMAL(38,18) (exact, order-independent) and returns to
    double for the damping arithmetic — so the ranks are bit-equal
    across engines and partitionings, iteration after iteration.

    Scale shape — GraphX/Pregel's message-grouping trick in pure
    DataFrame form: the edge list is pre-grouped ONCE into per-vertex
    adjacency chunk rows (materialized via localCheckpoint), so each
    iteration joins the |V|-row rank state against |chunks|-row
    adjacency instead of re-shuffling the full |E|-row edge list —
    the fan-out to |E| contributions happens scan-locally in an
    explode, and the map-side partial aggregate compresses it back to
    ≤|V| rows per partition before the only shuffle (the dst
    aggregate). Measured ~1.75x faster at sf0.1; the gap widens with
    iteration count since the edge shuffle is paid zero times instead
    of once per round. Celebrity vertices can't blow up a row — but
    the defense ENGAGES only when a degree can exceed ADJ_CHUNK_CAP,
    a driver-side plan-shape choice (round 9, porting the triangle's
    round-8 lesson) made from a SOUND upper bound that costs two
    narrow lineitem aggregates in one tiny job — no pass over the
    copurchase self-join: degree(p) ≤ lines(p) x (max order size -
    1). When the bound clears the cap (every measured distribution),
    the emitted plan is ONE fused job — bare grouped adjacency, zero
    chunk scaffolding, no degree pre-pass, no edge materialization
    beyond the adjacency checkpoint itself (interleaved same-JVM A/B
    at the 16x replica: 19-21 s vs 22-29 s for the always-chunked
    round-8 shape). Only a loose bound pays the exact degree probe,
    and only a real celebrity engages the chunk split: adjacency
    arrays capped at ADJ_CHUNK_CAP neighbors per row (chunk =
    hash(dst) mod ceil(od / cap)), per-chunk partial sums
    exact-decimal so the split provably can't change the result
    (pinned by tests/test_components.py's cap-2 vs default
    differential). The vertex-count normalizer is a
    broadcast 1-row frame, never a driver-side collect. The
    bidirectional graph has no dangling vertices (every vertex has
    in-edges), so no dangling-mass correction term is needed.
    Iteration count is fixed — at 100 TB you run it to a tolerance
    with the same per-round plan and localCheckpoint every few
    rounds to truncate lineage (same discipline as
    dedup/components.py)."""
    return _pagerank(spark, sf_dir, ADJ_CHUNK_CAP)


def _pagerank(spark: SparkSession, sf_dir: str, chunk_cap: int) -> DataFrame:
    edges = copurchase_edges(spark, sf_dir)
    bi = edges.unionAll(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    # Plan choice (round 9 — the triangle's round-8 lesson ported):
    # decide the chunk engagement ON THE DRIVER. The decision
    # statistic must be cheaper than the thing it protects, so the
    # first probe is a SOUND degree bound from the source table (one
    # tiny job, no copurchase pass); only a loose bound pays an
    # exact degree pass, and only a real celebrity engages the chunk
    # machinery (the triangle paid ~+24% at the 16x sweep point for
    # always-on scaffolding before its round-8 fix; an interleaved
    # same-JVM A/B at the 16x replica puts this fused shape at
    # 19-21 s vs 22-29 s for the round-8 always-chunked one).
    if _pagerank_degree_bound(spark, sf_dir) <= chunk_cap:
        # common path: ONE fused job builds the unchunked adjacency
        # straight off the self-join — od is the group count, so no
        # degree pre-pass, no edge materialization, and the
        # checkpointed adjacency (one row per vertex) doubles as the
        # (vertex, od) iteration spine.
        adj = _pagerank_adjacency(bi, None, chunk_cap, 0).localCheckpoint()
        verts = adj.select("vertex", "od")
    else:
        # rare path (no measured distribution reaches it): pin the
        # expensive self-join once, take the exact max degree, and
        # let _pagerank_adjacency engage the chunk split only if a
        # row-blowing celebrity really exists.
        edges = edges.localCheckpoint()
        bi = edges.unionAll(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        deg = (
            bi.groupBy(F.col("src").alias("vertex"))
            .agg(F.count(F.lit(1)).alias("od"))
            .localCheckpoint()
        )
        max_od = deg.agg(F.max("od")).first()[0] or 0
        adj = _pagerank_adjacency(bi, deg, chunk_cap, max_od).localCheckpoint()
        verts = deg
    nn = verts.agg(F.count(F.lit(1)).alias("n"))
    state = verts.crossJoin(F.broadcast(nn)).select(
        "vertex", "od", (F.lit(1.0) / F.col("n")).alias("r")
    )
    for _ in range(PAGERANK_ITERS):
        # the double→decimal(38,18) cast is the iteration's priciest
        # per-row expression (BigDecimal via Double.toString); compute
        # it once per VERTEX below the explode instead of once per
        # CONTRIBUTION above it (r17: ~|V| casts instead of ~2|E| —
        # the Generate node carries the ready column through, and the
        # summed values are bit-identical by construction)
        contrib = (
            adj.join(state.select("vertex", "r"), "vertex")
            .select(
                "nbrs",
                (F.col("r") / F.col("od")).cast("decimal(38,18)").alias("c"),
            )
            .select(F.explode("nbrs").alias("dst"), "c")
        )
        sums = contrib.groupBy(F.col("dst").alias("vertex")).agg(
            F.sum("c").cast("double").alias("s")
        )
        state = (
            sums.join(verts, "vertex")
            .crossJoin(F.broadcast(nn))
            .select(
                "vertex",
                "od",
                (F.lit(0.15) / F.col("n") + F.lit(0.85) * F.col("s")).alias("r"),
            )
        )
    return (
        state.orderBy(F.col("r").desc(), F.col("vertex").asc())
        .limit(20)
        .select("vertex", F.round(F.col("r"), 9).alias("rank"))
    )


def _pagerank_degree_bound(spark: SparkSession, sf_dir: str) -> int:
    """Sound upper bound on any vertex's bidirectional co-purchase
    degree, computed WITHOUT touching the copurchase self-join: a
    part's partners all come from orders it appears in, so
    degree(p) ≤ Σ_{lines of p} (order size - 1) ≤ lines(p) x
    (max order size - 1). Both maxima come from narrow single-column
    aggregates over lineitem, fused into one job via a keyed union —
    at 100 TB that is two map-side-combined columnar scans with
    |P|+|O|-row shuffles, versus the full self-join + distinct the
    exact probe would pay. Soundness (bound ≥ true max degree at the
    test SF) is pinned by tests/test_components.py."""
    li = t(spark, sf_dir, "lineitem")
    rows = (
        li.select(F.col("l_partkey").alias("k"), F.lit(0).alias("kind"))
        .unionAll(
            li.select(F.col("l_orderkey").alias("k"), F.lit(1).alias("kind"))
        )
        .groupBy("kind", "k")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("kind")
        .agg(F.max("c").alias("m"))
        .collect()
    )
    ms = {r["kind"]: r["m"] for r in rows}
    return (ms.get(0) or 0) * max((ms.get(1) or 1) - 1, 0)


def _pagerank_adjacency(
    bi: DataFrame, deg: DataFrame | None, chunk_cap: int, max_od: int
) -> DataFrame:
    """The grouped adjacency frame (vertex, nbrs, od), with the
    celebrity-chunk defense engaged ONLY when the driver-computed
    ``max_od`` exceeds ``chunk_cap`` — extracted so the plan-shape
    test can pin both branches without running the iterations."""
    if max_od <= chunk_cap:
        # unchunked: ONE aggregate over bi — od is the group count,
        # so the deg join disappears with the chunk machinery.
        return bi.groupBy(F.col("src").alias("vertex")).agg(
            F.collect_list("dst").alias("nbrs"), F.count(F.lit(1)).alias("od")
        )
    # engaged celebrity defense: a vertex with od > chunk_cap splits
    # into ceil(od/cap) rows, each carrying ≤~cap neighbors + the
    # full od, so no single row ever holds a celebrity vertex's
    # whole neighborhood. At this SF deg is broadcast by AQE; at
    # 100 TB the join is co-partitioned on the vertex key bi is
    # already grouped by. Bit-exactness of the split is pinned by
    # the cap-2 invariant test.
    return (
        bi.join(deg, bi.src == deg.vertex)
        .select(
            "src",
            "dst",
            "od",
            F.pmod(
                F.hash("dst"), F.ceil(F.col("od") / F.lit(chunk_cap)).cast("int")
            ).alias("chunk"),
        )
        .groupBy("src", "chunk")
        .agg(F.collect_list("dst").alias("nbrs"), F.first("od").alias("od"))
        .select(F.col("src").alias("vertex"), "nbrs", "od")
    )


_KCORE_PEEL_SQL = """
      SELECT src, dst FROM {edges}
      WHERE src IN (SELECT vertex FROM (
              SELECT vertex, COUNT(*) AS d
              FROM (SELECT src AS vertex FROM {edges}
                    UNION ALL SELECT dst AS vertex FROM {edges})
              GROUP BY vertex) WHERE d >= {k})
        AND dst IN (SELECT vertex FROM (
              SELECT vertex, COUNT(*) AS d
              FROM (SELECT src AS vertex FROM {edges}
                    UNION ALL SELECT dst AS vertex FROM {edges})
              GROUP BY vertex) WHERE d >= {k})
"""

_KCORE_K = 4


@register(
    "graph_kcore_peel",
    oracle=f"""
    WITH {_EDGES_CTE},
    p1 AS ({_KCORE_PEEL_SQL.format(edges="e", k=_KCORE_K)}),
    p2 AS ({_KCORE_PEEL_SQL.format(edges="p1", k=_KCORE_K)}),
    stats AS (
      SELECT 0 AS round, COUNT(*) AS n_edges,
             (SELECT COUNT(DISTINCT v) FROM (SELECT src AS v FROM e
                UNION ALL SELECT dst FROM e)) AS n_vertices FROM e
      UNION ALL
      SELECT 1, COUNT(*),
             (SELECT COUNT(DISTINCT v) FROM (SELECT src AS v FROM p1
                UNION ALL SELECT dst FROM p1)) FROM p1
      UNION ALL
      SELECT 2, COUNT(*),
             (SELECT COUNT(DISTINCT v) FROM (SELECT src AS v FROM p2
                UNION ALL SELECT dst FROM p2)) FROM p2
    )
    SELECT round, n_vertices, n_edges FROM stats
    """,
    tags=("graph", "kcore", "iterative"),
)
def graph_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition (two peeling rounds, k={k}): repeatedly
    remove vertices with degree < k; what survives is the graph's
    dense backbone — the community-detection prefilter and the
    spam/bot-cluster signal in co-interaction graphs. Reports
    (vertices, edges) after rounds 0/1/2; convergence = a round
    that removes nothing.

    The iterative-graph family's third member, integer-exact end to
    end (degrees are counts — no decimal machinery needed to make
    rounds replayable, unlike PageRank's rank mass). Per round: one
    degree aggregate + one semi-join of edges against surviving
    vertices — both on the edge list's own keys; rounds compose
    exactly like connected components (checkpoint lineage on deep
    peels). The oracle replays both rounds via IN-subqueries; Spark
    uses left-semi joins (same semantics, null-safe by
    construction).

    Each round's survivor edge list AND its degree frame are
    localCheckpoint-ed: the degree frame a round's peel needs anyway
    also answers that round's stats row — n_vertices is its count
    and n_edges is sum(d) DIV 2 (every edge contributes two
    endpoints, so the division is integer-exact) — which removes the
    per-round countDistinct over the 2|E|-row endpoint stream
    entirely. Measured 7.3 → 4.1 s at sf0.1 for the checkpoints,
    then 15.0 → 9.3 s at the 4x sweep point for the degree-frame
    stats (the countDistinct shuffle was the growing term). On deep
    peels the checkpoints double as the lineage truncation.""".format(
        k=_KCORE_K
    )
    edges0 = copurchase_edges(spark, sf_dir).localCheckpoint()

    def stats(deg: DataFrame, rnd: int) -> DataFrame:
        return deg.agg(
            F.count(F.lit(1)).alias("n_vertices"),
            F.expr("sum(d) DIV 2").alias("n_edges"),
        ).select(F.lit(rnd).alias("round"), "n_vertices", "n_edges")

    d0 = _kcore_degrees(edges0).localCheckpoint()
    p1 = _kcore_peel(edges0, d0, _KCORE_K).localCheckpoint()
    d1 = _kcore_degrees(p1).localCheckpoint()
    p2 = _kcore_peel(p1, d1, _KCORE_K)
    d2 = _kcore_degrees(p2)
    return stats(d0, 0).unionAll(stats(d1, 1)).unionAll(stats(d2, 2))


def _kcore_degrees(edges: DataFrame) -> DataFrame:
    """Endpoint-count degree frame of an undirected edge list, one per
    peel round."""
    return (
        edges.select(F.col("src").alias("vertex"))
        .unionAll(edges.select(F.col("dst").alias("vertex")))
        .groupBy("vertex")
        .agg(F.count(F.lit(1)).alias("d"))
    )


def _kcore_peel(edges: DataFrame, deg: DataFrame, k: int) -> DataFrame:
    """One peel round: keep edges whose BOTH endpoints survive the
    degree->=k filter (two left-semi joins on the edge list's own
    keys)."""
    surv = deg.filter(F.col("d") >= k).select("vertex")
    return (
        edges.join(surv, edges.src == surv.vertex, "left_semi")
        .join(surv, edges.dst == surv.vertex, "left_semi")
    )
