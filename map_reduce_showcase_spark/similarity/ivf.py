"""IVF-style ANN: coarse-quantizer partitioning by nearest centroid.

The second of the engine's two ANN strategies (sign-LSH in
``lsh.py`` is data-independent; IVF adapts to the data's cluster
structure):

1. build centroids — here from the ``label`` column via
   ``analytics.label_centroids`` (decimal-exact, rounded, so the
   oracle replays them); a production build runs k-means on a
   sample,
2. assign every vector to its nearest centroid (argmax cosine,
   deterministic label tie-break) — an O(n·k) broadcast scoring
   pass, no shuffle of the vectors,
3. search only the query's cell (nprobe=1; probe more cells for
   recall by relaxing the rank filter in step 2).

Scale: the assignment pass streams; the per-cell search is a
bucket equi-join exactly like LSH. Centroid count k scales with
sqrt(n) classically — k partitions ≈ balanced cells assuming
reasonable cluster structure; monitor with the bucket histogram.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.vectors import cosine_from_norms, l2_norm
from .analytics import label_centroids
from .brute_force import QC_COSINE, keep_topk


def centroid_vectors(vectors: DataFrame) -> DataFrame:
    """(label, centvec) dense centroid arrays from the long-format
    rounded centroids (rounding keeps them oracle-replayable)."""
    long = label_centroids(vectors, "label")
    return long.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "centroid"))),
            lambda s: s["centroid"],
        ).alias("centvec")
    )


def ivf_assign(
    vectors: DataFrame, centroids: DataFrame, nprobe: int = 1
) -> DataFrame:
    """(vec_id, cell): nearest-centroid assignment, broadcast
    scoring, deterministic (score desc, label asc) ranking. With
    ``nprobe`` > 1 each vector maps to its ``nprobe`` nearest cells
    — the query-side recall dial (index vectors always use
    nprobe=1: a vector LIVES in one cell, a query SEARCHES several).
    """
    from ..functions.util import rebalance

    # fold each norm once per row (vector side) / once per centroid
    # (broadcast side) instead of once per (vector × centroid) pair
    scored = (
        rebalance(vectors)
        .selectExpr("vec_id", "embedding AS _emb", f"{l2_norm('embedding')} AS _norm")
        .crossJoin(F.broadcast(centroids.withColumn("_cnorm", F.expr(l2_norm("centvec")))))
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.expr(cosine_from_norms("_emb", "centvec", "_norm", "_cnorm")).desc(),
        F.col("label"),
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= nprobe)
        .select("vec_id", F.col("label").alias("cell"))
    )


def topk_cosine_ivf(
    vectors: DataFrame, n_queries: int = 10, k: int = 5, nprobe: int = 1
) -> DataFrame:
    """Approximate top-k neighbors searching the query's ``nprobe``
    nearest IVF cells (candidates live in exactly one cell, so
    multi-probe never double-counts a candidate). Output
    ``(query_id, cand_id, rnk, cosine)`` — same shape as the exact
    and LSH variants for recall diffing. nprobe is the standard IVF
    recall/cost dial: cost grows linearly with probed cells, recall
    approaches exact as nprobe → n_cells."""
    centroids = centroid_vectors(vectors)
    cells = ivf_assign(vectors, centroids)
    v = vectors.join(cells, "vec_id")
    q_src = vectors.filter(F.col("vec_id") < n_queries)
    q = q_src.join(ivf_assign(q_src, centroids, nprobe), "vec_id").selectExpr(
        "vec_id AS query_id", "embedding AS q_emb", f"{l2_norm('embedding')} AS q_norm", "cell"
    )
    c = v.selectExpr(
        "vec_id AS cand_id", "embedding AS c_emb", f"{l2_norm('embedding')} AS c_norm", "cell"
    )
    scored = (
        c.join(F.broadcast(q), "cell")
        .filter(F.col("query_id") != F.col("cand_id"))
        .selectExpr("query_id", "cand_id", f"{QC_COSINE} AS cos")
    )
    return keep_topk(scored, k)
