"""Brute-force cosine similarity search over embedding columns.

The exact baseline: query set × candidate set cross/cartesian scoring
with a native ``zip_with``/``aggregate`` dot product (JVM-side, no
Python), then per-query top-k via a rank window.

Scale: brute force is O(|Q|·|C|·d) — fine when either side is small
(a broadcastable query batch against 100 TB of candidates streams
perfectly: broadcast Q, score candidates in place, per-partition
top-k heaps, tiny final merge — no candidate shuffle at all). For
big-Q × big-C use ``lsh.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.vectors import cosine_from_norms, l2_norm

#: cosine of a scored (query, candidate) row from the ``q_emb`` /
#: ``c_emb`` embeddings and their ``q_norm`` / ``c_norm`` norms
QC_COSINE = cosine_from_norms("q_emb", "c_emb", "q_norm", "c_norm")


def _scored(queries: DataFrame, candidates: DataFrame) -> DataFrame:
    from ..functions.util import rebalance

    # norms are pair-invariant: fold them once per row here, not once
    # per (query × candidate) pair in the scoring select (3× fewer
    # element ops in the O(|Q|·|C|) stage; bit-identical arithmetic)
    q = queries.selectExpr(
        "vec_id AS query_id", "embedding AS q_emb", f"{l2_norm('embedding')} AS q_norm"
    )
    c = rebalance(candidates).selectExpr(
        "vec_id AS cand_id", "embedding AS c_emb", f"{l2_norm('embedding')} AS c_norm"
    )
    return (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("cand_id"))
        .selectExpr("query_id", "cand_id", f"{QC_COSINE} AS cos")
    )


def keep_topk(
    scored: DataFrame, k: int, cand: str = "cand_id", carry: tuple[str, ...] = ()
) -> DataFrame:
    """The tail every top-k search ends in: rank each query's rows of
    ``scored`` (``query_id``, ``cand``, ``cos``, ``carry``) by cosine
    descending, ties broken by ``cand`` for determinism, keep the
    first ``k``, and project ``(query_id, cand, *carry, rnk INT,
    cosine)`` with the cosine rounded to 6 places. The exact, LSH and
    IVF searches and hard-negative mining all end here, so their
    output cannot drift apart."""
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col(cand))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= k)
        .select("query_id", cand, *carry, "rnk", F.round(F.col("cos"), 6).alias("cosine"))
    )


def topk_cosine(queries: DataFrame, candidates: DataFrame, k: int = 5) -> DataFrame:
    """Exact top-k neighbors per query: ``(query_id, cand_id, rnk,
    cosine)``; ties broken by cand_id for determinism."""
    return keep_topk(_scored(queries, candidates), k)


def cosine_pairs(vectors: DataFrame, threshold: float) -> DataFrame:
    """All (v1, v2, cosine) pairs with cosine ≥ threshold — the
    embedding-space near-duplicate detector. O(n²): correct at
    verification scale; the LSH variant is the 100 TB path."""
    a = vectors.selectExpr("vec_id AS v1", "embedding AS e1", f"{l2_norm('embedding')} AS n1")
    b = vectors.selectExpr("vec_id AS v2", "embedding AS e2", f"{l2_norm('embedding')} AS n2")
    cos = F.expr(cosine_from_norms("e1", "e2", "n1", "n2"))
    return (
        a.crossJoin(b)
        .filter(F.col("v1") < F.col("v2"))
        .filter(cos >= threshold)
        .select("v1", "v2", F.round(cos, 6).alias("cosine"))
    )
