"""Vector-column analytics: per-group centroids in long format.

Centroids underpin IVF-style ANN partitioning and cluster-quality
monitoring. Computed by exploding (dim, value) pairs and running one
decimal-exact aggregation per (group, dim) — shuffle volume is
groups × dims rows, independent of vector count, and partial
aggregation does the heavy summation map-side. Long format (one row
per dimension) keeps the result oracle-checkable and join-friendly;
``collect_list`` it back into arrays when a dense layout is needed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def label_centroids(vectors: DataFrame, label_col: str = "label") -> DataFrame:
    """(label, dim, centroid, n_vectors): mean per dimension per
    label. dim is 1-based. Decimal-exact sums → one final IEEE
    division → portable values."""
    exploded = vectors.select(
        F.col(label_col).alias("label"),
        F.posexplode(F.col("embedding")).alias("dim0", "val"),
    )
    n = F.count(F.lit(1))
    return (
        exploded.groupBy("label", (F.col("dim0") + 1).alias("dim"))
        .agg(
            F.round(
                F.sum(F.col("val").cast("decimal(28,9)")).cast("double") / n, 6
            ).alias("centroid"),
            n.alias("n_vectors"),
        )
        .select("label", F.col("dim").cast("int").alias("dim"), "centroid", "n_vectors")
    )


def kmeans_assign(vectors: DataFrame, centroids: DataFrame) -> DataFrame:
    """(vec_id, v, cid, cos): each vector assigned to its highest-
    cosine centroid (ties → lowest cid) with ZERO vector shuffles.

    The k centroids collapse into ONE broadcast row of
    (cid, cv, norm) structs, so the assignment is a per-row
    ``array_max`` over a ``transform`` — an expression evaluated at
    scan: no scored-pair frame, no groupBy, no exchange carrying
    vectors. (The naive form — crossJoin each centroid row, then
    groupBy(vec_id) for the argmax — shuffles |V|·k rows WITH the
    embedded arrays; that exchange is the first casualty at 100 TB.)
    Struct comparison resolves (cos, -cid) lexicographically, and
    the result is independent of ``collect_list``'s nondeterministic
    order because max scans every element."""
    from ..functions.vectors import dot, l2_norm

    cent_row = centroids.selectExpr(
        f"named_struct('cid', cid, 'cv', cv, 'cn', {l2_norm('cv')}) AS c"
    ).agg(F.collect_list("c").alias("cs"))
    best = (
        f"array_max(transform(cs, c -> named_struct("
        f"'cos', {dot('v', 'c.cv')} / ({l2_norm('v')} * c.cn), 'ncid', -c.cid)))"
    )
    return (
        vectors.crossJoin(F.broadcast(cent_row))
        .withColumn("b", F.expr(best))
        .select(
            "vec_id",
            "v",
            (-F.col("b.ncid")).cast("int").alias("cid"),
            F.col("b.cos").alias("cos"),
        )
    )


def kmeans_update(assigned: DataFrame) -> DataFrame:
    """(cid, cv): new centroids — decimal-exact per-dimension means
    rounded to 6 places (accumulation-order independent, so every
    engine and every partitioning rebuilds bit-identical centroids).
    Shuffle volume is clusters × dims, independent of vector count;
    the heavy summation happens map-side."""
    exploded = assigned.select("cid", F.posexplode("v").alias("dim", "val"))
    n = F.count(F.lit(1))
    per_dim = exploded.groupBy("cid", "dim").agg(
        F.round(F.sum(F.col("val").cast("decimal(28,9)")).cast("double") / n, 6).alias(
            "c"
        )
    )
    return per_dim.groupBy("cid").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "c"))), lambda s: s["c"]
        ).alias("cv")
    )
