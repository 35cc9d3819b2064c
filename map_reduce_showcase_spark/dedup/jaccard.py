"""Exact n-gram Jaccard near-dup pairs via an inverted shingle index.

The scalable exact algorithm (and the verification stage behind
MinHash): explode each document into its distinct word-n-gram
shingles, self-join the inverted index on the shingle, count shared
shingles per pair, then Jaccard = |∩| / (|A|+|B|−|∩|).

Scale: the self-join shuffles on the shingle — high-frequency
shingles (boilerplate) are the skew risk; drop shingles with
document-frequency above a cap first (standard practice — a shingle
shared by millions of docs carries no dedup signal but creates a
quadratic bucket). :func:`cap_shingle_df` implements that cap;
:func:`containment_pairs` applies it, :func:`ngram_jaccard_pairs`
pairs the whole index.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.text import portable_hash60, shingles, tokens


def shingle_rows(docs: DataFrame, n: int = 2) -> DataFrame:
    """(doc_id, shingle) inverted-index rows, distinct per doc.

    The raw text is rebalanced first, so a single parquet file does
    not pin tokenizing and shingling to one task. The token array is
    projected once: the shingle expression references it several
    times, so Catalyst keeps it in its own projection instead of
    re-running the tokenize regex per reference."""
    from ..functions.util import rebalance

    return (
        rebalance(docs)
        .selectExpr("doc_id", f"{tokens('text')} AS _toks")
        .selectExpr("doc_id", f"explode(array_distinct({shingles('_toks', n)})) AS shingle")
    )


def cap_shingle_df(sh: DataFrame, max_shingle_df: int) -> DataFrame:
    """Drop shingles whose corpus document frequency exceeds the cap
    (boilerplate defense — a shingle shared by millions of docs
    carries no dedup signal but creates a quadratic join bucket)."""
    w = Window.partitionBy("shingle")
    return (
        sh.withColumn("_df", F.count(F.lit(1)).over(w))
        .filter(F.col("_df") <= max_shingle_df)
        .drop("_df")
    )


def keep_jaccard(pairs: DataFrame, jac: Column, threshold: float) -> DataFrame:
    """The verify tail every Jaccard operator ends in: the ``(d1, d2)``
    pairs of ``pairs`` whose ``jac`` is ≥ threshold, as
    ``(d1, d2, jaccard)`` rounded to 6 places. The exhaustive pair
    scan and MinHash both end here, so their semantics cannot drift
    apart."""
    return pairs.filter(jac >= threshold).select("d1", "d2", F.round(jac, 6).alias("jaccard"))


def jaccard_filter(
    inter: DataFrame, sizes: DataFrame, threshold: float
) -> DataFrame:
    """(d1, d2, inter) + per-doc shingle sizes → pairs with Jaccard ≥
    threshold, through :func:`keep_jaccard`."""
    s1 = sizes.select(F.col("doc_id").alias("d1"), F.col("sz").alias("sz1"))
    s2 = sizes.select(F.col("doc_id").alias("d2"), F.col("sz").alias("sz2"))
    jac = F.col("inter") * F.lit(1.0) / (F.col("sz1") + F.col("sz2") - F.col("inter"))
    return keep_jaccard(inter.join(s1, "d1").join(s2, "d2"), jac, threshold)


def shingle_sizes(sh: DataFrame) -> DataFrame:
    return sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))


def ngram_jaccard_pairs(
    docs: DataFrame,
    n: int = 2,
    threshold: float = 0.7,
) -> DataFrame:
    """All pairs with n-gram Jaccard ≥ threshold:
    ``(d1, d2, jaccard)``, d1 < d2, jaccard rounded to 6 places."""
    sh = shingle_rows(docs, n)
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return jaccard_filter(inter, shingle_sizes(sh), threshold)


def containment_pairs(
    docs: DataFrame,
    n: int = 2,
    threshold: float = 0.8,
    *,
    max_shingle_df: int,
) -> DataFrame:
    """Pairs with asymmetric shingle CONTAINMENT ≥ threshold in
    either direction: ``(d1, d2, c1, c2)`` where c1 = |∩|/|A| (the
    fraction of d1 inside d2) and c2 = |∩|/|B|.

    Containment is the dedup relation Jaccard cannot express: a
    100-shingle doc quoted whole inside a 10,000-shingle doc has
    containment 1.0 but Jaccard ≈ 0.01 — every threshold that keeps
    it also keeps noise. Quote/excerpt detection (Broder's original
    distinction) therefore tests max(c1, c2), and the same inverted
    shingle index serves both measures — only the normalizer of the
    verify arithmetic changes.

    ``max_shingle_df`` is the boilerplate-shingle DF cap
    (:func:`cap_shingle_df`), applied BEFORE both the intersection
    join and the per-doc sizes, so both containment normalizers see
    the capped index consistently.

    Each shingle string is replaced by its portable 60-bit hash
    BEFORE the DF window and the self-join, so both of this
    operator's shuffles — and the window's sort — move and compare
    8-byte longs instead of n-word strings, whose volume grows with
    the corpus (the same carry-hashes-never-text rule the minhash,
    substring-run and passage operators follow; the hash is the
    md5-based portable one so a DuckDB oracle replays identical
    arithmetic, collisions included)."""
    sh = shingle_rows(docs, n).selectExpr(
        "doc_id", f"{portable_hash60('shingle')} AS shingle"
    )
    sh = cap_shingle_df(sh, max_shingle_df)
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sizes = shingle_sizes(sh)
    s1 = sizes.select(F.col("doc_id").alias("d1"), F.col("sz").alias("sz1"))
    s2 = sizes.select(F.col("doc_id").alias("d2"), F.col("sz").alias("sz2"))
    c1 = F.col("inter") * F.lit(1.0) / F.col("sz1")
    c2 = F.col("inter") * F.lit(1.0) / F.col("sz2")
    return (
        inter.join(s1, "d1")
        .join(s2, "d2")
        .filter(F.greatest(c1, c2) >= threshold)
        .select(
            "d1", "d2", F.round(c1, 6).alias("c1"), F.round(c2, 6).alias("c2")
        )
    )
