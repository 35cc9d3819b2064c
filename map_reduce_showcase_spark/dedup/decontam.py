"""Benchmark decontamination: n-gram overlap of a corpus against an
evaluation set.

The standard pre-training hygiene step: before a corpus ships, every
document is scored for shingle overlap with the benchmark suite
(test questions, eval prompts); documents above a threshold are
dropped so downstream evals measure generalization, not leakage.

Scale shape: benchmark suites are tiny (MBs) next to the corpus
(TBs), so the benchmark's distinct-shingle set BROADCASTS — the
overlap probe is a broadcast hash join at scan speed over the
corpus's inverted index, followed by one per-doc count shuffle.
Never join corpus×corpus here; contamination is asymmetric by
construction.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .jaccard import shingle_rows


def contamination_report(
    docs: DataFrame,
    is_benchmark: Column,
    n: int = 2,
    flag_threshold: float = 0.5,
) -> DataFrame:
    """Per corpus-document overlap with the benchmark shingle set:
    ``(doc_id, n_shingles, n_overlap, overlap_frac, contaminated)``.

    ``is_benchmark`` is a boolean Column over the input rows
    selecting the eval set; all other documents are the corpus
    under test. Documents with zero shingles (< n tokens) carry no
    n-gram evidence and are omitted, matching the SQL oracle."""
    sh = shingle_rows(docs, n)
    # the flag is a function of the source row, not the shingle, so
    # attach it with one id-only join onto the inverted index
    ids = docs.select("doc_id", is_benchmark.alias("_bench"))
    sh = sh.join(ids, "doc_id")
    bench = sh.filter(F.col("_bench")).select("shingle").distinct()
    corpus = sh.filter(~F.col("_bench")).select("doc_id", "shingle")
    sizes = corpus.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    hits = (
        corpus.join(F.broadcast(bench), "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    frac = F.col("n_overlap").cast("double") / F.col("n_shingles").cast("double")
    return (
        sizes.join(hits, "doc_id", "left")
        .withColumn("n_overlap", F.coalesce(F.col("n_overlap"), F.lit(0)))
        .select(
            "doc_id",
            F.col("n_shingles").cast("int").alias("n_shingles"),
            F.col("n_overlap").cast("int").alias("n_overlap"),
            F.round(frac, 6).alias("overlap_frac"),
            (frac >= flag_threshold).alias("contaminated"),
        )
    )
