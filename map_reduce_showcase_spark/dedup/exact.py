"""Exact deduplication: hash-groupBy on a normalized fingerprint.

The 100 TB pattern: fingerprint every document with a collision-safe
content hash (md5/sha2 — computed scan-side, codegen'd), then one
hash-aggregate on the fingerprint. Shuffle volume is one (hash,
doc_id) pair per document — bytes, not documents. Never shuffle the
text itself to dedup it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import fingerprint


def exact_dup_groups(docs: DataFrame) -> DataFrame:
    """Duplicate groups: fingerprint → (keeper, n_copies) for groups
    with >1 member. ``keeper`` = min id (deterministic survivor)."""
    return (
        docs.selectExpr("doc_id", f"{fingerprint('text')} AS fp")
        .groupBy("fp")
        .agg(
            F.min("doc_id").alias("keeper"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .filter(F.col("n_copies") > 1)
        .select("fp", "keeper", "n_copies")
    )


def exact_dup_stats(docs: DataFrame) -> DataFrame:
    """One-row corpus summary: total docs, distinct fingerprints,
    number of excess copies an exact dedup pass would remove."""
    return docs.selectExpr(f"{fingerprint('text')} AS fp").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_distinct(F.col("fp")).alias("n_distinct"),
        (F.count(F.lit(1)) - F.count_distinct(F.col("fp"))).alias("n_dupes"),
    )
