"""Exact substring-level dedup — fixed-k k-mer index variant of the
suffix-array ExactSubstr method (Lee et al. 2022, "Deduplicating
Training Data Makes Language Models Better").

The suffix-array formulation finds every duplicated substring of
length ≥ L anywhere in the corpus. Its distributed-friendly
equivalent, used here: slide a fixed window of ``k`` tokens over
every document, index the k-grams corpus-wide, and merge runs of
consecutive duplicated k-gram start positions back into MAXIMAL
duplicated spans — a span of ``m ≥ k`` duplicated tokens shows up as
``m − k + 1`` consecutive duplicated k-gram positions, so the island
merge recovers exactly the ≥ k-token duplicated substrings the
suffix array would report (at k-token resolution).

This is finer-grained than both doc-level MinHash (whole-doc
resemblance) and ``dedup_repeated_passages`` (per-span DF vote): it
reports the actual duplicated character of each document — WHERE the
duplicated text lives and HOW LONG it runs — the signal needed to
*clip* duplicated spans out of training data rather than drop whole
documents.

Scale shape (100 TB): k-grams shuffle as 60-bit hashes (8 bytes,
never text); the duplicated-gram test is a count-over-window on the
gram hash — ONE tokenize+hash scan of the corpus and one h-shuffle,
no join anywhere (plan-pinned); the island merge is a per-document
window over only the duplicated positions (a tiny fraction of the
corpus). Ultra-hot grams (empty/boilerplate windows) are the usual
skew keys — cap their document frequency like the inverted shingle
index does.

Reference parity note: the reference engine (map/reduce wc-grep-
vertex apps) has no dedup at all; this module is part of the
training-data-pipeline surface the engine adds on top
(SURVEY.md §2 "beyond the reference").
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.text import portable_hash60, tokens
from ..functions.util import rebalance


def gram_positions(docs: DataFrame, k: int = 10) -> DataFrame:
    """``(doc_id, pos, h)`` — every token k-gram start position with
    its 60-bit gram hash. ``pos`` is 1-indexed over the token
    sequence; docs shorter than ``k`` tokens emit nothing.

    The gram text exists only inside the hash expression — what
    explodes and shuffles is (int, int, long) rows."""
    toks = rebalance(docs).selectExpr("doc_id", f"{tokens('text')} AS _toks")
    # sequence(1, size-k+1) — guarded: sequence(1, 0) would count DOWN
    idx = (
        f"CASE WHEN size(_toks) >= {k} THEN sequence(1, size(_toks) - {k - 1}) "
        f"ELSE CAST(array() AS ARRAY<INT>) END"
    )
    gram = f"concat_ws(' ', slice(_toks, pos, {k}))"
    return toks.selectExpr("doc_id", f"explode({idx}) AS pos", "_toks").selectExpr(
        "doc_id", "CAST(pos AS BIGINT) AS pos", f"{portable_hash60(gram)} AS h"
    )


def duplicate_runs(
    docs: DataFrame,
    k: int = 10,
    max_gram_df: int | None = None,
) -> DataFrame:
    """Maximal duplicated-substring runs per document:
    ``(doc_id, run_start, run_end, run_words)`` with 1-indexed
    inclusive token positions — every maximal span of ≥ k tokens
    whose every k-gram occurs ≥ 2 times corpus-wide (cross- or
    within-document, like the suffix-array method).

    ``max_gram_df`` drops grams hotter than the cap before the island
    merge (boilerplate defense; None = no cap).

    One gram scan, not two: the corpus-wide duplicate test is a
    count-over-window partitioned by the gram hash, so the expensive
    tokenize+hash pass runs once and the df filter rides the same
    h-shuffle the rows need anyway — versus the groupBy + semi-join
    formulation, which scans and hashes the corpus twice and pays an
    extra h-exchange (measured 2x end-to-end at sf0.1 AND at the 16x
    sweep point). The window has no ordering (whole-partition count),
    so a boilerplate mega-gram concentrates its rows in one h
    partition — that's what ``max_gram_df`` bounds, same defense as
    the inverted shingle index's DF cap."""
    grams = gram_positions(docs, k)
    wh = Window.partitionBy("h")
    hits = grams.withColumn("df", F.count(F.lit(1)).over(wh)).filter(
        F.col("df") >= 2
    )
    if max_gram_df is not None:
        hits = hits.filter(F.col("df") <= max_gram_df)
    hits = hits.drop("df")
    # island merge: consecutive duplicated positions share
    # (pos - row_number) — one window over the duplicated subset only
    w = Window.partitionBy("doc_id").orderBy("pos")
    runs = hits.withColumn("grp", F.col("pos") - F.row_number().over(w))
    return (
        runs.groupBy("doc_id", "grp")
        .agg(
            F.min("pos").alias("run_start"),
            (F.max("pos") + F.lit(k - 1)).alias("run_end"),
        )
        .select(
            "doc_id",
            "run_start",
            "run_end",
            (F.col("run_end") - F.col("run_start") + 1).alias("run_words"),
        )
    )
