"""Sequence-packing and mixture operators — the step between a
cleaned corpus and a training run.

After dedup/filtering (``queries_dedup`` / ``queries_pipeline``), an
LLM data pipeline still has to (a) pack variable-length documents
into fixed-size context windows, (b) chunk overlong documents, and
(c) reweight the language/source mixture. None of these exist in the
reference (its apps end at formatted text output,
``src/app/mod.rs:29-63``); all three are Spark-native here.

Scale design: packing is SHARD-LOCAL — a global greedy pack would
order the whole corpus through one window (single-reducer at 100 TB);
instead docs hash into independent shards and each shard packs its
own contiguous token stream. Pack ids are (shard, pack-in-shard), so
1000 executors pack 1000 shards with zero coordination, which is how
training-data jobs actually shard tokenization output.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.text import token_count
from .queries_text import _NTOK_SQL
from .registry import register, t

#: Context-window token budget. Small (128) so the sf-test corpus
#: (~40-token docs) produces multi-doc packs; production would use
#: the model's context length.
PACK_BUDGET = 128
#: Chunk window for overlong documents.
CHUNK_TOKENS = 64
N_SHARDS = 8


@register(
    "pack_sequences_greedy",
    oracle=f"""
    WITH tk AS (
      SELECT doc_id, doc_id % {N_SHARDS} AS shard,
             CAST({_NTOK_SQL} AS BIGINT) AS ntok
      FROM documents
    ),
    cum AS (
      SELECT shard, ntok,
             SUM(ntok) OVER (PARTITION BY shard ORDER BY doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             - ntok AS cum_before
      FROM tk
    )
    SELECT shard, CAST(FLOOR(cum_before / {PACK_BUDGET}.0) AS BIGINT) AS pack_id,
           COUNT(*) AS n_docs, CAST(SUM(ntok) AS BIGINT) AS pack_tokens
    FROM cum
    GROUP BY 1, 2
    """,
    tags=("packing", "window"),
)
def pack_sequences_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing: within each shard, docs are
    concatenated in doc_id order and a doc belongs to the pack where
    its FIRST token lands (docs may straddle pack boundaries — the
    standard pretraining packing). Output: per-pack document count
    and token count.

    Plan shape: one scan → shard-local window cumsum → hash agg.
    The window partitions by shard, so at 100 TB the sort is
    per-shard (corpus/1000ths), never global; the only global
    operation is the final tiny per-pack aggregate."""
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        t(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.pmod(F.col("doc_id"), F.lit(N_SHARDS)).cast("bigint").alias("shard"),
            F.expr(f"CAST({token_count('text')} AS BIGINT)").alias("ntok"),
        )
        .withColumn("cum_before", F.sum("ntok").over(w) - F.col("ntok"))
        .groupBy(
            "shard",
            F.floor(F.col("cum_before") / PACK_BUDGET).cast("bigint").alias("pack_id"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("ntok").alias("pack_tokens"),
        )
    )


@register(
    "pack_chunk_spans",
    oracle=f"""
    WITH tk AS (
      SELECT doc_id, CAST({_NTOK_SQL} AS BIGINT) AS ntok FROM documents
    )
    SELECT doc_id, CAST(c AS BIGINT) AS chunk_id,
           CAST(c * {CHUNK_TOKENS} AS BIGINT) AS tok_start,
           CAST(least({CHUNK_TOKENS}, ntok - c * {CHUNK_TOKENS}) AS BIGINT) AS tok_len
    FROM tk, unnest(generate_series(0, CAST(ceil(ntok / {CHUNK_TOKENS}.0) AS BIGINT) - 1)) AS u(c)
    WHERE ntok > 0
    """,
    tags=("packing", "chunking"),
)
def pack_chunk_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-window chunking of overlong documents: one row per
    (doc, chunk) span with token offsets — the shape a tokenizer
    stage consumes to slice without re-scanning text. Pure Catalyst
    (sequence + explode), no UDF; empty docs produce no chunks.

    Scale: explode fan-out is ntok/CHUNK_TOKENS per doc — output
    is proportional to corpus token count over window size, and the
    operation is embarrassingly parallel (no shuffle at all until a
    consumer groups)."""
    docs = t(spark, sf_dir, "documents").selectExpr(
        "doc_id", f"CAST({token_count('text')} AS BIGINT) AS ntok"
    )
    n_chunks = F.ceil(F.col("ntok") / F.lit(float(CHUNK_TOKENS))).cast("bigint")
    return (
        docs.filter(F.col("ntok") > 0)
        .select(
            "doc_id",
            "ntok",
            F.explode(F.sequence(F.lit(0).cast("bigint"), n_chunks - 1)).alias(
                "chunk_id"
            ),
        )
        .select(
            "doc_id",
            "chunk_id",
            (F.col("chunk_id") * CHUNK_TOKENS).cast("bigint").alias("tok_start"),
            F.least(
                F.lit(CHUNK_TOKENS).cast("bigint"),
                F.col("ntok") - F.col("chunk_id") * CHUNK_TOKENS,
            ).alias("tok_len"),
        )
    )


@register(
    "mixture_lang_weights",
    oracle=f"""
    WITH lt AS (
      SELECT lang, COUNT(*) AS n_docs,
             CAST(SUM(CAST({_NTOK_SQL} AS BIGINT)) AS BIGINT) AS lang_tokens
      FROM documents GROUP BY lang
    ),
    tot AS (SELECT CAST(SUM(lang_tokens) AS BIGINT) AS total_tokens,
                   COUNT(*) AS n_langs FROM lt)
    SELECT lang, n_docs, lang_tokens,
           round(CAST(lang_tokens AS DOUBLE) / total_tokens, 6) AS token_share,
           round((CAST(total_tokens AS DOUBLE) / n_langs) / lang_tokens, 6) AS mix_weight
    FROM lt, tot
    """,
    tags=("packing", "mixture"),
)
def mixture_lang_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language sampling weights that equalize token share:
    ``mix_weight`` is the up/down-sampling factor that moves each
    language from its actual token share to the uniform target
    (weight > 1 → upsample). The standard mixture-rebalance input
    for multilingual pretraining.

    Scale: aggregate FIRST (one scan → |langs| rows), then the
    share/weight arithmetic happens on the tiny aggregated frame via
    a broadcast of the 1-row total — never a window over raw docs."""
    lt = (
        t(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.expr(f"sum(CAST({token_count('text')} AS BIGINT))").alias("lang_tokens"),
        )
    )
    tot = lt.agg(
        F.sum("lang_tokens").alias("total_tokens"),
        F.count(F.lit(1)).alias("n_langs"),
    )
    return lt.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_docs",
        "lang_tokens",
        F.round(F.col("lang_tokens") / F.col("total_tokens"), 6).alias("token_share"),
        F.round(
            (F.col("total_tokens") / F.col("n_langs")) / F.col("lang_tokens"), 6
        ).alias("mix_weight"),
    )
