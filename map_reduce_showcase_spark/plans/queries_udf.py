"""UDF-surface queries: the engine's extensibility story.

The reference's ENTIRE extensibility model is user-supplied map/
reduce/postprocess functions (``src/lib.rs:114-150``). In this
engine, 60+ queries needed zero Python because built-in expressions
cover them (the preferred path — SURVEY.md §2.4); this module shows
the two escape hatches for when they don't, in their fast forms:

* a scalar **Arrow-batched pandas UDF** (vectorized, ~10-100× the
  row-at-a-time Python UDF the docs warn about),
* a **grouped-aggregate pandas UDF** (a user-defined aggregate over
  each group's column as one numpy array).

Both are checked against the DuckDB oracle: the functions are chosen
so their float behavior is portable (element-wise ops, and
``math.fsum`` — correctly-rounded summation — against the oracle's
exact decimal sum).
"""

from __future__ import annotations

import math

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from .registry import register, t

# pandas_udf decorators parse their DDL type against the active
# session, so the udfs are built lazily inside the query builders.


def _clv_score_udf():
    @pandas_udf("double")
    def _clv_score(total: pd.Series, n_orders: pd.Series) -> pd.Series:
        """Toy customer-lifetime-value score: element-wise vectorized
        arithmetic over Arrow batches (log1p is per-element libm —
        same doubles the oracle's ln(1+x) produces)."""
        import numpy as np

        return np.log1p(total) * np.sqrt(n_orders.astype("float64"))

    return _clv_score


@register(
    "udf_scalar_clv",
    oracle="""
    SELECT o_custkey,
           round(ln(1 + CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE))
                 * sqrt(COUNT(*)), 6) AS clv
    FROM orders
    GROUP BY o_custkey
    """,
    tags=("udf", "pandas-udf"),
)
def udf_scalar_clv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar pandas UDF over pre-aggregated rows: aggregate
    natively (decimal-exact), then run the Python scoring function
    on the 1-row-per-customer result — Python touches thousands of
    rows, not millions. That ordering (aggregate THEN udf) is the
    100 TB discipline for any Python scoring stage."""
    o = t(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("_total"),
        F.count(F.lit(1)).alias("_n"),
    )
    score = _clv_score_udf()
    return per_cust.select(
        "o_custkey",
        F.round(score(F.col("_total"), F.col("_n")), 6).alias("clv"),
    )


def _geo_mean_udf():
    @pandas_udf("double")
    def _geo_mean(vals: pd.Series) -> float:
        """Grouped-agg pandas UDF: geometric mean via fsum of logs.
        ``math.fsum`` is correctly rounded, so the sum equals the
        oracle's exact decimal sum of the same rounded logs."""
        logs = [round(math.log(v), 9) for v in vals if v > 0]
        if not logs:
            return float("nan")
        return math.exp(math.fsum(logs) / len(logs))

    return _geo_mean


@register(
    "udf_grouped_geomean_qty",
    oracle="""
    SELECT l_returnflag,
           round(exp(CAST(SUM(CAST(round(ln(l_quantity), 9) AS DECIMAL(18,9))) AS DOUBLE)
                     / COUNT(*)), 6) AS geo_mean_qty
    FROM lineitem
    WHERE l_quantity > 0
    GROUP BY l_returnflag
    """,
    tags=("udf", "udaf"),
)
def udf_grouped_geomean_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-defined aggregate (grouped-agg pandas UDF): geometric
    mean of quantities per return flag — the reference's reduce_fn
    concept, Arrow-batched. Each group's column arrives as one numpy
    array; Spark still does the shuffle/grouping natively."""
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 0)
    geo_mean = _geo_mean_udf()
    return li.groupBy("l_returnflag").agg(
        F.round(geo_mean(F.col("l_quantity")), 6).alias("geo_mean_qty")
    )


def _overlap_chunks_udtf():
    from pyspark.sql.functions import udtf

    @udtf(
        returnType=(
            "doc_id bigint, chunk_idx int, start_tok int, n_toks int, chunk string"
        ),
        useArrow=True,
    )
    class OverlapChunks:
        """Overlapping token windows (size 64, stride 48): the
        embedding/pretraining chunker where context must straddle
        chunk boundaries. Emits while advancing by stride and stops
        once a chunk reaches the end of the doc (no redundant
        tail slivers)."""

        def eval(self, doc_id, text):
            if text is None:
                return
            words = text.split(" ")
            n = len(words)
            s = 0
            i = 0
            while True:
                end = min(s + 64, n)
                yield doc_id, i, s, end - s, " ".join(words[s:end])
                if s + 64 >= n:
                    break
                s += 48
                i += 1

    return OverlapChunks


@register(
    "udtf_overlap_chunks",
    oracle="""
    WITH w AS (
      SELECT doc_id, string_split(text, ' ') AS parts,
             len(string_split(text, ' ')) AS n
      FROM documents
    ),
    s AS (
      SELECT doc_id, parts, n,
             CAST(unnest(range(
               0,
               greatest(CAST(ceil((n - 64) / 48.0) AS INT) * 48, 0) + 1,
               48)) AS INT) AS start_tok
      FROM w
    )
    SELECT doc_id,
           CAST(start_tok / 48 AS INT) AS chunk_idx,
           start_tok,
           CAST(least(start_tok + 64, n) - start_tok AS INT) AS n_toks,
           array_to_string(
             list_slice(parts, start_tok + 1, least(start_tok + 64, n)), ' ')
             AS chunk
    FROM s
    """,
    tags=("udf", "udtf", "chunking"),
)
def udtf_overlap_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (PySpark 4 user-defined TABLE function) — the
    third and last user-code shape after scalar and grouped-agg
    pandas UDFs, and the closest analogue of the reference's
    user-supplied flatMap ``map_fn`` (``src/lib.rs:114-127``): one
    input row → many output rows, schema declared by the function.

    The op itself is overlapping-window chunking (size 64 tokens,
    stride 48) for embedding/pretraining pipelines — genuinely
    awkward natively (posexplode over a sequence() of starts carries
    the full token array through the explode; the UDTF streams it).
    Arrow-batched via ``useArrow=True``; each doc is chunked
    scan-locally, zero shuffles in the whole plan. The
    non-overlapping native twin is ``pack_chunk_spans``."""
    cls = _overlap_chunks_udtf()
    spark.udtf.register("mrs_overlap_chunks", cls)
    t(spark, sf_dir, "documents").select("doc_id", "text").createOrReplaceTempView(
        "mrs_udtf_docs"
    )
    return spark.sql(
        """
        SELECT c.doc_id, c.chunk_idx, c.start_tok, c.n_toks, c.chunk
        FROM mrs_udtf_docs d,
             LATERAL mrs_overlap_chunks(d.doc_id, d.text) c
        """
    )


@register(
    "udf_grouped_map_minmax",
    oracle="""
    WITH stats AS (
      SELECT c_mktsegment,
             MIN(c_acctbal) AS lo,
             MAX(c_acctbal) AS hi
      FROM customer GROUP BY c_mktsegment
    )
    SELECT c.c_custkey, c.c_mktsegment,
           floor((CASE WHEN s.hi = s.lo THEN 0.5
                       ELSE (c.c_acctbal - s.lo) / (s.hi - s.lo) END)
                 * 1000000) / 1000000 AS bal_scaled
    FROM customer c JOIN stats s ON c.c_mktsegment = s.c_mktsegment
    """,
    tags=("udf", "applyInPandas", "grouped-map"),
)
def udf_grouped_map_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-MAP pandas transform (``applyInPandas``): per-segment
    min-max scaling of account balances, each group arriving as one
    pandas DataFrame and returning one (N:M rows, unlike the
    grouped-AGG UDF's group→scalar). This is the batch form of the
    reference's ``reduce_fn`` when the user wants transformed ROWS
    back, and the batch twin of the streaming
    ``applyInPandasWithState`` operator.

    Float portability: (x − lo)/(hi − lo) is two IEEE ops on
    identical doubles in pandas and in the oracle's SQL, rounded to
    6 — deterministic without decimal machinery. Scale: one shuffle
    on the group key; each group must fit one worker's memory (fine
    for per-segment/per-tenant groups; for giant groups switch to
    broadcast per-group stats and a scan-local CASE — same answer,
    no grouped materialization)."""

    def scale(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        lo = pdf["c_acctbal"].min()
        hi = pdf["c_acctbal"].max()
        if hi == lo:
            scaled = pd.Series(0.5, index=pdf.index)
        else:
            scaled = (pdf["c_acctbal"] - lo) / (hi - lo)
        return pd.DataFrame(
            {
                "c_custkey": pdf["c_custkey"],
                "c_mktsegment": pdf["c_mktsegment"],
                # floor-quantize instead of round: pandas rounds
                # half-to-even while SQL round() is half-away —
                # floor(x*1e6)/1e6 is tie-free and IEEE-identical
                # in both engines
                "bal_scaled": np.floor(scaled * 1_000_000) / 1_000_000,
            }
        )

    return (
        t(spark, sf_dir, "customer")
        .select("c_custkey", "c_mktsegment", "c_acctbal")
        .groupBy("c_mktsegment")
        .applyInPandas(
            scale, schema="c_custkey BIGINT, c_mktsegment STRING, bal_scaled DOUBLE"
        )
    )
