"""Second relational batch: statistics, grouping sets, analytic
windows, date arithmetic, pivot, TF-IDF, retention cohorts.

Determinism notes continue from ``registry.py``: variance/stddev are
computed from exact decimal power sums with the final arithmetic in
double (every engine-visible float op is a single IEEE operation on
identical inputs), never via the engines' native streaming-moment
aggregates (whose accumulation order is engine-specific).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .queries_text import _TOKENS_SQL
from .registry import register, t


@register(
    "stats_acctbal_by_segment",
    oracle="""
    SELECT c_mktsegment,
           COUNT(*) AS n,
           CAST(MIN(c_acctbal) AS DOUBLE) AS min_bal,
           CAST(MAX(c_acctbal) AS DOUBLE) AS max_bal,
           round(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 6) AS mean_bal,
           round(
             (CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2)) * CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
              - CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
                * CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*))
             / (COUNT(*) - 1), 4) AS var_bal
    FROM customer
    GROUP BY c_mktsegment
    """,
    tags=("aggregation", "stats"),
)
def stats_acctbal_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment account-balance statistics. Sample variance from
    exact decimal power sums (Σx, Σx²) — order-independent, unlike
    native ``var_samp`` which accumulates doubles in partition order.
    One shuffle, map-side partials for all five aggregates."""
    bal = F.col("c_acctbal").cast("decimal(18,2)")
    n = F.count(F.lit(1))
    s1 = F.sum(bal).cast("double")
    s2 = F.sum(bal * bal).cast("double")
    return (
        t(spark, sf_dir, "customer")
        .groupBy("c_mktsegment")
        .agg(
            n.alias("n"),
            F.min("c_acctbal").cast("double").alias("min_bal"),
            F.max("c_acctbal").cast("double").alias("max_bal"),
            F.round(s1 / n, 6).alias("mean_bal"),
            F.round((s2 - s1 * s1 / n) / (n - F.lit(1)), 4).alias("var_bal"),
        )
    )


@register(
    "grouping_sets_order_volume",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
    """,
    tags=("aggregation", "grouping-sets"),
)
def grouping_sets_order_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (two independent rollups in one pass —
    a single expand + aggregate, one shuffle)."""
    return (
        t(spark, sf_dir, "orders")
        .groupingSets(
            [["o_orderstatus"], ["o_orderpriority"]],
            "o_orderstatus",
            "o_orderpriority",
        )
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


@register(
    "window_analytics_orders",
    oracle="""
    SELECT o_orderkey, c_custkey,
           DENSE_RANK() OVER w AS drk,
           NTILE(4) OVER w AS quartile,
           round(PERCENT_RANK() OVER w, 6) AS pct_rank,
           LEAD(o_orderkey) OVER w AS next_orderkey
    FROM orders JOIN customer ON o_custkey = c_custkey
    WINDOW w AS (PARTITION BY c_custkey ORDER BY o_totalprice DESC, o_orderkey)
    """,
    tags=("window",),
)
def window_analytics_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic-window surface: dense_rank, ntile, percent_rank,
    lead — one shuffle on the partition key for all four."""
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .select(
            "o_orderkey",
            "c_custkey",
            F.dense_rank().over(w).alias("drk"),
            F.ntile(4).over(w).alias("quartile"),
            F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
            F.lead("o_orderkey").over(w).alias("next_orderkey"),
            "o_totalprice",
        )
        .select("o_orderkey", "c_custkey", "drk", "quartile", "pct_rank", "next_orderkey")
    )


@register(
    "date_arithmetic_orders",
    oracle="""
    SELECT CAST(year(o_orderdate) AS INT) AS y,
           CAST(date_trunc('week', o_orderdate) AS TIMESTAMP) AS week_start,
           COUNT(*) AS n_orders,
           CAST(MIN(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))) AS INT) AS min_days_since_epoch,
           CAST(MAX(day(last_day(CAST(o_orderdate AS DATE)))) AS INT) AS max_month_len
    FROM orders
    GROUP BY 1, 2
    """,
    tags=("scalar", "dates"),
)
def date_arithmetic_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-function surface: trunc-to-week (Monday both engines),
    day diffs against an epoch, month lengths via last_day."""
    o = t(spark, sf_dir, "orders")
    return (
        o.select(
            F.year("o_orderdate").cast("int").alias("y"),
            F.date_trunc("week", F.col("o_orderdate")).alias("week_start"),
            F.datediff(F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date")).alias("_d"),
            F.dayofmonth(F.last_day(F.col("o_orderdate").cast("date"))).alias("_ml"),
        )
        .groupBy("y", "week_start")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min("_d").cast("int").alias("min_days_since_epoch"),
            F.max("_ml").cast("int").alias("max_month_len"),
        )
    )


@register(
    "pivot_event_types_daily",
    oracle="""
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS "day",
           COUNT(*) FILTER (WHERE event_type = 'click') AS "click",
           COUNT(*) FILTER (WHERE event_type = 'view') AS "view",
           COUNT(*) FILTER (WHERE event_type = 'purchase') AS "purchase",
           COUNT(*) FILTER (WHERE event_type = 'signup') AS "signup",
           COUNT(*) FILTER (WHERE event_type = 'error') AS "error"
    FROM events
    GROUP BY 1
    """,
    tags=("aggregation", "pivot"),
)
def pivot_event_types_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: daily counts per event type as columns. Explicit value
    list → single-pass aggregation (Spark's pivot with inferred
    values would need an extra distinct pass — never do that at
    100 TB)."""
    ev = t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.date_trunc("day", F.col("ts")).alias("day"))
        .pivot("event_type", ["click", "view", "purchase", "signup", "error"])
        .agg(F.count(F.lit(1)))
        .na.fill(0)
    )


@register(
    "text_tfidf",
    oracle=f"""
    WITH terms AS (
      SELECT doc_id, unnest({_TOKENS_SQL}) AS word FROM documents
    ),
    tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM terms GROUP BY 1, 2),
    dfq AS (
      SELECT word, COUNT(*) AS df
      FROM (SELECT DISTINCT doc_id, word FROM terms)
      GROUP BY 1
    ),
    n AS (SELECT COUNT(*) AS nd FROM documents)
    SELECT tf.doc_id, tf.word, tf.tf,
           round(tf.tf * ln((1.0 + nd) / (1.0 + df)), 6) AS tfidf
    FROM tf JOIN dfq USING (word), n
    """,
    tags=("text", "tfidf", "math"),
)
def text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF per (doc, word): term frequency × smoothed IDF — the
    join of the per-doc term counts with the corpus doc-frequency
    table (broadcast: vocabulary ≪ corpus). Output rounded to 6."""
    from ..functions import text as T

    docs = t(spark, sf_dir, "documents")
    # lazy scalar: the corpus size joins in as a broadcast 1-row
    # aggregate (an eager .count() here would run a job at plan-build
    # time — builders must stay lazy plans)
    nd = docs.agg(F.count(F.lit(1)).alias("_nd"))
    terms = docs.selectExpr("doc_id", f"explode({T.tokens('text')}) AS word")
    tf = terms.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("tf"))
    df_ = terms.distinct().groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    idf = (F.lit(1.0) + F.col("_nd")) / (F.lit(1.0) + F.col("df"))
    return (
        tf.join(F.broadcast(df_), "word")
        .crossJoin(F.broadcast(nd))
        .select(
            "doc_id",
            "word",
            "tf",
            F.round(F.col("tf") * F.log(idf), 6).alias("tfidf"),
        )
    )


@register(
    "orders_retention_cohorts",
    oracle="""
    WITH first_order AS (
      SELECT o_custkey,
             strftime(MIN(date_trunc('month', o_orderdate)), '%Y-%m')
               AS cohort_month
      FROM orders GROUP BY o_custkey
    )
    SELECT f.cohort_month,
           CAST((year(o.o_orderdate) - CAST(substr(f.cohort_month, 1, 4) AS INT)) * 12
                + (month(o.o_orderdate) - CAST(substr(f.cohort_month, 6, 2) AS INT)) AS INT)
             AS age_months,
           COUNT(*) AS n_orders,
           COUNT(DISTINCT o.o_custkey) AS n_customers
    FROM orders o JOIN first_order f ON o.o_custkey = f.o_custkey
    GROUP BY 1, 2
    """,
    tags=("aggregation", "cohort", "retention"),
)
def orders_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: customers grouped by first-order month, each
    order bucketed by whole months since its customer's cohort —
    the engagement-decay matrix every growth dashboard draws. Month
    age is integer year/month arithmetic (never float
    months_between), so the cell keys replay exactly anywhere.

    Plan: min-month per customer (map-side combining agg), join back
    to orders on custkey — the aggregate side arrives already
    hash-partitioned on the join key, so only the orders scan
    shuffles — then a tiny (cohorts × ages) rollup. At 100 TB the
    customer-keyed frames bucket on custkey at write time and the
    whole query runs exchange-free except the final rollup."""
    o = t(spark, sf_dir, "orders")
    first = o.groupBy("o_custkey").agg(
        F.date_format(F.min(F.trunc("o_orderdate", "month")), "yyyy-MM").alias(
            "cohort_month"
        )
    )
    joined = o.join(first, "o_custkey")
    age = (
        (F.year("o_orderdate") - F.substring("cohort_month", 1, 4).cast("int")) * 12
        + (F.month("o_orderdate") - F.substring("cohort_month", 6, 2).cast("int"))
    ).cast("int")
    return joined.groupBy("cohort_month", age.alias("age_months")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.countDistinct("o_custkey").alias("n_customers"),
    )
