"""Third relational batch: string-function surface, percentiles,
histograms, scalar subqueries, full outer joins, array functions."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import text as T
from .registry import register, t


@register(
    "scalar_string_functions",
    oracle="""
    SELECT p_partkey,
           CAST(regexp_extract(p_brand, 'Brand#(\\d+)', 1) AS INT) AS brand_num,
           levenshtein(p_brand, substr(p_type, 1, 8)) AS lev_to_type,
           translate(p_type, ' ', '_') AS type_snake,
           reverse(p_brand) AS brand_rev,
           CAST(strpos(p_type, 'BRASS') AS INT) AS brass_pos,
           concat(p_brand, ':', lpad(CAST(p_size AS VARCHAR), 3, '0')) AS brand_size
    FROM part
    """,
    tags=("scalar", "strings"),
)
def scalar_string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-function surface: regexp_extract, levenshtein,
    translate, reverse, instr, lpad/concat — all codegen'd JVM
    expressions (the reference's string library was lowercase+split,
    SURVEY.md §2.4)."""
    p = t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.regexp_extract("p_brand", r"Brand#(\d+)", 1).cast("int").alias("brand_num"),
        F.levenshtein(F.col("p_brand"), F.substring("p_type", 1, 8)).alias("lev_to_type"),
        F.translate("p_type", " ", "_").alias("type_snake"),
        F.reverse(F.col("p_brand")).alias("brand_rev"),
        F.instr(F.col("p_type"), "BRASS").cast("int").alias("brass_pos"),
        F.concat(
            F.col("p_brand"),
            F.lit(":"),
            F.lpad(F.col("p_size").cast("string"), 3, "0"),
        ).alias("brand_size"),
    )


@register(
    "percentiles_order_price",
    oracle="""
    SELECT o_orderpriority,
           round(quantile_cont(o_totalprice, 0.25), 4) AS p25,
           round(quantile_cont(o_totalprice, 0.50), 4) AS p50,
           round(quantile_cont(o_totalprice, 0.75), 4) AS p75,
           COUNT(*) AS n
    FROM orders
    GROUP BY o_orderpriority
    """,
    tags=("aggregation", "percentiles"),
)
def percentiles_order_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact linear-interpolated percentiles per priority class.
    Exact percentile needs the sorted group in memory — fine per
    group; at 100 TB switch to ``approx_percentile`` (t-digest,
    mergeable, bounded memory) — the exact/approx pair mirrors the
    count-distinct story."""
    o = t(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.round(F.percentile("o_totalprice", F.lit(0.25)), 4).alias("p25"),
        F.round(F.percentile("o_totalprice", F.lit(0.50)), 4).alias("p50"),
        F.round(F.percentile("o_totalprice", F.lit(0.75)), 4).alias("p75"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "histogram_order_price",
    oracle="""
    SELECT CAST(floor(o_totalprice / 25000) AS INT) AS bucket,
           COUNT(*) AS n,
           CAST(MIN(o_totalprice) AS DOUBLE) AS lo,
           CAST(MAX(o_totalprice) AS DOUBLE) AS hi
    FROM orders
    GROUP BY 1
    """,
    tags=("aggregation", "histogram"),
)
def histogram_order_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram via integer bucketing — one scan, one
    tiny shuffle; the scalable histogram shape (never collect-and-
    bin driver-side)."""
    o = t(spark, sf_dir, "orders")
    return (
        o.groupBy(F.floor(F.col("o_totalprice") / 25000).cast("int").alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
        )
    )


@register(
    "scalar_subquery_above_avg",
    oracle="""
    SELECT o_orderstatus, COUNT(*) AS n_above
    FROM orders
    WHERE o_totalprice > (
      SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
      FROM orders
    )
    GROUP BY o_orderstatus
    """,
    tags=("subquery",),
)
def scalar_subquery_above_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-subquery filter: orders above the global average price.
    Expressed as a broadcast of the 1-row aggregate crossed into the
    scan — exactly how Spark plans an uncorrelated scalar subquery
    (no driver round-trip, works at any scale)."""
    o = t(spark, sf_dir, "orders")
    avg1 = o.agg(
        (F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double") / F.count(F.lit(1))).alias("_avg")
    )
    return (
        o.crossJoin(F.broadcast(avg1))
        .filter(F.col("o_totalprice") > F.col("_avg"))
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n_above"))
    )


@register(
    "having_frequent_buyers",
    oracle="""
    SELECT o_custkey, COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spend
    FROM orders
    GROUP BY o_custkey
    HAVING COUNT(*) >= 15
       AND SUM(CAST(o_totalprice AS DECIMAL(18,2))) > 1000000
    """,
    tags=("aggregation", "having"),
)
def having_frequent_buyers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HAVING: post-aggregation predicates (order count AND decimal-
    exact spend threshold) — a filter above the aggregate, pushed
    nowhere, evaluated on one row per group."""
    o = t(spark, sf_dir, "orders")
    spend = F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
    return (
        o.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            spend.cast("double").alias("total_spend"),
            spend.alias("_spend_dec"),
        )
        .filter((F.col("n_orders") >= 15) & (F.col("_spend_dec") > 1000000))
        .select("o_custkey", "n_orders", "total_spend")
    )


@register(
    "correlated_above_own_avg",
    oracle="""
    SELECT o.o_orderkey, o.o_custkey, o.o_totalprice
    FROM orders o
    WHERE o.o_totalprice > 1.5 * (
      SELECT CAST(SUM(CAST(o2.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
      FROM orders o2 WHERE o2.o_custkey = o.o_custkey
    )
    """,
    tags=("subquery", "window"),
)
def correlated_above_own_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery (orders 1.5× above their own
    customer's average) — decorrelated into a window aggregate over
    the customer partition, the plan Catalyst itself would target:
    one shuffle on custkey, no per-row subquery execution ever."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("o_custkey")
    avg_own = (
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).over(w).cast("double")
        / F.count(F.lit(1)).over(w)
    )
    return (
        t(spark, sf_dir, "orders")
        .withColumn("_avg", avg_own)
        .filter(F.col("o_totalprice") > 1.5 * F.col("_avg"))
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


@register(
    "fullouter_nation_parties",
    oracle="""
    SELECT COALESCE(c.nk, s.nk) AS n_nationkey,
           COALESCE(c.n_customers, 0) AS n_customers,
           COALESCE(s.n_suppliers, 0) AS n_suppliers
    FROM (SELECT c_nationkey AS nk, COUNT(*) AS n_customers FROM customer GROUP BY 1) c
    FULL OUTER JOIN (SELECT s_nationkey AS nk, COUNT(*) AS n_suppliers FROM supplier GROUP BY 1) s
      ON c.nk = s.nk
    """,
    tags=("join", "outer"),
)
def fullouter_nation_parties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-outer join of two pre-aggregated sides (aggregate before
    the join so the outer join moves one row per key, not per row)."""
    c = (
        t(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )
    s = (
        t(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nk"))
        .agg(F.count(F.lit(1)).alias("n_suppliers"))
    )
    return c.join(s, "nk", "full_outer").select(
        F.col("nk").alias("n_nationkey"),
        F.coalesce("n_customers", F.lit(0)).alias("n_customers"),
        F.coalesce("n_suppliers", F.lit(0)).alias("n_suppliers"),
    )


@register(
    "array_functions_docs",
    oracle=f"""
    SELECT doc_id,
           array_to_string(list_sort(list_distinct({{toks}}))[1:3], '-') AS first3,
           list_contains({{toks}}, 'spark') AS has_spark,
           CAST(len({{toks}}) AS INT) AS n_tokens,
           CAST(len(list_distinct({{toks}})) AS INT) AS n_distinct
    FROM documents
    """.replace("{toks}", "list_filter(string_split_regex(lower(text), '[^\\p{L}\\p{N}]+'), x -> len(x) > 0)"),
    tags=("scalar", "arrays"),
)
def array_functions_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-function surface over the token column: sort, distinct,
    slice, join, contains — higher-order-function territory where
    the reference had raw bytes."""
    toks = F.expr(T.tokens("text"))
    return t(spark, sf_dir, "documents").select(
        "doc_id",
        F.array_join(F.slice(F.array_sort(F.array_distinct(toks)), 1, 3), "-").alias("first3"),
        F.array_contains(toks, "spark").alias("has_spark"),
        F.size(toks).cast("int").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("int").alias("n_distinct"),
    )


@register(
    "approx_percentiles_bounded",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n,
           round(quantile_cont(o_totalprice, 0.50), 4) AS p50_exact,
           TRUE AS approx_within_bounds
    FROM orders
    GROUP BY o_orderpriority
    """,
    tags=("aggregation", "percentiles", "sketch"),
)
def approx_percentiles_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The t-digest/GK story certified, like the HLL count: an
    approx-percentile sketch is engine-specific, so its estimate can
    never hash-match a SQL oracle — instead the query emits the
    exact median plus ``approx_within_bounds``, true iff the sketch's
    answer lands between the exact quantiles at rank 0.5 ± 5/accuracy
    (Greenwald-Khanna guarantees rank error ≤ 1/accuracy). A broken
    sketch flips the boolean and fails the driver's hash gate.

    At 100 TB the sketch is THE way to compute percentiles (bounded
    memory, mergeable partials — exact percentile must materialize
    each sorted group); the exact twin exists only to certify it."""
    acc = 1000
    eps = 5.0 / acc
    o = t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.percentile("o_totalprice", F.lit(0.5)).alias("exact"),
            F.approx_percentile("o_totalprice", F.lit(0.5), F.lit(acc)).alias("est"),
            F.percentile("o_totalprice", F.lit(0.5 - eps)).alias("lo"),
            F.percentile("o_totalprice", F.lit(0.5 + eps)).alias("hi"),
        )
        .select(
            "o_orderpriority",
            "n",
            F.round(F.col("exact"), 4).alias("p50_exact"),
            ((F.col("est") >= F.col("lo")) & (F.col("est") <= F.col("hi"))).alias(
                "approx_within_bounds"
            ),
        )
    )


@register(
    "q21_single_late_supplier",
    oracle="""
    SELECT s.s_name, COUNT(*) AS numwait
    FROM supplier s
    JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
    JOIN orders o ON o.o_orderkey = l1.l_orderkey
    WHERE o.o_orderstatus = 'F'
      AND l1.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
      AND EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (
        SELECT 1 FROM lineitem l3
        WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
          AND l3.l_shipdate > o.o_orderdate + INTERVAL 90 DAY)
    GROUP BY s.s_name
    ORDER BY numwait DESC, s_name
    LIMIT 20
    """,
    tags=("join", "exists", "not-exists", "tpch"),
)
def q21_single_late_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (suppliers who kept orders waiting): the
    hardest decorrelation pattern in the suite — EXISTS and NOT
    EXISTS over the same fact table, correlated to the outer join.

    The oracle runs the literal double-correlated form; this plan
    runs the aggregate-first rewrite a 100 TB engine wants instead
    of two extra lineitem self-joins:

    * join lineitem⋈orders once (shuffle on orderkey),
    * per (order, supplier): any-late + late-line count — the
      groupBy keys extend the join key, so HashPartitioning(orderkey)
      already satisfies the distribution: NO extra exchange,
    * per order: supplier count, late-supplier count, the (unique)
      late supplier — again orderkey-clustered, no exchange,
    * EXISTS      ⇔ n_supp >= 2,
      NOT EXISTS  ⇔ n_late_supp == 1 (l1 itself is the only one),
    * numwait = late lines of that lone supplier, summed per
      supplier (a |suppliers|-sized agg), broadcast-joined to the
      supplier dim for names, top-20 via TakeOrderedAndProject.

    One fact shuffle total vs the literal form's three — in the
    sort-merge regime (the only plan at 100 TB). At toy SF the
    optimizer broadcasts orders instead, which erases the orderkey
    partitioning the aggregates would reuse, so they add two cheap
    shuffles of their own — still the right trade there (both plan
    shapes pinned in tests/test_plans.py)."""
    o = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    late = (
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
    ).cast("int")
    j = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "l_orderkey", "l_suppkey", late.alias("late")
    )
    per_supp = j.groupBy("l_orderkey", "l_suppkey").agg(
        F.max("late").alias("supp_late"),
        F.sum("late").alias("supp_late_lines"),
    )
    per_order = per_supp.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_supp"),
        F.sum("supp_late").alias("n_late_supp"),
        F.min(F.when(F.col("supp_late") == 1, F.col("l_suppkey"))).alias("late_supp"),
        F.sum("supp_late_lines").alias("n_late_lines"),
    )
    qual = per_order.filter((F.col("n_supp") >= 2) & (F.col("n_late_supp") == 1))
    counts = qual.groupBy("late_supp").agg(F.sum("n_late_lines").alias("numwait"))
    s = t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        counts.join(F.broadcast(s), counts.late_supp == s.s_suppkey)
        .select("s_name", "numwait")
        .orderBy(F.desc("numwait"), "s_name")
        .limit(20)
    )


@register(
    "argmin_cheapest_supplier",
    oracle="""
    WITH ranked AS (
      SELECT l_partkey, l_extendedprice, l_suppkey,
             ROW_NUMBER() OVER (
               PARTITION BY l_partkey
               ORDER BY l_extendedprice, l_suppkey) AS rn
      FROM lineitem
    )
    SELECT r.l_partkey AS partkey, p.p_brand AS brand,
           r.l_extendedprice AS min_price, r.l_suppkey AS cheapest_supp
    FROM ranked r
    JOIN part p ON p.p_partkey = r.l_partkey
    WHERE rn = 1 AND p.p_size <= 15
    """,
    tags=("aggregation", "argmin", "tpch"),
)
def argmin_cheapest_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (cheapest supplier per part) as a windowless
    argmin: MIN over a (price, suppkey) struct — lexicographic struct
    comparison makes one hash aggregate return the minimum price AND
    its supplier (suppkey breaks price ties), where the oracle needs
    a ROW_NUMBER window.

    At 100 TB the difference is structural: the window form sorts
    every partition of the fact table; the struct-min form is a
    map-side-combining hash agg — shuffled rows = |parts| ×
    partitions, never |lineitem|. The part dim filters (p_size)
    BEFORE the agg via a broadcast join, so pruned parts never enter
    the aggregate."""
    p = (
        t(spark, sf_dir, "part")
        .filter(F.col("p_size") <= 15)
        .select("p_partkey", "p_brand")
    )
    li = t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_extendedprice", "l_suppkey"
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("l_partkey", "p_brand")
        .agg(F.min(F.struct("l_extendedprice", "l_suppkey")).alias("b"))
        .select(
            F.col("l_partkey").alias("partkey"),
            F.col("p_brand").alias("brand"),
            F.col("b.l_extendedprice").alias("min_price"),
            F.col("b.l_suppkey").alias("cheapest_supp"),
        )
    )
