"""General relational surface: joins, aggregations, windows, set ops.

The reference has *none* of these (SURVEY.md §2.4 — no joins, one
aggregation strategy, no windows, no set ops); they are required by
the "same query capabilities" north star and come from Spark
built-ins, so every plan below is pure Catalyst-optimizable
DataFrame code — no UDFs anywhere.

Determinism: all money aggregates go through exact DECIMAL sums and
a final CAST to DOUBLE (see ``registry.py`` module docstring).

Scale notes (100 TB):
* fact-fact joins (orders⋈lineitem) shuffle on the join key —
  bucketing both tables on the key at write time removes the shuffle
  entirely; AQE handles skewed keys by splitting.
* dim joins (nation/region/part/supplier) are broadcast — O(0)
  shuffle. We hint explicitly where the dim is guaranteed small.
* top-k uses orderBy().limit(k) which Spark plans as
  TakeOrderedAndProject: per-partition heaps + driver merge, never a
  global sort.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .registry import register, t

# -- decimal helpers (exact, engine-portable aggregation) -----------------

def dec2(c):
    return F.col(c).cast("decimal(18,2)")


def disc_price():
    """l_extendedprice * (1 - l_discount), exact DECIMAL(18,4)."""
    one = F.lit(1).cast("decimal(18,2)")
    return (dec2("l_extendedprice") * (one - dec2("l_discount"))).cast("decimal(18,4)")


_DISC_PRICE_SQL = (
    "CAST(CAST(l_extendedprice AS DECIMAL(18,2))"
    " * (1 - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4))"
)


# -- integer-cents money aggregation ---------------------------------------
#
# Profiling showed the
# per-row ``CAST(double AS DECIMAL)`` is the single most expensive
# expression in every money query: Spark's double→decimal cast goes
# through ``BigDecimal(Double.toString(v))`` — a string format + parse +
# object allocation per value, ~120 ns each, and the q1-family queries
# evaluate 4-7 of them per row inside the (single-row-group, so
# single-task) scan stage. The cents form below computes the SAME exact
# sums in pure long arithmetic (codegen-friendly, no allocation):
#
#   cents(x, s)     = the integer x·10^s, read straight off the double
#   sums            = plain long sums, exactly associative
#   unscale(S, s)   = S/10^s via one exact decimal division per GROUP,
#                     then one decimal→double cast (correctly rounded —
#                     bit-identical to casting the decimal sum)
#
# Precondition (holds for the catalog and is pinned by
# tests/test_cents_money.py): money doubles are non-negative with at
# most ``scale`` fractional decimal digits. Under it, cents(x, s) equals
# CAST(x AS DECIMAL(18,s))·10^s exactly: x·10^s sits within ~1e-5 of an
# integer (|x| < 1e10 ⇒ representation error < 2^-22 of a unit), so
# +0.5-and-truncate recovers that integer. The engines already *assume*
# this cleanliness — Spark casts via the shortest decimal string while
# DuckDB multiplies and rounds, and the two only agree on values that
# are exactly representable at the target scale — so the cents form
# changes no value either engine produces (verified value-identical
# vs the decimal form at sf0.001/0.01/0.1, and vs the DuckDB oracle).
#
# Overflow: a single long sum holds up to 9.2e18. Low-cardinality
# groups (q1's 6 flags, q5's 25 nations, join_brand's 25 brands) would
# pass that around SF 40-4000 for e4/e6-scaled columns, so those
# queries aggregate in TWO LEVELS (guide §2.5's two-level pattern):
# long sums per (group, spark_partition_id) — then an exact
# DECIMAL(38,0) re-sum of the per-task partials per group. Bounded
# groups (per-order ≤ 7 lineitems, per-customer ≤ ~41 orders) use a
# single-level long sum with the bound stated at the call site.
#
# The salt is the TASK PARTITION ID (r18; r17 hashed a money column
# into 1024 buckets), which makes the overflow bound structural: a
# (group, salt) partial sums rows from exactly ONE scan task, so the
# inner long never crosses a task boundary and its bound is
# rows-per-split × max-per-row-value — independent of SF, of group
# size, and of the money-value distribution (the r17 ADVICE flaw:
# hashing l_extendedprice sent every row sharing a value to one
# partial, so a dominant price silently eroded the |group|/1024
# spread bound). It is also cheaper than the hash salt: no extra
# column decoded, no per-row xxhash64, and the level-1 hash map
# holds groups × 1 entries per task instead of groups × 1024.
#
# Headroom arithmetic, worst case (a long overflow is a silent
# wraparound, so the bound uses the MAX per-row value, not the
# average — r17 verdict #1): rows per scan split ≤ maxPartitionBytes
# (1 GiB ceiling, guide §6) / ~10 B-per-row pathological floor
# ≈ 1.1e8 rows; broadcast-probe pipelines (q5, join_brand) keep
# per-task rows = scan-split rows, and no caller feeds an exploding
# join:
#
#   term (scale)        max/row   worst partial   headroom vs 2^63
#   quantity (e2)       5e3       5.4e11          ~1.7e7×
#   extendedprice (e2)  1e7       1.1e15          ~8500×
#   discount/tax (e2)   10        1.1e9           huge
#   disc_price (e4)     1e9       1.1e17          ~86×
#   dp·tax_cents (e6)   8e9       8.6e17          ~10.7×
#
# The e6 CHARGE term is the binding one, and it is summed as the
# SPLIT dp·tax_cents (max 8e9/row), never as the fused
# dp·(100+tax_cents) (max ~1.1e11/row — which would overflow a
# pathological-split partial): Σcharge = 100·Σdp + Σ(dp·tax)
# exactly, with the recombination done once per group at level 2 in
# decimal — see q1. Every partial therefore keeps ≥10× worst-case
# headroom at ANY scale factor (pinned by tests/test_cents_money.py::
# test_salt_fanout_overflow_headroom). Level-2 input is
# groups × n_map_tasks tiny rows — at 100k map tasks and 25 groups,
# 2.5M 16-byte rows, noise next to the scan.

#: pathological worst-case rows in one scan split (1 GiB
#: maxPartitionBytes ceiling / ~10 B per row) — the per-task row
#: bound the two-level headroom table divides by.
MAX_SPLIT_ROWS = 110_000_000


def cents(c: Column, scale: int = 2) -> Column:
    """Exact integer ``c·10^scale`` (a LONG) of a clean money double —
    see the module-comment precondition."""
    return (c * float(10**scale) + F.lit(0.5)).cast("long")


def unscale(c: Column, scale: int) -> Column:
    """Exact ``c / 10^scale`` as DOUBLE for an integer-cents sum
    (long or decimal): one exact decimal division + one correctly-
    rounded decimal→double cast, evaluated once per group row."""
    return (c.cast("decimal(38,0)") / F.lit(10**scale)).cast("double")


def disc_price_cents():
    """``cents(l_extendedprice·(1−l_discount), 4)`` in long math —
    the integer-cents twin of :func:`disc_price`."""
    return cents(F.col("l_extendedprice")) * (F.lit(100) - cents(F.col("l_discount")))


def sum_cents_2level(df: DataFrame, keys: list[str], sums: dict, counts):
    """Two-level exact grouped sums: long partials per
    (keys, spark_partition_id), exact decimal re-sum per keys.
    ``sums`` maps output name → long Column; ``counts`` is an
    iterable of output names for row counts (counted at level 1,
    long-summed at level 2).

    The task-id salt makes the inner long sum structurally task-
    local: its overflow bound is rows-per-split × max-per-row-value
    at ANY scale and under ANY value distribution (module comment;
    r17 verdict #1 + ADVICE). Exactness never depends on the salt at
    all — the partition id only routes rows between partials, and
    level 2 re-sums every partial in exact decimal — so a task retry
    or a different split planning changes intermediate partials,
    never the result (pinned by
    tests/test_cents_money.py::test_two_level_sum_salt_invariant).
    Callers must feed a frame whose per-task row count is scan-split
    bounded (a scan or a broadcast-probe pipeline — every current
    caller; an exploding join would need its fan-out multiplied into
    the headroom table)."""
    lvl1 = (
        df.withColumn("_salt", F.spark_partition_id())
        .groupBy(*keys, "_salt")
        .agg(
            *[F.sum(col).alias(name) for name, col in sums.items()],
            *[F.count(F.lit(1)).alias(name) for name in counts],
        )
    )
    return lvl1.groupBy(*keys).agg(
        *[F.sum(F.col(name).cast("decimal(38,0)")).alias(name) for name in sums],
        *[F.sum(F.col(name)).alias(name) for name in counts],
    )


# -- TPC-H-style aggregation --------------------------------------------

@register(
    "q1_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
      CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      CAST(SUM({_DISC_PRICE_SQL}) AS DOUBLE) AS sum_disc_price,
      CAST(SUM(CAST({_DISC_PRICE_SQL} * (1 + CAST(l_tax AS DECIMAL(18,2))) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
      CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price,
      CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_disc,
      COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
    tags=("aggregation",),
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 (pricing summary) adapted to the catalog schema.

    One scan; partial aggregation happens map-side so shuffled rows =
    groups × partitions. The shipdate predicate pushes to parquet
    row-group stats. Money sums run in integer cents (two-level —
    see the cents module comment): the r17 profile had the old
    per-row double→decimal casts at ~0.4 s of the 0.8 s scan stage,
    and the cents form measured value-identical and 2.4× faster."""
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
    qty, price, disc = (cents(F.col(c)) for c in ("l_quantity", "l_extendedprice", "l_discount"))
    dp = disc_price_cents()                    # e4-scaled
    # charge = dp·(100 + tax_cents) is summed SPLIT: Σcharge =
    # 100·Σdp + Σ(dp·tax_cents), recombined per GROUP in exact
    # decimal below. The dp·tax term's max per-row value is 8e9 vs
    # ~1.1e11 for the fused product — the difference between ≥10×
    # worst-case partial headroom and an overflow on a pathological
    # split (module comment table; r17 verdict #1).
    charge_tax = dp * cents(F.col("l_tax"))    # e6-scaled, ≤ 8e9/row
    g = sum_cents_2level(
        li,
        ["l_returnflag", "l_linestatus"],
        {"_q": qty, "_p": price, "_dp": dp, "_cht": charge_tax, "_d": disc},
        ["count_order"],
    )
    return g.select(
        "l_returnflag",
        "l_linestatus",
        unscale(F.col("_q"), 2).alias("sum_qty"),
        unscale(F.col("_p"), 2).alias("sum_base_price"),
        unscale(F.col("_dp"), 4).alias("sum_disc_price"),
        unscale(F.col("_dp") * F.lit(100) + F.col("_cht"), 6).alias("sum_charge"),
        (unscale(F.col("_q"), 2) / F.col("count_order")).alias("avg_qty"),
        (unscale(F.col("_p"), 2) / F.col("count_order")).alias("avg_price"),
        (unscale(F.col("_d"), 2) / F.col("count_order")).alias("avg_disc"),
        "count_order",
    )


@register(
    "q5_revenue_by_nation",
    oracle=f"""
    SELECT n.n_name,
           CAST(SUM({_DISC_PRICE_SQL}) AS DOUBLE) AS revenue
    FROM lineitem l
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY n.n_name
    """,
    tags=("join", "aggregation"),
)
def q5_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier-nation revenue rollup: fact ⋈ three broadcast dims.

    supplier/nation/region are all dimension-sized at any SF → all
    three joins broadcast; partial aggregation reduces the shuffle to
    ~25 nations × salt rows per partition. Revenue sums in integer
    cents, two-level (25 nation groups grow unboundedly with SF — see
    the cents module comment)."""
    l = t(spark, sf_dir, "lineitem")
    s = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region")
    joined = (
        l.join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    g = sum_cents_2level(joined, ["n_name"], {"_rev": disc_price_cents()}, [])
    return g.select("n_name", unscale(F.col("_rev"), 4).alias("revenue"))


@register(
    "q6_forecast_revenue",
    oracle="""
    SELECT CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                          * CAST(l_discount AS DECIMAL(18,2)) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    tags=("aggregation", "filter"),
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: pure filter + global aggregate — the pushdown
    showcase (all three predicates reach parquet row-group stats; a
    year-partitioned layout would prune whole files)."""
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-01-01"))
        & (F.col("l_discount").between(0.05, 0.07))
        & (F.col("l_quantity") < 24)
    )
    rev = (dec2("l_extendedprice") * dec2("l_discount")).cast("decimal(18,4)")
    return li.agg(
        F.sum(rev).cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


@register(
    "join_brand_revenue",
    oracle=f"""
    SELECT p.p_brand,
           CAST(SUM({_DISC_PRICE_SQL}) AS DOUBLE) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY p.p_brand
    """,
    tags=("join", "broadcast"),
)
def join_brand_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast-join showcase: part is the dim side (hinted); the
    fact side never shuffles for the join, only for the tiny final
    brand rollup. Revenue sums in integer cents, two-level (25 brand
    groups grow unboundedly with SF — see the cents module comment)."""
    l = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part")
    g = sum_cents_2level(
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey),
        ["p_brand"],
        {"_rev": disc_price_cents()},
        ["n_items"],
    )
    return g.select("p_brand", unscale(F.col("_rev"), 4).alias("revenue"), "n_items")


@register(
    "join_semi_customers_with_orders",
    oracle="""
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer c
    WHERE EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 200000
    )
    """,
    tags=("join", "semi"),
)
def join_semi_customers_with_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join: customers having at least one big order.
    Semi joins ship no payload from the probe side and stop at first
    match; at scale the orders side is pre-filtered before the
    shuffle so only qualifying keys move."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 200000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


@register(
    "join_anti_customers_without_orders",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE NOT EXISTS (
      SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
        AND o.o_orderpriority = '1-URGENT'
    )
    """,
    tags=("join", "anti"),
)
def join_anti_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join: customers with no urgent orders. (The slice
    was "no orders at all" through round 4, but this catalog's
    generator gives every customer at least one order, so the
    anti-join produced zero rows at every SF and its logic was
    never evidenced on surviving rows; the priority filter keeps
    the identical anti-join plan while returning real rows.) The
    filter sits on the build side BEFORE the join — at 100 TB the
    anti-join's hash set holds only urgent custkeys."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


@register(
    "join_outer_order_counts",
    oracle="""
    SELECT c.c_custkey, c.c_name,
           COUNT(o.o_orderkey) AS n_orders,
           CAST(COALESCE(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))), 0) AS DOUBLE) AS total_spend
    FROM customer c
    LEFT JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY c.c_custkey, c.c_name
    """,
    tags=("join", "outer"),
)
def join_outer_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-outer join + grouped count (zero-order customers kept).
    At scale: pre-aggregate orders by custkey *before* the join
    (shuffle carries one row per customer, not per order) — which is
    exactly what this plan does. Spend sums in integer cents
    (single-level long: per-customer order counts are catalog-bounded
    (~41), so the e2-scaled sum stays ≤ ~2e9 — exact at any SF)."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(cents(F.col("o_totalprice"))).alias("_spend"),
    )
    return c.join(per_cust, c.c_custkey == per_cust.o_custkey, "left").select(
        "c_custkey",
        "c_name",
        F.coalesce(F.col("_n"), F.lit(0)).alias("n_orders"),
        F.coalesce(unscale(F.col("_spend"), 2), F.lit(0.0)).alias("total_spend"),
    )


@register(
    "rollup_sales",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n_items,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    tags=("aggregation", "rollup"),
)
def rollup_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals (flag → flag+status → grand total).
    Spark expands rollup into a single expand+hash-agg — one shuffle
    for all grouping sets."""
    return (
        t(spark, sf_dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(dec2("l_quantity")).cast("double").alias("sum_qty"),
        )
    )


@register(
    "cube_order_stats",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    tags=("aggregation", "cube"),
)
def cube_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over status × priority (all 4 grouping sets)."""
    return (
        t(spark, sf_dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(dec2("o_totalprice")).cast("double").alias("total_price"),
        )
    )


@register(
    "distinct_customers_per_segment",
    oracle="""
    SELECT c_mktsegment,
           COUNT(DISTINCT c_nationkey) AS n_nations,
           COUNT(*) AS n_customers
    FROM customer
    GROUP BY c_mktsegment
    """,
    tags=("aggregation", "distinct"),
)
def distinct_customers_per_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """count(distinct) — Spark plans a two-phase expand/agg; for
    100 TB cardinality estimation use approx_count_distinct (see
    ``approx_distinct_users`` in ``queries_events``, which bounds
    the HLL estimate against the exact count)."""
    return (
        t(spark, sf_dir, "customer")
        .groupBy("c_mktsegment")
        .agg(
            F.count_distinct(F.col("c_nationkey")).alias("n_nations"),
            F.count(F.lit(1)).alias("n_customers"),
        )
    )


@register(
    "topk_orders",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 25
    """,
    tags=("topk",),
)
def topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-25 by price — TakeOrderedAndProject (per-partition
    heap + driver merge of 25×partitions rows; no global sort, no
    single-reducer bottleneck at any scale). Unique-key tie-break
    keeps it deterministic."""
    return (
        t(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(25)
    )


@register(
    "setops_nation_presence",
    oracle="""
    SELECT n_nationkey FROM (
      SELECT DISTINCT c_nationkey AS n_nationkey FROM customer
      INTERSECT
      SELECT DISTINCT s_nationkey FROM supplier
    )
    EXCEPT
    SELECT n_nationkey FROM nation WHERE n_regionkey = 0
    """,
    tags=("setops",),
)
def setops_nation_presence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT + EXCEPT: nations having both customers and
    suppliers, minus region-0 nations. Set ops compile to
    aggregate/anti-join under AQE."""
    c = t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("n_nationkey"))
    s = t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("n_nationkey"))
    r0 = (
        t(spark, sf_dir, "nation")
        .filter(F.col("n_regionkey") == 0)
        .select("n_nationkey")
    )
    return c.distinct().intersect(s.distinct()).exceptAll(r0)


@register(
    "union_all_parties",
    oracle="""
    SELECT party, COUNT(*) AS n
    FROM (
      SELECT 'customer' AS party FROM customer
      UNION ALL
      SELECT 'supplier' AS party FROM supplier
    )
    GROUP BY party
    """,
    tags=("setops", "union"),
)
def union_all_parties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL — the reference's implicit multi-file-input union
    (SURVEY.md F1) made explicit. Union is a no-shuffle metadata op
    in Spark."""
    c = t(spark, sf_dir, "customer").select(F.lit("customer").alias("party"))
    s = t(spark, sf_dir, "supplier").select(F.lit("supplier").alias("party"))
    return c.unionAll(s).groupBy("party").agg(F.count(F.lit(1)).alias("n"))


@register(
    "window_rank_orders",
    oracle="""
    SELECT c_custkey, o_orderkey, o_totalprice, rk
    FROM (
      SELECT c.c_custkey, o.o_orderkey, o.o_totalprice,
             RANK() OVER (PARTITION BY c.c_custkey
                          ORDER BY o.o_totalprice DESC, o.o_orderkey) AS rk
      FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
    )
    WHERE rk <= 3
    """,
    tags=("window",),
)
def window_rank_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer top-3 orders via RANK. One shuffle on custkey —
    PINNED (functions/util.pinned_shuffle): the window reuses the
    exchange, and the explicit count stops AQE from coalescing the
    sub-MB custkey shuffle onto 1 task (r17: the whole rank stage ran
    single-threaded; pin measured ~0.8× interleaved, identical rows).
    At 100 TB a rank-filter like this should prefer a pre-limit
    (groupBy + slice) when partitions are skewed."""
    from ..functions.util import pinned_shuffle

    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    w = Window.partitionBy("c_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        pinned_shuffle(
            c.join(o, c.c_custkey == o.o_custkey).select(
                "c_custkey", "o_orderkey", "o_totalprice"
            ),
            "c_custkey",
        )
        .withColumn("rk", F.rank().over(w))
        .filter(F.col("rk") <= 3)
    )


@register(
    "range_join_price_tiers",
    oracle="""
    SELECT tier, COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS tier_total
    FROM orders
    JOIN (
      VALUES ('low', 0.0, 100000.0),
             ('mid', 100000.0, 250000.0),
             ('high', 250000.0, 1000000000.0)
    ) AS tiers(tier, lo, hi)
      ON o_totalprice >= lo AND o_totalprice < hi
    GROUP BY tier
    """,
    tags=("join", "range"),
)
def range_join_price_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (non-equi) join against a tiny tier table. Spark plans
    BroadcastNestedLoopJoin — correct choice when one side is rows,
    not gigabytes; for fact-fact range joins, bin both sides to an
    equi-key first (see events as-of join for the pattern)."""
    o = t(spark, sf_dir, "orders")
    tiers = spark.createDataFrame(
        [("low", 0.0, 100000.0), ("mid", 100000.0, 250000.0), ("high", 250000.0, 1e9)],
        ["tier", "lo", "hi"],
    )
    return (
        o.join(
            F.broadcast(tiers),
            (o.o_totalprice >= tiers.lo) & (o.o_totalprice < tiers.hi),
        )
        .groupBy("tier")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(dec2("o_totalprice")).cast("double").alias("tier_total"),
        )
    )


#: Morton interleave of the low 16 bits of two BIGINT keys — bit j of
#: each key lands at position 2j / 2j+1. Same generated expression
#: text runs in Spark and DuckDB (integer ops only, no UDF).
_ZBITS = 16


def _morton_sql(ka: str, kb: str) -> str:
    terms = [
        f"((({ka} >> {j}) & 1) << {2 * j}) + ((({kb} >> {j}) & 1) << {2 * j + 1})"
        for j in range(_ZBITS)
    ]
    return "(" + " + ".join(terms) + ")"


@register(
    "layout_zorder_clustering",
    oracle=f"""
    SELECT CAST({_morton_sql("l_partkey", "l_suppkey")} >> {2 * _ZBITS - 6} AS BIGINT)
             AS zbucket,
           COUNT(*) AS n_rows,
           CAST(MIN(l_partkey) AS BIGINT) AS part_min,
           CAST(MAX(l_partkey) AS BIGINT) AS part_max,
           CAST(MIN(l_suppkey) AS BIGINT) AS supp_min,
           CAST(MAX(l_suppkey) AS BIGINT) AS supp_max
    FROM lineitem
    GROUP BY 1
    """,
    tags=("layout", "zorder"),
)
def layout_zorder_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton-code) clustering diagnostic: interleave the low
    16 bits of (l_partkey, l_suppkey), bucket by the top 6 Morton
    bits, and report each bucket's row count and per-dimension
    min/max envelope. Tight envelopes mean a file written per bucket
    would be prunable by BOTH predicates — the layout trick behind
    Delta/Iceberg Z-ordering, expressed as pure integer column math.

    At 100 TB the same expression feeds
    ``df.repartitionByRange(n, zvalue).sortWithinPartitions(zvalue)``
    before the parquet write: multi-dimensional locality from a
    one-dimensional sort, so row-group min/max stats prune scans on
    either key. This query is the diagnostic that VALIDATES such a
    layout (envelope width ≈ pruning power); one scan, one shuffle."""
    z = F.expr(_morton_sql("l_partkey", "l_suppkey"))
    return (
        t(spark, sf_dir, "lineitem")
        .groupBy(F.shiftright(z, 2 * _ZBITS - 6).cast("bigint").alias("zbucket"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("l_partkey").cast("bigint").alias("part_min"),
            F.max("l_partkey").cast("bigint").alias("part_max"),
            F.min("l_suppkey").cast("bigint").alias("supp_min"),
            F.max("l_suppkey").cast("bigint").alias("supp_max"),
        )
    )


@register(
    "topk_orders_per_segment_bounded",
    oracle="""
    WITH ranked AS (
      SELECT c.c_mktsegment, o.o_orderkey, o.o_totalprice,
             ROW_NUMBER() OVER (
               PARTITION BY c.c_mktsegment
               ORDER BY o.o_totalprice DESC, o.o_orderkey ASC
             ) AS rnk
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    )
    SELECT c_mktsegment, CAST(rnk AS INT) AS rnk, o_orderkey,
           round(o_totalprice, 2) AS o_totalprice
    FROM ranked WHERE rnk <= 3
    """,
    tags=("aggregation", "topk", "bounded-state"),
)
def topk_orders_per_segment_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders by price per market segment WITHOUT a window
    function: two-stage salted top-k. Stage 1 groups by (segment,
    salt) and keeps ``slice(array_sort(collect_list))`` top-3 per
    salted subgroup; stage 2 merges the ≤ 16×3 survivors per
    segment. The result is identical to the rank-window form (the
    oracle) because a group's true top-3 survives every salted
    subgroup cut.

    Why it matters at 100 TB: a rank window — and equally a single
    unsalted collect_list aggregate — must materialize EVERY row of
    the hottest key in one task before ranking. Here no task ever
    merges more than salts×K entries for a key, whatever its skew;
    the hot key's raw rows stay spread across 16 salted subgroups.
    (array_sort ascending over (-price, orderkey) structs gives the
    (price DESC, orderkey ASC) ranking deterministically.)"""
    k, n_salts = 3, 16
    topk_agg = F.slice(F.array_sort(F.collect_list("entry")), 1, k).alias("top")
    j = (
        t(spark, sf_dir, "orders")
        .join(t(spark, sf_dir, "customer"), F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_mktsegment",
            F.pmod(F.xxhash64(F.col("o_orderkey")), F.lit(n_salts)).alias("_salt"),
            F.struct(
                (-F.col("o_totalprice")).alias("neg_price"),
                F.col("o_orderkey").alias("okey"),
            ).alias("entry"),
        )
    )
    stage1 = (
        j.groupBy("c_mktsegment", "_salt")
        .agg(topk_agg)
        .select("c_mktsegment", F.explode("top").alias("entry"))
    )
    stage2 = stage1.groupBy("c_mktsegment").agg(topk_agg)
    return stage2.select(
        "c_mktsegment", F.posexplode("top").alias("pos", "e")
    ).select(
        "c_mktsegment",
        (F.col("pos") + 1).cast("int").alias("rnk"),
        F.col("e.okey").alias("o_orderkey"),
        F.round(-F.col("e.neg_price"), 2).alias("o_totalprice"),
    )
