"""Pins for the r17 integer-cents money aggregation rewrite
(plans/queries_relational.py module comment "integer-cents money
aggregation").

Three things must stay true for the rewrite to be value-identical to
the decimal form it replaced:

1. the cleanliness precondition holds for every catalog money column
   (cents(x, s) == CAST(x AS DECIMAL(18,s)) · 10^s, row for row),
2. the rewritten queries equal their r16 decimal-form twins exactly
   (repr-level, the driver's comparison), and
3. the two-level salted sum equals the single-level long sum (the
   salt must never change a result, only the overflow headroom).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from map_reduce_showcase_spark.plans.queries_relational import (
    MAX_SPLIT_ROWS,
    cents,
    dec2,
    disc_price,
    sum_cents_2level,
    unscale,
)
from map_reduce_showcase_spark.sources.tables import load_table

#: every (table, column, scale) the cents form reads money from
MONEY_COLUMNS = [
    ("lineitem", "l_quantity", 2),
    ("lineitem", "l_extendedprice", 2),
    ("lineitem", "l_discount", 2),
    ("lineitem", "l_tax", 2),
    ("orders", "o_totalprice", 2),
]


@pytest.mark.parametrize(("table", "col", "scale"), MONEY_COLUMNS)
def test_cents_matches_decimal_cast(spark, sf_dir, table, col, scale):
    """cents(x, s) must equal the decimal cast's unscaled value on
    every row — the precondition the whole rewrite rests on."""
    df = load_table(spark, sf_dir, table)
    dec_units = (
        F.col(col).cast(f"decimal(18,{scale})") * F.lit(10**scale)
    ).cast("long")
    bad = df.filter(cents(F.col(col), scale) != dec_units).count()
    assert bad == 0, f"{table}.{col}: {bad} rows where cents != decimal cast"


def test_q1_cents_equals_decimal_form(spark, sf_dir):
    """The shipped q1 must reproduce the r16 decimal-sum q1 exactly
    (repr-level, like the driver's value hash)."""
    from map_reduce_showcase_spark.plans import REGISTRY

    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02")
    )
    one = F.lit(1).cast("decimal(18,2)")
    charge = (disc_price() * (one + dec2("l_tax"))).cast("decimal(18,6)")
    cnt = F.count(F.lit(1))
    old = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(dec2("l_quantity")).cast("double").alias("sum_qty"),
        F.sum(dec2("l_extendedprice")).cast("double").alias("sum_base_price"),
        F.sum(disc_price()).cast("double").alias("sum_disc_price"),
        F.sum(charge).cast("double").alias("sum_charge"),
        (F.sum(dec2("l_quantity")).cast("double") / cnt).alias("avg_qty"),
        (F.sum(dec2("l_extendedprice")).cast("double") / cnt).alias("avg_price"),
        (F.sum(dec2("l_discount")).cast("double") / cnt).alias("avg_disc"),
        cnt.alias("count_order"),
    )
    new = REGISTRY["q1_pricing_summary"].builder(spark, sf_dir)
    assert sorted(map(repr, new.collect())) == sorted(map(repr, old.collect()))


def test_two_level_sum_salt_invariant(spark, sf_dir):
    """sum_cents_2level must equal a plain single-level long sum —
    the partition-id salt moves rows between partials, never changes
    the total (so a repartitioning, a retry, or a different split
    planning can never change a result) — and its decimal re-sum
    must survive partials that a double could not represent exactly
    (>2^53)."""
    rows = [(i % 3, (1 << 53) + i) for i in range(32)]
    want: dict[int, list[int]] = {}
    for k, v in rows:
        acc = want.setdefault(k, [0, 0])
        acc[0] += v
        acc[1] += 1
    expected = {k: (s, n) for k, (s, n) in want.items()}
    for n_parts in (1, 7):  # salt-invariance: partitioning must not matter
        df = spark.createDataFrame(rows, "k int, v long").repartition(n_parts)
        g = sum_cents_2level(df, ["k"], {"s": F.col("v")}, ["n"])
        got = {r["k"]: (int(r["s"]), r["n"]) for r in g.collect()}
        assert got == expected, f"n_parts={n_parts}"


def test_unscale_is_exact_division(spark, sf_dir):
    """unscale must reproduce the decimal-sum → double cast exactly,
    including for totals above 2^53 where double division of the raw
    long would already be wrong."""
    big = (1 << 60) + 12345  # not representable as a double
    df = spark.createDataFrame([(big,)], "s long")
    got = df.select(unscale(F.col("s"), 2).alias("d")).collect()[0]["d"]
    want = df.select(
        (F.col("s").cast("decimal(38,2)") / F.lit(100))
        .cast("double")
        .alias("d")
    ).collect()[0]["d"]
    assert repr(got) == repr(want)


def test_salt_fanout_overflow_headroom():
    """The module-comment headroom table, as arithmetic (r17 verdict
    #1 + ADVICE): with the partition-id salt, a (group, salt) partial
    sums rows from exactly ONE task, so its worst-case value is
    MAX_SPLIT_ROWS × the MAX per-row value — not the average, because
    a long overflow is a silent wraparound — independent of SF, group
    size, and value distribution. Every summed term must keep ≥8×
    headroom against 2^63 under that bound. This is the test that
    fails if someone re-fuses the charge product (max ~1.1e11/row)
    instead of summing the split dp·tax term (max 8e9/row), or
    swaps the structural bound for a value-hash salt."""
    # max per-row value of every term the two-level queries sum
    # (catalog bounds: price < 1e5, qty ≤ 50, disc ≤ 0.10, tax ≤ 0.08)
    max_per_row = {
        "quantity_e2": 50 * 100,
        "extendedprice_e2": 10**7,
        "discount_e2": 10,
        "disc_price_e4": 10**9,          # price_e2 · 100
        "charge_tax_e6": 8 * 10**9,      # dp_e4 · tax_cents(≤8)
    }
    for name, mx in max_per_row.items():
        headroom = 2**63 / (MAX_SPLIT_ROWS * mx)
        assert headroom >= 8, (
            f"{name}: worst-case per-task partial headroom "
            f"{headroom:.1f}× < 8× at MAX_SPLIT_ROWS={MAX_SPLIT_ROWS}"
        )
    # the fused charge product must NOT satisfy the bound (if it did,
    # this test could silently stop guarding the split)
    assert 2**63 / (MAX_SPLIT_ROWS * 1.1 * 10**11) < 8
    # and the q1 source really does sum the split term, and the
    # two-level helper really salts on the task partition id
    import inspect

    from map_reduce_showcase_spark.plans.queries_relational import (
        q1_pricing_summary,
        sum_cents_2level,
    )

    assert 'dp * cents(F.col("l_tax"))' in inspect.getsource(q1_pricing_summary)
    assert "spark_partition_id" in inspect.getsource(sum_cents_2level)
