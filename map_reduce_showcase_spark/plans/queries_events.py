"""Event-time queries: tumbling/sliding/session windows, analytic
windows, JSON extraction, as-of matching.

The reference has no streaming and no event-time concepts at all
(SURVEY.md §2.4). These queries are written in their *batch* form so
the DuckDB oracle can check them; ``streaming/demo.py`` runs the same
window aggregations through Structured Streaming with a watermark
(tested in ``tests/test_streaming.py``), which is the deployment mode
at scale — identical code modulo ``readStream``/``writeStream``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .registry import register, t


def dec6(c):
    return F.col(c).cast("decimal(18,6)")


@register(
    "events_tumbling_1h",
    oracle="""
    SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
    tags=("events", "window-agg"),
)
def events_tumbling_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour window aggregate — ``F.window`` grouping, the
    batch twin of the streaming tumbling aggregation. One shuffle on
    (window, type); with a watermark in streaming mode state is
    bounded by the lateness horizon."""
    return (
        t(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(dec6("value")).cast("double").alias("sum_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "sum_value")
    )


@register(
    "events_sliding_1h_30m",
    oracle="""
    SELECT time_bucket(INTERVAL '30 minutes', ts) - o.off * INTERVAL '30 minutes' AS window_start,
           COUNT(*) AS n_events
    FROM events, (VALUES (0), (1)) AS o(off)
    GROUP BY 1
    """,
    tags=("events", "window-agg"),
)
def events_sliding_1h_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window (1 h length, 30 min slide): each event lands in
    2 windows. Spark's ``window()`` expands rows by length/slide —
    shuffle volume scales with that factor; keep slide ≥ length/4 at
    100 TB or pre-aggregate to the slide granularity first."""
    return (
        t(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "n_events")
    )


@register(
    "events_session_10m",
    oracle="""
    WITH ordered AS (
      SELECT user_id, ts,
             LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      FROM events
    ), flagged AS (
      SELECT user_id, ts,
             -- >= (not >): Spark session windows are end-exclusive, so a
             -- gap of EXACTLY the duration starts a NEW session
             CASE WHEN prev_ts IS NULL OR ts - prev_ts >= INTERVAL '10 minutes'
                  THEN 1 ELSE 0 END AS new_session
      FROM ordered
    ), sessions AS (
      SELECT user_id, ts,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged
    )
    SELECT user_id, CAST(MIN(ts) AS TIMESTAMP) AS session_start,
           COUNT(*) AS n_events
    FROM sessions
    GROUP BY user_id, session_id
    """,
    tags=("events", "session-window"),
)
def events_session_10m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (10-minute inactivity gap) per user via
    ``F.session_window`` — Spark's native session operator (merges
    overlapping intervals in one pass). The oracle is the classic
    gaps-and-islands SQL. In streaming mode the same grouping runs
    stateful with watermark-based state eviction. The user_id
    exchange is PINNED (functions/util.pinned_shuffle): the session
    aggregation reuses it, and the explicit count stops AQE from
    coalescing the ~2 MB shuffle onto 2 tasks (r17 profile; pin
    measured ~0.8× interleaved, identical rows)."""
    from ..functions.util import pinned_shuffle

    return (
        pinned_shuffle(t(spark, sf_dir, "events"), "user_id")
        .groupBy(F.session_window("ts", "10 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("session_start"), "user_id", "n_events")
        .select("user_id", "session_start", "n_events")
    )


@register(
    "events_json_props",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
           MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
    FROM events
    GROUP BY event_type
    """,
    tags=("events", "json"),
)
def events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured JSON ``props`` column: extract → typed agg.
    ``get_json_object`` is a codegen'd JVM expression (Jackson), no
    Python; for repeated multi-key extraction prefer ``from_json``
    with an explicit schema so the parse happens once."""
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        t(spark, sf_dir, "events")
        .select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


@register(
    "events_lag_delta",
    oracle="""
    SELECT user_id, event_id, value,
           value - LAG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS delta
    FROM events
    WHERE event_type = 'purchase'
    """,
    tags=("events", "window"),
)
def events_lag_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LAG analytic: per-user purchase-to-purchase value delta.
    Deterministic ordering via (ts, event_id). The subtraction is a
    single IEEE op on the same doubles in both engines."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        t(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            "event_id",
            "value",
            (F.col("value") - F.lag("value").over(w)).alias("delta"),
            "ts",
        )
        .select("user_id", "event_id", "value", "delta")
    )


@register(
    "events_moving_sum_4",
    oracle="""
    SELECT user_id, event_id,
           CAST(SUM(CAST(value AS DECIMAL(18,6)))
                OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS DOUBLE) AS moving_sum
    FROM events
    """,
    tags=("events", "window"),
)
def events_moving_sum_4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moving 4-row sum per user. Decimal-exact inside the frame so
    the value is accumulation-order independent."""
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-3, Window.currentRow)
    )
    return t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.sum(dec6("value")).over(w).cast("double").alias("moving_sum"),
    )


@register(
    "events_funnel_1h",
    oracle="""
    WITH seq AS (
      SELECT user_id, ts, event_type,
             MAX(CASE WHEN event_type = 'click' THEN ts END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_click_ts
      FROM events
      WHERE event_type IN ('click', 'purchase')
    )
    SELECT COUNT(*) FILTER (WHERE event_type = 'purchase') AS n_purchases,
           COUNT(*) FILTER (WHERE event_type = 'purchase'
                              AND prev_click_ts IS NOT NULL
                              AND ts - prev_click_ts <= INTERVAL '1 hour') AS n_converted,
           COUNT(*) FILTER (WHERE event_type = 'click') AS n_clicks
    FROM seq
    """,
    tags=("events", "funnel"),
)
def events_funnel_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion funnel: purchases preceded by a click from the
    same user within 1 hour. Same scalable shape as the as-of join —
    a running MAX over one union scan, strictly-preceding frame, no
    pairwise click×purchase join. The canonical sequential-pattern
    query of event analytics."""
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ev = t(spark, sf_dir, "events").filter(F.col("event_type").isin("click", "purchase"))
    seq = ev.withColumn(
        "prev_click_ts",
        F.max(F.when(F.col("event_type") == "click", F.col("ts"))).over(w),
    )
    is_purchase = F.col("event_type") == "purchase"
    converted = (
        is_purchase
        & F.col("prev_click_ts").isNotNull()
        & (F.col("ts") <= F.col("prev_click_ts") + F.expr("INTERVAL 1 HOUR"))
    )
    return seq.agg(
        F.count_if(is_purchase).alias("n_purchases"),
        F.count_if(converted).alias("n_converted"),
        F.count_if(F.col("event_type") == "click").alias("n_clicks"),
    )


@register(
    "events_asof_purchase_click",
    oracle="""
    SELECT event_id AS purchase_id, user_id,
           CAST(ts AS TIMESTAMP) AS purchase_ts,
           CAST(last_click_ts AS TIMESTAMP) AS last_click_ts
    FROM (
      SELECT event_id, user_id, ts, event_type,
             MAX(CASE WHEN event_type = 'click' THEN ts END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_click_ts
      FROM events
      WHERE event_type IN ('click', 'purchase')
    )
    WHERE event_type = 'purchase'
    """,
    tags=("events", "asof"),
)
def events_asof_purchase_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase matched to the user's latest click
    at-or-before it — implemented as a union-scan + running MAX over
    one window, NOT a range join. This is the scalable as-of pattern:
    one shuffle on user_id, zero row explosion (a naive
    ``p.ts >= c.ts`` join is quadratic per user). The reference has
    no joins at all (SURVEY.md §2.4)."""
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ev = t(spark, sf_dir, "events").filter(F.col("event_type").isin("click", "purchase"))
    return (
        ev.withColumn(
            "last_click_ts",
            F.max(F.when(F.col("event_type") == "click", F.col("ts"))).over(w),
        )
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.col("ts").alias("purchase_ts"),
            "last_click_ts",
        )
    )


@register(
    "approx_distinct_users",
    oracle="""
    SELECT event_type,
           COUNT(DISTINCT user_id) AS exact_users,
           TRUE AS within_rsd
    FROM events
    GROUP BY event_type
    """,
    tags=("events", "aggregation", "approx"),
)
def approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct-user estimate per event type, BOUNDED
    against the exact count: HLL sketches are engine-specific so the
    estimate itself can never hash-match a SQL oracle — instead the
    query emits the exact count plus ``within_rsd``, true iff the
    estimate's relative error is ≤ 5× the configured rsd (0.01). A
    lying sketch flips the boolean and fails the driver's hash gate.
    At 100 TB the sketch is THE way to count users (constant memory
    per group, mergeable partials, no expand shuffle); the exact
    twin here exists only to certify it."""
    rsd = 0.01
    e = t(spark, sf_dir, "events")
    return (
        e.groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", rsd).alias("approx"),
            F.count_distinct(F.col("user_id")).alias("exact_users"),
        )
        .select(
            "event_type",
            "exact_users",
            (
                F.abs(F.col("approx") - F.col("exact_users"))
                <= F.col("exact_users") * F.lit(5 * rsd)
            ).alias("within_rsd"),
        )
    )


@register(
    "events_rate_anomaly",
    oracle="""
    WITH hourly AS (
      SELECT time_bucket(INTERVAL '1 hour', ts) AS h, event_type,
             COUNT(*) AS n
      FROM events GROUP BY 1, 2
    ),
    framed AS (
      SELECT event_type, h, n,
             COUNT(*) OVER w AS k,
             SUM(n) OVER w AS s1,
             SUM(n * n) OVER w AS s2
      FROM hourly
      WINDOW w AS (PARTITION BY event_type ORDER BY h
                   ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
    )
    SELECT event_type, h AS hour_ts, CAST(n AS BIGINT) AS n_events,
           round((CAST(n AS DOUBLE) - CAST(s1 AS DOUBLE) / 24.0)
                 / sqrt((CAST(s2 AS DOUBLE)
                         - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / 24.0) / 23.0),
                 6) AS z_score,
           (abs((CAST(n AS DOUBLE) - CAST(s1 AS DOUBLE) / 24.0)
                / sqrt((CAST(s2 AS DOUBLE)
                        - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / 24.0) / 23.0))
            > 3.0) AS is_anomaly
    FROM framed
    WHERE k = 24
      AND (CAST(s2 AS DOUBLE)
           - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / 24.0) > 0
    """,
    tags=("events", "timeseries", "anomaly", "math"),
)
def events_rate_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming-rate anomaly detection: each hour's event count
    z-scored against the trailing 24 observed hourly buckets of its
    type (mean/variance from EXACT integer sums over the frame, so
    the floating-point math is two divisions and a sqrt — replayed
    bit-identically by the oracle; a windowed ``stddev_samp`` would
    accumulate engine-specific float state instead).

    Shape at 100 TB: the raw scan reduces to |types| x |hours| rows
    before any window work (aggregate first, window after);
    the trailing frame is rows-based over that tiny series. The
    z>3 flag is the standard ops alert for rate spikes/drops."""
    from pyspark.sql.window import Window

    ev = t(spark, sf_dir, "events")
    hourly = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("h"), "event_type", "n")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(-24, -1)
    )
    framed = hourly.select(
        "event_type",
        "h",
        "n",
        F.count(F.lit(1)).over(w).alias("k"),
        F.sum("n").over(w).alias("s1"),
        F.sum(F.col("n") * F.col("n")).over(w).alias("s2"),
    )
    mean = F.col("s1").cast("double") / F.lit(24.0)
    var = (
        F.col("s2").cast("double")
        - F.col("s1").cast("double") * F.col("s1").cast("double") / F.lit(24.0)
    ) / F.lit(23.0)
    z = (F.col("n").cast("double") - mean) / F.sqrt(var)
    return (
        framed.where(
            (F.col("k") == 24)
            & (
                F.col("s2").cast("double")
                - F.col("s1").cast("double") * F.col("s1").cast("double") / F.lit(24.0)
                > 0
            )
        )
        .select(
            "event_type",
            F.col("h").alias("hour_ts"),
            F.col("n").cast("bigint").alias("n_events"),
            F.round(z, 6).alias("z_score"),
            (F.abs(z) > 3.0).alias("is_anomaly"),
        )
    )


@register(
    "events_range_frame_30m",
    oracle="""
    SELECT user_id, event_id,
           CAST(COUNT(*) OVER w AS BIGINT) AS n_30m,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS sum_30m
    FROM events
    WINDOW w AS (PARTITION BY user_id
                 ORDER BY epoch_ns(ts) // 1000
                 RANGE BETWEEN 1800000000 PRECEDING AND CURRENT ROW)
    """,
    tags=("events", "window", "range-frame"),
)
def events_range_frame_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VALUE-based window frame (RANGE, not ROWS): for every event,
    the count and exact decimal sum of the same user's events in the
    trailing 30 WALL-CLOCK minutes — the frame a rate limiter or
    trailing-spend feature actually wants (a ROWS frame counts
    records, not time). The frame orders by integer epoch
    microseconds on BOTH engines, so nanosecond-vs-microsecond
    boundary membership can never diverge; peers with equal ts are
    all included, per RANGE semantics.

    Shape at 100 TB: one shuffle on user_id, per-user sort by time —
    the same cost as any per-key window; the frame bound is resolved
    by a moving pointer over the sorted run, not a self-join (the
    naive interval self-join shape this query replaces)."""
    w = (
        Window.partitionBy("user_id")
        # cast first: the loader yields TIMESTAMP_NTZ for natively
        # micro-encoded data and unix_micros rejects NTZ; under the
        # UTC-pinned session the cast preserves the wall-time epoch
        # DuckDB's epoch_ns computes
        .orderBy(F.unix_micros(F.col("ts").cast("timestamp")))
        .rangeBetween(-1_800_000_000, 0)
    )
    return t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.count(F.lit(1)).over(w).cast("bigint").alias("n_30m"),
        F.sum(dec6("value")).over(w).cast("double").alias("sum_30m"),
    )


@register(
    "events_sessionize_ids",
    oracle="""
    WITH gapped AS (
      SELECT user_id, event_id, ts,
             CASE
               WHEN LAG(ts) OVER w IS NULL THEN 1
               WHEN ts > LAG(ts) OVER w + INTERVAL 30 MINUTE THEN 1
               ELSE 0
             END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id, event_id,
           CAST(SUM(new_sess) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS UNBOUNDED PRECEDING) AS INT) AS session_id
    FROM gapped
    """,
    tags=("events", "window", "sessionize"),
)
def events_sessionize_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-EVENT session-id assignment (the feature-generation twin
    of ``events_session_10m``'s per-session aggregate): flag a new
    session when the gap to the previous event exceeds 30 minutes,
    then a running sum of flags numbers each user's sessions 1..n.
    The gap test is pure timestamp-interval arithmetic (microsecond
    integers under the hood, no timezone or float involved) so it
    replays exactly in any engine — and works on TIMESTAMP_NTZ,
    which ``unix_micros`` rejects.

    The cumulative-sum-to-segment idiom is THE scalable sessionizer:
    both windows share one (user_id) partitioning — one shuffle, each
    user's timeline sorted once, state is O(1) per row (contrast a
    session_window agg, which can't label the individual events).
    At 100 TB user_id is the natural partition key and no task ever
    holds more than one user's timeline slice."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    new_sess = F.when(
        prev.isNull()
        | (F.col("ts") > prev + F.expr("INTERVAL 30 MINUTES")),
        1,
    ).otherwise(0)
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        t(spark, sf_dir, "events")
        .select("user_id", "event_id", "ts", new_sess.alias("new_sess"))
        .select(
            "user_id",
            "event_id",
            F.sum("new_sess").over(run).cast("int").alias("session_id"),
        )
    )


@register(
    "events_props_map_explode",
    oracle="""
    WITH kv AS (
      SELECT unnest(json_keys(props)) AS prop_key, props FROM events
    )
    SELECT prop_key,
           COUNT(*) AS n,
           CAST(SUM(CAST(json_extract_string(props, '$.' || prop_key)
                         AS BIGINT)) AS BIGINT) AS sum_val,
           MIN(CAST(json_extract_string(props, '$.' || prop_key)
                    AS BIGINT)) AS min_val,
           MAX(CAST(json_extract_string(props, '$.' || prop_key)
                    AS BIGINT)) AS max_val
    FROM kv
    GROUP BY prop_key
    """,
    tags=("events", "json", "map"),
)
def events_props_map_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType surface: parse the JSON props column ONCE into
    MAP<STRING,STRING> (`from_json` — schema-on-read for
    semi-structured columns whose keys vary row to row, where a
    fixed struct schema can't), explode to (key, value) rows, and
    aggregate per key — the generic property-bag profiler that
    tells you what keys a telemetry stream actually carries and
    their value ranges, before anyone commits to a typed schema.
    One parse + one explode at scan speed, then a |keys|-group
    aggregate; the DuckDB twin uses the json_each table function
    (their lateral-explode equivalent)."""
    ev = t(spark, sf_dir, "events")
    m = F.from_json("props", "map<string,string>")
    kv = ev.select(F.explode(m).alias("prop_key", "val"))
    v = F.col("val").cast("long")
    return kv.groupBy("prop_key").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(v).alias("sum_val"),
        F.min(v).alias("min_val"),
        F.max(v).alias("max_val"),
    )
