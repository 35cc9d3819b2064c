"""Structured Streaming demos: the streaming twins of the batch
event-time queries.

The reference is batch-only (SURVEY.md §2.4 — no watermarks, no
windows, no stateful ops). Spark's contract is that the same
declarative plan runs incrementally: ``readStream`` instead of
``read``, plus a watermark bounding state. These builders take any
streaming events DataFrame, so tests feed a file-source stream and
production would feed Kafka — the query code is identical.

Scale notes: streaming aggregation state lives in the state store,
partitioned by group key — the watermark is what keeps it bounded
(without it, a 100 TB/day stream grows state forever). Sink is
checkpointed + idempotent per epoch → exactly-once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table

EVENTS_SCHEMA = "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, value DOUBLE, props STRING"


def read_events_stream(spark: SparkSession, events_dir: str) -> DataFrame:
    """File-source stream over micros-normalized events parquet (one
    file per micro-batch — the standard replay/testing source; swap
    for Kafka in production, schema unchanged)."""
    return (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(events_dir)
    )


def streaming_tumbling_counts(
    events: DataFrame, watermark: str = "30 minutes"
) -> DataFrame:
    """Tumbling 1-hour counts per event type with late-data handling:
    events later than the watermark are dropped and their windows
    finalized — identical grouping to the batch ``events_tumbling_1h``."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
    )


def streaming_dedup(events: DataFrame) -> DataFrame:
    """Streaming exact dedup on event_id within a 1-hour watermark
    — ``dropDuplicates`` keeps per-key state; the watermark evicts
    state older than the horizon, which is what makes dedup feasible
    on an unbounded stream."""
    return events.withWatermark("ts", "1 hour").dropDuplicates(["event_id", "ts"])


def write_stream_foreach_batch(
    stream_df: DataFrame, out_dir: str, checkpoint_dir: str
):
    """Production sink pattern: ``foreachBatch`` hands each
    micro-batch to the full batch writer API (partitioned parquet
    here; MERGE/upsert targets in general). Exactly-once comes from
    keying the write on the batch id: output is partitioned by
    ``_batch_id`` and written with dynamic partition overwrite, so
    a crash between the parquet commit and the checkpoint commit
    replays the batch into the SAME partition, overwriting rather
    than duplicating. Returns the started query."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.withColumn("_batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_batch_id")
            .parquet(out_dir)
        )

    return (
        stream_df.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def materialize_events_for_streaming(
    spark: SparkSession, sf_dir: str, out_dir: str, n_files: int = 4
) -> None:
    """Test helper: write the batch events table (ts already
    truncated to micros by ``load_table``) as ``n_files`` parquet
    files so the file source replays them as micro-batches."""
    load_table(spark, sf_dir, "events").repartition(n_files).write.mode(
        "overwrite"
    ).parquet(out_dir)


def streaming_click_purchase_join(
    events: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """Stream-stream interval join — the streaming twin of the batch
    ``events_funnel_1h``: every purchase joined to the same user's
    clicks in the preceding hour.

    Both sides carry watermarks and the join condition bounds
    event-time distance, which is what lets Spark EVICT buffered
    rows: a click older than (watermark + 1 hour) can never match a
    future purchase, so state stays bounded on an unbounded stream —
    the discipline a 100 TB/day clickstream requires. Without the
    time bound the state store would grow forever (Spark rejects
    unbounded stream-stream outer joins outright)."""
    # both sides derive from ONE source frame, so user_id must be
    # renamed per side — identically-named refs from shared lineage
    # resolve to the same attribute and the equality predicate
    # degenerates to trivially-true (a silent near-cross-join)
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", watermark)
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    return purchases.join(
        clicks,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 1 hour"))
        & (F.col("click_ts") <= F.col("purchase_ts")),
        "inner",
    ).select(
        "purchase_id",
        F.col("p_user").alias("user_id"),
        "purchase_ts",
        "click_id",
        "click_ts",
    )
