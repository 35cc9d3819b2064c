"""Registered Structured-Streaming queries.

The other streaming evidence lives in ``tests/test_streaming.py``
(stream-vs-batch equivalence, stateful ops, idempotent sinks); this
module gives the driver directly-runnable entries: REAL streaming
queries — file source replayed one file per micro-batch, memory
sink — whose final output equals a batch aggregation, so they carry
full DuckDB oracles (not just rows-only checks). One uses the
built-in windowed aggregation; one uses the
``applyInPandasWithState`` custom-stateful escape hatch.

The reference has no streaming at all (SURVEY.md §2.4); this is the
Spark-native capability a 100 TB/day ingest pipeline would run with
the file source swapped for Kafka and the memory sink for a
``foreachBatch`` parquet/MERGE writer (``streaming/demo.py``).
"""

from __future__ import annotations

import hashlib
import os
import shutil
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import scratch_dir
from ..streaming.demo import read_events_stream, streaming_tumbling_counts
from ..streaming.stateful import streaming_user_totals_exact
from .registry import register, t


def _stream_dirs(
    spark: SparkSession, name: str, sf_dir: str, write_replay: Callable[[str], None]
) -> tuple[str, str]:
    """(input replay, checkpoint) dirs for a streaming query, under
    this session's scratch and keyed by the query name and the real
    path of ``sf_dir``. The replay copy is written once per session:
    ``write_replay`` fills a staging sibling, which is then renamed
    into place, so a write that failed part-way is never served and
    later calls reuse the copy. The checkpoint is wiped before every
    run: resuming a finished availableNow checkpoint would replay
    nothing and return an empty table."""
    tag = hashlib.md5(os.path.realpath(sf_dir).encode()).hexdigest()[:12]
    base = scratch_dir(spark, f"stream_{name}_{tag}")
    in_dir, ckpt = f"{base}/in", f"{base}/ckpt"
    shutil.rmtree(ckpt, ignore_errors=True)
    if not os.path.isdir(in_dir):
        stage = f"{base}/in_stage"
        shutil.rmtree(stage, ignore_errors=True)
        write_replay(stage)
        os.rename(stage, in_dir)
    return in_dir, ckpt


def _stamp_increasing_mtimes(path: str) -> list[str]:
    """Stamp every ``part-*`` file under ``path`` with strictly
    increasing mtimes in filename (= range-partition) order,
    backdated an hour. The file stream source orders batches by
    mtime and range-partition tasks finish concurrently, so without
    the stamp a higher-ts file can land an earlier mtime and replay
    FIRST — the watermark jumps ahead and silently drops every
    earlier file's rows. Shared by both stateful replay writers
    (the eviction census and its final-state twin) so a future
    hardening cannot be applied to one and silently missed in the
    other. Returns the stamped paths; files a caller appends
    AFTERWARD and stamps at ``time.time()`` or later sort strictly
    after every part here (the backdating tops out at
    now - 3600 + 2·parts, far below ``now`` for any realistic part
    count)."""
    import glob
    import os
    import time

    now = time.time()
    parts = sorted(glob.glob(f"{path}/part-*"))
    for i, f in enumerate(parts):
        os.utime(f, (now - 3600 + 2 * i, now - 3600 + 2 * i))
    return parts


_QUERY_NAME = "mrs_streaming_smoke_sink"


@register(
    "streaming_tumbling_counts",
    oracle="""
    SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
           event_type,
           COUNT(*) AS n_events
    FROM events
    GROUP BY 1, 2
    """,
    tags=("streaming", "window-agg"),
)
def streaming_tumbling_counts_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end Structured Streaming: replay the events table as a
    multi-batch file stream (``maxFilesPerTrigger=1`` so the
    watermark actually advances across micro-batches), aggregate
    tumbling 1-hour counts per event type, and materialize via the
    memory sink. Complete output mode ⇒ the final table equals the
    batch aggregation, which is what the oracle checks. (In complete
    mode the watermark neither drops late rows nor evicts state —
    that's what makes the oracle exact here; the bounded-state
    production shape is the append-mode variant exercised in
    ``tests/test_streaming.py``.)

    Scale shape: identical plan to ``events_tumbling_1h`` run
    incrementally — state is (window × event_type) rows in the state
    store; swap source for Kafka and sink for foreachBatch and
    nothing else changes."""
    in_dir, ckpt = _stream_dirs(
        spark,
        "tumbling",
        sf_dir,
        lambda p: t(spark, sf_dir, "events")
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .repartition(4)
        .write.parquet(p),
    )
    for q in spark.streams.active:
        if q.name == _QUERY_NAME:
            q.stop()
    query = (
        streaming_tumbling_counts(read_events_stream(spark, in_dir))
        .writeStream.format("memory")
        .queryName(_QUERY_NAME)
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return spark.table(_QUERY_NAME).select("window_start", "event_type", "n_events")


_STATEFUL_QUERY_NAME = "mrs_streaming_stateful_sink"


@register(
    "streaming_stateful_counts",
    oracle="""
    SELECT user_id,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS total_cents
    FROM events
    GROUP BY user_id
    """,
    tags=("streaming", "stateful", "applyInPandasWithState"),
)
def streaming_stateful_counts_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom STATEFUL streaming through the registered surface:
    replay events as a 4-micro-batch file stream and maintain
    per-user running (count, exact-cents sum) state with
    ``applyInPandasWithState`` — Spark's arbitrary-state escape
    hatch (Arrow-batched, one state row per user). Update mode
    emits a running-total row each time a user appears; the final
    state per user is the row with the highest running count, and
    because the state accumulates integers it equals the batch
    GROUP BY bit-for-bit regardless of how the stream was split —
    so even this non-SQL operator gets a full value-hash oracle.

    Scale shape: state is O(distinct users) 16-byte rows in the
    state store behind one shuffle on user_id; micro-batches ship
    only their own rows to Python. Production adds a
    ``GroupStateTimeout`` so idle keys expire instead of growing
    state with key cardinality forever."""
    in_dir, ckpt = _stream_dirs(
        spark,
        "stateful",
        sf_dir,
        lambda p: t(spark, sf_dir, "events")
        .select("user_id", "value")
        .repartition(4)
        .write.parquet(p),
    )
    for q in spark.streams.active:
        if q.name == _STATEFUL_QUERY_NAME:
            q.stop()
    stream = (
        spark.readStream.schema("user_id BIGINT, value DOUBLE")
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    query = (
        streaming_user_totals_exact(stream)
        .writeStream.format("memory")
        .queryName(_STATEFUL_QUERY_NAME)
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    # update mode appended one running-total row per (batch, user);
    # the final state is the row at each user's maximum n_events
    # (strictly increasing per appearance, so max_by is unambiguous)
    return (
        spark.table(_STATEFUL_QUERY_NAME)
        .groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max_by("total_cents", "n_events").alias("total_cents"),
        )
    )


_SSJOIN_QUERY_NAME = "mrs_streaming_ssjoin_sink"


@register(
    "streaming_stream_stream_join",
    oracle="""
    SELECT time_bucket(INTERVAL '1 hour', p.ts) AS purchase_hour,
           COUNT(*) AS n_matches,
           COUNT(DISTINCT p.event_id) AS n_purchases_matched,
           COUNT(DISTINCT p.user_id) AS n_users
    FROM events p
    JOIN events c
      ON c.user_id = p.user_id
     AND c.ts >= p.ts - INTERVAL '1 hour'
     AND c.ts <= p.ts
    WHERE p.event_type = 'purchase' AND c.event_type = 'click'
    GROUP BY 1
    """,
    tags=("streaming", "stream-stream-join"),
)
def streaming_stream_stream_join_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM interval join through the driver surface: replay
    events as a multi-batch file stream, join each purchase to the
    same user's clicks in the preceding hour
    (``streaming/demo.py::streaming_click_purchase_join``), and
    aggregate the match list into an hourly census. An INNER
    time-bounded join emits each match as soon as both rows are
    buffered and never retracts, and the replay-wide watermark
    evicts nothing, so the availableNow result equals the batch
    interval join EXACTLY — which is why this query carries a full
    DuckDB value-hash oracle instead of the rows-only check
    (equivalence also pinned row-for-row by
    ``tests/test_streaming.py::test_stream_stream_join_equals_batch``;
    the bounded-state production shape with a real eviction horizon
    is the late-data test).

    Scale shape: both sides shuffle on user_id once; state holds
    only rows inside watermark + horizon — the discipline that keeps
    a 100 TB/day clickstream join's state finite."""
    from ..streaming.demo import streaming_click_purchase_join

    in_dir, ckpt = _stream_dirs(
        spark,
        "ssjoin",
        sf_dir,
        lambda p: t(spark, sf_dir, "events")
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .repartition(4)
        .write.parquet(p),
    )
    for q in spark.streams.active:
        if q.name == _SSJOIN_QUERY_NAME:
            q.stop()
    query = (
        streaming_click_purchase_join(
            read_events_stream(spark, in_dir), watermark="90 days"
        )
        .writeStream.format("memory")
        .queryName(_SSJOIN_QUERY_NAME)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return (
        spark.table(_SSJOIN_QUERY_NAME)
        .groupBy(F.date_trunc("hour", "purchase_ts").alias("purchase_hour"))
        .agg(
            F.count(F.lit(1)).alias("n_matches"),
            F.count_distinct("purchase_id").alias("n_purchases_matched"),
            F.count_distinct("user_id").alias("n_users"),
        )
    )


_TIMEOUT_QUERY_NAME = "mrs_streaming_timeout_sink"


@register(
    "streaming_sessions_timeout_eviction",
    oracle=None,  # rows-only: eviction timing depends on the replay's
    # micro-batch boundaries (file order), so per-row values are not
    # SQL-replayable; the deterministic eviction semantics are pinned
    # by tests/test_streaming.py::test_event_time_timeout_evicts_idle_user_state
    tags=("streaming", "stateful", "timeout", "eviction"),
)
def streaming_sessions_timeout_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The EventTimeTimeout eviction path through the DRIVER surface:
    replay events as a multi-batch file stream and run the
    watermark-evicting sessionizer
    (``streaming/stateful.py::streaming_user_sessions_with_timeout``)
    — per-user state arms a timeout at last-event-time + gap and is
    REMOVED (with one final ``is_final=true`` row) once the watermark
    passes it. This is the bounded-state property that makes custom
    state viable at 100 TB: state tracks ACTIVE users, not all-time
    user cardinality. Registered rows-only so the contract check
    proves the operator runs end-to-end on real SF data; the
    deterministic batch-sequence eviction test pins the semantics.

    The result is the 1–2-row eviction census (running vs final row
    counts and distinct users), not the raw update log — stable in
    shape at every SF."""
    from ..streaming.stateful import streaming_user_sessions_with_timeout

    def write_replay(p: str) -> None:
        t(spark, sf_dir, "events").select(
            "user_id", F.col("ts").cast("timestamp").alias("ts")
        ).repartitionByRange(4, "ts").write.parquet(p)
        # strictly increasing mtimes in range order, same hazard
        # the twin's replay stamps against: a higher-ts file
        # replaying first jumps the watermark ahead and silently
        # drops every earlier file's rows — which would also
        # undercount the running census the drive_contract pin
        # value-anchors to COUNT(DISTINCT user_id)
        _stamp_increasing_mtimes(p)

    in_dir, ckpt = _stream_dirs(spark, "timeout", sf_dir, write_replay)
    for q in spark.streams.active:
        if q.name == _TIMEOUT_QUERY_NAME:
            q.stop()
    stream = (
        spark.readStream.schema("user_id BIGINT, ts TIMESTAMP")
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    query = (
        streaming_user_sessions_with_timeout(
            stream, gap="10 minutes", gap_ms=10 * 60 * 1000
        )
        .writeStream.format("memory")
        .queryName(_TIMEOUT_QUERY_NAME)
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return (
        spark.table(_TIMEOUT_QUERY_NAME)
        .groupBy("is_final")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count_distinct("user_id").alias("n_users"),
        )
    )


_FINAL_QUERY_NAME = "mrs_streaming_evict_final_sink"

#: sentinel user for the flush rows appended to the eviction-twin
#: replay — excluded from the result; its own state is the only one
#: legitimately alive when the replay ends.
_FLUSH_USER = -1


@register(
    "streaming_eviction_final_state",
    oracle="""
    SELECT user_id, COUNT(*) AS evicted_events
    FROM events
    GROUP BY user_id
    """,
    tags=("streaming", "stateful", "timeout", "eviction"),
)
def streaming_eviction_final_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The eviction operator's BATCH-INVARIANT final state, with a
    full value-hash oracle: the companion to the rows-only
    ``streaming_sessions_timeout_eviction``, whose per-row update log
    genuinely depends on micro-batch boundaries.

    Same watermark-evicting sessionizer
    (``streaming/stateful.py::streaming_user_sessions_with_timeout``),
    but the projection is chosen so the output is independent of how
    the replay splits into micro-batches:

    * A user's lifetime is a sequence of state RUNS — state is
      created at first appearance, accumulates ``n_events``, and each
      eviction emits one final row carrying that run's count, then
      removes the state. Runs PARTITION the user's events (n resets
      to 0 after every eviction), so ``SUM(n_events)`` over a user's
      final rows equals the user's total event count — regardless of
      WHERE the batch boundaries (and hence the evictions) fell. The
      per-run split is boundary-dependent; the per-user sum is not.
    * Completeness: two sentinel FLUSH files (user ``_FLUSH_USER``,
      ts = max+1h and max+2h) are appended to the replay after the
      real data. The first advances the watermark past every real
      timeout (armed at last_event + 10min << max+1h − 10min); the
      second's batch then fires every remaining timeout, so every
      real user's last run IS evicted before the stream terminates
      (timeouts fire one batch after the watermark passes them —
      without the second flush, users active near max ts would end
      the replay un-evicted and their tail events would vanish from
      the census).
    * No late drops: part files get strictly increasing mtimes in
      ts-range order (the file source processes oldest-mtime first),
      so every batch's rows are ahead of the watermark set by the
      previous batches and the watermark never filters a row.

    So: hash-equal to ``GROUP BY user_id / COUNT(*)`` iff eviction
    fired for every key exactly once per run and no events were lost
    or double-counted across state removals — an end-to-end oracle
    over the eviction path itself.

    Scale shape: identical to the rows-only twin — state tracks
    ACTIVE users behind one user_id shuffle; the flush-sentinel
    trick is also how a production backfill forces final-state
    emission at the end of a bounded replay."""
    from ..streaming.stateful import streaming_user_sessions_with_timeout

    def write_replay(p: str) -> None:
        import datetime
        import glob
        import time

        ev = t(spark, sf_dir, "events").select(
            "user_id", F.col("ts").cast("timestamp").alias("ts")
        )
        # one scan serves both the flush timestamps and the
        # sentinel-domain check: a real user_id == _FLUSH_USER
        # would be filtered out of the census with the sentinel,
        # and the oracle diff would flag the miss as a bare hash
        # mismatch (confusing to root-cause)
        max_ts, n_sentinel = ev.agg(
            F.max("ts"),
            F.count_if(F.col("user_id") == F.lit(_FLUSH_USER)),
        ).first()
        if n_sentinel:
            raise AssertionError(
                f"events contains the flush sentinel user_id "
                f"{_FLUSH_USER} ({n_sentinel} rows); pick a "
                f"sentinel outside the domain"
            )
        ev.repartitionByRange(4, "ts").write.parquet(p)
        seen = set(_stamp_increasing_mtimes(p))
        # the flush files must replay AFTER every part file and in
        # write order; their natural mtimes come from two separate
        # append jobs and could tie on a coarse-mtime filesystem,
        # so stamp them explicitly too — at `now + 2k`, strictly
        # after every backdated part (see the helper's contract)
        now = time.time()
        for k, hours in enumerate((1, 2)):
            spark.createDataFrame(
                [(_FLUSH_USER, max_ts + datetime.timedelta(hours=hours))],
                "user_id BIGINT, ts TIMESTAMP",
            ).coalesce(1).write.mode("append").parquet(p)
            for f in sorted(glob.glob(f"{p}/part-*")):
                if f not in seen:
                    os.utime(f, (now + 2 * k, now + 2 * k))
                    seen.add(f)

    in_dir, ckpt = _stream_dirs(spark, "evictfinal", sf_dir, write_replay)
    for q in spark.streams.active:
        if q.name == _FINAL_QUERY_NAME:
            q.stop()
    stream = (
        spark.readStream.schema("user_id BIGINT, ts TIMESTAMP")
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    query = (
        streaming_user_sessions_with_timeout(
            stream, gap="10 minutes", gap_ms=10 * 60 * 1000
        )
        .writeStream.format("memory")
        .queryName(_FINAL_QUERY_NAME)
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return (
        spark.table(_FINAL_QUERY_NAME)
        .filter(F.col("is_final") & (F.col("user_id") != F.lit(_FLUSH_USER)))
        .groupBy("user_id")
        .agg(F.sum("n_events").alias("evicted_events"))
    )


@register(
    "streaming_exactly_once_restart",
    oracle="""
    SELECT CAST(1 + (user_id % 2) AS INT) AS phase,
           COUNT(*) AS n_rows,
           COUNT(DISTINCT user_id) AS n_users
    FROM events
    GROUP BY 1
    """,
    tags=("streaming", "exactly-once", "restart"),
)
def streaming_exactly_once_restart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once across RESTARTS, through the driver surface (the
    last streaming behavior that previously had pytest-only
    evidence — ``test_checkpoint_resume_processes_each_file_exactly_
    once`` pins the mechanics; this runs them on real SF data): run
    an availableNow file stream to completion, STOP, land a second
    batch of files, and resume from the SAME checkpoint. The
    checkpoint's file-source log must make the second run process
    only the new files — zero reprocessing, zero loss — which is the
    recovery contract a 100 TB/day ingest depends on.

    Full value oracle, not rows-only: the phase split is
    deterministic (phase 1 = even user_id, phase 2 = odd), so the
    per-phase census over the sink equals a batch GROUP BY over the
    whole events table — but ONLY if each row landed exactly once.
    Any batch-1 reprocessing on restart doubles phase 1's n_rows;
    any loss drops it; either breaks the hash match.

    Scratch: arrivals, checkpoint and sink go to a fresh dir per call
    under the session's scratch. The two-phase arrival order is
    per-call state, and the returned frame reads the sink files, so
    a later call must not touch them."""
    base = scratch_dir(spark, f"stream_restart_{uuid.uuid4().hex}")
    arrivals, ckpt, out = f"{base}/arr", f"{base}/ckpt", f"{base}/out"

    ev = t(spark, sf_dir, "events").select(
        "user_id",
        (F.lit(1) + F.pmod(F.col("user_id"), F.lit(2))).cast("int").alias("phase"),
    )

    def run_epoch() -> None:
        stream = (
            spark.readStream.schema("user_id BIGINT, phase INT")
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{arrivals}/*/")
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    ev.filter(F.col("phase") == 1).write.parquet(f"{arrivals}/b1")
    run_epoch()  # epoch 1: consumes batch 1, then the "cluster restarts"
    ev.filter(F.col("phase") == 2).write.parquet(f"{arrivals}/b2")
    run_epoch()  # epoch 2: same checkpoint — must pick up ONLY batch 2

    return (
        spark.read.parquet(out)
        .groupBy("phase")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count_distinct("user_id").alias("n_users"),
        )
    )
