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
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import sweep_stale_scratch
from ..streaming.demo import read_events_stream, streaming_tumbling_counts
from ..streaming.stateful import streaming_user_totals_exact
from .registry import register, t


def _tail_sample(path: str, n: int = 128) -> str:
    """Last ``n`` bytes of a file, hex — for parquet this covers the
    footer (metadata + row counts), which changes whenever content
    does even if size and mtime are preserved."""
    import os

    with open(path, "rb") as fh:
        fh.seek(max(os.path.getsize(path) - n, 0))
        return fh.read(n).hex()


def _source_signature(sf_dir: str) -> str:
    """Cheap content signature of the events source: every data
    file's (relative path, size, mtime) plus a tail byte sample. A
    testdata regeneration — even at the same path — changes it, which
    retires the old scratch dir and forces a fresh replay copy. The
    tail sample closes the mtime-preserving hole (cp -p / rsync -a /
    tar keep timestamps, but a parquet rewrite perturbs the footer
    bytes sampled here)."""
    import os

    src = f"{sf_dir}/events.parquet"
    parts: list[str] = [src]
    if os.path.isdir(src):
        for root, _dirs, files in sorted(os.walk(src)):
            for f in sorted(files):
                p = os.path.join(root, f)
                st = os.stat(p)
                parts.append(
                    f"{os.path.relpath(root, src)}/{f}:{st.st_size}:"
                    f"{st.st_mtime_ns}:{_tail_sample(p)}"
                )
    elif os.path.exists(src):
        st = os.stat(src)
        parts.append(f"{st.st_size}:{st.st_mtime_ns}:{_tail_sample(src)}")
    return hashlib.md5("|".join(parts).encode()).hexdigest()[:12]


def _stream_dirs(
    spark: SparkSession, name: str, sf_dir: str, proj: str
) -> tuple[str, str, bool]:
    """Deterministic, REUSED scratch dirs for a streaming query's
    (input replay, checkpoint) — keyed by query, a CONTENT signature
    of the source, and the query's input PROJECTION, so repeated
    invocations (bench warm-up, plan tests, driver runs, the full
    pytest suite) reuse one replay copy instead of leaking a fresh
    mkdtemp each call, and neither a testdata regeneration (signature
    moves with size/mtime/footer bytes) nor an edit to the query's
    select/cast list (``proj`` moves) can serve a stale copy with the
    wrong schema. Returns (in_dir, ckpt, copy_ready): ``copy_ready``
    is True when a completed replay copy (Spark's _SUCCESS marker)
    already exists and the write can be skipped. The checkpoint is
    wiped before every run: resuming a finished availableNow
    checkpoint would replay nothing and return an empty table.

    Concurrency: /tmp is machine-shared, so the checkpoint dir is
    keyed by THIS session's applicationId — two concurrent sessions
    must not rmtree each other's live checkpoint mid-run (the same
    hazard ``queries_bucketed.ensure_bucketed`` fixed for bucketed
    tables); the shared replay copy is claimed atomically by
    :func:`_ensure_replay`. Per-application dirs left by finished or
    crashed sessions are swept best-effort once they age out."""
    import os

    tag = hashlib.md5(
        f"{_source_signature(sf_dir)}|{proj}".encode()
    ).hexdigest()[:12]
    base = f"{tempfile.gettempdir()}/mrs_stream_{name}_{tag}"
    app = spark.sparkContext.applicationId
    ckpt = f"{base}/ckpt_{app}"
    shutil.rmtree(ckpt, ignore_errors=True)
    sweep_stale_scratch(base, keep={f"ckpt_{app}", "in"})
    in_dir = f"{base}/in"
    return in_dir, ckpt, os.path.exists(f"{in_dir}/_SUCCESS")


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


def _ensure_replay(spark: SparkSession, in_dir: str, write_fn) -> str:
    """Materialize the SHARED replay copy exactly once across
    concurrent sessions: ``write_fn`` writes into an application-id
    staging dir, which is then atomically ``rename()``-d into place.
    The first session wins the claim; losers discard their staging
    copy and read the winner's (rename fails when the target
    exists, and a completed rename implies a completed write — the
    _SUCCESS marker was written inside the staging dir).

    Returns the directory to stream from. That is ``in_dir`` in
    every resolved outcome; when the claim CANNOT be resolved —
    the eviction lock is still held at the lock-leak deadline and
    no complete shared copy ever appeared — the session's own
    complete staging copy is returned instead, so the caller never
    streams from a partial source (round 7 silently discarded the
    staging copy here and read whatever occupied ``in_dir``).

    Evicting a PARTIAL occupant (no _SUCCESS — a legacy or crashed
    copy) is the one non-atomic step, so it runs under an exclusive
    ``flock`` on a lock FILE with the _SUCCESS re-check INSIDE the
    lock: without it, two losers can interleave so that B rmtree's
    the complete copy A just renamed into place and A's
    already-started streaming read fails mid-run (part filenames
    differ between writes). ``flock`` (kernel advisory lock on the
    inode) replaces round 8's path-based lockfile-plus-age-break
    protocol, whose stale-lock break was CAS-*style* but still
    path-based — a contender whose age check raced another breaker
    could rename away a freshly created successor lock (ADVICE r8).
    With ``flock`` that class is gone: a crashed holder's lock is
    released by the kernel with its process (no leak, so no age
    heuristic and no break step), and mutual exclusion is on the
    inode, not the path. The lock file itself is inert and never
    unlinked — unlinking would let a later contender lock a NEW
    inode while an old fd still holds the old one, silently
    splitting the mutex. The replay scratch lives on node-local
    ``/tmp`` (contending sessions share the box), where ``flock``
    semantics are exact."""
    import fcntl
    import os
    import time

    app = spark.sparkContext.applicationId
    stage = f"{os.path.dirname(in_dir)}/in_stage_{app}"
    shutil.rmtree(stage, ignore_errors=True)
    write_fn(stage)
    try:
        os.rename(stage, in_dir)
        return in_dir
    except OSError:
        pass
    # Lost the claim, or a partial copy occupies in_dir: a complete
    # copy (_SUCCESS) is served as-is; a partial one is evicted under
    # the lock and replaced by this session's complete staging copy.
    # Keep contending until the deadline — a healthy holder's
    # eviction is sub-second, so in practice this resolves in one or
    # two iterations; the deadline only guards against a LIVE holder
    # stuck longer than any sane eviction.
    lock = f"{os.path.dirname(in_dir)}/in_evict.lock"
    deadline = time.time() + _EVICT_WAIT_MAX_S
    while time.time() < deadline:
        if os.path.exists(f"{in_dir}/_SUCCESS"):
            shutil.rmtree(stage, ignore_errors=True)
            return in_dir
        try:
            fd = os.open(lock, os.O_CREAT | os.O_WRONLY, 0o644)
        except PermissionError:
            # cross-user contention: another user's session created
            # the lock file with a mode we can't open for write
            # (EACCES/EPERM). Treat it like a held lock — keep
            # re-checking for the winner's complete copy until the
            # deadline, then serve our own staging copy below.
            time.sleep(0.2)
            continue
        except OSError:
            # any other failure is ENVIRONMENTAL, not contention —
            # ENOSPC, EROFS, the scratch parent swept away by a
            # racing cleaner. Busy-waiting the full deadline on
            # those masked a hard failure into a one-minute stall
            # per call (ADVICE r9); stop contending and resolve via
            # the own-staging-copy fallback (or its RuntimeError)
            # immediately.
            break
        try:
            fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
        except OSError:
            os.close(fd)
            time.sleep(0.2)  # another session is evicting; re-check
            continue
        try:
            # re-check under the lock: a winner may have renamed a
            # complete copy in since the unlocked check above
            if not os.path.exists(f"{in_dir}/_SUCCESS"):
                shutil.rmtree(in_dir, ignore_errors=True)
                try:
                    os.rename(stage, in_dir)
                    return in_dir
                except OSError:
                    # a fast-path winner renamed its complete copy
                    # in between our rmtree and rename; the loop's
                    # top re-check will serve it
                    pass
        finally:
            os.close(fd)  # closing the fd releases the flock
    # Unresolved: never stream a partial in_dir — serve this
    # session's own complete copy (per-application, so no other
    # session will evict it mid-read; the scratch sweep reclaims it
    # once it ages out).
    if os.path.exists(f"{stage}/_SUCCESS"):
        return stage
    raise RuntimeError(
        f"replay source unresolved: {in_dir} has no _SUCCESS, the "
        f"eviction lock never released within {_EVICT_WAIT_MAX_S}s, "
        f"and the staging copy {stage} is incomplete"
    )


#: upper bound on contending for the eviction flock before falling
#: back to the session's own staging copy. A crashed holder releases
#: instantly (kernel-held lock), so this only bounds waiting on a
#: live-but-stuck holder; eviction itself is a sub-second
#: rmtree+rename.
_EVICT_WAIT_MAX_S = 65


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
    in_dir, ckpt, copy_ready = _stream_dirs(spark, "tumbling", sf_dir, "*,ts:timestamp")
    if not copy_ready:
        in_dir = _ensure_replay(
            spark,
            in_dir,
            lambda p: t(spark, sf_dir, "events")
            .withColumn("ts", F.col("ts").cast("timestamp"))
            .repartition(4)
            .write.mode("overwrite")
            .parquet(p),
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
    in_dir, ckpt, copy_ready = _stream_dirs(
        spark, "stateful", sf_dir, "user_id:bigint,value:double"
    )
    if not copy_ready:
        in_dir = _ensure_replay(
            spark,
            in_dir,
            lambda p: t(spark, sf_dir, "events")
            .select("user_id", "value")
            .repartition(4)
            .write.mode("overwrite")
            .parquet(p),
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


_SESSION_QUERY_NAME = "mrs_streaming_session_sink"


@register(
    "streaming_session_counts",
    oracle="""
    WITH ordered AS (
      SELECT user_id, ts,
             LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      FROM events
    ), flagged AS (
      SELECT user_id, ts,
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
    tags=("streaming", "session-window", "stateful"),
)
def streaming_session_counts_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SESSION windows in true Structured Streaming: the same
    10-minute-gap sessionization as the batch twin
    ``events_session_10m``, but run incrementally over a multi-
    micro-batch file replay. Session windows are the genuinely
    stateful window kind — unlike tumbling windows, sessions MERGE
    as late rows arrive (two open sessions collapse when a bridging
    event lands), so the state store holds open per-(user, session)
    intervals that the engine rewrites across batches; complete
    output mode makes the final table equal the batch aggregation,
    which the gaps-and-islands oracle checks exactly.

    Scale shape: state is one interval row per open session behind
    a user_id shuffle; production uses append mode + watermark so
    closed sessions EMIT and EVICT instead of accumulating (that
    bounded-state variant is exercised in tests/test_streaming.py).
    """
    in_dir, ckpt, copy_ready = _stream_dirs(
        spark, "session", sf_dir, "user_id:bigint,ts:timestamp"
    )
    if not copy_ready:
        in_dir = _ensure_replay(
            spark,
            in_dir,
            lambda p: t(spark, sf_dir, "events")
            .select("user_id", F.col("ts").cast("timestamp").alias("ts"))
            .repartition(4)
            .write.mode("overwrite")
            .parquet(p),
        )
    for q in spark.streams.active:
        if q.name == _SESSION_QUERY_NAME:
            q.stop()
    stream = (
        spark.readStream.schema("user_id BIGINT, ts TIMESTAMP")
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    query = (
        stream.groupBy(F.session_window("ts", "10 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("user_id", F.col("w.start").alias("session_start"), "n_events")
        .writeStream.format("memory")
        .queryName(_SESSION_QUERY_NAME)
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return spark.table(_SESSION_QUERY_NAME).select(
        "user_id", "session_start", "n_events"
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

    in_dir, ckpt, copy_ready = _stream_dirs(spark, "ssjoin", sf_dir, "*,ts:timestamp")
    if not copy_ready:
        in_dir = _ensure_replay(
            spark,
            in_dir,
            lambda p: t(spark, sf_dir, "events")
            .withColumn("ts", F.col("ts").cast("timestamp"))
            .repartition(4)
            .write.mode("overwrite")
            .parquet(p),
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

    # proj carries "+stamped" (round 12): the replay writer's
    # SEMANTICS changed when mtime stamping landed, and the scratch
    # key must move with it — a cached pre-stamping copy over the
    # same testdata would otherwise be served forever with natural
    # (unordered) part mtimes, exactly the flaky-drop hazard the
    # stamping fixes (the twin set the precedent: its proj gained
    # "+flush2" when the flush sentinels landed)
    in_dir, ckpt, copy_ready = _stream_dirs(
        spark, "timeout", sf_dir, "user_id:bigint,ts:timestamp@range4+stamped"
    )
    if not copy_ready:

        def write_replay(p: str) -> None:
            t(spark, sf_dir, "events").select(
                "user_id", F.col("ts").cast("timestamp").alias("ts")
            ).repartitionByRange(4, "ts").write.mode("overwrite").parquet(p)
            # strictly increasing mtimes in range order, same hazard
            # the twin's replay stamps against: a higher-ts file
            # replaying first jumps the watermark ahead and silently
            # drops every earlier file's rows — which would also
            # undercount the running census the drive_contract pin
            # value-anchors to COUNT(DISTINCT user_id)
            _stamp_increasing_mtimes(p)

        in_dir = _ensure_replay(spark, in_dir, write_replay)
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
    full value-hash oracle (round-10 verdict #1 — the companion to
    the rows-only ``streaming_sessions_timeout_eviction``, whose
    per-row update log genuinely depends on micro-batch boundaries).

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

    in_dir, ckpt, copy_ready = _stream_dirs(
        spark, "evictfinal", sf_dir, "user_id:bigint,ts:timestamp@range4+flush2"
    )
    if not copy_ready:

        def write_replay(p: str) -> None:
            import datetime
            import glob
            import os
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
            ev.repartitionByRange(4, "ts").write.mode("overwrite").parquet(p)
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

        in_dir = _ensure_replay(spark, in_dir, write_replay)
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

    Scratch: arrivals/checkpoint/sink are all per-application (the
    two-phase arrival order is per-invocation state, so unlike the
    other streaming queries there is no shared replay copy to
    claim); day-old siblings are swept."""
    tag = hashlib.md5(
        f"{_source_signature(sf_dir)}|user_id:bigint,phase:int@restart".encode()
    ).hexdigest()[:12]
    base = f"{tempfile.gettempdir()}/mrs_stream_restart_{tag}"
    app = spark.sparkContext.applicationId
    arrivals, ckpt, out = f"{base}/arr_{app}", f"{base}/ckpt_{app}", f"{base}/out_{app}"
    for d in (arrivals, ckpt, out):
        shutil.rmtree(d, ignore_errors=True)
    sweep_stale_scratch(base, keep={f"arr_{app}", f"ckpt_{app}", f"out_{app}"})

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

    ev.filter(F.col("phase") == 1).write.mode("overwrite").parquet(f"{arrivals}/b1")
    run_epoch()  # epoch 1: consumes batch 1, then the "cluster restarts"
    ev.filter(F.col("phase") == 2).write.mode("overwrite").parquet(f"{arrivals}/b2")
    run_epoch()  # epoch 2: same checkpoint — must pick up ONLY batch 2

    return (
        spark.read.parquet(out)
        .groupBy("phase")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count_distinct("user_id").alias("n_users"),
        )
    )
