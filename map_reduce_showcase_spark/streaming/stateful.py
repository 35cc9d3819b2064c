"""Custom stateful streaming operators via ``applyInPandasWithState``.

When built-in windowed aggregation can't express the semantics
(custom eviction, cross-event logic, ML feature state), Spark's
escape hatch is arbitrary per-key state + Arrow-batched Python:
``groupBy(key).applyInPandasWithState(...)``. The reference has no
stateful anything (SURVEY.md §2.4); this is the Spark-native way to
write the "custom stateful operator" a 100 TB event pipeline
eventually needs.

Scale notes: state lives in the state store partitioned by key (one
shuffle); each micro-batch ships only that batch's rows per key into
Python as Arrow batches. State must stay O(1) per key — running
aggregates here, never raw event history. Use timeouts
(``GroupStateTimeout``) to expire idle keys or state grows with key
cardinality forever.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

EXACT_OUTPUT_SCHEMA = "user_id BIGINT, n_events BIGINT, total_cents BIGINT"
EXACT_STATE_SCHEMA = "n BIGINT, cents BIGINT"


def streaming_user_totals_exact(events: DataFrame) -> DataFrame:
    """Running per-user (event count, value sum in integer cents)
    maintained as explicit state across micro-batches; emits the
    updated running totals for each user seen in the batch.

    Accumulating ``floor(value*100)`` as int64 instead of raw
    doubles makes the running total ASSOCIATIVE and exact, so the
    final state is bit-identical no matter how the stream is split
    into micro-batches — which is what lets a batch SQL oracle
    certify a stateful streaming query (same trick as the decimal
    sums in ``plans/registry.py``). floor(double) is IEEE-identical
    across engines; a production pipeline would carry decimals
    end-to-end instead."""
    import numpy as np

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        n, cents = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            cents += int(np.floor(pdf["value"].to_numpy() * 100.0).sum())
        state.update((n, cents))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_cents": [cents]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=EXACT_OUTPUT_SCHEMA,
        stateStructType=EXACT_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


SESSION_OUTPUT_SCHEMA = "user_id BIGINT, n_events BIGINT, is_final BOOLEAN"
SESSION_STATE_SCHEMA = "n BIGINT, last_ts_ms BIGINT"


def streaming_user_sessions_with_timeout(
    events: DataFrame, gap: str = "30 minutes", gap_ms: int = 30 * 60 * 1000
) -> DataFrame:
    """Per-user activity sessions with WATERMARK-DRIVEN state
    eviction (``GroupStateTimeout.EventTimeTimeout``): each user's
    state accumulates an event count and arms a timeout at
    last-event-time + gap; when the watermark passes it, the state
    EXPIRES — the operator emits one final ``is_final=true`` row
    and removes the state. This is the missing half of the
    NoTimeout operators above, and the property that makes custom
    state viable at 100 TB: state size tracks ACTIVE keys, not
    all-time key cardinality (an unbounded-state stream over a
    year of users otherwise holds every user_id ever seen).

    Event-time (not processing-time) timeouts make eviction
    deterministic and replayable: expiry depends only on the data's
    own timestamps and the watermark, never on wall-clock races —
    which is also what makes it TESTABLE (the batch sequence fully
    determines which keys expire)."""

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            n, _last = state.get
            state.remove()
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "is_final": [True]}
            )
            return
        n, last_ms = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            batch_max_ms = int(pdf["ts"].max().value // 1_000_000)
            last_ms = max(last_ms, batch_max_ms)
        state.update((n, last_ms))
        # clamp to the watermark: a micro-batch can deliver a key
        # whose newest event is already ≥ gap behind the watermark
        # (file replays and any out-of-order source do this), and
        # Spark rejects a timeout armed in the past. Such a session
        # is already expirable — arm it just past the watermark so
        # it fires at the next batch instead of crashing the query.
        wm_ms = state.getCurrentWatermarkMs()
        state.setTimeoutTimestamp(max(last_ms + gap_ms, wm_ms + 1))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "is_final": [False]}
        )

    return (
        events.withWatermark("ts", gap)
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=SESSION_OUTPUT_SCHEMA,
            stateStructType=SESSION_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
