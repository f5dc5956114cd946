"""Custom stateful streaming operator: incremental sessionization via
applyInPandasWithState (SURVEY.md §2.C C17's streaming form).

Batch sessionization (q31) re-scans history; the streaming form keeps
one open session per user in state, emits a session row when the
30-minute inactivity gap closes it, and (event-time form) flushes
idle sessions once the watermark passes their gap. This
is the canonical "operator Spark lacks as a single primitive,
implemented as a Pandas-UDF-backed stateful map" (build-brief custom
operator path b).
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

SESSION_GAP_SECONDS = 30 * 60

OUTPUT_SCHEMA = (
    "user_id bigint, session_start timestamp, session_end timestamp, "
    "n_events bigint, closed boolean"
)
STATE_SCHEMA = "start long, last long, n long"


def _closed_rows(user_id: Any, sessions: list[tuple[int, int, int]]) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "user_id": [user_id] * len(sessions),
            "session_start": [pd.Timestamp(s, unit="us") for s, _, _ in sessions],
            "session_end": [pd.Timestamp(e, unit="us") for _, e, _ in sessions],
            "n_events": [c for _, _, c in sessions],
            "closed": [True] * len(sessions),
        }
    )


def _sessionize_group(
    key: tuple[Any, ...],
    batches: Iterator[pd.DataFrame],
    state: GroupState,
    event_time: bool = False,
) -> Iterator[pd.DataFrame]:
    """Fold this micro-batch's events for one user into the open
    session; emit every session the new events close, keep the still-
    open one in state. Timestamps are tracked as epoch-µs longs."""
    (user_id,) = key
    if state.hasTimedOut:
        if state.exists:
            session = tuple(state.get)
            state.remove()
            yield _closed_rows(user_id, [session])
        return

    ts_list: list[int] = []
    for pdf in batches:
        ts_list.extend(int(v.value // 1000) for v in pd.to_datetime(pdf["ts"]))
    ts_list.sort()

    closed: list[tuple[int, int, int]] = []
    if state.exists:
        start, last, n = state.get
    else:
        start, last, n = 0, 0, 0
    gap_us = SESSION_GAP_SECONDS * 1_000_000
    for t in ts_list:
        if n == 0:
            start = last = t
            n = 1
        elif t - last > gap_us:
            closed.append((start, last, n))
            start = last = t
            n = 1
        else:
            last = max(last, t)
            n += 1
    state.update((start, last, n))
    if event_time:
        # fire when the WATERMARK passes last-event + gap: the open
        # session closes exactly when batch semantics say it must,
        # driven by event time, immune to ingestion stalls
        state.setTimeoutTimestamp(last // 1000 + SESSION_GAP_SECONDS * 1000)

    if closed:
        yield _closed_rows(user_id, closed)


def sessionize_stream(events: DataFrame) -> DataFrame:
    """events (user_id, ts, ...) → closed-session rows, maintained
    incrementally with per-user state. Without a timeout the last open
    session per user stays in state; ``sessionize_stream_event_time``
    flushes idle sessions."""
    return (
        events.select("user_id", "ts")
        .groupBy("user_id")
        .applyInPandasWithState(
            _sessionize_group,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def sessionize_stream_event_time(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Event-time-timeout sessionization: identical session semantics,
    but idle sessions are flushed when the WATERMARK (not wall clock)
    passes last-event + gap. This is the production form for late /
    bursty ingestion: replaying 3 days of backlog closes sessions at
    the same event-time boundaries as live processing would, and state
    GC is bounded by the watermark horizon rather than wall-clock
    heuristics. Per-user state stays 3 longs regardless of volume."""
    return (
        events.select("user_id", "ts")
        .withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            lambda key, batches, state: _sessionize_group(
                key, batches, state, event_time=True
            ),
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
