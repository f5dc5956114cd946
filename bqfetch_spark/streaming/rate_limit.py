"""Streaming per-key rate limiting — the stateful spelling of qx163.

Batch qx163 caps each (user, hour) at RATE_LIMIT_N events with a
row_number window; on a live stream the per-window count must carry
across micro-batches. State per user is TWO longs — the hour currently
being counted (epoch micros of its start) and how many events of that
hour have been SEEN — so an hour rollover resets the counter without
per-window keys: state is bounded by the live-user domain, not by
stream length × windows. Idle users never expire yet (ROADMAP
direction 5).

Admission is deterministic with ts-ordered arrival per key: an event's
slot is its 1-based position within its (user, hour) by (ts, event_id)
— exactly the batch window's row_number — and it survives iff
slot ≤ RATE_LIMIT_N. Wave-slicing invariance of the kernel is
hypothesis-tested; cross-wave carry is pytest-asserted with ts-split
waves; the bounded one-file replay shares qx163's full oracle.

The state is keyed by a hash bucket of user_id
(streaming/bucket_state.py): each bucket admits ALL of its users in
one vectorized pass — an event's slot is a per-(user, hour) running
count, so there is no cross-user dependency to unroll. Bucket state
carries (users, hours, seens) parallel arrays; admission decisions are
bit-identical to the per-key reference kernel kept below
(hypothesis-tested equal).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame

from bqfetch_spark.operators.events import RATE_LIMIT_N
from bqfetch_spark.streaming import bucket_state

OUTPUT_SCHEMA = (
    "event_id bigint, user_id bigint, ts timestamp, slot bigint, window_start timestamp"
)
BUCKET_STATE_SCHEMA = "users array<bigint>, hours array<bigint>, seens array<bigint>"
_STATE_COLS = ("user_id", "hour_us", "seen")

_HOUR_US = 3_600 * 1_000_000


def rate_limit_kernel(
    state: tuple[int, int] | None, pdf: pd.DataFrame
) -> tuple[tuple[int, int] | None, pd.DataFrame]:
    """Pure admission kernel for ONE user's micro-batch (rows any
    order; sorted internally by (ts, event_id)). Returns
    ((hour_us, seen), kept_rows)."""
    pdf = pdf.sort_values(["ts", "event_id"], kind="mergesort")
    us = pdf["ts"].astype("int64") // 1_000
    hour = (us // _HOUR_US) * _HOUR_US
    # position within each hour of THIS batch
    slot = hour.groupby(hour).cumcount() + 1
    if state is not None:
        prev_hour, prev_seen = state
        slot = slot + (hour == prev_hour) * prev_seen
    keep = slot <= RATE_LIMIT_N
    kept = pdf.loc[keep].copy()
    kept["slot"] = slot[keep].astype("int64")
    kept["window_start"] = pd.to_datetime(hour[keep] * 1_000)
    if len(pdf):
        last_hour = int(hour.iloc[-1])
        seen_last = int((hour == last_hour).sum())
        if state is not None and state[0] == last_hour:
            seen_last += state[1]
        new_state = (last_hour, seen_last)
    else:
        new_state = state
    return new_state, kept


BucketState = tuple[list[int], list[int], list[int]]


def rate_limit_bucket_kernel(
    state: BucketState | None, pdf: pd.DataFrame
) -> tuple[BucketState | None, pd.DataFrame]:
    """Pure admission kernel for ONE BUCKET's micro-batch: every
    user in the bucket admitted in one vectorized pass — per user,
    rows ordered by (ts, event_id), slot = 1-based position within the
    (user, hour) run, seeded by the user's carried (hour, seen) state.
    Row-for-row identical to running ``rate_limit_kernel`` per user
    (hypothesis-tested in tests/test_properties.py).

    Returns (new_state, kept_rows); new_state carries every user the
    bucket has ever seen with their (current hour, seen count)."""
    if not len(pdf):
        return state, pdf.assign(
            slot=pd.Series(dtype="int64"),
            window_start=pd.Series(dtype="datetime64[ns]"),
        )
    ts_ns = pdf["ts"].to_numpy().astype("datetime64[ns]").astype("int64")
    uid = pdf["user_id"].to_numpy().astype(np.int64)
    order = np.lexsort((pdf["event_id"].to_numpy(), ts_ns, uid))
    u = uid[order]
    us = ts_ns[order] // 1_000
    hour = (us // _HOUR_US) * _HOUR_US
    # (user, hour) runs — hours are nondecreasing within a user after
    # the sort, so each (user, hour) value is one contiguous run and
    # position-within-run == the reference kernel's per-value cumcount
    heads = bucket_state.run_heads(u, hour)
    starts = np.flatnonzero(heads)
    run_id = np.cumsum(heads) - 1
    # the reference kernel adds prev_seen to every row whose hour ==
    # the user's carried hour — per run, a constant carry
    old = bucket_state.state_frame(state, _STATE_COLS)
    runs = pd.DataFrame({"user_id": u[starts], "hour_us": hour[starts]})
    carry = bucket_state.lookup(old, runs, "seen", 0)
    slot = np.arange(len(u), dtype=np.int64) - starts[run_id] + 1 + carry[run_id]
    keep = slot <= RATE_LIMIT_N
    kept = pdf.iloc[order[keep]].copy()
    kept["slot"] = slot[keep]
    kept["window_start"] = pd.to_datetime(hour[keep] * 1_000)
    # each batch user's state: the hour of their LAST row and its slot
    # (= that hour's seen count, carry included)
    last = np.append(np.flatnonzero(bucket_state.run_heads(u))[1:], len(u)) - 1
    new = pd.DataFrame({"user_id": u[last], "hour_us": hour[last], "seen": slot[last]})
    return bucket_state.carry_forward(new, old, _STATE_COLS[:1]), kept


def rate_limit_stream(events_stream: DataFrame) -> DataFrame:
    """Wire the rate limiter onto a streaming events frame."""
    return bucket_state.bucketed_stream(
        events_stream.select("event_id", "user_id", "ts"),
        ["user_id"],
        rate_limit_bucket_kernel,
        OUTPUT_SCHEMA,
        BUCKET_STATE_SCHEMA,
    )
