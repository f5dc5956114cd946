"""Streaming event debounce — the stateful spelling of qx162.

Batch qx162 judges each event against its predecessor with a lag
window; on a live stream the "predecessor" must be carried across
micro-batches, so the operator keeps a last-SEEN-timestamp state per
(user_id, event_type). lag-gap semantics exactly as the batch op: an
event survives iff it is the key's first ever or arrived more than
DEBOUNCE_SECONDS after the previous SEEN (not previous kept) event.

The state is keyed by a hash bucket of (user_id, event_type)
(streaming/bucket_state.py): each bucket admits ALL of its keys in one
numpy pass. Admission is a pure lag against the previous SEEN event,
so there is no sequential dependency to unroll. The bucket state holds
(users, etypes, lasts) parallel arrays — one long + one key per live
key; admission decisions are bit-identical to the per-key reference
kernel kept below (hypothesis-tested equal). Idle keys never expire
yet (ROADMAP direction 5).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame

from bqfetch_spark.operators.events import DEBOUNCE_SECONDS
from bqfetch_spark.streaming import bucket_state

OUTPUT_SCHEMA = "event_id bigint, user_id bigint, event_type string, ts timestamp, gap_s bigint"
BUCKET_STATE_SCHEMA = (
    "users array<bigint>, etypes array<string>, lasts array<bigint>"
)
_STATE_COLS = ("user_id", "event_type", "last_us")

_GAP_US = DEBOUNCE_SECONDS * 1_000_000


def debounce_kernel(last_us: int | None, pdf: pd.DataFrame) -> tuple[int | None, pd.DataFrame]:
    """Pure admission kernel for ONE key's micro-batch: rows ordered by
    (ts, event_id), gap judged against the previous SEEN event (state
    seeds the first gap). Returns (new_state, kept_rows). The
    SINGLE-KEY REFERENCE the bucketed kernel below is hypothesis-tested
    against; kept so the admission semantics stay pinned by a kernel
    hypothesis can drive without a SparkSession."""
    if not len(pdf):
        # zero-row group (reachable via timeout/TTL invocations, not
        # the NoTimeout wiring): state and emptiness pass through
        return last_us, pdf.assign(gap_s=pd.Series(dtype="int64"))
    # µs gaps against the previous SEEN event, state seeds the first
    # gap, first-ever rows keep with gap_s = -1.
    ts_ns = pdf["ts"].to_numpy().astype("datetime64[ns]").astype("int64")
    order = np.lexsort((pdf["event_id"].to_numpy(), ts_ns))
    us = ts_ns[order] // 1_000
    prev = np.empty_like(us)
    prev[1:] = us[:-1]
    first_ever = last_us is None
    prev[0] = 0 if first_ever else last_us
    gap = us - prev
    keep = gap > _GAP_US
    if first_ever:
        keep[0] = True
    gap_s = gap // 1_000_000
    if first_ever:
        gap_s[0] = -1
    kept = pdf.iloc[order[keep]].copy()
    kept["gap_s"] = gap_s[keep]
    return int(us[-1]), kept


BucketState = tuple[list[int], list[str], list[int]]


def debounce_bucket_kernel(
    state: BucketState | None, pdf: pd.DataFrame
) -> tuple[BucketState | None, pd.DataFrame]:
    """Pure admission kernel for ONE BUCKET's micro-batch: every
    (user_id, event_type) key in the bucket admitted in one vectorized
    pass — per key, rows ordered by (ts, event_id) and gap judged
    against the previous SEEN event; the state arrays seed each key's
    first gap. Row-for-row identical to running ``debounce_kernel``
    per key (hypothesis-tested in tests/test_properties.py).

    Returns (new_state, kept_rows); new_state carries every key the
    bucket has ever seen with its last SEEN µs timestamp."""
    if not len(pdf):
        return state, pdf.assign(gap_s=pd.Series(dtype="int64"))
    ts_ns = pdf["ts"].to_numpy().astype("datetime64[ns]").astype("int64")
    uid = pdf["user_id"].to_numpy().astype(np.int64)
    et_codes, et_uniques = pd.factorize(pdf["event_type"], sort=False)
    order = np.lexsort((pdf["event_id"].to_numpy(), ts_ns, et_codes, uid))
    u = uid[order]
    e = et_codes[order]
    us = ts_ns[order] // 1_000
    starts = np.flatnonzero(bucket_state.run_heads(u, e))
    ends = np.append(starts[1:], len(us)) - 1
    runs = pd.DataFrame(
        {"user_id": u[starts],
         "event_type": np.asarray(et_uniques, dtype=object)[e[starts]]}
    )
    old = bucket_state.state_frame(state, _STATE_COLS)
    # each key-run's first gap is seeded from the bucket state (-1 =
    # first ever, mirroring debounce_kernel's last_us=None branch)
    seed = bucket_state.lookup(old, runs, "last_us", -1)
    prev = np.empty_like(us)
    prev[1:] = us[:-1]
    prev[starts] = np.where(seed < 0, 0, seed)
    first_ever = np.zeros(len(us), dtype=bool)
    first_ever[starts] = seed < 0
    gap = us - prev
    keep = (gap > _GAP_US) | first_ever
    gap_s = gap // 1_000_000
    gap_s[first_ever] = -1
    kept = pdf.iloc[order[keep]].copy()
    kept["gap_s"] = gap_s[keep]
    # each batch key's state is its run end (its last SEEN µs)
    new = runs.assign(last_us=us[ends])
    return bucket_state.carry_forward(new, old, _STATE_COLS[:2]), kept


def debounce_stream(events_stream: DataFrame) -> DataFrame:
    """Wire the debounce operator onto a streaming events frame."""
    return bucket_state.bucketed_stream(
        events_stream.select("event_id", "user_id", "event_type", "ts"),
        ["user_id", "event_type"],
        debounce_bucket_kernel,
        OUTPUT_SCHEMA,
        BUCKET_STATE_SCHEMA,
    )
