"""Bucketed GroupState harness for the per-key admission operators
(debounce, qx164; rate limit, qx166).

Both operators carry a small per-key state across micro-batches. Keying
``applyInPandasWithState`` by the raw key invokes the Python kernel once
per live key per micro-batch, and that per-invocation fixed cost (pandas
group slice, Arrow framing, state round-trip) dominated the query wall.
So the GroupState key is a hash bucket, ``pmod(xxhash64(keys),
BUCKETS)``, and each bucket's kernel admits all of its keys in one
vectorized pass. The bucket state holds the per-key states as parallel
arrays: the same total state, grouped, and a mergeable keyed summary
(this batch's keys replace theirs, unseen keys carry over).

``BUCKETS`` is fixed into the plan and into the checkpointed state: a
restarted query must hash every key to the bucket that holds its state,
so the count is a constant, not derived from a session setting. Idle-key
expiry is not implemented (ROADMAP direction 5).
"""

from __future__ import annotations

from typing import Callable, Iterator, Sequence

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

BUCKETS = 64

# (old bucket state or None, one bucket's micro-batch) -> (new state, kept rows)
Kernel = Callable[[tuple | None, pd.DataFrame], tuple[tuple | None, pd.DataFrame]]


def bucketed_stream(
    frame: DataFrame,
    keys: Sequence[str],
    kernel: Kernel,
    output_schema: str,
    state_schema: str,
) -> DataFrame:
    """Run ``kernel`` once per hash bucket of ``keys`` per micro-batch,
    with the bucket's state carried in GroupState (no timeout)."""
    out_cols = [f.split()[0] for f in output_schema.split(",")]

    def group(key, batches: Iterator[pd.DataFrame], state: GroupState):
        old = tuple(state.get) if state.exists else None
        new, kept = kernel(old, pd.concat(list(batches), ignore_index=True))
        if new is not None:
            state.update(new)
        if len(kept):
            yield kept[out_cols]

    return (
        frame.withColumn("bucket", F.pmod(F.xxhash64(*keys), F.lit(BUCKETS)).cast("int"))
        .groupBy("bucket")
        .applyInPandasWithState(
            group,
            outputStructType=output_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def run_heads(*cols: np.ndarray) -> np.ndarray:
    """True where a run of equal consecutive key tuples starts in the
    sorted parallel arrays ``cols``."""
    heads = np.zeros(len(cols[0]), dtype=bool)
    heads[:1] = True
    for c in cols:
        heads[1:] |= c[1:] != c[:-1]
    return heads


def state_frame(state: tuple | None, cols: Sequence[str]) -> pd.DataFrame | None:
    """The parallel-array bucket state as a keyed frame; None when the
    bucket holds no keys yet."""
    if state is None or not len(state[0]):
        return None
    return pd.DataFrame(dict(zip(cols, state)))


def lookup(old: pd.DataFrame | None, runs: pd.DataFrame, value: str, missing: int) -> np.ndarray:
    """The carried ``value`` for each of this batch's key runs (``runs``
    holds their key columns), ``missing`` where the state has no match."""
    if old is None:
        return np.full(len(runs), missing, dtype=np.int64)
    hit = runs.merge(old, on=list(runs.columns), how="left")[value]
    return hit.fillna(missing).to_numpy().astype(np.int64)


def carry_forward(new: pd.DataFrame, old: pd.DataFrame | None, keys: Sequence[str]) -> tuple:
    """New bucket state: this batch's keys plus the old keys it did not
    see, back as parallel arrays."""
    if old is not None:
        new = pd.concat([new, old], ignore_index=True).drop_duplicates(subset=list(keys))
    return tuple(new[c].tolist() for c in new.columns)
