"""The wave store: one harness for the incremental streaming stores.

Every incremental store under ``streaming/`` — ``drift``, ``pca_stats``,
``decontam``, ``spanmask``, ``vocab``, ``packing``, ``ann_index``,
``rollup``, and the sinks of ``incremental`` (dedup) and ``neardup`` —
is a set of mergeable per-wave summaries: each ingest wave lands under
its own ``ingest_batch`` partition, and readers merge the partitions
(sum, min, union). The streaming query holds no state; the store does.
This module owns that loop once:

- Tags. Backfill waves land under ``BACKFILL_BATCH_ID`` (-1), manual
  calls without a foreachBatch id under ``MANUAL_BATCH_ID`` (-2), and
  streamed waves under their foreachBatch id (>= 0), so the three never
  collide.
- The wave split. ``wave_of(col)`` is ``pmod(col, 5)``: waves 0-2 (60%)
  are the backfill, waves 3 and 4 are streamed.
- One partitioned writer, ``write_wave``. With a foreachBatch id the
  write is a dynamic overwrite of the wave's own partitions, so a
  retried micro-batch replaces its half-written output instead of
  adding to it. A write with no id is appended.
- One replay, ``replay_waves``, in two modes. *Folded* feeds every
  pending wave file to ONE AvailableNow micro-batch: each extra
  micro-batch pays a fixed scheduler + checkpoint-commit fee that
  dwarfs an O(wave) partial at fixture scale, and a store whose merge
  does not depend on how waves are sliced gives the same result either
  way. *Ordered* gives each wave its own micro-batch, in wave order, for
  stores whose wave k depends on waves < k: wave files get pinned
  ascending mtimes, Spark's file source lists files oldest-mtime first,
  and ``maxFilesPerTrigger=1`` takes one file per batch. Structured
  Streaming retries a failed batch N before N+1 starts, so a wave
  always sees exactly the waves before it.
- One drain, ``drain``: claim the store for the checkpoint lineage
  (streaming/ownership.py: batch ids are unique only within one
  lineage), then foreachBatch under AvailableNow, start, and wait.

Production tunes the trigger to its latency target; the bounded runs
here replay a fixed corpus split.
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from bqfetch_spark.streaming.ownership import claim_store, owner_key_for_checkpoint

BACKFILL_BATCH_ID = -1
MANUAL_BATCH_ID = -2
BATCH_COL = "ingest_batch"

# the first replayed wave file's pinned mtime; later waves step by a minute
_MTIME_BASE = 1_000_000_000

Ingest = Callable[[DataFrame, int], None]


def wave_of(col: str) -> Column:
    """Deterministic ingest split: waves 0-2 are the backfill, 3 and 4
    stream. A function, not a module-level Column, because building a
    Column needs an active SparkContext."""
    return F.pmod(F.col(col), F.lit(5))


def write_wave(
    frame: DataFrame,
    path: str,
    batch_id: int | None = None,
    cols: tuple[str, ...] = (),
    untagged: int = MANUAL_BATCH_ID,
) -> None:
    """Stamp ``ingest_batch`` and write ``frame`` partitioned by
    ``(*cols, ingest_batch)``. A foreachBatch ``batch_id`` makes the
    write a dynamic overwrite of its own partitions (retry-idempotent);
    ``batch_id=None`` appends under the ``untagged`` tag."""
    tag = untagged if batch_id is None else int(batch_id)
    writer = (
        frame.withColumn(BATCH_COL, F.lit(tag).cast("bigint"))
        .write.partitionBy(*cols, BATCH_COL)
    )
    if batch_id is None:
        writer.mode("append").parquet(path)
    else:
        (
            writer.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .parquet(path)
        )


def drain(
    stream: DataFrame, ingest: Ingest, ckpt_dir: str, store_dir: str | None = None
) -> StreamingQuery:
    """Claim ``store_dir`` for this checkpoint lineage (when given),
    then run ``ingest`` over every pending micro-batch of ``stream``
    and wait for the bounded run to finish."""
    if store_dir is not None:
        claim_store(store_dir, owner_key_for_checkpoint(ckpt_dir))
    query = (
        stream.writeStream.foreachBatch(ingest)
        .option("checkpointLocation", ckpt_dir)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return query


def replay_waves(
    spark: SparkSession,
    waves: list[DataFrame],
    work_dir: str,
    ingest: Ingest,
    *,
    ordered: bool,
    store_dir: str | None = None,
) -> StreamingQuery:
    """Land each wave as one file under ``work_dir/incoming`` and drain
    them through ``ingest`` (checkpoint ``work_dir/ckpt``): folded into
    one micro-batch, or ``ordered`` as one micro-batch per wave in list
    order."""
    incoming = os.path.join(work_dir, "incoming")
    for i, wave in enumerate(waves):
        path = os.path.join(incoming, f"wave_{i}")
        wave.coalesce(1).write.mode("overwrite").parquet(path)
        if ordered:
            stamp = _MTIME_BASE + 60 * i
            for name in os.listdir(path):
                os.utime(os.path.join(path, name), (stamp, stamp))
            os.utime(path, (stamp, stamp))
    reader = spark.readStream.schema(
        spark.read.parquet(os.path.join(incoming, "wave_0")).schema
    )
    if ordered:
        reader = reader.option("maxFilesPerTrigger", "1")
    return drain(
        reader.parquet(os.path.join(incoming, "wave_*")),
        ingest,
        os.path.join(work_dir, "ckpt"),
        store_dir,
    )


def backfill_and_replay(
    spark: SparkSession,
    frame: DataFrame,
    key: str,
    work_dir: str,
    store_dir: str,
    ingest: Ingest,
    *,
    ordered: bool,
) -> StreamingQuery:
    """The family run: waves 0-2 of ``frame`` (split on ``key``) land
    through ``ingest`` under ``BACKFILL_BATCH_ID``, then waves 3 and 4
    replay into the claimed store."""
    ingest(frame.filter(wave_of(key) <= 2), BACKFILL_BATCH_ID)
    return replay_waves(
        spark,
        [frame.filter(wave_of(key) == w) for w in (3, 4)],
        work_dir,
        ingest,
        ordered=ordered,
        store_dir=store_dir,
    )
