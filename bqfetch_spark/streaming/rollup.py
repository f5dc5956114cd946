"""Incrementally-maintained rollup: the streaming materialized-view
pattern for the engine's time-window aggregates (batch: q30/q85).

A nightly/continuous pipeline doesn't recompute its hourly metrics
table from 100 TB of history — it UPSERTS the buckets each ingest wave
touches. Topology (same external-state stance as incremental.py's
dedup store):

- The STORE is an APPEND-ONLY parquet table of per-(hour,
  event_type) PARTIALS — count + exact DECIMAL sum — partitioned
  (day, ingest_batch); rows stay hour-grain. It is the only artifact
  that persists between waves; what a Delta/Hudi table would be in
  production. Day grain (round-5 change, was ``hr=``) keeps a month
  of history at ~30 top-level directories, and hourly partials are so
  small that finer directories are a small-files antipattern at
  100 TB.
- Each micro-batch (foreachBatch) aggregates ITS OWN rows to partials
  (map-side combine over at most one wave of data) and lands them as
  a dynamic overwrite of its own (day, ingest_batch) partitions —
  round-6 redesign: the store is NEVER READ on the write path, so
  per-wave cost is strictly O(wave), and a retried micro-batch
  replaces its half-written output instead of double-merging it (the
  old read-merge-rewrite spelling double-counted on retry).
- Reads aggregate the partials per bucket (``read_rollup``) — exact
  because partials are ADDITIVE (counts add, DECIMAL sums add); the
  final render rounds the decimal to a double, bit-identical to a
  one-shot batch rollup regardless of how ingest was sliced.
  ``compact_rollup`` folds accumulated partials offline.
- NULL-ts events land in a NULL bucket under Spark's
  ``day=__HIVE_DEFAULT_PARTITION__`` directory and aggregate
  naturally on read (no directory probe — round-4's NULL-bucket bug
  class is structurally gone).

The streaming query itself holds no state (foreachBatch + external
store), so a restart resumes from the checkpoint + the store.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bqfetch_spark.streaming.waves import BACKFILL_BATCH_ID, drain, write_wave

DEC_SUM = "decimal(18,6)"  # per-row cast before summing
# The STORED sum type is pinned wider and identical in EVERY write
# path: Spark widens sum(decimal(18,6)) to decimal(28,6), so letting
# the first-write path store the widened type while the merge path
# re-cast produced mixed decimal widths across partitions of one store
# — unreadable as a whole (physical FIXED_LEN_BYTE_ARRAY width varies
# with precision). (38,6) is also the overflow-safe choice for a
# 100 TB store.
STORE_SUM = "decimal(38,6)"

def _partials(batch: DataFrame) -> DataFrame:
    """Additive per-(hour, event_type) partial aggregates of one wave."""
    return batch.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("bucket_start"),
        "event_type",
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast(DEC_SUM)).cast(STORE_SUM).alias("sum_value"),
    )


def upsert_rollup(
    spark: SparkSession,
    batch: DataFrame,
    store_dir: str,
    batch_id: int | None = None,
) -> None:
    """Land one wave's partials in the store.

    Round-6 redesign (foreachBatch-retry idempotence): the old spelling
    READ the touched day partitions, merged the wave in, and REWROTE
    them — so a retried micro-batch (Spark re-runs any wave whose side
    effects half-completed) merged the same partials twice and silently
    double-counted. The store is now APPEND-ONLY PARTIALS, partitioned
    (day, ingest_batch):

    - with a ``batch_id`` (the foreachBatch id), the wave lands as a
      DYNAMIC overwrite of its own (day, ingest_batch) partitions — a
      retry replaces its half-written output, never adds to it;
    - without one (manual backfills), it is a plain append under
      ingest_batch=-1;
    - readers aggregate partials per bucket (``read_rollup``) — exact,
      because partials are ADDITIVE (counts add, DECIMAL sums add);
    - per-wave cost is now strictly O(wave): the store is never read
      on the write path at all (the old merge was O(wave + touched
      days) and needed the NULL-day directory probe; both gone);
    - ``compact_rollup`` folds accumulated partials back to one row
      per bucket when file counts warrant it (offline, q39's stance).

    NULL-ts events land under day=__HIVE_DEFAULT_PARTITION__ like any
    other partition value and aggregate naturally on read."""
    partials = _partials(batch).withColumn(
        "day", F.date_format("bucket_start", "yyyyMMdd").cast("long")
    )
    # one file per touched (day, batch): partition writes fan across
    # tasks for wide backfills, steady-state waves touch 1-2 days
    write_wave(
        partials.repartition(F.col("day")),
        store_dir,
        batch_id,
        cols=("day",),
        untagged=BACKFILL_BATCH_ID,
    )


def read_rollup(spark: SparkSession, store_dir: str) -> DataFrame:
    """The merged rollup view: aggregate the store's additive partials
    to one row per (bucket_start, event_type). Day-partition pruning
    still applies to filtered reads (day is the leading partition
    level); the per-bucket partial count is bounded by waves-per-day
    between compactions."""
    return (
        spark.read.parquet(store_dir)
        .groupBy("bucket_start", "event_type")
        .agg(
            F.sum("n_events").cast("bigint").alias("n_events"),
            F.sum("sum_value").cast(STORE_SUM).alias("sum_value"),
        )
    )


def compact_rollup(spark: SparkSession, store_dir: str, force: bool = False) -> None:
    """Offline compaction: fold all partials to one row per bucket
    under ingest_batch=-1 (full static overwrite — run it from the
    maintenance window, like q39's small-file compactor; the streaming
    upserts themselves never need it for correctness).

    Refuses a store still claimed by a checkpoint lineage (same
    contract as streaming/maintenance.py): after the fold, a retried
    in-flight wave's dynamic overwrite of its (day, batch) partitions
    would ADD its partials next to the folded row that already
    contains them — a silent double count. The full static overwrite
    removes the claim marker either way, so the next lineage claims
    fresh."""
    from bqfetch_spark.streaming.maintenance import _check_claim

    _check_claim(store_dir, force)
    folded = (
        read_rollup(spark, store_dir)
        .withColumn("day", F.date_format("bucket_start", "yyyyMMdd").cast("long"))
        .withColumn("ingest_batch", F.lit(BACKFILL_BATCH_ID).cast("bigint"))
        .localCheckpoint(eager=True)  # the write replaces what it reads
    )
    (
        folded.repartition(F.col("day"))
        .write.mode("overwrite")
        .partitionBy("day", "ingest_batch")
        .parquet(store_dir)
    )


def run_rollup_maintenance(spark: SparkSession, sf_dir: str, work_dir: str) -> DataFrame:
    """Bounded streaming run: the events table replays as a stream
    whose waves upsert the hourly store. Returns the maintained store
    rendered exactly like a one-shot batch rollup (rounded-double
    sums), which is what the q98 oracle checks."""
    from bqfetch_spark.streaming.windows import streaming_events

    store_dir = os.path.join(work_dir, "rollup_store")
    # batch ids are only unique within one checkpoint lineage: the drain
    # claims the store for this checkpoint so a later FRESH-checkpoint
    # query can't restart at batch 0 and dynamic-overwrite these partials
    drain(
        streaming_events(spark, sf_dir),
        lambda batch, bid: upsert_rollup(spark, batch, store_dir, bid),
        os.path.join(work_dir, "ckpt"),
        store_dir,
    )
    return read_rollup(spark, store_dir).select(
        "bucket_start",
        "event_type",
        "n_events",
        F.round(F.col("sum_value").cast("double"), 6).alias("total_value"),
    )
