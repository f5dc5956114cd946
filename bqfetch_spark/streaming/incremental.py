"""Continuous-ingest dedup against a persisted fingerprint store —
the streaming leg of the dedup family (batch: q40; incremental batch:
q66; in-flight replay dedup: q70).

Topology (the 100 TB nightly-crawl shape):
- The STORE is a parquet table of 8-byte xxhash64(text) fingerprints —
  the only artifact that persists between ingest waves. History is
  never rescanned; the store is what a Delta/Hudi table would be in
  production.
- Each micro-batch of incoming documents (foreachBatch) is
  (a) deduped within itself (dedup_exact — hash-keyed shuffle),
  (b) anti-joined against the store on (fp, text-length-agnostic fp
      probe; collisions are impossible to *admit* because a colliding
      new doc is simply dropped — conservative for a training-data
      pipeline),
  (c) survivors are appended to the sink AND their fingerprints to
      the store, so later batches (or tomorrow's run) see them.
- State is therefore EXTERNAL and append-only: the streaming query
  itself carries no unbounded state store, and a restart resumes from
  the checkpoint + the parquet store.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bqfetch_spark.streaming.waves import (
    BACKFILL_BATCH_ID,
    MANUAL_BATCH_ID,
    drain,
    write_wave,
)


def build_fingerprint_store(corpus: DataFrame, store_dir: str) -> None:
    """Materialize the corpus fingerprint store (one-time backfill).
    Rows carry the batch_id that wrote them (backfill = -1) so a
    RETRIED ingest wave can exclude its own partial append — the
    foreachBatch idempotence contract (see incremental_dedup_batch)."""
    (
        corpus.select(F.xxhash64("text").alias("fp"))
        .distinct()
        .withColumn("batch_id", F.lit(BACKFILL_BATCH_ID).cast("bigint"))
        .write.mode("overwrite")
        .parquet(store_dir)
    )


def incremental_dedup_batch(
    spark: SparkSession, batch: DataFrame, store_dir: str, batch_id: int | None = None
) -> DataFrame:
    """One ingest wave: dedup within the batch, drop anything whose
    fingerprint is already in the store, append the survivors'
    fingerprints (tagged with ``batch_id``). Returns the survivors.

    Idempotent under foreachBatch RETRY (round-6 fix): Spark re-runs a
    micro-batch whose side effects half-completed, and the original
    spelling then saw the wave's OWN fingerprints in the store and
    dropped every document — a measured 100→0 survivor loss. The
    anti-join therefore EXCLUDES rows this batch_id wrote: a retry
    recomputes the same survivor set, and its duplicate fp append is
    harmless (the store is a membership set; dups cost bytes, not
    correctness, and compaction dedups them)."""
    from bqfetch_spark.operators.llm_pipeline import dedup_exact
    from bqfetch_spark.session import shuffle_partitions

    # the manual sentinel differs from the backfill tag and from every
    # foreachBatch id, so a manual wave over a streamed store never
    # treats the stream's batch-0 fingerprints as its own retry
    # leftovers. Callers issuing MULTIPLE manual waves against one store
    # must pass distinct explicit ids — two waves sharing the sentinel
    # would each exclude the other's fingerprints from the dup probe.
    if batch_id is None:
        batch_id = MANUAL_BATCH_ID
    store = spark.read.parquet(store_dir).filter(F.col("batch_id") != batch_id)
    fresh = (
        dedup_exact(batch, shuffle_partitions(spark))
        .withColumn("fp", F.xxhash64("text"))
        .join(store.select("fp"), "fp", "left_anti")
    )
    # two actions over `fresh` (store append + return) — materialize once
    fresh = fresh.localCheckpoint(eager=True)
    (
        fresh.select("fp")
        .withColumn("batch_id", F.lit(batch_id).cast("bigint"))
        .write.mode("append")
        .parquet(store_dir)
    )
    return fresh.drop("fp")


def run_incremental_dedup(
    spark: SparkSession, sf_dir: str, work_dir: str
) -> DataFrame:
    """Bounded streaming run of the incremental dedup: documents with
    doc_id % 10 >= 8 arrive as a stream (the q66 incoming-batch split);
    the store starts as the fingerprints of the rest of the corpus.
    Returns the accumulated survivors — semantically identical to
    q66's one-shot batch anti-join (pytest-asserted)."""
    from bqfetch_spark.catalog import load_catalog
    from bqfetch_spark.streaming.windows import streaming_documents

    store_dir = os.path.join(work_dir, "fp_store")
    sink_dir = os.path.join(work_dir, "sink")

    docs = load_catalog(spark, sf_dir).table("documents")
    build_fingerprint_store(docs.filter(F.col("doc_id") % 10 < 8), store_dir)

    def _ingest(batch: DataFrame, batch_id: int) -> None:
        out = incremental_dedup_batch(spark, batch, store_dir, batch_id=batch_id)
        # the sink is partitioned by batch id, so a retried wave replaces
        # its own partial output: exactly-once sink rows even though
        # foreachBatch side effects are at-least-once
        sink = out.select("doc_id", "lang", "source", "n_chars")
        write_wave(sink, sink_dir, batch_id)

    # the drain claims the store after the backfill (mode=overwrite wipes
    # the dir), so a later FRESH-checkpoint query can't restart at batch
    # 0 over it (streaming/ownership.py)
    drain(
        streaming_documents(spark, sf_dir).filter(F.col("doc_id") % 10 >= 8),
        _ingest,
        os.path.join(work_dir, "ckpt"),
        store_dir,
    )
    return spark.read.parquet(sink_dir).drop("ingest_batch")
