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


# ---------------------------------------------------------------------------
# Bloom-sidecar fast path: probe traffic cut for the nightly wave
# ---------------------------------------------------------------------------


def _bloom_dir(store_dir: str) -> str:
    return store_dir.rstrip("/") + "_bloom"


def _read_bloom(spark: SparkSession, bloom_dir: str) -> DataFrame:
    # explicit schema: an absent/empty sidecar reads as an empty frame,
    # which bloom_maybe_contains treats as all-negative — safe, because
    # a store that predates the sidecar would then skip the prefilter
    # only for genuinely-new fps... which is wrong for dups. So callers
    # must backfill the sidecar when enabling the fast path (see
    # build_fingerprint_store_with_bloom); an empty bloom + non-empty
    # store is rejected in incremental_dedup_batch_bloom.
    return spark.read.schema("word_idx bigint, bits bigint").parquet(bloom_dir)


def build_fingerprint_store_with_bloom(
    corpus: DataFrame, store_dir: str
) -> None:
    """Backfill the fp store AND its Bloom sidecar (m/64 packed-long
    rows, operators/llm_pipeline.build_bloom)."""
    from bqfetch_spark.operators.llm_pipeline import build_bloom

    build_fingerprint_store(corpus, store_dir)
    spark = corpus.sparkSession
    fps = spark.read.parquet(store_dir).select("fp")
    build_bloom(fps).write.mode("overwrite").parquet(_bloom_dir(store_dir))


def incremental_dedup_batch_bloom(
    spark: SparkSession, batch: DataFrame, store_dir: str, batch_id: int | None = None
) -> DataFrame:
    """incremental_dedup_batch with a persisted Bloom sidecar in front
    of the store probe: wave fps whose k filter bits are not all set
    are DEFINITELY absent from the store and skip the anti-join; only
    bloom-positives (true dups + fpp) probe the store. The sidecar is
    maintained incrementally — the survivors' bits are OR-merged into
    the m/64-row frame, so neither the store nor its history is ever
    rescanned to keep the filter current.

    Crash/retry safety comes from MONOTONICITY, not batch tagging: bits
    are only ever added, and re-ORing a retried wave's bits is a no-op.
    A wave that crashed after the sidecar write but before the store
    append leaves the filter over-set — those fps test bloom-positive,
    fall through to the exact anti-join against a store that does NOT
    have them, and survive correctly. False positives cost one probe;
    false negatives cannot happen."""
    from bqfetch_spark.operators.llm_pipeline import (
        bloom_maybe_contains,
        build_bloom,
        dedup_exact,
    )
    from bqfetch_spark.session import shuffle_partitions

    if batch_id is None:
        batch_id = MANUAL_BATCH_ID
    bloom_dir = _bloom_dir(store_dir)
    bloom = _read_bloom(spark, bloom_dir)
    store = spark.read.parquet(store_dir).filter(F.col("batch_id") != batch_id)
    if bloom.isEmpty() and not store.isEmpty():
        raise ValueError(
            "Bloom sidecar is empty but the fp store is not — backfill with "
            "build_fingerprint_store_with_bloom before using the bloom path"
        )

    wave = dedup_exact(batch, shuffle_partitions(spark)).withColumn(
        "fp", F.xxhash64("text")
    )
    flagged = bloom_maybe_contains(wave, bloom)
    definitely_new = flagged.filter(~F.col("bloom_maybe")).drop("bloom_maybe")
    maybe_new = (
        flagged.filter(F.col("bloom_maybe"))
        .drop("bloom_maybe")
        .join(store.select("fp"), "fp", "left_anti")
    )
    fresh = definitely_new.unionByName(maybe_new).localCheckpoint(eager=True)

    (
        fresh.select("fp")
        .withColumn("batch_id", F.lit(batch_id).cast("bigint"))
        .write.mode("append")
        .parquet(store_dir)
    )
    # OR-merge the survivors' bits into the sidecar: union the old
    # m/64 frame with the wave's bit rows and re-aggregate. Materialize
    # before overwriting the directory being read.
    merged = (
        bloom.unionByName(build_bloom(fresh.select("fp")))
        .groupBy("word_idx")
        .agg(F.bit_or("bits").alias("bits"))
        .localCheckpoint(eager=True)
    )
    merged.write.mode("overwrite").parquet(bloom_dir)
    return fresh.drop("fp")
