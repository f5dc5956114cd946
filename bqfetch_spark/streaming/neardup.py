"""Incremental NEAR-duplicate detection — a persisted MinHash-LSH band
store maintained per ingest wave (the missing incremental leg next to
exact incremental dedup, streaming/incremental.py).

Topology (the 100 TB nightly-crawl shape):
- The STORE is a parquet table of (band, bucket, doc_id, signature)
  rows — LSH_BANDS rows per document ever ingested, each carrying the
  K-long MinHash signature (denormalized ×LSH_BANDS so the candidate
  join needs no second lookup; K=16 longs ≈ 128 B, the classic
  space-for-a-join trade). History documents are NEVER rescanned —
  only their fixed-width band rows are probed.
- Each wave: signatures + bands for the wave's docs, then candidates =
  (wave ⋈ store on (band, bucket)) ∪ (wave ⋈ wave), est_jaccard from
  signature agreement — identical math to the one-shot q47 — and the
  wave's band rows are appended for later waves.
- Per-wave cost is O(|wave| × matched-bucket occupancy), never
  O(history²); the one-shot batch job over the same data produces the
  IDENTICAL pair set (pytest-asserted union equality), because every
  pair (a < b) is found in b's wave: a is either in the same wave or
  already in the store.

Retry idempotence (foreachBatch is at-least-once): the store read
EXCLUDES rows tagged with the current batch_id, and both the pair sink
and the store append use dynamic partition overwrite on ingest_batch —
a re-run wave replaces its own partial output instead of doubling it.
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


def _band_rows(docs: DataFrame) -> DataFrame:
    from bqfetch_spark.operators.llm_pipeline import lsh_bands, minhash_signatures

    return lsh_bands(minhash_signatures(docs))


def build_band_store(corpus: DataFrame, store_dir: str) -> None:
    """One-time backfill into a fresh store: band rows for the existing
    corpus."""
    write_wave(_band_rows(corpus), store_dir, BACKFILL_BATCH_ID)


def neardup_batch(
    spark: SparkSession, batch: DataFrame, store_dir: str, batch_id: int | None = None
) -> DataFrame:
    """One ingest wave: emit near-dup candidate pairs touching this
    wave (wave-vs-store and within-wave), then append the wave's band
    rows to the store. Pairs are (least, greatest) doc_id ordered so
    the union over waves is directly comparable to the one-shot q47
    pair set."""
    from bqfetch_spark.operators.llm_pipeline import est_jaccard_col

    if batch_id is None:
        batch_id = MANUAL_BATCH_ID
    wave = _band_rows(batch).localCheckpoint(eager=True)
    # explicit schema: a zero-row backfill leaves no part files to
    # infer from, and an empty store must still read as an empty frame
    store = (
        spark.read.schema(
            "band int, bucket bigint, doc_id bigint, "
            "signature array<bigint>, ingest_batch bigint"
        )
        .parquet(store_dir)
        .filter(F.col("ingest_batch") != batch_id)
    )

    w = wave.alias("w")
    s = store.alias("s")
    vs_store = w.join(
        s,
        (F.col("w.band") == F.col("s.band")) & (F.col("w.bucket") == F.col("s.bucket")),
    ).select(
        F.least("w.doc_id", "s.doc_id").alias("doc_a"),
        F.greatest("w.doc_id", "s.doc_id").alias("doc_b"),
        F.when(F.col("w.doc_id") < F.col("s.doc_id"), F.col("w.signature"))
        .otherwise(F.col("s.signature"))
        .alias("sig_a"),
        F.when(F.col("w.doc_id") < F.col("s.doc_id"), F.col("s.signature"))
        .otherwise(F.col("w.signature"))
        .alias("sig_b"),
    )
    w2 = wave.alias("w2")
    within = w.join(
        w2,
        (F.col("w.band") == F.col("w2.band"))
        & (F.col("w.bucket") == F.col("w2.bucket"))
        & (F.col("w.doc_id") < F.col("w2.doc_id")),
    ).select(
        F.col("w.doc_id").alias("doc_a"),
        F.col("w2.doc_id").alias("doc_b"),
        F.col("w.signature").alias("sig_a"),
        F.col("w2.signature").alias("sig_b"),
    )
    pairs = (
        vs_store.unionByName(within)
        .distinct()
        .select("doc_a", "doc_b", est_jaccard_col().alias("est_jaccard"))
    )
    pairs = pairs.localCheckpoint(eager=True)
    # the resolved id, so a manual wave also overwrites its own partition
    write_wave(wave, store_dir, batch_id)
    return pairs


def run_incremental_neardup(
    spark: SparkSession, sf_dir: str, work_dir: str
) -> DataFrame:
    """Bounded streaming run: the WHOLE documents table streams through
    an initially-empty band store, so the union of per-wave pair sets
    must equal the one-shot q47 pair set over the same table."""
    from bqfetch_spark.streaming.windows import streaming_documents

    store_dir = os.path.join(work_dir, "band_store")
    sink_dir = os.path.join(work_dir, "pairs")
    incoming = streaming_documents(spark, sf_dir)
    # empty store with the right schema/partitioning
    build_band_store(spark.createDataFrame([], incoming.schema), store_dir)

    def _ingest(batch: DataFrame, batch_id: int) -> None:
        pairs = neardup_batch(spark, batch, store_dir, batch_id=batch_id)
        write_wave(pairs, sink_dir, batch_id)

    drain(incoming, _ingest, os.path.join(work_dir, "ckpt"), store_dir)
    return (
        spark.read.parquet(sink_dir)
        .drop("ingest_batch")
        .distinct()
        .orderBy("doc_a", "doc_b")
    )
