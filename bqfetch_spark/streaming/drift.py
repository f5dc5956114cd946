"""Incrementally-maintained source-mix drift monitor — the data-ops
alarm a continuously-ingesting corpus needs: "has the share of source X
moved since the baseline snapshot?" catches upstream crawler breakage,
licensing cutoffs, and mixture regressions before they reach training.

Store design (the round-6/7 incremental-store conventions): per-source
DOC COUNTS are integers, and integer addition is exact and associative —
so per-wave partial counts are perfectly additive and the store-merged
totals are BIT-IDENTICAL to a one-shot groupBy over the same corpus,
however ingest is sliced. The registry query over the maintained store
therefore carries a FULL value-hash oracle (qx200's trick applied to the
mix monitor). Each wave lands as a sources-sized frame under its own
ingest_batch partition: O(wave) cost, history never re-read; retries are
dynamic overwrites of the wave's own partition; the store is claimed by
its checkpoint lineage (streaming/ownership.py).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bqfetch_spark.streaming.waves import (
    BACKFILL_BATCH_ID,
    backfill_and_replay,
    write_wave,
)


def mix_counts(docs: DataFrame) -> DataFrame:
    """(source, n_docs, n_tokens) for a document frame — the per-wave
    partial the store accumulates. One sources-sized partial-agg'd
    exchange over the wave only."""
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.size(F.split(F.col("text"), " ")))
        .cast("bigint")
        .alias("n_tokens"),
    )


def append_mix_wave(
    spark: SparkSession,
    wave_docs: DataFrame,
    store_dir: str,
    batch_id: int | None = None,
) -> None:
    """One ingest wave: the wave's per-source counts land under its own
    ingest_batch partition. With a foreachBatch ``batch_id`` the write
    is a dynamic overwrite of that partition (retry-idempotent);
    manual calls land under MANUAL_BATCH_ID."""
    write_wave(mix_counts(wave_docs).coalesce(1), store_dir, batch_id)


def drift_report(spark: SparkSession, store_dir: str) -> DataFrame:
    """Per-source mix drift computed FROM THE MAINTAINED STORE:
    baseline share (the backfill partition) vs current share (all
    partitions), and their difference. All inputs are store-merged
    integer counts, so the report is bit-equal to a one-shot spelling
    over the same corpus slices."""
    store = spark.read.parquet(store_dir)
    base = (
        store.filter(F.col("ingest_batch") == BACKFILL_BATCH_ID)
        .groupBy("source")
        .agg(F.sum("n_docs").cast("bigint").alias("n_docs_baseline"))
    )
    total = store.groupBy("source").agg(
        F.sum("n_docs").cast("bigint").alias("n_docs_total")
    )
    nb = base.agg(F.sum("n_docs_baseline").alias("__nb"))
    nt = total.agg(F.sum("n_docs_total").alias("__nt"))
    share_b = F.coalesce("n_docs_baseline", F.lit(0)).cast("double") / F.col("__nb")
    share_t = F.col("n_docs_total").cast("double") / F.col("__nt")
    return (
        total.join(base, "source", "left")
        .crossJoin(F.broadcast(nb))
        .crossJoin(F.broadcast(nt))
        .select(
            "source",
            F.coalesce("n_docs_baseline", F.lit(0))
            .cast("bigint")
            .alias("n_docs_baseline"),
            "n_docs_total",
            F.round(share_b, 6).alias("share_baseline"),
            F.round(share_t, 6).alias("share_total"),
            F.round(share_t - share_b, 6).alias("drift"),
        )
        .orderBy("source")
    )


def run_incremental_source_mix(
    spark: SparkSession, sf_dir: str, work_dir: str
) -> DataFrame:
    """Bounded streaming run: 60% of the documents backfill the mix
    store; the remaining two slices arrive through a foreachBatch
    stream (AvailableNow — integer additivity makes the store merge
    bit-equal however the trigger slices them). Returns the drift
    report computed from the maintained store."""
    return drift_report(spark, build_mix_store(spark, sf_dir, work_dir))


def build_mix_store(spark: SparkSession, sf_dir: str, work_dir: str) -> str:
    """Backfill + stream the per-source mix store and return its path —
    shared by the drift report (qx231) and the streaming water-filling
    planner (qx281), which read DIFFERENT columns of the same additive
    store."""
    from bqfetch_spark.catalog import load_catalog

    store_dir = os.path.join(work_dir, "mix")
    docs = load_catalog(spark, sf_dir).table("documents").select(
        "doc_id", "source", "text"
    )
    backfill_and_replay(
        spark, docs, "doc_id", work_dir, store_dir,
        lambda batch, bid: append_mix_wave(spark, batch, store_dir, bid),
        ordered=False,
    )
    return store_dir
