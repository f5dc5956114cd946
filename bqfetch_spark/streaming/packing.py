"""Incrementally-maintained sequence packing — qx260 as a
continuously-ingesting pipeline: documents are packed into fixed token
windows IN ARRIVAL ORDER (each wave appends to the token stream where
the previous one ended), the semantics a streaming pretraining loader
actually has — new data extends the pack; history is never repacked.

Store design: per-wave WINDOW-HISTOGRAM PARTIALS (window_id, n_docs,
n_tokens, n_spanning). A window that straddles two waves receives
partial rows from both — and every column is an integer COUNT, so the
store-merged groupBy(window_id).sum() is BIT-IDENTICAL to packing the
same arrival-ordered stream in one shot (qx231's additivity argument;
a doc's window assignment depends only on the token offset where its
wave started, which is itself the integer sum of prior waves' tokens).

The wave's starting offset is derived from the store itself
(sum(n_tokens) over OTHER waves' partitions — own ingest_batch
excluded, the neardup-store retry discipline), so a foreachBatch retry
recomputes the identical offset and dynamically overwrites its own
partition: idempotent.

The one-shot oracle spells the SAME arrival order (ingest rank, then
the per-wave md5 shuffle), so the streaming result carries a FULL
value-hash oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bqfetch_spark.operators.corpus import PACK_WINDOW
from bqfetch_spark.session import shuffle_partitions
from bqfetch_spark.streaming.waves import (
    MANUAL_BATCH_ID,
    backfill_and_replay,
    write_wave,
)


def pack_wave_partials(wave_docs: DataFrame, offset: int) -> DataFrame:
    """(window_id, n_docs, n_tokens, n_spanning) for ONE wave appended
    at token ``offset``: qx260's placement arithmetic with the wave's
    exclusive cumsum shifted by the store-derived offset. Rides the
    same one-exchange global cumsum; integer arithmetic end-to-end."""
    from bqfetch_spark.plans.ranks import with_global_cumsum

    toks = wave_docs.select(
        "doc_id",
        F.md5(F.col("doc_id").cast("string")).alias("ord_key"),
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n_tokens"),
    )
    cum = with_global_cumsum(
        toks,
        ["ord_key", "doc_id"],
        "n_tokens",
        shuffle_partitions(wave_docs.sparkSession),
        "cum_incl",
    )
    shifted = cum.select(
        "n_tokens", (F.col("cum_incl") + F.lit(int(offset))).alias("cum_incl")
    )
    placed = shifted.select(
        "n_tokens",
        F.expr(f"(cum_incl - n_tokens) div {PACK_WINDOW}").alias("window_id"),
        F.when(
            F.expr(f"(cum_incl - n_tokens) div {PACK_WINDOW}")
            != F.expr(f"(cum_incl - 1) div {PACK_WINDOW}"),
            1,
        )
        .otherwise(0)
        .alias("spans"),
    )
    return placed.groupBy("window_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        F.sum("spans").cast("bigint").alias("n_spanning"),
    )


def _store_offset(spark: SparkSession, store_dir: str, exclude_batch: int) -> int:
    """Token offset where the next wave starts = total tokens already
    packed by OTHER waves. Excluding the caller's own ingest_batch
    makes a foreachBatch retry recompute the identical offset."""
    if not os.path.isdir(store_dir):
        return 0
    store = spark.read.parquet(store_dir).filter(
        F.col("ingest_batch") != exclude_batch
    )
    row = store.agg(F.sum("n_tokens")).first()
    return int(row[0] or 0)


def append_pack_wave(
    spark: SparkSession,
    wave_docs: DataFrame,
    store_dir: str,
    batch_id: int | None = None,
) -> None:
    bid = MANUAL_BATCH_ID if batch_id is None else int(batch_id)
    offset = _store_offset(spark, store_dir, bid)
    write_wave(pack_wave_partials(wave_docs, offset).coalesce(1), store_dir, batch_id)


def packing_report(spark: SparkSession, store_dir: str) -> DataFrame:
    """qx260's window histogram computed FROM THE MAINTAINED STORE:
    sum the integer partials per window — bit-equal to one-shot
    packing of the same arrival-ordered stream."""
    return (
        spark.read.parquet(store_dir)
        .groupBy("window_id")
        .agg(
            F.sum("n_docs").cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
            F.sum("n_spanning").cast("bigint").alias("n_spanning"),
        )
        .select(
            F.col("window_id").cast("bigint").alias("window_id"),
            "n_docs",
            "n_tokens",
            "n_spanning",
        )
        .orderBy("window_id")
    )


def run_incremental_packing(
    spark: SparkSession, sf_dir: str, work_dir: str
) -> DataFrame:
    """Bounded streaming run: 60% of the documents backfill the pack;
    the remaining two slices arrive as separate micro-batches and
    append where the stream left off. Returns the merged histogram."""
    from bqfetch_spark.catalog import load_catalog

    store_dir = os.path.join(work_dir, "pack")
    docs = load_catalog(spark, sf_dir).table("documents").select(
        "doc_id", "source", "text"
    )
    # ORDER-DEPENDENT: each wave starts where the previous one ended, so
    # the waves replay ordered, one micro-batch per wave
    backfill_and_replay(
        spark, docs, "doc_id", work_dir, store_dir,
        lambda batch, bid: append_pack_wave(spark, batch, store_dir, bid),
        ordered=True,
    )
    return packing_report(spark, store_dir)
