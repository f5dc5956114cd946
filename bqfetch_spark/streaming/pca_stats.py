"""Incrementally-maintained PCA sufficient statistics — the streaming
leg of the round-7 PCA family (one-shot: qx192/qx193), completing the
incremental-store quartet: rollup partials, dedup fingerprints, ANN
codes, and now second-moment statistics.

Why this store is the EASY one (and why that's the point): qx192's
sufficient statistics are fixed-point LONG sums, and integer addition
is exact and associative — so per-wave partial sums are PERFECTLY
additive. The store holds one (pos, bkt, q1, n_rows) frame per ingest
batch (partitioned by ingest_batch, ~2144 rows × buckets each,
regardless of wave size); "maintain the statistics" is literally
appending a few-KB frame per wave, and the merged store is
BIT-IDENTICAL to the one-shot statistics over the same corpus however
ingest is sliced — which is why the registry query over the maintained
store carries qx192's FULL value-hash oracle, unique among the
streaming family. A mean/covariance maintained in floats would have
none of this (order-dependent drift); the fixed-point design was
chosen in qx192 for cross-engine exactness and pays off again here.

Per-wave cost is O(wave): one explode + one ~2144-key partial-agg of
the wave only; history is never re-read. Retries are idempotent: a
wave lands as a dynamic overwrite of its own ingest_batch partition
(the round-6 convention), and the store is claimed by its checkpoint
lineage (streaming/ownership.py) so a fresh checkpoint cannot restart
batch ids over it.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bqfetch_spark.streaming.waves import backfill_and_replay, write_wave


def append_stats_wave(
    spark: SparkSession,
    wave_emb: DataFrame,
    store_dir: str,
    batch_id: int | None = None,
) -> None:
    """One ingest wave: phase-1 long sums of the WAVE only, written
    under its own ingest_batch partition. With a foreachBatch
    ``batch_id`` the write is a dynamic overwrite of that partition
    (retry-idempotent); manual calls land under MANUAL_BATCH_ID."""
    from bqfetch_spark.operators.similarity import pca_stats_phase1

    # a stats frame is ~2144 rows × buckets — one file per wave
    write_wave(pca_stats_phase1(wave_emb).coalesce(1), store_dir, batch_id)


def merged_stats(spark: SparkSession, store_dir: str):
    """(n, sx, sxy) from the store — the same decode as the one-shot
    path, over DECIMAL(38,0)-merged per-wave longs. n rides as the sum
    of pos==0 n_rows (every vector contributes exactly one pos-0
    slot)."""
    from bqfetch_spark.operators.similarity import decode_stat_sums

    store = spark.read.parquet(store_dir)
    sums = store.groupBy("pos").agg(
        F.sum(F.col("q1").cast("decimal(38,0)")).alias("q"),
        F.sum("n_rows").alias("nr"),
    )
    rows = sums.collect()
    n = int(next(r.nr for r in rows if r.pos == 0))
    sx, sxy = decode_stat_sums(rows, n)
    return n, sx, sxy


def run_incremental_pca_stats(
    spark: SparkSession, sf_dir: str, work_dir: str
) -> DataFrame:
    """Bounded streaming run: 60% of the embeddings backfill the stats
    store; the remaining two wave files arrive through a foreachBatch
    stream (one folded micro-batch, streaming/waves.py).
    Returns the covariance frame computed FROM THE MAINTAINED STORE —
    bit-equal to qx192's one-shot output by integer additivity, so it
    shares qx192's full oracle."""
    from bqfetch_spark.catalog import load_catalog
    from bqfetch_spark.functions.vectors import as_double
    from bqfetch_spark.operators.similarity import covariance_rows

    store_dir = os.path.join(work_dir, "stats")
    emb = load_catalog(spark, sf_dir).table("embeddings").select(
        "vec_id", as_double(F.col("embedding")).alias("v")
    )
    backfill_and_replay(
        spark, emb, "vec_id", work_dir, store_dir,
        lambda batch, bid: append_stats_wave(spark, batch, store_dir, bid),
        ordered=False,
    )
    n, sx, sxy = merged_stats(spark, store_dir)
    return spark.createDataFrame(
        covariance_rows(n, sx, sxy), "i int, j int, cov double"
    )
