"""Incrementally-maintained span-level decontamination — qx282's merged
loss-mask intervals computed PER INGEST WAVE against the frozen
benchmark shingle store (the same artifact streaming/decontam.py
freezes): a training document's mask intervals are known the moment its
wave commits, so packing/tokenization can consume them immediately
instead of waiting for a full-corpus sweep.

Store design: a document belongs to exactly ONE wave, and span merging
is doc-local (the gaps-and-islands windows partition by doc_id), so a
doc's merged spans are FINAL at its own wave — the store-merged span
set is bit-identical to the one-shot qx282 scan over the same corpus
(the decontam.py rows-don't-even-merge argument, inherited verbatim,
which is why the registry query over the maintained store carries
qx282's full value-hash oracle). Waves land under their own
ingest_batch partition: O(wave) cost, retry-idempotent dynamic
overwrite, checkpoint-lineage ownership (streaming/ownership.py).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bqfetch_spark.operators.llm_pipeline import (
    CONTAM_MOD,
    merge_hit_spans,
    positional_contam_shingles,
)
from bqfetch_spark.streaming.decontam import build_benchmark_store
from bqfetch_spark.streaming.waves import backfill_and_replay, write_wave


def mask_wave(
    spark: SparkSession,
    wave_docs: DataFrame,
    bench_dir: str,
    store_dir: str,
    batch_id: int | None = None,
) -> None:
    """One ingest wave: positional shingles of the wave's docs join the
    frozen benchmark store (hash bucket + gram recheck — the q40
    collision-safe pattern), hits merge into spans doc-locally, and the
    wave's spans land under its own ingest_batch partition."""
    bench = spark.read.parquet(bench_dir)
    sh = positional_contam_shingles(wave_docs).withColumn("h", F.xxhash64("g"))
    # No explicit broadcast hint on the benchmark store: eval suites are
    # small today, but a frozen store that grows past driver memory would
    # OOM under a forced broadcast.  AQE picks broadcast when the store
    # is actually small and falls back to a shuffled semi-join when it
    # isn't — the same posture qx282's one-shot spelling documents.
    hits = (
        sh.join(
            bench, (sh["h"] == bench["h"]) & (sh["g"] == bench["bg"]), "leftsemi"
        )
        .select("doc_id", "i")
    )
    write_wave(merge_hit_spans(hits).coalesce(1), store_dir, batch_id)


SPAN_STORE_SCHEMA = (
    "doc_id long, span_start long, span_end long, span_tokens long, ingest_batch long"
)


def span_report(spark: SparkSession, store_dir: str) -> DataFrame:
    """Merged mask intervals FROM THE MAINTAINED STORE. Span merging is
    doc-local and docs never straddle waves, so this is bit-equal to
    the one-shot qx282 scan — same schema, same values, same oracle.
    The explicit schema keeps the zero-contamination case honest: a
    store whose every wave produced no spans has no part files, and a
    schema-inferring read would raise instead of returning the empty
    frame the one-shot scan returns."""
    return (
        spark.read.schema(SPAN_STORE_SCHEMA)
        .parquet(store_dir)
        .select("doc_id", "span_start", "span_end", "span_tokens")
        .orderBy("doc_id", "span_start")
    )


def build_span_store(spark: SparkSession, sf_dir: str, work_dir: str) -> str:
    """Bounded streaming run: freeze the benchmark store, backfill 60%
    of the training docs' spans, stream the remaining two slices
    through foreachBatch (folded — per-doc spans are batch-slicing
    invariant); returns the span-store path for a later `span_report`
    read."""
    from bqfetch_spark.catalog import load_catalog

    bench_dir = os.path.join(work_dir, "bench")
    store_dir = os.path.join(work_dir, "spans")
    docs = load_catalog(spark, sf_dir).table("documents").select("doc_id", "text")
    build_benchmark_store(docs, bench_dir)
    backfill_and_replay(
        spark,
        docs.filter(F.col("doc_id") % CONTAM_MOD != 0),
        "doc_id",
        work_dir,
        store_dir,
        lambda batch, bid: mask_wave(spark, batch, bench_dir, store_dir, bid),
        ordered=False,
    )
    return store_dir
