"""Incrementally-maintained vocabulary-growth monitor — qx269 as a
continuously-ingesting pipeline: "is the corpus still contributing
novel vocabulary, and are the vocab-bounded stages' size promises
holding?" answered from a maintained store instead of a corpus rescan.

Store design (the round-6/7 incremental-store conventions), TWO
partials per wave, each with an exactness argument:

- word store: (w, hmin) — the wave-local MIN of the 60-bit md5 doc
  hash per word. min is associative and idempotent, so the store-merged
  ``min(hmin)`` per word is BIT-IDENTICAL to the one-shot qx269
  aggregate, however ingest is sliced AND even if a doc is replayed
  (retry): a second min-fold of the same values changes nothing. This
  is a strictly stronger merge property than integer additivity (qx200/
  qx231) — additive stores need retry-idempotent dynamic overwrites to
  avoid double counts; a min-merge store would survive even a blind
  double-append of the same wave, though we keep the overwrite
  discipline anyway for the doc-stat partials below.
- doc-stat store: (frac, n_docs, n_tokens) per nested md5 prefix —
  plain integer additivity across waves (each doc lands in exactly one
  wave), the qx231 argument verbatim.

The report recomputed FROM THE STORES therefore carries qx269's
one-shot oracle VERBATIM once every document has ingested — the qx265
streaming-oracle stance. Per-wave cost: one wave-vocab-sized frame and
one 4-row frame under the wave's own ingest_batch partition; history is
never re-read.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bqfetch_spark.operators.corpus import VOCAB_FRACS, _VOCAB_THRS
from bqfetch_spark.operators.relational import r6
from bqfetch_spark.streaming.waves import backfill_and_replay, write_wave


def _hv() -> "F.Column":
    return F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10
    ).cast("bigint")


def _fr(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        [(p, t) for p, t in zip(VOCAB_FRACS, _VOCAB_THRS)], "frac double, thr bigint"
    )


def word_min_partials(docs: DataFrame) -> DataFrame:
    """(w, hmin): per-word minimum doc-hash within the wave — the
    min-mergeable partial the word store accumulates."""
    tok = docs.select(
        _hv().alias("hv"), F.explode(F.split(F.col("text"), " ")).alias("w")
    )
    return tok.groupBy("w").agg(F.min("hv").alias("hmin"))


def doc_stat_partials(docs: DataFrame) -> DataFrame:
    """(frac, n_docs, n_tokens): additive per-prefix integer partials.

    Doc-level spelling (round 13, guide §2.3 "aggregate before you
    shuffle"): the old form exploded every token, joined each TOKEN row
    against the prefix thresholds (a ×|fracs| expansion of the token
    stream) and ran a two-phase count_distinct — per wave, a second
    corpus-scale explode on top of word_min_partials'. The per-doc
    token count is just size(split(text)) and the prefix test depends
    only on the doc-level hash, so the same integers fall out of a
    docs-sized projection: n_docs = count of docs under the threshold
    (each doc counted once — exactly what count_distinct computed),
    n_tokens = sum of per-doc sizes (split never returns an empty
    array, so explode counted the same elements). The isNotNull filter
    mirrors explode-of-null dropping the doc."""
    per_doc = docs.filter(F.col("text").isNotNull()).select(
        _hv().alias("hv"),
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n_toks"),
    )
    return (
        per_doc.join(F.broadcast(_fr(docs.sparkSession)), F.col("hv") < F.col("thr"))
        .groupBy("frac")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_toks").cast("bigint").alias("n_tokens"),
        )
    )


def append_vocab_wave(
    spark: SparkSession,
    wave_docs: DataFrame,
    store_dir: str,
    batch_id: int | None = None,
) -> None:
    """One ingest wave: the wave's word-min and doc-stat partials land
    under its own ingest_batch partition in the two sub-stores. With a
    foreachBatch ``batch_id`` the writes are dynamic overwrites of that
    partition (retry-idempotent); manual calls land under
    MANUAL_BATCH_ID."""
    for sub, frame in (
        ("wmin", word_min_partials(wave_docs)),
        ("stats", doc_stat_partials(wave_docs)),
    ):
        write_wave(frame.coalesce(1), os.path.join(store_dir, sub), batch_id)


def vocab_report(spark: SparkSession, store_dir: str) -> DataFrame:
    """qx269's growth curve computed FROM THE MAINTAINED STORES:
    min-merge the word partials, sum the doc-stat partials — both
    merges bit-equal the one-shot aggregates (associative min /
    integer addition), so the report carries qx269's oracle verbatim
    once every document has ingested."""
    wmin = (
        spark.read.parquet(os.path.join(store_dir, "wmin"))
        .groupBy("w")
        .agg(F.min("hmin").alias("hmin"))
    )
    voc = (
        wmin.join(F.broadcast(_fr(spark)), F.col("hmin") < F.col("thr"))
        .groupBy("frac")
        .agg(F.count(F.lit(1)).cast("bigint").alias("vocab"))
    )
    stats = (
        spark.read.parquet(os.path.join(store_dir, "stats"))
        .groupBy("frac")
        .agg(
            F.sum("n_docs").cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        )
    )
    return (
        stats.join(voc, "frac")
        .select(
            "frac",
            "n_docs",
            "n_tokens",
            "vocab",
            r6(F.col("vocab").cast("double") / F.col("n_tokens").cast("double")).alias(
                "type_token_ratio"
            ),
        )
        .orderBy("frac")
    )


def run_incremental_vocab(
    spark: SparkSession, sf_dir: str, work_dir: str
) -> DataFrame:
    """Bounded streaming run: 60% of the documents backfill the vocab
    stores; the remaining two slices arrive through a foreachBatch
    stream (AvailableNow — however the trigger slices them into
    micro-batches, the store merge is bit-equal). Returns the growth
    report computed from the maintained stores."""
    from bqfetch_spark.catalog import load_catalog

    store_dir = os.path.join(work_dir, "vocab")
    docs = load_catalog(spark, sf_dir).table("documents").select(
        "doc_id", "source", "text"
    )
    backfill_and_replay(
        spark, docs, "doc_id", work_dir, store_dir,
        lambda batch, bid: append_vocab_wave(spark, batch, store_dir, bid),
        ordered=False,
    )
    return vocab_report(spark, store_dir)
