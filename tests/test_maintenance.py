"""Compaction / vacuum for the incremental stores
(bqfetch_spark/streaming/maintenance.py).

The contract under test, per store: (a) CONTENT IDENTITY — the store's
logical content (distinct fp set / band-row set / code-row set) is
unchanged by compaction; (b) SIZE BOUND — the post-compaction file
count is the q39 bin-packing target, not the accumulated wave debris;
(c) CONTINUITY — a wave ingested after compaction behaves exactly as
it would have on the uncompacted store; (d) SAFETY — a store still
claimed by a checkpoint lineage refuses to compact (a retried
in-flight wave over rewritten batch tags would zero out its own sink
partition).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from bqfetch_spark.catalog import load_catalog
from bqfetch_spark.streaming.maintenance import (
    compact_ann_code_store,
    compact_band_store,
    compact_fingerprint_store,
    drop_backup,
    parquet_dir_stats,
)
from tests.conftest import SF_CORRECT


def test_fingerprint_compaction_content_and_size(spark, tmp_path):
    from bqfetch_spark.streaming.incremental import (
        build_fingerprint_store,
        incremental_dedup_batch,
    )

    docs = load_catalog(spark, SF_CORRECT).table("documents")
    store = os.path.join(str(tmp_path), "fp_store")
    build_fingerprint_store(docs.filter(F.col("doc_id") % 10 < 8), store)
    wave = docs.filter(F.col("doc_id") % 10 >= 8)
    incremental_dedup_batch(spark, wave, store, batch_id=0)
    # retried wave: duplicate fp rows land (harmless, byte-costing)
    incremental_dedup_batch(spark, wave, store, batch_id=0)

    pre_files, _ = parquet_dir_stats(store)
    pre_fps = {r.fp for r in spark.read.parquet(store).select("fp").collect()}
    pre_rows = spark.read.parquet(store).count()
    assert pre_rows > len(pre_fps)  # the retry really did append dups

    compact_fingerprint_store(spark, store, keep_backup=True)
    post = spark.read.parquet(store)
    assert {r.fp for r in post.select("fp").collect()} == pre_fps
    assert post.count() == len(pre_fps)  # folded to the distinct set
    assert {r.batch_id for r in post.select("batch_id").distinct().collect()} == {-1}
    post_files, _ = parquet_dir_stats(store)
    assert post_files == 1  # ceil(bytes/128MB) at fixture scale
    assert post_files <= pre_files
    # vacuum: the retained pre-image goes away on request
    assert os.path.exists(store + "__precompact")
    drop_backup(store)
    assert not os.path.exists(store + "__precompact")

    # continuity: a post-compaction wave still dedups correctly —
    # re-ingesting already-seen docs yields zero survivors, and a
    # genuinely new doc survives
    reingest = incremental_dedup_batch(spark, wave, store, batch_id=5)
    assert reingest.count() == 0
    fresh_doc = wave.limit(1).withColumn(
        "text", F.concat(F.col("text"), F.lit(" [postcompact-novel]"))
    )
    assert incremental_dedup_batch(spark, fresh_doc, store, batch_id=6).count() == 1


def test_band_store_compaction_preserves_wave_pairs(spark, tmp_path):
    from bqfetch_spark.streaming.neardup import build_band_store, neardup_batch

    docs = load_catalog(spark, SF_CORRECT).table("documents")
    store_a = os.path.join(str(tmp_path), "band_a")  # compacted mid-run
    store_b = os.path.join(str(tmp_path), "band_b")  # never compacted
    for store in (store_a, store_b):
        build_band_store(docs.filter(F.col("doc_id") % 3 == 0), store)
        neardup_batch(
            spark, docs.filter(F.col("doc_id") % 3 == 1), store, batch_id=0
        ).count()

    pre_rows = {
        tuple(r)
        for r in spark.read.parquet(store_a)
        .select("band", "bucket", "doc_id")
        .collect()
    }
    compact_band_store(spark, store_a)
    post = spark.read.parquet(store_a)
    assert {
        tuple(r) for r in post.select("band", "bucket", "doc_id").collect()
    } == pre_rows
    batches = [
        r.ingest_batch for r in post.select("ingest_batch").distinct().collect()
    ]
    assert batches == [-1]  # single backfill partition
    post_files, _ = parquet_dir_stats(store_a)
    assert post_files == 1

    # continuity: the same final wave over compacted vs uncompacted
    # stores emits the identical pair set
    wave2 = docs.filter(F.col("doc_id") % 3 == 2)
    pairs_a = {
        (r.doc_a, r.doc_b, r.est_jaccard)
        for r in neardup_batch(spark, wave2, store_a, batch_id=1).collect()
    }
    pairs_b = {
        (r.doc_a, r.doc_b, r.est_jaccard)
        for r in neardup_batch(spark, wave2, store_b, batch_id=1).collect()
    }
    assert pairs_a == pairs_b
    assert pairs_a  # planted near-dups ⇒ non-empty


def test_ann_code_store_compaction_content_and_layout(spark, tmp_path):
    import numpy as np

    from bqfetch_spark.functions.vectors import as_double
    from bqfetch_spark.streaming.ann_index import (
        append_wave,
        build_index,
        unit_normalized,
    )

    emb = load_catalog(spark, SF_CORRECT).table("embeddings").select(
        "vec_id", as_double(F.col("embedding")).alias("v")
    )
    emb_n = unit_normalized(emb)
    index_dir = os.path.join(str(tmp_path), "index")
    dim = emb_n.select(F.size("v").alias("d")).first()["d"]
    build_index(spark, emb_n.filter(F.col("vec_id") % 5 <= 2), dim, index_dir)
    codes_dir = os.path.join(index_dir, "codes")
    append_wave(spark, emb_n.filter(F.col("vec_id") % 5 == 3), index_dir, batch_id=0)
    append_wave(spark, emb_n.filter(F.col("vec_id") % 5 == 4), index_dir, batch_id=1)

    pre = spark.read.parquet(codes_dir)
    pre_ids = {r.vec_id for r in pre.select("vec_id").collect()}
    pre_rows = pre.count()
    pre_files, _ = parquet_dir_stats(codes_dir)
    n_cells = pre.select("cell_id").distinct().count()

    compact_ann_code_store(spark, index_dir)
    post = spark.read.parquet(codes_dir)
    assert {r.vec_id for r in post.select("vec_id").collect()} == pre_ids
    assert post.count() == pre_rows == len(pre_ids)
    assert {
        r.ingest_batch for r in post.select("ingest_batch").distinct().collect()
    } == {-1}
    # one file per surviving cell: the probe-pruned read unit
    post_files, _ = parquet_dir_stats(codes_dir)
    assert post_files == post.select("cell_id").distinct().count()
    assert post_files <= pre_files
    assert post.select("cell_id").distinct().count() == n_cells


def test_ann_code_store_compaction_keeps_cell_outermost_layout(spark, tmp_path):
    """Compaction must write the live store's (cell_id, ingest_batch)
    layout: partial_retrain swaps whole ``cell_id=`` directories, and a
    store whose top level is ``ingest_batch=`` would mix two partition
    orders after the next retrain."""
    from bqfetch_spark.streaming.ann_index import _write_codes_wave

    codes_dir = os.path.join(str(tmp_path), "index", "codes")
    codes = spark.range(12).selectExpr(
        "id AS vec_id", "id % 3 AS cell_id", "id AS code"
    )
    _write_codes_wave(codes.filter("vec_id < 6"), codes_dir, 0)
    _write_codes_wave(codes.filter("vec_id >= 6"), codes_dir, 1)

    compact_ann_code_store(spark, os.path.join(str(tmp_path), "index"))
    top = sorted(d for d in os.listdir(codes_dir) if not d.startswith(("_", ".")))
    assert top == ["cell_id=0", "cell_id=1", "cell_id=2"]
    for cell in top:
        assert os.listdir(os.path.join(codes_dir, cell)) == ["ingest_batch=-1"]
    post = spark.read.parquet(codes_dir)
    assert sorted(r.vec_id for r in post.collect()) == list(range(12))


def test_compaction_refuses_claimed_store(spark, tmp_path):
    from bqfetch_spark.streaming.incremental import build_fingerprint_store
    from bqfetch_spark.streaming.ownership import claim_store

    docs = load_catalog(spark, SF_CORRECT).table("documents")
    store = os.path.join(str(tmp_path), "fp_store")
    build_fingerprint_store(docs.limit(50), store)
    claim_store(store, "/some/checkpoint")
    with pytest.raises(ValueError, match="claimed by checkpoint lineage"):
        compact_fingerprint_store(spark, store)
    # force: caller asserts the lineage is terminated; the claim does
    # not survive the rewrite, so the next lineage claims fresh
    compact_fingerprint_store(spark, store, force=True)
    from bqfetch_spark.streaming.ownership import OWNER_MARKER

    assert not os.path.exists(os.path.join(store, OWNER_MARKER))


def test_rollup_compaction_refuses_claimed_store(spark, tmp_path):
    """compact_rollup shares the claim-safety contract: a folded store
    plus a retried in-flight wave would double-count, so a claimed
    store refuses to compact until the owning query is stopped."""
    import datetime

    from bqfetch_spark.streaming.ownership import claim_store
    from bqfetch_spark.streaming.rollup import compact_rollup, read_rollup, upsert_rollup

    schema = "ts timestamp, event_type string, value double"
    t0 = datetime.datetime(2025, 3, 1, 12, 0, 0)
    store = str(tmp_path / "store")
    upsert_rollup(spark, spark.createDataFrame([(t0, "click", 1.5)], schema), store, batch_id=0)
    claim_store(store, "/some/ckpt")
    with pytest.raises(ValueError, match="claimed by checkpoint lineage"):
        compact_rollup(spark, store)
    compact_rollup(spark, store, force=True)
    assert {
        (r.bucket_start, r.event_type) for r in read_rollup(spark, store).collect()
    } == {(t0, "click")}
