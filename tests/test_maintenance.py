"""Compaction / vacuum for the incremental stores
(bqfetch_spark/streaming/maintenance.py).

The contract under test: (a) CONTENT IDENTITY — the store's logical
content (its distinct fp set) is unchanged by compaction; (b) SIZE BOUND — the post-compaction file
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
