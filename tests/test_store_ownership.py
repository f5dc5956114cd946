"""Checkpoint-lineage ownership of the incremental stores
(streaming/ownership.py) + the manual-call batch_id sentinel.

The hazard (round-6 ADVICE, medium): every incremental store keys its
retry idempotence on the foreachBatch batch_id, which restarts at 0
under a NEW checkpoint — so pointing a fresh query at an existing
store would dynamic-overwrite the prior lineage's batch-0 partitions
(rollup/neardup/ann codes) or hide its batch-0 fingerprints from the
dedup exclusion filter. claim_store makes the collision an immediate,
explicit error instead of silent state corruption.
"""

from __future__ import annotations

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from bqfetch_spark.catalog import load_catalog
from bqfetch_spark.streaming.ownership import (
    OWNER_MARKER,
    claim_store,
    owner_key_for_checkpoint,
)

SF_SMOKE = "/root/testdata/sf0.001"


def test_claim_create_reclaim_and_refuse(tmp_path):
    store = str(tmp_path / "store")
    key_a = owner_key_for_checkpoint(str(tmp_path / "ckpt_a"))
    key_b = owner_key_for_checkpoint(str(tmp_path / "ckpt_b"))

    claim_store(store, key_a)
    assert os.path.exists(os.path.join(store, OWNER_MARKER))
    # same lineage restarting (same checkpoint) re-presents the same key
    claim_store(store, key_a)
    # a fresh-checkpoint query must be refused BEFORE any batch runs
    with pytest.raises(ValueError, match="owned by checkpoint lineage"):
        claim_store(store, key_b)
    # explicit maintenance handoff: deleting the marker releases the claim
    os.remove(os.path.join(store, OWNER_MARKER))
    claim_store(store, key_b)


def test_marker_is_invisible_to_parquet_reads(spark, tmp_path):
    """The marker uses the `_`-prefix hidden-file convention: a claimed
    store must read back exactly its data rows."""
    store = str(tmp_path / "store")
    spark.range(5).write.mode("overwrite").parquet(store)
    claim_store(store, "lineage-x")
    assert spark.read.parquet(store).count() == 5


def test_runner_store_claimed_by_its_checkpoint(spark, tmp_path):
    """End-to-end: run_incremental_dedup claims its store; a second
    lineage (different checkpoint) aimed at the SAME store is refused,
    while re-claiming with the original checkpoint still passes (the
    restart path)."""
    from bqfetch_spark.streaming.incremental import run_incremental_dedup

    work = str(tmp_path / "work")
    out = run_incremental_dedup(spark, SF_SMOKE, work)
    assert out.count() > 0
    store_dir = os.path.join(work, "fp_store")
    assert os.path.exists(os.path.join(store_dir, OWNER_MARKER))
    claim_store(store_dir, owner_key_for_checkpoint(os.path.join(work, "ckpt")))
    with pytest.raises(ValueError, match="owned by checkpoint lineage"):
        claim_store(store_dir, owner_key_for_checkpoint(str(tmp_path / "new_ckpt")))


def test_manual_sentinel_does_not_collide_with_stream_batch_zero(spark, tmp_path):
    """ADVICE (low): incremental_dedup_batch's old default batch_id=0
    collided with the first real foreachBatch id — a manual caller over
    a streamed store treated the stream's batch-0 fingerprints as its
    own retry leftovers and re-admitted their duplicates. The default
    is now the reserved MANUAL_BATCH_ID sentinel."""
    from bqfetch_spark.streaming.incremental import (
        MANUAL_BATCH_ID,
        build_fingerprint_store,
        incremental_dedup_batch,
    )

    docs = load_catalog(spark, SF_SMOKE).table("documents")
    store = str(tmp_path / "fp_store")
    build_fingerprint_store(docs.limit(0), store)

    # a STREAMED wave lands under real batch_id=0
    wave = docs.filter(F.col("doc_id") % 10 >= 8)
    admitted = incremental_dedup_batch(spark, wave, store, batch_id=0)
    n_admitted = admitted.count()
    assert n_admitted > 0

    # a MANUAL caller (default batch_id) re-presents the same docs:
    # with the old 0 default the exclusion filter hid the stream's
    # fingerprints and re-admitted everything; the sentinel sees them
    manual = incremental_dedup_batch(spark, wave, store)
    assert manual.count() == 0
    # a manual wave with FRESH docs tags its fingerprints with the sentinel
    fresh_docs = docs.filter(F.col("doc_id") % 10 == 3)
    admitted2 = incremental_dedup_batch(spark, fresh_docs, store)
    assert admitted2.count() > 0
    tags = {
        r["batch_id"]
        for r in spark.read.parquet(store).select("batch_id").distinct().collect()
    }
    assert tags == {0, MANUAL_BATCH_ID}
    assert MANUAL_BATCH_ID not in (0, -1)


def test_neardup_manual_sentinel(spark, tmp_path):
    """Same sentinel contract for the LSH band store: a manual
    neardup_batch over a store whose batch-0 rows came from a stream
    must still see those rows as HISTORY (pairs found), not as its own
    retry leftovers (pairs lost)."""
    from bqfetch_spark.streaming.neardup import build_band_store, neardup_batch

    docs = load_catalog(spark, SF_SMOKE).table("documents")
    store = str(tmp_path / "band_store")
    build_band_store(docs.limit(0), store)

    half_a = docs.filter(F.col("doc_id") % 2 == 0)
    half_b = docs.filter(F.col("doc_id") % 2 == 1)
    neardup_batch(spark, half_a, store, batch_id=0)
    # manual wave: cross-store pairs require seeing batch-0 band rows
    pairs = neardup_batch(spark, half_b, store)
    cross = pairs.filter((F.col("doc_a") % 2) != (F.col("doc_b") % 2)).count()
    assert cross > 0


def test_debounce_kernel_empty_group_passthrough():
    """ADVICE (low): a zero-row group invocation (timeout/TTL paths)
    must pass state through instead of raising IndexError on
    prev.iloc[0]."""
    from bqfetch_spark.streaming.debounce import debounce_kernel

    empty = pd.DataFrame(
        {
            "event_id": pd.Series(dtype="int64"),
            "user_id": pd.Series(dtype="int64"),
            "event_type": pd.Series(dtype="object"),
            "ts": pd.Series(dtype="datetime64[ns]"),
        }
    )
    state, kept = debounce_kernel(123456, empty)
    assert state == 123456
    assert len(kept) == 0
    assert "gap_s" in kept.columns
    state2, kept2 = debounce_kernel(None, empty)
    assert state2 is None and len(kept2) == 0
