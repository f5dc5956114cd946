"""The wave-store harness (streaming/waves.py): the one partitioned
writer, the two replay modes and the drain every incremental store
routes through — pinned on tiny in-test frames, plus a guard that the
foreachBatch/partition-overwrite loop stays in that one module."""

from __future__ import annotations

import os
from pathlib import Path

import bqfetch_spark
from bqfetch_spark.streaming.ownership import OWNER_MARKER
from bqfetch_spark.streaming.waves import (
    BACKFILL_BATCH_ID,
    MANUAL_BATCH_ID,
    backfill_and_replay,
    replay_waves,
    write_wave,
)


def _rows(spark, store):
    frame = spark.read.parquet(store).select("k", "ingest_batch")
    return sorted((r.k, r.ingest_batch) for r in frame.collect())


def test_write_wave_retry_manual_append_and_backfill_tag(spark, tmp_path):
    keys = spark.range(10).withColumnRenamed("id", "k")
    store = str(tmp_path / "store")

    write_wave(keys.filter("k < 6"), store, BACKFILL_BATCH_ID)
    assert _rows(spark, store) == [(k, BACKFILL_BATCH_ID) for k in range(6)]

    write_wave(keys.filter("k >= 6"), store, 0)
    before = _rows(spark, store)
    write_wave(keys.filter("k >= 6"), store, 0)  # foreachBatch retry
    assert _rows(spark, store) == before

    # untagged writes append under the manual tag: twice means two copies
    write_wave(keys.filter("k = 1"), store)
    write_wave(keys.filter("k = 1"), store)
    assert _rows(spark, store) == sorted(before + [(1, MANUAL_BATCH_ID)] * 2)


def test_write_wave_untagged_backfill_keeps_partition_layout(spark, tmp_path):
    """The ANN/rollup spelling: extra partition columns lead, and an
    untagged write lands under the backfill tag."""
    store = str(tmp_path / "codes")
    frame = spark.range(4).selectExpr("id AS k", "id % 2 AS cell_id")
    write_wave(frame, store, cols=("cell_id",), untagged=BACKFILL_BATCH_ID)
    assert sorted(d for d in os.listdir(store) if d.startswith("cell_id=")) == [
        "cell_id=0",
        "cell_id=1",
    ]
    assert os.listdir(os.path.join(store, "cell_id=0")) == [
        f"ingest_batch={BACKFILL_BATCH_ID}"
    ]
    assert _rows(spark, store) == [(k, BACKFILL_BATCH_ID) for k in range(4)]


def _recorder():
    seen = []

    def ingest(batch, batch_id):
        seen.append((batch_id, sorted(r.k for r in batch.select("k").collect())))

    return seen, ingest


def test_ordered_replay_one_micro_batch_per_wave_in_order(spark, tmp_path):
    """Eleven waves, so file names (wave_10 < wave_2) disagree with wave
    order: batch k must still hold exactly wave k's keys."""
    n = 11
    waves = [
        spark.range(3 * w, 3 * w + 3).withColumnRenamed("id", "k") for w in range(n)
    ]
    seen, ingest = _recorder()
    query = replay_waves(spark, waves, str(tmp_path / "work"), ingest, ordered=True)
    data = [p for p in query.recentProgress if p["numInputRows"] > 0]
    assert [p["batchId"] for p in data] == list(range(n))
    assert seen == [(w, [3 * w, 3 * w + 1, 3 * w + 2]) for w in range(n)]


def test_folded_replay_is_one_micro_batch_after_backfill(spark, tmp_path):
    frame = spark.range(50).withColumnRenamed("id", "k")
    store = str(tmp_path / "store")
    seen, ingest = _recorder()
    query = backfill_and_replay(
        spark, frame, "k", str(tmp_path / "work"), store, ingest, ordered=False
    )
    data = [p for p in query.recentProgress if p["numInputRows"] > 0]
    assert len(data) == 1
    assert seen == [
        (BACKFILL_BATCH_ID, [k for k in range(50) if k % 5 <= 2]),
        (0, [k for k in range(50) if k % 5 >= 3]),
    ]
    # the drain claimed the store for its checkpoint lineage
    assert os.path.exists(os.path.join(store, OWNER_MARKER))


def test_wave_store_loop_lives_in_one_module():
    """foreachBatch drains and partition-overwrite writes belong to
    streaming/waves.py alone; a store module that needs one calls the
    harness instead of copying the loop."""
    root = Path(bqfetch_spark.__file__).parent
    for needle in ("foreachBatch(", "partitionOverwriteMode"):
        hits = sorted(
            p.relative_to(root).as_posix()
            for p in root.rglob("*.py")
            if needle in p.read_text(encoding="utf-8")
        )
        assert hits == ["streaming/waves.py"], (needle, hits)
