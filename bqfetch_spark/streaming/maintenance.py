"""Offline compaction / vacuum for the incremental stores.

The incremental stores (streaming/waves.py lists them) are APPEND-ONLY
by design — that is what makes their ingest waves O(wave) and
retry-idempotent — so they grow forever. The fingerprint store
(streaming/incremental.py) accumulates one duplicate fp row per retried
wave. This module is its maintenance-window counterpart (rollup has its
own ``compact_rollup``): fold the accumulated rows back to the
canonical backfill tag, bin-packed to target-sized files (the same
ceil(bytes/target) policy as q39's ``compact_parquet_dir``).

Content identity is the contract: compaction changes the store's FILE
layout and its ``batch_id`` tags, never its logical content — the
distinct fingerprint set is identical before and after (pytest-pinned, and
``keep_backup=True`` lets a caller diff the pre-image at any scale
without a driver-side snapshot).

Safety: rewriting every batch tag to the backfill sentinel BREAKS the
retry-exclusion contract for any still-uncommitted wave — a retried
batch N would see its own fingerprints tagged -1, treat every one of
its documents as a duplicate, and dynamic-overwrite its sink partition
with zero survivors. Compaction therefore REFUSES a store that still
carries a live ownership claim (streaming/ownership.py) unless the
caller passes ``force=True`` after terminating the owning query; the
claim marker does not survive compaction either way, so the next
streaming lineage must claim the store fresh.

At 100 TB this is the nightly-maintenance shape: one distinct over the
store (a shuffle on the store's own key, touching no corpus data), one
bin-packed write to a sibling directory, one directory swap. History
documents are never read.
"""

from __future__ import annotations

import math
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bqfetch_spark.registry import register
from bqfetch_spark.streaming.ownership import OWNER_MARKER
from bqfetch_spark.streaming.waves import BACKFILL_BATCH_ID

# q39's policy (operators/lakehouse.py): ceil(total_bytes / target)
# files. Stores are fingerprint-sized, so at fixture scale this is 1.
COMPACT_TARGET_BYTES = 128 << 20

BACKUP_SUFFIX = "__precompact"


def parquet_dir_stats(d: str) -> tuple[int, int]:
    """(n_parquet_files, total_bytes) under ``d`` — the bounded-size
    assertion both the tests and a production size monitor read."""
    n = total = 0
    for root, _dirs, files in os.walk(d):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                total += os.path.getsize(os.path.join(root, f))
    return n, total


def _check_claim(store_dir: str, force: bool) -> None:
    marker = os.path.join(store_dir, OWNER_MARKER)
    if os.path.exists(marker) and not force:
        with open(marker, encoding="utf-8") as f:
            owner = f.read()
        raise ValueError(
            f"store {store_dir!r} is claimed by checkpoint lineage "
            f"{owner!r}; compaction rewrites every batch tag, which "
            "would turn a retried in-flight wave into a zero-survivor "
            "overwrite. Stop the owning query, then pass force=True."
        )


def _swap_in(tmp_dir: str, store_dir: str, keep_backup: bool) -> str | None:
    """Atomically-enough replace ``store_dir`` with ``tmp_dir``: the
    pre-image moves aside (never deleted before the new layout is in
    place) and is either kept for a content diff or vacuumed. The
    ownership marker lives inside the pre-image, so the claim is
    released as a side effect."""
    backup = store_dir.rstrip("/") + BACKUP_SUFFIX
    if os.path.exists(backup):
        shutil.rmtree(backup)
    os.rename(store_dir, backup)
    os.rename(tmp_dir, store_dir)
    if keep_backup:
        return backup
    shutil.rmtree(backup)
    return None


def drop_backup(store_dir: str) -> None:
    """Vacuum the retained pre-image after a successful content diff."""
    backup = store_dir.rstrip("/") + BACKUP_SUFFIX
    if os.path.exists(backup):
        shutil.rmtree(backup)


def _packed_file_count(store_dir: str, target_bytes: int) -> int:
    _n, total = parquet_dir_stats(store_dir)
    return max(1, math.ceil(total / target_bytes))


def compact_fingerprint_store(
    spark: SparkSession,
    store_dir: str,
    target_bytes: int = COMPACT_TARGET_BYTES,
    keep_backup: bool = False,
    force: bool = False,
) -> str | None:
    """Fold the fp store to DISTINCT fingerprints under the backfill
    tag, bin-packed. Retried waves append duplicate fp rows (harmless
    for membership, costly in bytes) — this reclaims them."""
    _check_claim(store_dir, force)
    tmp = store_dir.rstrip("/") + "__compacting"
    if os.path.exists(tmp):
        shutil.rmtree(tmp)
    (
        spark.read.parquet(store_dir)
        .select("fp")
        .distinct()
        .withColumn("batch_id", F.lit(BACKFILL_BATCH_ID).cast("bigint"))
        .repartition(_packed_file_count(store_dir, target_bytes))
        .write.mode("overwrite")
        .parquet(tmp)
    )
    return _swap_in(tmp, store_dir, keep_backup)


# ---------------------------------------------------------------------------
# Registry query: the content-identity contract as an oracle-checked run
# ---------------------------------------------------------------------------

COMPACT_FP_ORACLE = """
WITH backfill AS (
  SELECT DISTINCT text FROM documents WHERE doc_id % 10 < 8
),
w0 AS (SELECT DISTINCT text FROM documents WHERE doc_id % 10 = 8),
w1 AS (SELECT DISTINCT text FROM documents WHERE doc_id % 10 = 9),
s0 AS (
  SELECT text FROM w0
  WHERE text NOT IN (SELECT text FROM backfill)
),
s1 AS (
  SELECT text FROM w1
  WHERE text NOT IN (SELECT text FROM backfill UNION SELECT text FROM s0)
),
alltexts AS (SELECT DISTINCT text FROM documents)
SELECT phase, n FROM (
  SELECT 'content_symdiff' AS phase, CAST(0 AS BIGINT) AS n
  UNION ALL
  SELECT 'store_rows_postcompact',
         (SELECT CAST(count(*) AS BIGINT) FROM alltexts)
  UNION ALL
  SELECT 'store_rows_precompact',
         (SELECT CAST(count(*) AS BIGINT) FROM backfill)
         + (SELECT CAST(count(*) AS BIGINT) FROM s0)
         + 2 * (SELECT CAST(count(*) AS BIGINT) FROM s1)
)
ORDER BY phase
"""


@register(
    "qx212_compact_fingerprint_store",
    oracle=COMPACT_FP_ORACLE,
    tags=("streaming", "dedup", "maintenance"),
)
def qx212_compact_fingerprint_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fingerprint-store lifecycle with a RETRIED wave, then
    compaction, reported as content-identity evidence. Backfill =
    docs with doc_id % 10 < 8; wave 0 ingests % 10 == 8, wave 1
    ingests % 10 == 9, and wave 1 RETRIES (foreachBatch at-least-once)
    — the retry recomputes the identical survivor set and appends its
    fingerprints a second time, so the pre-compaction store carries
    backfill + s0 + 2*s1 rows. Compaction folds that to the distinct
    fingerprint set (= every distinct document text ingested), and the
    symmetric difference between the pre-image's distinct fps and the
    compacted store is EMPTY — both counts and the zero diff are what
    the oracle recomputes from the raw documents table. File layout is
    pinned separately in tests/test_maintenance.py."""
    import tempfile

    from bqfetch_spark.catalog import load_catalog
    from bqfetch_spark.streaming.incremental import (
        build_fingerprint_store,
        incremental_dedup_batch,
    )

    docs = load_catalog(spark, sf_dir).table("documents")
    work = tempfile.mkdtemp(prefix="bqfs_fp_compact_")
    store = os.path.join(work, "fp_store")
    build_fingerprint_store(docs.filter(F.col("doc_id") % 10 < 8), store)
    wave0 = docs.filter(F.col("doc_id") % 10 == 8)
    wave1 = docs.filter(F.col("doc_id") % 10 == 9)
    incremental_dedup_batch(spark, wave0, store, batch_id=0)
    incremental_dedup_batch(spark, wave1, store, batch_id=1)
    # the at-least-once retry: same batch id, same survivor set,
    # second (harmless, byte-costing) fp append
    incremental_dedup_batch(spark, wave1, store, batch_id=1)

    pre_rows = spark.read.parquet(store).count()
    compact_fingerprint_store(spark, store, keep_backup=True)
    post_rows = spark.read.parquet(store).count()
    pre_fps = (
        spark.read.parquet(store.rstrip("/") + BACKUP_SUFFIX).select("fp").distinct()
    )
    symdiff = (
        pre_fps.withColumn("pre", F.lit(1))
        .join(
            spark.read.parquet(store).select("fp").withColumn("post", F.lit(1)),
            "fp",
            "full_outer",
        )
        .filter(F.col("pre").isNull() | F.col("post").isNull())
        .count()
    )
    drop_backup(store)
    shutil.rmtree(work, ignore_errors=True)
    out = spark.createDataFrame(
        [
            ("content_symdiff", symdiff),
            ("store_rows_postcompact", post_rows),
            ("store_rows_precompact", pre_rows),
        ],
        "phase string, n bigint",
    )
    return out.orderBy("phase")
