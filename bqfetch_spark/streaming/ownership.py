"""Store-ownership claims for the incremental stores.

The incremental stores (rollup partials, dedup fingerprints, LSH band
rows, ANN codes, and the drift, pca_stats, decontam, spanmask, vocab
and packing partials — all written through streaming/waves.py) get
their foreachBatch retry-idempotence from keying partitions /
exclusion filters on the micro-batch ``batch_id``. That id is only
unique WITHIN ONE CHECKPOINT LINEAGE: a brand-new streaming query
(fresh checkpoint) pointed at an existing store restarts batch ids at
0, and its first wave's dynamic overwrite of ``ingest_batch=0`` would
silently delete the prior query's batch-0 partials (every
``ingest_batch``-partitioned store) or hide its batch-0 fingerprints
from the ``batch_id != batch_id`` exclusion (dedup) and re-admit their
duplicates.

The fix is an explicit ownership contract: a store is CLAIMED by the
checkpoint lineage that writes it. ``claim_store`` drops an
``_bqfetch_store_owner`` marker (leading underscore — invisible to
Spark's parquet reader, same convention as ``_SUCCESS``) holding the
owner key, which the built-in runners derive from the checkpoint
location's real path (``waves.drain`` claims before it starts).
Restarting the same query over the same checkpoint re-presents the
same key and passes; pointing a NEW checkpoint at the store raises
before any batch runs, instead of corrupting batch-0 state an
arbitrary time later.

The marker is created atomically (``open(..., "x")``) so two
concurrent fresh queries racing to claim the same store resolve to
one winner; the loser re-reads and fails the comparison.
"""

from __future__ import annotations

import os

OWNER_MARKER = "_bqfetch_store_owner"


def owner_key_for_checkpoint(ckpt_dir: str) -> str:
    """The owner key the built-in runners use: the checkpoint
    location's canonical path. Stable across restarts of the same
    query (same checkpoint => same lineage => monotone batch ids),
    different for any fresh-checkpoint query."""
    return os.path.realpath(ckpt_dir)


def claim_store(store_dir: str, owner_key: str) -> None:
    """Claim ``store_dir`` for ``owner_key``, or verify an existing
    claim. Raises ``ValueError`` if the store is already owned by a
    different key — i.e. a new checkpoint lineage is about to reuse a
    store whose ingest_batch tags belong to another lineage."""
    os.makedirs(store_dir, exist_ok=True)
    marker = os.path.join(store_dir, OWNER_MARKER)
    try:
        with open(marker, "x", encoding="utf-8") as f:
            f.write(owner_key)
        return
    except FileExistsError:
        pass
    with open(marker, "r", encoding="utf-8") as f:
        existing = f.read()
    if existing != owner_key:
        raise ValueError(
            f"store {store_dir!r} is owned by checkpoint lineage "
            f"{existing!r}; refusing to ingest under {owner_key!r}. "
            "Batch ids restart at 0 under a new checkpoint, so reusing "
            "the store would clobber the prior lineage's batch-0 "
            "state. Use a fresh store, or delete the "
            f"{OWNER_MARKER} marker after verifying no ingest_batch "
            "collisions are possible."
        )
