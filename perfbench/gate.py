"""Correctness gate: every op's output is checked outside the timed region.

Fetch ops are checked against the Parquet file read directly with
pyarrow: each chunk must hold exactly the rows its predicate selects
(row count and an order-independent checksum of the row keys), the
chunks of a pass must be pairwise disjoint, and together they must
cover the table. Query ops are checked against a canonical hash of the
query's DuckDB oracle result, using the repository's ``frame_canon``
comparator (tests/conftest.py).
"""

from __future__ import annotations

import hashlib

import numpy as np
import pyarrow.parquet as pq

# Columns whose values identify a lineitem row for the checksum.
KEY_COLUMNS = ("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber")
_MIX = (
    np.uint64(0x9E3779B97F4A7C15),
    np.uint64(0xC2B2AE3D27D4EB4F),
    np.uint64(0x165667B19E3779F9),
    np.uint64(0x27D4EB2F165667C5),
)


def row_hashes(cols) -> np.ndarray:
    """A 64-bit hash per row of the key columns (a sequence of arrays)."""
    h = np.zeros(len(cols[0]), dtype=np.uint64)
    with np.errstate(over="ignore"):
        for col, mul in zip(cols, _MIX):
            h ^= np.asarray(col).astype(np.uint64) * mul
            h ^= h >> np.uint64(29)
            h *= np.uint64(0xBF58476D1CE4E5B9)
            h ^= h >> np.uint64(32)
    return h


def checksum(cols) -> int:
    """Order-independent checksum: the wrapping sum of the row hashes."""
    with np.errstate(over="ignore"):
        return int(row_hashes(cols).sum(dtype=np.uint64))


class FetchOracle:
    """Expected per-chunk counts and checksums, from the file itself."""

    def __init__(self, parquet_path: str):
        tbl = pq.read_table(parquet_path, columns=list(KEY_COLUMNS))
        self.cols = {c: tbl.column(c).to_numpy() for c in KEY_COLUMNS}
        self.hashes = row_hashes([self.cols[c] for c in KEY_COLUMNS])
        self.rows = len(self.hashes)
        with np.errstate(over="ignore"):
            self.checksum = int(self.hashes.sum(dtype=np.uint64))

    def mask(self, chunk) -> np.ndarray:
        keys = self.cols[chunk.column]
        if chunk.elements is not None:
            return np.isin(keys, np.asarray(chunk.elements))
        return (keys >= chunk.lower) & (keys <= chunk.upper)

    def expected(self, chunk) -> tuple[int, int]:
        m = self.mask(chunk)
        with np.errstate(over="ignore"):
            return int(m.sum()), int(self.hashes[m].sum(dtype=np.uint64))


class ChunkTally:
    """Accumulates what one fetched chunk delivered, batch by batch."""

    def __init__(self, chunk):
        self.chunk = chunk
        self.rows = 0
        self.checksum = 0
        self.outside = 0  # delivered rows that the chunk's predicate rejects

    def add(self, cols: dict) -> None:
        """``cols`` maps each KEY_COLUMNS name to an array of one batch."""
        keys = np.asarray(cols[self.chunk.column])
        if self.chunk.elements is not None:
            inside = np.isin(keys, np.asarray(self.chunk.elements))
        else:
            inside = (keys >= self.chunk.lower) & (keys <= self.chunk.upper)
        self.outside += int(len(keys) - inside.sum())
        self.rows += len(keys)
        self.checksum = (self.checksum + checksum([cols[c] for c in KEY_COLUMNS])) % 2**64


def check_chunk(oracle: FetchOracle, tally: ChunkTally) -> str | None:
    """None when the chunk delivered exactly its rows, else the reason."""
    rows, csum = oracle.expected(tally.chunk)
    if tally.outside:
        return f"chunk {tally.chunk.index}: {tally.outside} rows outside its predicate"
    if tally.rows != rows:
        return f"chunk {tally.chunk.index}: {tally.rows} rows, expected {rows}"
    if tally.checksum != csum:
        return f"chunk {tally.chunk.index}: key checksum differs"
    return None


def check_pass(oracle: FetchOracle, tallies: list[ChunkTally]) -> str | None:
    """None when a pass's chunks are disjoint and cover the table exactly."""
    chunks = [t.chunk for t in tallies]
    if any(c.elements is not None for c in chunks):
        seen: set = set()
        for c in chunks:
            if seen.intersection(c.elements or ()):
                return f"chunk {c.index} shares values with another chunk"
            seen.update(c.elements or ())
    else:
        spans = sorted((c.lower, c.upper) for c in chunks)
        for (_, hi), (lo, _) in zip(spans, spans[1:]):
            if lo <= hi:
                return "range chunks overlap"
    rows = sum(t.rows for t in tallies)
    csum = sum(t.checksum for t in tallies) % 2**64
    if rows != oracle.rows:
        return f"pass delivered {rows} rows, table has {oracle.rows}"
    if csum != oracle.checksum:
        return "pass key checksum differs from the table's"
    return None


def frame_hash(pdf) -> tuple[int, str]:
    """(row count, canonical hash) of a result, as the oracle gate compares it."""
    from tests.conftest import frame_canon

    rows, cols = frame_canon(pdf)
    return len(rows), hashlib.sha256(repr((cols, rows)).encode()).hexdigest()


def check_query(expected: dict, name: str, pdf) -> str | None:
    """None when a query's result hash-matches its oracle entry."""
    rows, digest = frame_hash(pdf)
    want = expected[name]
    if rows != want["rows"]:
        return f"{name}: {rows} rows, oracle has {want['rows']}"
    if digest != want["hash"]:
        return f"{name}: result hash differs from the oracle's"
    return None
