"""Deterministic synthetic tables for the benchmark.

Writes the ten catalog tables (``bqfetch_spark.catalog.TABLES``) as one
single-row-group Parquet file each, with the schemas, row counts and key
cardinalities documented in FIXTURES.md: a TPC-H-ish star schema plus
the ``events``, ``documents`` and ``embeddings`` tables. The data is a
pure function of ``(scale, DATA_SEED)``; the benchmark's ``--seed`` never
reaches it, so every run of every seed reads identical tables.

Run as a script to materialize one scale into a directory:

    python3 perfbench/datagen.py <out_dir> <scale>
"""

from __future__ import annotations

import datetime as dt
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
# bump when the generated data changes, so cached copies are rebuilt
DATA_VERSION = 1

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
EMBED_DIM = 64


def row_counts(scale: float) -> dict[str, int]:
    """Rows per table at ``scale`` (sf 0.1 = 600,000 lineitem rows)."""

    def n(base: int) -> int:
        return max(1, round(base * scale))

    return {
        "region": 5,
        "nation": 25,
        "customer": n(150_000),
        "supplier": n(10_000),
        "part": n(200_000),
        "orders": n(1_500_000),
        "lineitem": n(6_000_000),
        "events": n(1_000_000),
        "documents": max(500, n(50_000)),
        "embeddings": max(500, n(20_000)),
    }


def _days(rng, n, start: dt.date, end: dt.date) -> pa.Array:
    span = (end - start).days
    base = np.datetime64(start.isoformat(), "us")
    offs = rng.integers(0, span + 1, n).astype("timedelta64[D]")
    return pa.array(base + offs, pa.timestamp("us"))


def _money(rng, n, lo, hi) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _texts(rng, n) -> list[str]:
    lens = rng.integers(10, 101, n)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    out, pos = [], 0
    for k in lens:
        out.append(" ".join(VOCAB[w] for w in words[pos : pos + k]))
        pos += k
    # about 5% near-duplicates: an earlier document's text plus " dup"
    for i in np.flatnonzero(rng.random(n) < 0.05):
        out[i] = out[int(rng.integers(0, n))] + " dup"
    return out


def build_tables(scale: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(DATA_SEED)
    c = row_counts(scale)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    n = c["customer"]
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n)],
            "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
            "c_acctbal": _money(rng, n, -999.99, 9999.99),
            "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n)],
        }
    )
    n = c["supplier"]
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n)],
            "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
            "s_acctbal": _money(rng, n, -999.99, 9999.99),
        }
    )
    n = c["part"]
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n), pa.int64()),
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n), rng.integers(0, 8, n))
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n)],
            "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, n)],
            "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
            "p_retailprice": np.round(900 + (np.arange(n) % 1000) / 10, 1),
        }
    )
    n = c["orders"]
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, c["customer"], n), pa.int64()),
            "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n)],
            "o_totalprice": _money(rng, n, 1000.0, 500000.0),
            "o_orderdate": _days(rng, n, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
            "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n)],
        }
    )
    n = c["lineitem"]
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, c["orders"], n), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, c["part"], n), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, c["supplier"], n), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": _money(rng, n, 900.0, 105000.0),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n)]),
            "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n)]),
            "l_shipdate": _days(rng, n, dt.date(1995, 1, 2), dt.date(2001, 11, 4)),
        }
    )
    n = c["events"]
    gaps = rng.exponential(26.0, n)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + (
        np.cumsum(gaps) * 1e6
    ).astype("timedelta64[us]")
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, max(1, c["customer"] // 10), n), pa.int64()),
            "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n)],
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, n)],
        }
    )
    n = c["documents"]
    texts = _texts(rng, n)
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": [LANGS[i] for i in rng.choice(5, n, p=LANG_P)],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(s) for s in texts], pa.int64()),
        }
    )
    n = c["embeddings"]
    vecs = rng.standard_normal((n, EMBED_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n), pa.int32()),
        }
    )
    return t


def write_tables(out_dir: str, scale: float) -> None:
    """Materialize every table under ``out_dir`` (one file per table)."""
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in build_tables(scale).items():
        pq.write_table(
            tbl,
            os.path.join(out_dir, f"{name}.parquet"),
            row_group_size=max(1, tbl.num_rows),
            compression="snappy",
        )


if __name__ == "__main__":
    write_tables(sys.argv[1], float(sys.argv[2]))
