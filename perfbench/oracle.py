"""DuckDB oracle hashes for the query workloads, cached beside the data.

Each registry query's oracle SQL runs in DuckDB over the same Parquet
files the engine reads; the result is reduced to (row count, canonical
hash) with the gate's ``frame_hash``. Entries are keyed by a hash of the
SQL text, so an entry is recomputed when its query's oracle changes.

Run as a script to fill the cache for some queries:

    python3 perfbench/oracle.py <data_dir> <cache.json> <query> [<query> ...]
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def sql_key(sql: str) -> str:
    return hashlib.sha256(sql.encode()).hexdigest()


def load(cache_path: str) -> dict:
    try:
        with open(cache_path) as fh:
            return json.load(fh)
    except FileNotFoundError:
        return {}


def missing(cache: dict, oracles: dict[str, str]) -> list[str]:
    """Queries whose cached entry is absent or was made from other SQL."""
    return [
        name
        for name, sql in oracles.items()
        if cache.get(name, {}).get("key") != sql_key(sql)
    ]


def fill(data_dir: str, cache_path: str, names: list[str]) -> None:
    import duckdb

    from bqfetch_spark.catalog import TABLES
    from bqfetch_spark.registry import all_queries
    from gate import frame_hash

    registry = all_queries()
    cache = load(cache_path)
    con = duckdb.connect()
    try:
        con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
        for t in TABLES:
            path = os.path.join(data_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        for name in names:
            sql = registry[name].oracle
            rows, digest = frame_hash(con.sql(sql).df())
            cache[name] = {"key": sql_key(sql), "rows": rows, "hash": digest}
    finally:
        con.close()
    tmp = f"{cache_path}.{os.getpid()}.tmp"
    with open(tmp, "w") as fh:
        json.dump(cache, fh, indent=1, sort_keys=True)
    os.replace(tmp, cache_path)


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    fill(sys.argv[1], sys.argv[2], sys.argv[3:])
