"""Sinks (SURVEY.md §2.A A4/A5 — the reference's only sink was a CTAS
temp table it immediately dropped).

Plain sinks are ``df.write``. The one layout lever that needs more is
bucketing: a pre-shuffled, co-located layout lets joins/aggs on the
bucket key skip their shuffle entirely (requires saveAsTable).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_bucketed_table(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    n_buckets: int,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed managed table: both sides of a recurring join written
    with the same (cols, n_buckets) join with ZERO shuffle — the right
    layout for the lineitem⋈orders class of query at scale."""
    w = df.write.mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.format("parquet").saveAsTable(table_name)
