"""Partition advisor + plan diagnostics (SURVEY.md §2.C C21-C22).

The reference sizes chunks from table bytes, free RAM and cores
(`get_nb_chunks_approximation`, bqfetch/bqfetch.py:374-454). On Spark,
memory safety is the engine's job (spill, AQE coalescing); what remains
useful is the *advisory* arithmetic — how many partitions a table wants
for a target partition size. The reference's skew diagnostic
(bqfetch/bqfetch.py:410-419) is the registry query q32_skew_report.
"""

from __future__ import annotations

import math
import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bqfetch_spark.catalog import TABLES, load_catalog
from bqfetch_spark.compat import collect_rows
from bqfetch_spark.registry import register

DEFAULT_TARGET_PARTITION_BYTES = 128 * 1024 * 1024  # Spark's maxPartitionBytes default


def table_bytes(path: str) -> int:
    """On-disk bytes of a table path (file or directory). Local-FS
    implementation; on HDFS/S3 swap for the Hadoop FileSystem listing —
    same arithmetic downstream."""
    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def suggest_partitions(
    total_bytes: int, target_bytes: int = DEFAULT_TARGET_PARTITION_BYTES
) -> int:
    """ceil(bytes / target) — the reference's formula
    (bqfetch/bqfetch.py:452-453) with RAM/cores replaced by a target
    partition size, which is the knob that actually matters on Spark."""
    if target_bytes <= 0:
        raise ValueError("target_bytes must be positive")
    return max(1, math.ceil(total_bytes / target_bytes))


GB = 1024**3
MEMORY_RESERVE_GB = 1.0  # headroom kept off the free-RAM budget

# Fixed materialized widths per Spark type (bytes). The reference
# budgeted fetch waves against BigQuery's num_bytes — the LOGICAL
# (uncompressed) table size (bqfetch/bqfetch.py:430) — NOT compressed
# storage bytes, which under-estimate the pandas materialization a
# wave must hold by the parquet compression ratio. This fixed-width +
# string-byte-length model is the num_bytes analog, and (unlike file
# sizes) it is derivable in ANSI SQL, which is what lets q67 carry a
# full value-hash oracle.
_FIXED_WIDTHS = {
    "long": 8,
    "integer": 4,
    "short": 2,
    "byte": 1,
    "double": 8,
    "float": 4,
    "boolean": 1,
    "date": 4,
    "timestamp": 8,
    "timestamp_ntz": 8,
}


def materialized_row_bytes(df: DataFrame) -> F.Column:
    """Per-row estimated materialized bytes from the schema: fixed
    widths for scalar types, 4-byte length header + actual byte length
    for strings/binary (NULL lengths count 0 — mirrored verbatim in
    the SQL oracles). Raises on types the model doesn't cover so a new
    column can't silently skew a budget."""
    total = F.lit(0).cast("bigint")
    for f in df.schema.fields:
        t = f.dataType.typeName()
        if t in _FIXED_WIDTHS:
            total = total + F.lit(_FIXED_WIDTHS[t]).cast("bigint")
        elif t in ("string", "binary"):
            total = total + (
                F.lit(4) + F.coalesce(F.octet_length(F.col(f.name)), F.lit(0))
            ).cast("bigint")
        else:
            raise ValueError(
                f"materialized_row_bytes: no width model for column "
                f"{f.name!r} of type {t!r}"
            )
    return total


def estimated_materialized_bytes(df: DataFrame) -> int:
    """Σ materialized_row_bytes over the frame — the num_bytes analog
    used by the by_chunk_size planner (one column-pruned scan; only
    string columns are read)."""
    [(total,)] = collect_rows(df.select(materialized_row_bytes(df).alias("b")).agg(F.sum("b")))
    return int(total or 0)


def available_memory_bytes() -> int:
    """Free RAM for result materialization (reference parity:
    psutil.virtual_memory()[1], bqfetch/bqfetch.py:421). Reads
    /proc/meminfo MemAvailable — stdlib-only; falls back to a
    conservative 4 GB when the file is absent (non-Linux)."""
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemAvailable:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 4 * GB


def suggest_chunks_by_size(
    total_bytes: int,
    chunk_size_gb: float,
    nb_cores: int = 1,
    available_bytes: int | None = None,
) -> int:
    """The reference's memory-aware chunk-count estimator
    (`get_nb_chunks_approximation` + `_nb_chunks_approximation_formula`,
    bqfetch/bqfetch.py:374-454): each of `nb_cores` workers holds one
    `chunk_size_gb` chunk in RAM at a time, so a fetch wave
    materializes min(chunk_size_gb × cores, free RAM − reserve) —
    nb_chunks = ceil(table / that budget). On Spark the executor
    doesn't need this to avoid OOM (spill + maxPartitionBytes own
    memory safety); it sizes DRIVER-side materialization waves
    (fetch_to_pandas) exactly like the reference sized its process
    pool."""
    if chunk_size_gb <= 0:
        raise ValueError("by_chunk_size_in_GB must be positive")
    if nb_cores <= 0:
        raise ValueError("nb_cores must be positive")
    if available_bytes is None:
        available_bytes = available_memory_bytes()
    budget_gb = min(
        chunk_size_gb * nb_cores,
        max(available_bytes / GB - MEMORY_RESERVE_GB, 0.25),
    )
    return max(1, math.ceil(total_bytes / GB / budget_gb))


@dataclass(frozen=True)
class PartitionAdvice:
    table: str
    bytes: int
    target_bytes: int
    suggested_partitions: int


def advise(sf_dir: str, target_bytes: int = DEFAULT_TARGET_PARTITION_BYTES) -> list[PartitionAdvice]:
    out = []
    for name in TABLES:
        b = table_bytes(os.path.join(sf_dir, f"{name}.parquet"))
        out.append(PartitionAdvice(name, b, target_bytes, suggest_partitions(b, target_bytes)))
    return out


@register("q61_partition_advisor", oracle=None, tags=("advisor",))
def q61_partition_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Advisory partition counts per fixture table (rows-only check:
    parquet byte sizes are storage detail, not SQL-derivable).

    Deliberately NOT migrated to q67's estimated-materialized-bytes
    oracle recipe: this advisor sizes SCAN partitions against
    spark.sql.files.maxPartitionBytes, and Spark splits scan tasks by
    ON-DISK (compressed) bytes — so file bytes are the semantically
    correct size source here, and the operator stays rows-only with
    its dynamic-oracle pytest. q67 budgets DRIVER materialization
    waves, where the logical num_bytes analog is the right source
    (and SQL-derivable)."""
    rows = [
        (a.table, a.bytes, a.target_bytes, a.suggested_partitions) for a in advise(sf_dir)
    ]
    return spark.createDataFrame(
        rows, "table string, bytes bigint, target_bytes bigint, suggested_partitions bigint"
    )

