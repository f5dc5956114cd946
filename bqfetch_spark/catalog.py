"""Catalog: named Parquet tables registered as temp views.

Reference parity: `BigQueryTable` (bqfetch/bqfetch.py:20-41) is a pure
name triple; here a table name resolves to `{sf_dir}/{name}.parquet` and
is registered as a temp view so both the DataFrame API and `spark.sql`
reach it (SURVEY.md §1.1). Schema is self-describing Parquet — same
"source-of-truth is the catalog" stance as the reference (SURVEY.md §1.4).

Loading runs no Spark job. The reference reads table facts from catalog
metadata (`get_table(...).num_bytes`), not from a query; here each
table's schema comes from its Parquet footer, read on the driver
(`compat.parquet_schema_reader`), and is handed to the reader, so Spark
skips its one-job-per-table schema inference. Where that route is
closed (Connect, drifted internals) the read falls back to inference
with the same schema.

Normalization at load (SURVEY.md §7 risk register):
- `events.ts` is stored as timestamp[ns]; Spark reads it fine but we cast
  to TimestampType (µs) explicitly so engine and oracle agree.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType, TimestampType

from bqfetch_spark.compat import parquet_schema_reader, session_key

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


class Catalog:
    """Loads the fixture tables for one scale-factor directory and
    registers them as temp views named exactly like the files."""

    def __init__(self, spark: SparkSession, sf_dir: str):
        self.spark = spark
        self.sf_dir = sf_dir
        self._dfs: dict[str, DataFrame] = {}
        self._file_schemas: dict[str, StructType] = {}
        self._session = session_key(spark)
        # defensive: the harness may hand us a session built without
        # bqfetch_spark.session defaults; events.ts (timestamp[ns])
        # is unreadable without this (it is a runtime-settable conf)
        try:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
            # oracle comparisons assume UTC wall-clock timestamps
            spark.conf.set("spark.sql.session.timeZone", "UTC")
        except Exception:
            pass  # locked down by the host — reads of ns columns will raise
        # after the conf writes: the converter snapshots nanosAsLong
        self._footer_schema = parquet_schema_reader(spark)

    def path(self, name: str) -> str:
        return os.path.join(self.sf_dir, f"{name}.parquet")

    def table(self, name: str) -> DataFrame:
        if name not in self._dfs:
            if name not in TABLES:
                raise KeyError(f"unknown table {name!r}; known: {TABLES}")
            df = normalize_table(name, self._read(name))
            df.createOrReplaceTempView(name)
            _VIEW_OWNER[self._session] = self.sf_dir
            self._dfs[name] = df
        return self._dfs[name]

    def _read(self, name: str) -> DataFrame:
        path = self.path(name)
        schema = self._footer_schema(path)
        if schema is None:
            df = self.spark.read.parquet(path)
            self._file_schemas[name] = df.schema
            return df
        self._file_schemas[name] = schema
        return self.spark.read.schema(schema).parquet(path)

    def file_schema(self, name: str) -> StructType:
        """The schema `name`'s Parquet file is read with, before
        `normalize_table`: what a readStream over the file needs."""
        self.table(name)
        return self._file_schemas[name]

    def load_all(self) -> "Catalog":
        for name in TABLES:
            self.table(name)
        return self

    def __getattr__(self, name: str) -> DataFrame:
        if name in TABLES:
            return self.table(name)
        raise AttributeError(name)


# columns stored as timestamp[ns]; surfaced as int64 nanos under
# spark.sql.legacy.parquet.nanosAsLong (session.py) and converted here
NANO_TS_COLUMNS = {"events": ("ts",)}


def normalize_table(name: str, df: DataFrame) -> DataFrame:
    """Cast any non-standard timestamp precision to Spark TimestampType.

    Nanosecond columns floor-truncate to microseconds — the same thing
    DuckDB's µs TIMESTAMP does on read, so engine and oracle agree.
    """
    out = df
    for col in NANO_TS_COLUMNS.get(name, ()):
        if col in out.columns and out.schema[col].dataType.simpleString() == "bigint":
            # integer division — a double division would lose precision
            # on int64 epoch-nanos (~1.7e18 > 2^53)
            out = out.withColumn(col, F.timestamp_micros(F.expr(f"{col} div 1000")))
    for field in out.schema.fields:
        simple = field.dataType.simpleString()
        if simple.startswith("timestamp") and not isinstance(field.dataType, TimestampType):
            out = out.withColumn(field.name, F.col(field.name).cast(TimestampType()))
    return out


# Catalog memo: every registry query calls load_catalog. A cold load
# runs no Spark job (schemas come from the footers on the driver), but
# it still reads 10 footers and resolves 10 DataFrames and temp views,
# all of which a hit reuses.
# Keyed by (compat.session_key, sf_dir): the session half keeps
# spark.newSession() siblings, which share an app id but not temp
# views, from reusing a catalog whose views exist only in the other.
_CATALOGS: dict[tuple[str, str, str], Catalog] = {}
# Which sf_dir's tables a session's temp views currently name, keyed by
# session_key and set whenever a Catalog registers a view. A memo hit re-registers the views only when another sf_dir took
# them over, so the common hit (same sf_dir as the last call) makes no
# py4j view call at all.
_VIEW_OWNER: dict[tuple[str, str], str] = {}


def load_catalog(spark: SparkSession, sf_dir: str) -> Catalog:
    session = session_key(spark)
    cat = _CATALOGS.get((*session, sf_dir))
    if cat is None:
        cat = Catalog(spark, sf_dir).load_all()
        _CATALOGS[(*session, sf_dir)] = cat
    elif _VIEW_OWNER.get(session) != sf_dir:
        for name, df in cat._dfs.items():
            df.createOrReplaceTempView(name)
    _VIEW_OWNER[session] = sf_dir
    return cat
