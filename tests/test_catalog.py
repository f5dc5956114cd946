"""Catalog memo: each session's temp views name the tables of the
sf_dir loaded last, and a memo hit on that same sf_dir costs no view
registration. A cold load takes every schema from the Parquet footers
on the driver: it runs no Spark job, and each schema equals the one
Spark's inference gives."""

from __future__ import annotations

import os

import pytest

from bqfetch_spark.catalog import TABLES, load_catalog, normalize_table
from bqfetch_spark.compat import parquet_file_schema
from tests.conftest import SF_CORRECT, SF_SMOKE, jobs_in_group


def test_cold_load_runs_no_spark_job(spark):
    """A fresh session misses the memo (new session UUID) and loads all
    10 tables cold with 0 Spark jobs, where schema inference ran one
    job per table."""
    warm = load_catalog(spark, SF_SMOKE)
    fresh = spark.newSession()
    cat, jobs = jobs_in_group(spark, "test-cold-catalog-load", lambda: load_catalog(fresh, SF_SMOKE))
    assert cat is not warm and cat.spark is fresh
    assert jobs == 0
    assert fresh.table("lineitem").count() == warm.table("lineitem").count()


@pytest.mark.parametrize("sf_dir", [SF_SMOKE, SF_CORRECT])
def test_footer_schema_equals_inferred_schema(spark, sf_dir):
    """Every table's footer schema, and the catalog table built on it,
    equal what inference gives, nullability included."""
    cat = load_catalog(spark, sf_dir)
    for name in TABLES:
        inferred = spark.read.parquet(cat.path(name))
        assert parquet_file_schema(spark, cat.path(name)) == inferred.schema, name
        assert cat.file_schema(name) == inferred.schema, name
        assert cat.table(name).schema == normalize_table(name, inferred).schema, name


def _awkward_types_file(path: str) -> None:
    import datetime
    import decimal

    import pyarrow as pa
    import pyarrow.parquet as pq

    ts = datetime.datetime(2024, 3, 1, 12, 30, 15, 123456)
    table = pa.table(
        {
            "ts_ns": pa.array([ts, None], pa.timestamp("ns")),
            "ts_ns_utc": pa.array([ts, None], pa.timestamp("ns", tz="UTC")),
            "ts_us_utc": pa.array([ts, ts], pa.timestamp("us", tz="UTC")),
            "ts_us_naive": pa.array([ts, None], pa.timestamp("us")),
            "dec": pa.array([decimal.Decimal("12.345"), None], pa.decimal128(12, 3)),
            "blob": pa.array([b"\x00\x01", None], pa.binary()),
            "vec": pa.array([[1.0, 2.5], None], pa.list_(pa.float32())),
            "day": pa.array([datetime.date(2024, 3, 1), None], pa.date32()),
            "nothing": pa.array([None, None], pa.null()),
        }
    )
    pq.write_table(table, path)


@pytest.mark.parametrize(
    "conf",
    [
        {},
        {"spark.sql.legacy.parquet.nanosAsLong": "false"},
        {"spark.sql.parquet.binaryAsString": "true"},
        {"spark.sql.parquet.inferTimestampNTZ.enabled": "false"},
    ],
    ids=["session-defaults", "nanos-as-timestamp", "binary-as-string", "no-ntz"],
)
def test_footer_schema_follows_the_session_conf_on_awkward_types(spark, tmp_path, conf):
    """ns/µs timestamps with and without a time zone, decimal, binary,
    list<float>, date and an all-NULL column: the footer schema equals
    the inferred one under each session setting that steers inference.
    Where inference rejects the file (ns timestamps without nanosAsLong)
    the footer route gives None, so a caller's fallback raises the same
    error inference would."""
    from pyspark.errors import AnalysisException

    path = str(tmp_path / "awkward.parquet")
    _awkward_types_file(path)
    session = spark.newSession()
    for key, value in conf.items():
        session.conf.set(key, value)
    try:
        inferred = session.read.parquet(path).schema
    except AnalysisException:
        assert conf == {"spark.sql.legacy.parquet.nanosAsLong": "false"}
        inferred = None
    assert parquet_file_schema(session, path) == inferred


def test_footer_schema_is_none_for_a_directory_or_missing_file(spark):
    assert parquet_file_schema(spark, SF_SMOKE) is None
    assert parquet_file_schema(spark, os.path.join(SF_SMOKE, "nope.parquet")) is None


def test_views_follow_the_last_loaded_sf_dir(spark, monkeypatch):
    a = load_catalog(spark, SF_SMOKE).table("lineitem").count()
    b = load_catalog(spark, SF_CORRECT).table("lineitem").count()
    assert a != b  # fixture sanity: the two scales differ
    assert spark.table("lineitem").count() == b
    load_catalog(spark, SF_SMOKE)  # a hit, but B owns the views: re-register A's
    assert spark.table("lineitem").count() == a

    from pyspark.sql.classic.dataframe import DataFrame

    calls = []
    real = DataFrame.createOrReplaceTempView
    monkeypatch.setattr(
        DataFrame,
        "createOrReplaceTempView",
        lambda self, name: calls.append(name) or real(self, name),
    )
    load_catalog(spark, SF_SMOKE)
    load_catalog(spark, SF_SMOKE)
    assert calls == []  # unchanged owner: no view call
    load_catalog(spark, SF_CORRECT)
    assert len(calls) == 10  # a takeover re-registers every view
    load_catalog(spark, SF_SMOKE)
    assert spark.table("lineitem").count() == a
