from __future__ import annotations

import datetime
import decimal
import math
import os
import sys

import duckdb
import numpy as np
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bqfetch_spark.catalog import TABLES
from bqfetch_spark.session import get_session

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    s = get_session("bqfetch-spark-tests")
    yield s


def jobs_in_group(spark, group: str, fn):
    """fn()'s result and the number of Spark jobs it ran, counted in a
    job group on the shared SparkContext."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_CORRECT}/{t}.parquet')"
        )
    yield con
    con.close()


def _canon(v):
    """Canonicalize a cell into a (dtype-tag, repr) pair.

    DTYPE-SENSITIVE by design: the driver's CORRECTNESS hash goes through
    pandas, where DuckDB's HUGEINT (any sum over BIGINT) lands as float64
    while Spark's bigint lands as int64 — `84.0` vs `84` hash-differ. Round
    4's q100 passed the old (fetchall-based, dtype-loose) local gate and
    failed the driver for exactly this; tagging int vs float here makes the
    local gate as strict as the driver's.
    """
    if v is None or v is pd.NaT:
        return ("null", "")
    if isinstance(v, (bool, np.bool_)):
        return ("b", str(bool(v)))
    if isinstance(v, (float, np.floating)):
        if math.isnan(v):
            return ("null", "")
        return ("f", f"{float(v):.6f}")
    if isinstance(v, (int, np.integer)):
        return ("i", str(int(v)))
    if isinstance(v, decimal.Decimal):
        return ("d", str(v))
    if isinstance(v, (pd.Timestamp, datetime.datetime, datetime.date)):
        return ("t", pd.Timestamp(v).isoformat())
    if isinstance(v, (bytes, bytearray)):
        return ("y", bytes(v).hex())
    if isinstance(v, (list, tuple, np.ndarray)):
        return ("a", tuple(_canon(x) for x in v))
    return ("s", str(v))


def frame_canon(pdf: pd.DataFrame):
    """Sort columns by name, canonicalize cells, sort rows — mirrors the
    driver's order-insensitive, dtype-sensitive value-hash compare."""
    cols = sorted(pdf.columns)
    rows = [
        tuple(_canon(v) for v in row)
        for row in pdf[cols].itertuples(index=False, name=None)
    ]
    return sorted(rows), cols


def compare_to_oracle(spark_df, duck_con, sql, check_schema=True):
    """Assert Spark result == DuckDB oracle result the way the driver
    does: both sides fetched AS PANDAS (so engine→pandas dtype widening
    is part of what's compared), columns sorted by name, canonical
    multiset of rows."""
    s_pdf = spark_df.toPandas()
    d_pdf = duck_con.sql(sql).df()
    s_cols, d_cols = list(s_pdf.columns), list(d_pdf.columns)
    assert sorted(s_cols) == sorted(d_cols), f"columns differ: {s_cols} vs {d_cols}"
    assert len(s_pdf) == len(d_pdf), f"row counts differ: {len(s_pdf)} vs {len(d_pdf)}"
    s_canon, _ = frame_canon(s_pdf)
    d_canon, _ = frame_canon(d_pdf)
    if s_canon != d_canon:
        diffs = [(a, b) for a, b in zip(s_canon, d_canon) if a != b][:5]
        raise AssertionError(f"value mismatch; first diffs: {diffs}")
