"""Catalog memo: each session's temp views name the tables of the
sf_dir loaded last, and a memo hit on that same sf_dir costs no view
registration."""

from __future__ import annotations

from bqfetch_spark.catalog import load_catalog
from tests.conftest import SF_CORRECT, SF_SMOKE


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
