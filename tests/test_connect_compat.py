"""Spark-Connect tolerance (VERDICT r8 #3): every classic-JVM internals
touch point routes through bqfetch_spark/compat.py, which must degrade
to a semantic fallback when ``_jdf`` / ``_jvm`` / ``sparkContext`` are
unreachable — the exact failure shape Spark Connect produces.

Connect itself cannot run in this sandbox (grpcio/protobuf are not
installed and pip is forbidden), so the fallback paths are exercised
with proxies that hide the classic internals from real DataFrames; the
genuine end-to-end smoke is env-gated on ``SPARK_REMOTE``.
"""

from __future__ import annotations

import importlib.util
import os

import pytest

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE, jobs_in_group


class _NoInternals:
    """Delegating proxy that hides classic-only attributes — the
    AttributeError shape Connect's DataFrame/SparkSession raise."""

    _HIDDEN = ("_jdf", "_jvm", "_jsparkSession", "sparkContext")

    def __init__(self, wrapped):
        object.__setattr__(self, "_wrapped", wrapped)

    def __getattr__(self, name):
        if name in _NoInternals._HIDDEN:
            raise AttributeError(f"[NOT_SUPPORTED_IN_CONNECT] {name}")
        val = getattr(object.__getattribute__(self, "_wrapped"), name)
        if name == "sparkSession":
            return _NoInternals(val)
        return val


def test_formatted_plan_falls_back_to_explain_capture(spark):
    from bqfetch_spark.compat import formatted_plan

    df = spark.range(10).filter(F.col("id") > 3)
    classic = formatted_plan(df)
    fallback = formatted_plan(_NoInternals(df))
    assert "Physical Plan" in fallback
    # the two spellings carry the same plan operators
    assert ("Range" in classic) and ("Range" in fallback)
    assert ("Filter" in classic) == ("Filter" in fallback)


def test_pushed_filters_and_read_schema_survive_missing_jdf(spark):
    import re

    from bqfetch_spark.compat import formatted_plan
    from bqfetch_spark.sources.readers import pushed_filters

    df = (
        spark.read.parquet(os.path.join(SF_SMOKE, "orders.parquet"))
        .select("o_orderkey", "o_totalprice")
        .filter(F.col("o_totalprice") > 1000.0)
    )
    via_proxy = pushed_filters(_NoInternals(df))
    assert any("o_totalprice" in p for p in via_proxy)
    assert via_proxy == pushed_filters(df)
    rs = re.search(r"ReadSchema: (\S+)", formatted_plan(_NoInternals(df)))
    assert rs is not None and "o_orderkey" in rs.group(1)


def test_plan_probes_return_none_without_internals(spark):
    from bqfetch_spark.compat import (
        is_classic,
        jvm_or_none,
        optimized_plan_string,
        plan_size_bytes_or_none,
    )

    df = spark.range(5)
    assert is_classic(df) and is_classic(spark)
    assert optimized_plan_string(df) is not None
    assert plan_size_bytes_or_none(df) is not None

    pdf, pspark = _NoInternals(df), _NoInternals(spark)
    assert not is_classic(pdf) and not is_classic(pspark)
    assert optimized_plan_string(pdf) is None
    assert plan_size_bytes_or_none(pdf) is None
    assert jvm_or_none(pspark) is None


def test_app_id_fallback_chain(spark):
    from bqfetch_spark.compat import app_id

    real = app_id(spark)
    assert real == spark.sparkContext.applicationId
    # no sparkContext → the conf-served server app id (set in local mode)
    assert app_id(_NoInternals(spark)) == spark.conf.get("spark.app.id")


def test_session_uuid_fallback_is_stable_and_gc_safe(spark):
    """ADVICE r9: the Connect fallback must NOT be id(spark) — CPython
    reuses addresses after GC, which would resurrect a catalog whose
    DataFrames point at a dead session. The fallback stamps a uuid4 on
    first touch: stable across calls on the SAME proxy, distinct on a
    NEW proxy even if it lands at a recycled address."""
    from bqfetch_spark.compat import session_key

    def _session_uuid(s):
        return session_key(s)[1]

    real = _session_uuid(spark)
    assert real == str(spark._jsparkSession.sessionUUID())

    proxy_a = _NoInternals(spark)
    ua = _session_uuid(proxy_a)
    assert ua != str(id(proxy_a))  # not the address-reuse hazard
    assert _session_uuid(proxy_a) == ua  # stable per proxy (memo works)
    proxy_b = _NoInternals(spark)
    assert _session_uuid(proxy_b) != ua  # a new session never inherits


def test_catalog_falls_back_to_inference_without_internals(spark):
    """Without the JVM route the footer helper gives None, and the
    catalog infers each schema instead (one job per table), ending with
    the same file and table schemas the footer route gives."""
    from bqfetch_spark.catalog import TABLES, Catalog, load_catalog
    from bqfetch_spark.compat import parquet_file_schema

    footer = load_catalog(spark, SF_SMOKE)
    proxy = _NoInternals(spark.newSession())  # its own temp views
    assert parquet_file_schema(proxy, footer.path("orders")) is None

    inferred, jobs = jobs_in_group(
        spark, "test-catalog-inference-fallback", Catalog(proxy, SF_SMOKE).load_all
    )
    assert jobs == len(TABLES)
    for name in TABLES:
        assert inferred.file_schema(name) == footer.file_schema(name), name
        assert inferred.table(name).schema == footer.table(name).schema, name


def test_global_rank_takes_checkpoint_route_without_plan_access(spark):
    """with_global_rank on a plan-opaque frame must still produce exact
    single-window-identical ranks — via the materialize-and-count route,
    never an AttributeError and never a blind single-task sort."""
    from pyspark.sql.window import Window

    import bqfetch_spark.plans.ranks as ranks

    df = spark.createDataFrame(
        [(i * 7 % 53, i) for i in range(200)], "v long, k long"
    )
    got = {
        r.k: r.i
        for r in ranks.with_global_rank(
            _NoInternals(df), ["v", "k"], 4, rank_col="i"
        ).collect()
    }
    w = Window.orderBy("v", "k")
    want = {
        r.k: r.i for r in df.withColumn("i", F.row_number().over(w)).collect()
    }
    assert got == want


def test_cms_probe_raises_capability_error_without_jvm(spark, monkeypatch):
    import bqfetch_spark.compat as compat
    from bqfetch_spark.registry import all_queries

    monkeypatch.setattr(compat, "jvm_or_none", lambda s: None)
    with pytest.raises(RuntimeError, match="classic PySpark"):
        all_queries()["qx147_heavy_hitters_cms"].fn(spark, SF_SMOKE)


def test_arrow_batches_fallback_matches_classic_route(spark):
    """Without classic internals the Arrow stream takes the mapInArrow
    + toLocalIterator route and yields the same rows as the JVM-encoded
    classic route."""
    import pyarrow as pa

    import bqfetch_spark.compat as compat

    df = spark.read.parquet(os.path.join(SF_SMOKE, "events.parquet"))
    classic = pa.Table.from_batches(list(compat.arrow_batches(df)))
    fallback = pa.Table.from_batches(list(compat.arrow_batches(_NoInternals(df))))
    assert classic.num_rows == fallback.num_rows == df.count()
    assert classic.column_names == fallback.column_names
    key = [("event_id", "ascending")]
    assert fallback.cast(classic.schema).sort_by(key).equals(classic.sort_by(key))


def test_iter_batches_runs_no_python_worker_on_classic_route(spark, monkeypatch):
    """The classic route never calls mapInArrow: with it broken,
    iter_batches still delivers every row."""
    from bqfetch_spark.fetcher import Fetcher, TableRef

    def _boom(self, *args, **kwargs):
        raise AssertionError("mapInArrow reached on the classic route")

    ref = TableRef(SF_SMOKE, "orders")
    fetcher = Fetcher(spark)
    df = fetcher.table(ref)
    monkeypatch.setattr(type(df), "mapInArrow", _boom)
    rows = sum(b.num_rows for b in fetcher.iter_batches(ref, None, batch_rows=500))
    assert rows == df.count()


@pytest.mark.skipif(
    not os.environ.get("SPARK_REMOTE")
    or importlib.util.find_spec("grpc") is None,
    reason="Spark Connect smoke needs SPARK_REMOTE plus grpcio/protobuf, "
    "neither of which exists in this sandbox (no pip). On a Connect-enabled "
    "deployment: SPARK_REMOTE=sc://host pytest -k connect_smoke.",
)
def test_connect_smoke_twenty_queries():
    """The genuine end-to-end gate: registry imports and a 20-query
    subset (one per operator family, all compat-routed paths included)
    runs under a real Connect session with zero oracle changes."""
    from pyspark.sql import SparkSession

    from bqfetch_spark.registry import all_queries

    remote = SparkSession.builder.remote(os.environ["SPARK_REMOTE"]).getOrCreate()
    registry = all_queries()
    subset = [
        "q01_pricing_summary", "q02_distinct_values", "q04_filter_inlist",
        "q05_topk_orders", "q06_shipping_priority", "q07_fact_fact_join",
        "q08_semi_join", "q10_union_merge", "q13_rollup_revenue",
        "q15_approx_distinct", "q20_rank_orders", "q25_ntile_quartiles",
        "q30_tumbling_windows", "q31_sessionization", "q40_exact_dedup",
        "q41_text_quality", "q46_ngram_jaccard", "q50_cosine_topk",
        "q72_source_mixing", "q38_partition_pruned_scan",
    ]
    for name in subset:
        assert registry[name].fn(remote, SF_SMOKE).count() >= 0, name
