"""Lakehouse maintenance operators (operators/lakehouse.py): the
properties the oracle-parity hash can't see — physical layout effects
(partition pruning, file counts) and merge key-set semantics."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from bqfetch_spark.registry import all_queries
from tests.conftest import SF_SMOKE

REG = all_queries()


def test_q38_scan_is_partition_pruned(spark):
    """The day filter must land in PartitionFilters (directory-level
    pruning), not as a data filter over every file."""
    df = REG["q38_partition_pruned_scan"].fn(spark, SF_SMOKE)
    from bqfetch_spark.compat import formatted_plan

    plan = formatted_plan(df)
    assert "PartitionFilters" in plan
    assert "event_date" in plan.split("PartitionFilters", 1)[1].splitlines()[0]
    # prove the pruned scan equals the unpruned-filter spelling
    from bqfetch_spark.operators.lakehouse import layout_dir_for

    out_dir = layout_dir_for(SF_SMOKE)
    full = (
        spark.read.parquet(out_dir)
        .filter(F.col("event_date") == "2024-01-02")
        .count()
    )
    assert sum(r["n_events"] for r in df.collect()) == full


def test_q39_compaction_reduces_file_count(spark, tmp_path):
    """64 staged small files must bin-pack to ceil(bytes/target) — one
    file at fixture scale — with every byte of content preserved."""
    from bqfetch_spark.catalog import load_catalog
    from bqfetch_spark.operators.lakehouse import compact_parquet_dir

    staging = str(tmp_path / "staging")
    compacted = str(tmp_path / "compacted")
    ev = load_catalog(spark, SF_SMOKE).table("events")
    ev.repartition(64).write.mode("overwrite").parquet(staging)
    n_staged = len([f for f in os.listdir(staging) if f.endswith(".parquet")])
    assert n_staged == 64

    target = compact_parquet_dir(spark, staging, compacted)
    n_compacted = len([f for f in os.listdir(compacted) if f.endswith(".parquet")])
    assert n_compacted == target < n_staged

    fp = F.sum(F.xxhash64("event_id", "event_type").cast("decimal(38,0)")).alias("h")
    before = ev.select(fp).first()["h"]
    after = spark.read.parquet(compacted).select(fp).first()["h"]
    assert before == after


def test_q35_merge_key_semantics(spark):
    """Deleted keys gone, updated keys keep ONE row with the new
    image, inserted keys present, untouched keys byte-identical."""
    from bqfetch_spark.catalog import load_catalog

    base = load_catalog(spark, SF_SMOKE).table("customer")
    merged = REG["q35_cdc_merge"].fn(spark, SF_SMOKE)
    mod = F.col("c_custkey") % 10

    assert merged.filter(mod == 3).count() == 0  # deletes applied
    upd = merged.filter((mod == 4) & (F.col("c_custkey") < 1000000))
    n_upd_base = base.filter(mod == 4).count()
    assert upd.count() == n_upd_base
    assert upd.filter(F.col("c_mktsegment") != "MIGRATED").count() == 0
    n_ins = base.filter(mod == 5).count()
    assert merged.filter(F.col("c_custkey") >= 1000000).count() == n_ins
    # untouched rows pass through bit-identical
    untouched_base = base.filter(~mod.isin(3, 4))
    untouched_merged = merged.filter(
        ~mod.isin(3, 4, 5) | ((mod == 5) & (F.col("c_custkey") < 1000000))
    )
    assert untouched_base.exceptAll(untouched_merged).count() == 0


def test_q59_old_generation_files_not_rewritten(spark, tmp_path):
    """The point of mergeSchema evolution: generation-1 files must NOT
    contain the added column (history is never rewritten), yet the
    merged read surfaces it as NULL for exactly those rows."""
    import pyarrow.parquet as pq

    from bqfetch_spark.catalog import load_catalog

    ev = load_catalog(spark, SF_SMOKE).table("events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    gen1 = str(tmp_path / "gen=1")
    gen2 = str(tmp_path / "gen=2")
    cut = F.to_date(F.col("ts")) >= F.lit("2024-01-02").cast("date")
    ev.filter(~cut).write.parquet(gen1)
    ev.filter(cut).withColumn("quality_tier", F.lit("high")).write.parquet(gen2)

    g1_file = next(f for f in os.listdir(gen1) if f.endswith(".parquet"))
    g1_schema = pq.ParquetFile(os.path.join(gen1, g1_file)).schema_arrow
    assert "quality_tier" not in g1_schema.names

    merged = spark.read.option("mergeSchema", "true").parquet(str(tmp_path))
    n_gen1 = ev.filter(~cut).count()
    assert merged.filter(F.col("quality_tier").isNull()).count() == n_gen1
    assert merged.count() == ev.count()


def test_q35_anti_join_is_broadcast(spark):
    """The merge's touched-key set must join broadcast (the change set
    is the small side of a MERGE by construction)."""
    df = REG["q35_cdc_merge"].fn(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_q58_single_exchange(spark):
    """Both windows and the island groupBy partition on user_id, so
    the whole SCD2 plan must shuffle exactly once."""
    import re

    df = REG["q58_scd2_history"].fn(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1


def test_q58_islands_cover_every_event(spark):
    """SCD2 rows partition each user's timeline: n_events sums to the
    event count, versions are 1..n dense per user, and exactly one
    open (valid_to IS NULL) row per user."""
    from bqfetch_spark.catalog import load_catalog

    hist = REG["q58_scd2_history"].fn(spark, SF_SMOKE)
    ev = load_catalog(spark, SF_SMOKE).table("events")
    assert hist.agg(F.sum("n_events")).first()[0] == ev.count()
    open_rows = hist.filter(F.col("valid_to").isNull()).groupBy("user_id").count()
    assert open_rows.filter(F.col("count") != 1).count() == 0
    dense = hist.groupBy("user_id").agg(
        F.min("version").alias("lo"),
        F.max("version").alias("hi"),
        F.count(F.lit(1)).alias("n"),
    )
    assert dense.filter((F.col("lo") != 1) | (F.col("hi") != F.col("n"))).count() == 0


def _delta_available() -> bool:
    import importlib.util

    return importlib.util.find_spec("delta") is not None



@pytest.mark.skipif(
    not _delta_available(),
    reason="delta-spark not installed (no pip in this sandbox); the test "
    "pins the Delta MERGE contract wherever the package exists",
)
def test_q35_equivalent_to_delta_merge(spark, tmp_path):
    """Round-5 VERDICT #5: q35's anti-join+union spelling implements the
    I/O contract a real Delta MERGE compiles to. Where delta-spark is
    available, apply the SAME change set via ``DeltaTable.merge`` (plus
    the standalone insert append, since the change set's inserts carry
    fresh keys) and assert the resulting table is row-identical to
    q35's output."""
    from delta.tables import DeltaTable

    from bqfetch_spark.catalog import load_catalog
    from bqfetch_spark.registry import all_queries

    base = load_catalog(spark, SF_SMOKE).table("customer")
    path = str(tmp_path / "cust_delta")
    base.write.format("delta").save(path)

    mod = F.col("c_custkey") % 10
    updates = base.filter(mod == 4).select(
        "c_custkey",
        "c_name",
        "c_nationkey",
        (F.col("c_acctbal") + F.lit(100.0)).alias("c_acctbal"),
        F.lit("MIGRATED").alias("c_mktsegment"),
    )
    deletes = base.filter(mod == 3).select("c_custkey")
    inserts = base.filter(mod == 5).select(
        (F.col("c_custkey") + F.lit(1000000)).alias("c_custkey"),
        F.concat(
            F.lit("NEW#"), (F.col("c_custkey") + F.lit(1000000)).cast("string")
        ).alias("c_name"),
        "c_nationkey",
        F.lit(0.0).alias("c_acctbal"),
        F.lit("NEW").alias("c_mktsegment"),
    )

    tbl = DeltaTable.forPath(spark, path)
    (
        tbl.alias("t")
        .merge(updates.alias("s"), "t.c_custkey = s.c_custkey")
        .whenMatchedUpdateAll()
        .execute()
    )
    (
        tbl.alias("t")
        .merge(deletes.alias("s"), "t.c_custkey = s.c_custkey")
        .whenMatchedDelete()
        .execute()
    )
    inserts.write.format("delta").mode("append").save(path)

    got = spark.read.format("delta").load(path)
    want = all_queries()["q35_cdc_merge"].fn(spark, SF_SMOKE)
    cols = sorted(want.columns)
    assert sorted(map(tuple, got.select(*cols).collect())) == sorted(
        map(tuple, want.select(*cols).collect())
    )


def test_layout_dir_content_keyed_on_full_path():
    """Two fixture roots sharing a BASENAME must map to different
    layout cache dirs (round-7 fix: basename-keyed paths let two
    concurrent sessions interleave overwrite/read), and the same root
    must stay stable across spellings (trailing slash, abspath)."""
    from bqfetch_spark.operators.lakehouse import layout_dir_for

    a = layout_dir_for("/data/runA/sf0.01")
    b = layout_dir_for("/data/runB/sf0.01")
    assert a != b
    assert layout_dir_for("/data/runA/sf0.01/") == a
    assert f"u{os.getuid()}" in a


@pytest.mark.skipif(
    not _delta_available(),
    reason="delta-spark not installed (no pip in this sandbox); the test "
    "pins the Delta change-data-feed contract wherever the package exists",
)
def test_qx160_equivalent_to_delta_cdf(spark, tmp_path):
    """Round-6 VERDICT #1: qx160's full-outer-join diff recovers exactly
    the change set a real Delta change data feed records. Where
    delta-spark is available: materialize snapshot A as a Delta table
    with CDF enabled, apply qx160's B-derivation rules as genuine
    Delta DELETE / UPDATE / APPEND commits, read table_changes from
    version 1, and assert the netted feed (insert→added,
    delete→removed, update_postimage→changed) equals qx160's output."""
    from delta.tables import DeltaTable

    from bqfetch_spark.catalog import load_catalog
    from bqfetch_spark.registry import all_queries

    docs = load_catalog(spark, SF_SMOKE).table("documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    path = str(tmp_path / "docs_delta")
    (
        docs.write.format("delta")
        .option("delta.enableChangeDataFeed", "true")
        .save(path)
    )

    tbl = DeltaTable.forPath(spark, path)
    tbl.delete(F.col("doc_id") % 17 == 0)
    tbl.update(
        F.col("doc_id") % 17 == 1, {"n_chars": F.col("n_chars") + F.lit(1)}
    )
    (
        docs.filter(F.col("doc_id") % 17 == 2)
        .withColumn("doc_id", F.col("doc_id") + 1_000_000)
        .write.format("delta")
        .mode("append")
        .save(path)
    )

    feed = (
        spark.read.format("delta")
        .option("readChangeFeed", "true")
        .option("startingVersion", 1)
        .load(path)
        .filter(F.col("_change_type") != "update_preimage")
        .select(
            "doc_id",
            F.when(F.col("_change_type") == "insert", "added")
            .when(F.col("_change_type") == "delete", "removed")
            .otherwise("changed")
            .alias("change_type"),
        )
    )
    want = all_queries()["qx160_snapshot_diff"].fn(spark, SF_SMOKE)
    assert sorted(map(tuple, feed.collect())) == sorted(
        map(tuple, want.collect())
    )


def test_content_fingerprint_order_invariant_and_sensitive(spark):
    """qx230: the fingerprint must be invariant to partitioning/order
    (recompute over a reshuffled frame) and sensitive to any single
    changed cell."""
    from bqfetch_spark.catalog import load_catalog
    from bqfetch_spark.operators.lakehouse import qx230_content_fingerprint

    base = {
        r.table_name: (r.n_rows, r.content_fp)
        for r in qx230_content_fingerprint(spark, SF_SMOKE).collect()
    }
    assert set(base) == {"documents", "orders"}

    docs = load_catalog(spark, SF_SMOKE).table("documents")
    enc = F.concat_ws(
        "|",
        *[F.col(c).cast("string") for c in ["doc_id", "text", "lang", "source", "n_chars"]],
    )
    h = F.conv(F.substring(F.md5(enc), 1, 15), 16, 10).cast("bigint")

    def fp_of(df):
        row = df.select(h.alias("h")).agg(
            F.sum(F.col("h").cast("decimal(38,0)")).cast("string")
        ).collect()[0]
        return row[0]

    shuffled = docs.repartition(17, "lang")
    assert fp_of(shuffled) == base["documents"][1]

    mutated = docs.withColumn(
        "n_chars",
        F.when(F.col("doc_id") == 3, F.col("n_chars") + 1).otherwise(F.col("n_chars")),
    )
    assert fp_of(mutated) != base["documents"][1]


def _doc_fingerprint(df):
    enc = F.concat_ws(
        "|",
        *[F.col(c).cast("string") for c in ["doc_id", "text", "lang", "source", "n_chars"]],
    )
    h = F.conv(F.substring(F.md5(enc), 1, 15), 16, 10).cast("bigint")
    row = df.select(h.alias("h")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("h").cast("decimal(38,0)")).cast("string").alias("fp"),
    ).collect()[0]
    return (row["n"], row["fp"])


def test_time_travel_snapshots_are_immutable(spark, tmp_path):
    """commit/read_snapshot contract: every historical version reads
    back content-identical AFTER later commits — including after an
    overwrite replaced the table — and append commits are O(delta)
    metadata (they reference the parent's files, never rewrite them)."""
    import json

    from bqfetch_spark.catalog import load_catalog
    from bqfetch_spark.operators.lakehouse import (
        _manifest_path,
        commit_snapshot,
        read_snapshot,
        table_version,
    )

    docs = load_catalog(spark, SF_SMOKE).table("documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    half = docs.filter(F.col("doc_id") % 2 == 0)
    rest = docs.filter(F.col("doc_id") % 2 == 1)
    store = str(tmp_path / "tt")
    assert commit_snapshot(spark, store, half, mode="overwrite") == 1
    fp_v1 = _doc_fingerprint(read_snapshot(spark, store, 1))
    assert commit_snapshot(spark, store, rest, mode="append") == 2
    assert commit_snapshot(spark, store, half.limit(3), mode="overwrite") == 3
    assert table_version(store) == 3

    # v1 unchanged after append AND overwrite; v2 == full table
    assert _doc_fingerprint(read_snapshot(spark, store, 1)) == fp_v1
    assert _doc_fingerprint(read_snapshot(spark, store, 2)) == _doc_fingerprint(docs)
    assert read_snapshot(spark, store, 3).count() == 3
    # default = latest
    assert read_snapshot(spark, store).count() == 3

    # the append manifest references the parent's files verbatim
    with open(_manifest_path(store, 1)) as fh:
        v1_files = json.load(fh)["files"]
    with open(_manifest_path(store, 2)) as fh:
        v2 = json.load(fh)
    assert v2["mode"] == "append" and set(v1_files) <= set(v2["files"])

    with pytest.raises(KeyError):
        read_snapshot(spark, store, 99)


def test_commit_conflict_raises(spark, tmp_path):
    """Optimistic concurrency: a second committer racing to the same
    version must fail on the manifest rename, never corrupt history."""
    from bqfetch_spark.catalog import load_catalog
    from bqfetch_spark.operators.lakehouse import (
        _manifest_path,
        commit_snapshot,
    )

    docs = load_catalog(spark, SF_SMOKE).table("documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    ).limit(5)
    store = str(tmp_path / "tt")
    commit_snapshot(spark, store, docs)
    # simulate the race: v2's manifest appears between version pick and rename
    import json
    import os as _os

    path = _manifest_path(store, 2)
    _os.makedirs(_os.path.dirname(path), exist_ok=True)

    from bqfetch_spark.operators import lakehouse

    real_table_version = lakehouse.table_version

    def stale_version(table_dir):
        v = real_table_version(table_dir)
        with open(path, "w") as fh:
            json.dump({"version": 2, "files": []}, fh)
        return v

    lakehouse.table_version = stale_version
    try:
        with pytest.raises(RuntimeError, match="concurrent commit"):
            commit_snapshot(spark, store, docs)
    finally:
        lakehouse.table_version = real_table_version
    # the loser must NOT have overwritten the winner's manifest (os.link
    # EEXIST enforces this; a check-then-act os.replace would clobber it)
    with open(path) as fh:
        assert json.load(fh) == {"version": 2, "files": []}
    # and no temp manifest may be left behind
    mdir = _os.path.dirname(path)
    assert not [f for f in _os.listdir(mdir) if f.startswith(".v.")]


def test_optimize_commit_drops_file_count_and_keeps_history(spark, tmp_path):
    """qx255's layout claim: the OPTIMIZE commit must reference fewer
    files than the snapshot it compacts while both stay content-
    identical — and the pre-compaction manifest must remain readable."""
    from bqfetch_spark.catalog import load_catalog
    from bqfetch_spark.operators.lakehouse import (
        _read_manifest,
        commit_snapshot,
        read_snapshot,
    )

    docs = load_catalog(spark, SF_SMOKE).table("documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    store = str(tmp_path / "tt")
    # many small files: 8-way repartitioned commit
    commit_snapshot(spark, store, docs.repartition(8))
    fp1 = _doc_fingerprint(read_snapshot(spark, store, 1))
    commit_snapshot(spark, store, read_snapshot(spark, store, 1).coalesce(1))
    n1 = len(_read_manifest(store, 1)["files"])
    n2 = len(_read_manifest(store, 2)["files"])
    assert n2 < n1, (n1, n2)
    assert _doc_fingerprint(read_snapshot(spark, store, 2)) == fp1
    assert _doc_fingerprint(read_snapshot(spark, store, 1)) == fp1


def test_qx274_zorder_bounds_both_dimensions(spark):
    """The operator's reason to exist: Z-order's WORST dimension must
    beat the worst dimension of both alternatives (natural order prunes
    nothing; a single-key sort is perfect on its key and useless on the
    other), and per-dimension it must beat natural order in both."""
    from bqfetch_spark.operators.lakehouse import qx274_zorder_layout
    from tests.conftest import SF_CORRECT

    rows = {r.strategy: r for r in qx274_zorder_layout(spark, SF_CORRECT).collect()}
    nat, key, z = rows["natural"], rows["bykey"], rows["zorder"]
    assert nat.n_files == key.n_files == z.n_files  # same rows, same file size
    worst = lambda r: max(r.custkey_span_frac, r.date_span_frac)  # noqa: E731
    assert worst(z) < worst(nat)
    assert worst(z) < worst(key)
    assert z.custkey_span_frac < nat.custkey_span_frac
    assert z.date_span_frac < nat.date_span_frac
    assert key.custkey_span_frac < z.custkey_span_frac  # single-key is perfect on its key


def test_qx279_buckets_partition_the_table_exactly(spark):
    """The bucket census must be an exact partition of lineitem: row
    counts sum to the table count, key ranges are disjoint and strictly
    increasing (boundary-valued keys go left), bucket ids stay within
    [1, RANGE_BUCKETS], and no bucket hoards the table."""
    from bqfetch_spark.catalog import load_catalog
    from bqfetch_spark.operators.lakehouse import RANGE_BUCKETS, qx279_sort_range_planner
    from tests.conftest import SF_SMOKE

    rows = sorted(qx279_sort_range_planner(spark, SF_SMOKE).collect(), key=lambda r: r.bucket)
    total = load_catalog(spark, SF_SMOKE).table("lineitem").count()
    assert sum(r.n_rows for r in rows) == total
    assert all(1 <= r.bucket <= RANGE_BUCKETS for r in rows)
    for a, b in zip(rows, rows[1:]):
        assert a.max_key < b.min_key  # strictly increasing disjoint ranges
        assert a.min_key <= a.max_key
    assert len(rows) > RANGE_BUCKETS // 2  # sampling really did spread the key space
    assert max(r.row_frac for r in rows) < 0.5
    assert abs(sum(r.row_frac for r in rows) - 1.0) < 1e-4


def test_qx279_empty_sample_agrees_cross_engine(spark, tmp_path):
    """Regression for the empty-sample edge: build a lineitem whose
    rows ALL miss the 1/64 md5 sample (ids chosen so every row hash is
    above the threshold); both engines must put every row in bucket 1
    — DuckDB's list() over zero rows is NULL and needs the coalesce
    the oracle now carries."""
    import hashlib
    import os

    import duckdb

    from bqfetch_spark.catalog import TABLES
    from bqfetch_spark.operators.lakehouse import (
        RANGE_SAMPLE_THR,
        SORT_RANGE_ORACLE,
        qx279_sort_range_planner,
    )
    from tests.conftest import SF_SMOKE

    def h60(ok: int, ln: int) -> int:
        return int(hashlib.md5(f"{ok}:{ln}".encode()).hexdigest()[:15], 16)

    ids = [ok for ok in range(1, 4000) if h60(ok, 1) >= RANGE_SAMPLE_THR][:10]
    assert len(ids) == 10

    d = str(tmp_path / "sfempty")
    os.makedirs(d, exist_ok=True)
    for t in TABLES:
        if t != "lineitem":
            os.symlink(os.path.join(SF_SMOKE, f"{t}.parquet"), os.path.join(d, f"{t}.parquet"))
    spark.createDataFrame(
        [(ok, 1) for ok in ids], "l_orderkey long, l_linenumber int"
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(d, "lineitem.parquet"))

    rows = qx279_sort_range_planner(spark, d).collect()
    assert len(rows) == 1 and rows[0].bucket == 1 and rows[0].n_rows == 10

    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW lineitem AS SELECT * FROM read_parquet('{d}/lineitem.parquet/*.parquet')"
    )
    orc = con.sql(SORT_RANGE_ORACLE).fetchall()
    assert len(orc) == 1 and orc[0][0] == 1 and orc[0][1] == 10


def test_span_and_flag_reports_survive_empty_stores(spark, tmp_path):
    """Regression for the zero-contamination edge: a store whose waves
    produced nothing has no part files; the reports must return the
    empty frame the one-shot scans return, not raise on schema
    inference."""
    import os

    from bqfetch_spark.streaming.decontam import contamination_report
    from bqfetch_spark.streaming.spanmask import span_report

    d1 = str(tmp_path / "emptyspans")
    d2 = str(tmp_path / "emptyflags")
    os.makedirs(d1)
    os.makedirs(d2)
    assert span_report(spark, d1).collect() == []
    assert contamination_report(spark, d2).collect() == []
