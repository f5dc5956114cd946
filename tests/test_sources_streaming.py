"""Sources/sinks round-trips, pushdown proof, multimodal plumbing,
and the Structured Streaming tumbling-window pipeline."""

from __future__ import annotations

import os
import re

import pytest

from pyspark.sql import functions as F

from bqfetch_spark.catalog import load_catalog
from bqfetch_spark.compat import formatted_plan
from bqfetch_spark.sources.readers import pushed_filters, read_parquet
from bqfetch_spark.streaming.windows import run_to_memory, streaming_events, tumbling_counts_stream
from tests.conftest import SF_SMOKE


def test_parquet_pushdown_and_pruning(spark):
    df = read_parquet(spark, f"{SF_SMOKE}/lineitem.parquet")
    q = df.filter(F.col("l_orderkey") == 42).select("l_orderkey", "l_quantity")
    filters = pushed_filters(q)
    assert any("l_orderkey" in f for f in filters), f"no pushdown: {filters}"
    schema = re.search(r"ReadSchema: (\S+)", formatted_plan(q)).group(1)
    assert "l_quantity" in schema and "l_extendedprice" not in schema, schema


def test_partitioned_parquet_prunes(spark, tmp_path):
    orders = load_catalog(spark, SF_SMOKE).table("orders")
    path = str(tmp_path / "orders_part")
    orders.withColumn("status", F.col("o_orderstatus")).write.partitionBy("status").parquet(path)
    assert sorted(os.listdir(path) )[0].startswith("status=") or any(
        d.startswith("status=") for d in os.listdir(path)
    )
    back = read_parquet(spark, path).filter(F.col("status") == "F")
    # plan-level proof: the filter prunes DIRECTORIES (PartitionFilters),
    # it does not scan-and-discard
    plan = back._jdf.queryExecution().explainString(
        back.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "PartitionFilters" in plan and "status" in plan.split("PartitionFilters")[1][:200], plan
    assert back.count() == orders.filter(F.col("o_orderstatus") == "F").count()


def test_python_datasource_matches_parquet(spark, tmp_path):
    """The custom Python DataSource (chunked_source.py) must return the
    same rows as the built-in parquet reader, split into one partition
    per ROW-GROUP run (the atomic unit of parquet decode), with naive
    timestamps surfaced as the catalog's normalized TimestampType."""
    import pyarrow.parquet as pq

    from pyspark.sql.types import TimestampType

    from bqfetch_spark.sources.chunked_source import ChunkedParquetDataSource

    spark.dataSource.register(ChunkedParquetDataSource)
    # craft a 4-row-group file so partition planning has something to
    # split (the fixture files are single-row-group)
    src = f"{SF_SMOKE}/lineitem.parquet"
    p = str(tmp_path / "lineitem_rg.parquet")
    tbl = pq.read_table(src)
    pq.write_table(tbl, p, row_group_size=1500)  # 6000 rows -> 4 groups
    assert pq.ParquetFile(p).metadata.num_row_groups == 4

    df = (
        spark.read.format("bqfetch_chunked")
        .option("path", p)
        .option("rows_per_partition", "3000")  # 2 row groups per task
        .load()
    )
    ref = spark.read.parquet(p)
    assert df.rdd.getNumPartitions() == 2  # runs of [2, 2] row groups
    assert df.count() == ref.count() == tbl.num_rows
    assert [f.name for f in df.schema.fields] == [f.name for f in ref.schema.fields]
    assert isinstance(df.schema["l_shipdate"].dataType, TimestampType)
    a = df.filter(F.col("l_orderkey") == 7).orderBy("l_linenumber").drop("l_shipdate")
    b = ref.filter(F.col("l_orderkey") == 7).orderBy("l_linenumber").drop("l_shipdate")
    assert [tuple(r) for r in a.collect()] == [tuple(r) for r in b.collect()]


def test_python_datasource_filter_pushdown(spark):
    """Supported comparison/IN filters are evaluated INSIDE the source
    (no Filter node survives in the optimized plan); unsupported ones
    are retained by Spark and still correct."""
    from bqfetch_spark.sources.chunked_source import ChunkedParquetDataSource

    spark.dataSource.register(ChunkedParquetDataSource)
    p = f"{SF_SMOKE}/customer.parquet"
    df = spark.read.format("bqfetch_chunked").option("path", p).load()
    ref = spark.read.parquet(p)

    pushed = df.filter(
        (F.col("c_mktsegment") == "BUILDING") & (F.col("c_custkey") > 50)
    )
    plan = pushed._jdf.queryExecution().optimizedPlan().toString()
    assert "Filter" not in plan, plan  # fully pushed into the source
    want = ref.filter((F.col("c_mktsegment") == "BUILDING") & (F.col("c_custkey") > 50))
    assert pushed.count() == want.count() > 0

    mixed = df.filter(F.col("c_name").contains("25") & (F.col("c_custkey") > 10))
    plan = mixed._jdf.queryExecution().optimizedPlan().toString()
    assert "Filter" in plan  # the contains() predicate stays with Spark
    assert mixed.count() == ref.filter(
        F.col("c_name").contains("25") & (F.col("c_custkey") > 10)
    ).count()


def test_python_datasource_columns_projection(spark):
    """``columns`` option (Storage-API selected_fields parity):
    the source schema IS the projection — values match a parquet read
    of the same columns, order is honored, a pushed filter on a
    projected column still evaluates source-side, and an unknown
    column fails fast."""
    import pytest

    from bqfetch_spark.sources.chunked_source import ChunkedParquetDataSource

    spark.dataSource.register(ChunkedParquetDataSource)
    p = f"{SF_SMOKE}/customer.parquet"
    df = (
        spark.read.format("bqfetch_chunked")
        .option("path", p)
        .option("columns", "c_mktsegment,c_custkey")
        .load()
    )
    assert df.columns == ["c_mktsegment", "c_custkey"]
    ref = spark.read.parquet(p).select("c_mktsegment", "c_custkey")
    assert df.exceptAll(ref).count() == 0 and ref.exceptAll(df).count() == 0

    pushed = df.filter(F.col("c_custkey") > 50)
    plan = pushed._jdf.queryExecution().optimizedPlan().toString()
    assert "Filter" not in plan, plan  # restriction + projection compose
    assert pushed.count() == ref.filter(F.col("c_custkey") > 50).count() > 0

    with pytest.raises(Exception, match="columns not in parquet schema"):
        (
            spark.read.format("bqfetch_chunked")
            .option("path", p)
            .option("columns", "c_custkey,nope")
            .load()
        )


def test_python_datasource_write_roundtrip(spark, tmp_path):
    """The custom source's write path: task-staged part files published
    atomically on commit (no _staging residue), readable back through
    BOTH the same format and the built-in parquet reader; overwrite
    mode replaces prior parts instead of accumulating them."""
    import os

    from bqfetch_spark.sources.chunked_source import ChunkedParquetDataSource

    spark.dataSource.register(ChunkedParquetDataSource)
    nation = load_catalog(spark, SF_SMOKE).table("nation")
    out = str(tmp_path / "nation_out")

    # Python DataSources accept only append/overwrite save modes
    nation.repartition(4).write.format("bqfetch_chunked").option("path", out).mode(
        "append"
    ).save()
    assert not os.path.isdir(os.path.join(out, "_staging"))
    parts = [f for f in os.listdir(out) if f.endswith(".parquet")]
    assert len(parts) == 4  # one published file per non-empty task

    back_own = spark.read.format("bqfetch_chunked").option("path", out).load()
    back_ref = spark.read.parquet(out)
    want = sorted(tuple(r) for r in nation.collect())
    assert sorted(tuple(r) for r in back_own.collect()) == want
    assert sorted(tuple(r) for r in back_ref.collect()) == want

    # overwrite replaces, never accumulates
    nation.limit(5).repartition(1).write.format("bqfetch_chunked").option(
        "path", out
    ).mode("overwrite").save()
    again = spark.read.format("bqfetch_chunked").option("path", out).load()
    assert again.count() == 5
    assert len([f for f in os.listdir(out) if f.endswith(".parquet")]) == 1


def test_python_datasource_stream_replays_in_paced_batches(spark, tmp_path):
    """The same registered source serves readStream: row groups replay
    as paced micro-batches (groups_per_batch=2 over 4 groups -> 2
    non-empty batches), distributed one partition per row group, and
    the accumulated append output equals the batch read."""
    import pyarrow.parquet as pq

    from bqfetch_spark.sources.chunked_source import ChunkedParquetDataSource

    spark.dataSource.register(ChunkedParquetDataSource)
    p = str(tmp_path / "nation_rg.parquet")
    pq.write_table(pq.read_table(f"{SF_SMOKE}/nation.parquet"), p, row_group_size=7)
    n_groups = pq.ParquetFile(p).metadata.num_row_groups
    assert n_groups == 4  # 25 rows at 7/group

    stream = (
        spark.readStream.format("bqfetch_chunked")
        .option("path", p)
        .option("groups_per_batch", "2")
        .load()
    )
    # Python stream sources don't support Trigger.AvailableNow (Spark
    # falls back to one batch); drive a normal micro-batch trigger and
    # stop once the replay catches up. A batch's rows reach the memory
    # sink before its progress entry is posted, so wait on the progress
    # entries: stopping at the sink's count can drop the last entry.
    import time

    q = (
        stream.writeStream.format("memory")
        .queryName("pyds_replay_test")
        .outputMode("append")
        .trigger(processingTime="0 seconds")
        .start()
    )

    def progress():
        return [(pr["batchId"], pr["numInputRows"]) for pr in q.recentProgress]

    try:
        deadline = time.time() + 60
        while sum(n for _, n in progress()) < 25:
            assert time.time() < deadline, f"replay did not catch up: {progress()}"
            time.sleep(0.5)
    finally:
        q.stop()
    # pacing: 4 groups at 2/batch -> at least 2 data-bearing batches
    data_batches = [n for _, n in progress() if n > 0]
    assert len(data_batches) >= 2, progress()
    assert all(n <= 14 for n in data_batches), progress()  # <=2 groups x 7 rows
    ref = spark.read.parquet(p)
    got = sorted(r.n_name for r in spark.table("pyds_replay_test").collect())
    assert got == sorted(r.n_name for r in ref.collect())


def test_python_datasource_stream_restart_never_reemits(spark, tmp_path):
    """Offset-protocol pin for checkpoint recovery with the durable
    sidecar explicitly DISABLED (durable_state=false): a fresh reader
    instance (restart) knows nothing of the committed high-water, so
    its first latestOffset may regress — but partitions() must ratchet
    to the highest start Spark passes and NEVER re-emit a committed
    unit. Also: a directory of part files streams like a single file."""
    import pyarrow.parquet as pq

    from bqfetch_spark.sources.chunked_source import ChunkedParquetStreamReader

    d = tmp_path / "parts"
    d.mkdir()
    tbl = pq.read_table(f"{SF_SMOKE}/nation.parquet")
    pq.write_table(tbl.slice(0, 13), str(d / "a.parquet"), row_group_size=7)  # 2 groups
    pq.write_table(tbl.slice(13), str(d / "b.parquet"), row_group_size=7)  # 2 groups

    opts = {"path": str(d), "groups_per_batch": "2", "durable_state": "false"}
    run1 = ChunkedParquetStreamReader(opts)
    assert len(run1._units) == 4  # directory flattened to (file, rg) units
    assert run1.latestOffset() == {"rg": 2}
    first = run1.partitions({"rg": 0}, {"rg": 2})
    assert [(p.path.endswith("a.parquet"), p.row_groups) for p in first] == [
        (True, (0,)),
        (True, (1,)),
    ]
    run1.commit({"rg": 2})

    # crash + restart after committing {"rg": 2}: fresh instance
    run2 = ChunkedParquetStreamReader(opts)
    regressed = run2.latestOffset()  # pacing counter reset -> may regress
    assert regressed == {"rg": 2}
    # Spark hands the COMMITTED offset as start; nothing may re-emit
    parts = run2.partitions({"rg": 2}, regressed)
    assert [p.row_groups for p in parts] == [()]  # empty batch, no re-read
    nxt = run2.latestOffset()
    assert nxt == {"rg": 4}
    parts = run2.partitions({"rg": 2}, nxt)
    # only the uncommitted units (file b), never a unit below the floor
    assert [(p.path.endswith("b.parquet"), p.row_groups) for p in parts] == [
        (True, (0,)),
        (True, (1,)),
    ]
    # rows across both runs cover the table exactly once
    got = []
    for p in first + parts:
        got.extend(b.num_rows for b in run2.read(p))
    assert sum(got) == tbl.num_rows


def test_python_datasource_stream_durable_highwater_survives_double_restart(
    spark, tmp_path
):
    """Durable high-water is DEFAULT-ON (no state_dir option): across
    TWO crash/restarts a fresh reader's latestOffset never regresses
    below the durably committed offset (sidecar derived from the data
    path under the temp dir), so a regressed entry can never enter
    Spark's offset log and committed row groups are never re-emitted —
    the round-4 advice scenario (in-memory floor covers only one
    restart) closed. Every emitted unit across all three incarnations
    covers the table exactly once."""
    import pyarrow.parquet as pq

    from bqfetch_spark.sources.chunked_source import ChunkedParquetStreamReader

    d = tmp_path / "parts"
    d.mkdir()
    tbl = pq.read_table(f"{SF_SMOKE}/nation.parquet")
    pq.write_table(tbl.slice(0, 13), str(d / "a.parquet"), row_group_size=7)  # 2 groups
    pq.write_table(tbl.slice(13), str(d / "b.parquet"), row_group_size=7)  # 2 groups

    opts = {"path": str(d), "groups_per_batch": "1"}
    run1 = ChunkedParquetStreamReader(opts)
    run1.initialOffset()  # fresh query: Spark calls this exactly once
    assert run1.latestOffset() == {"rg": 1}
    emitted = run1.partitions({"rg": 0}, {"rg": 1})
    run1.commit({"rg": 1})
    assert run1.latestOffset() == {"rg": 2}
    emitted += run1.partitions({"rg": 1}, {"rg": 2})
    run1.commit({"rg": 2})

    # crash #1: a recovered query re-plans its last logged batch before
    # it asks for an offset (Spark 4.1 call order); the fresh instance
    # takes its floor from the sidecar there, so even a regressed logged
    # range re-emits nothing, and pacing resumes ABOVE the committed
    # high-water, never below it
    run2 = ChunkedParquetStreamReader(opts)
    assert [p.row_groups for p in run2.partitions({"rg": 0}, {"rg": 2})] == [()]
    off = run2.latestOffset()
    assert off == {"rg": 3}  # min(4, durable 2 + 1), not a regressed 1
    emitted += run2.partitions({"rg": 2}, off)
    run2.commit(off)

    # crash #2: same property again (this is the double-restart that
    # re-emitted with only the in-memory ratchet)
    run3 = ChunkedParquetStreamReader(opts)
    assert [p.row_groups for p in run3.partitions({"rg": 1}, {"rg": 3})] == [()]
    off = run3.latestOffset()
    assert off == {"rg": 4}
    emitted += run3.partitions({"rg": 3}, off)
    run3.commit(off)
    assert run3.latestOffset() == {"rg": 4}  # caught up, no further data

    seen = [(p.path.rsplit("/", 1)[-1], p.row_groups) for p in emitted]
    assert sorted(seen) == [
        ("a.parquet", (0,)),
        ("a.parquet", (1,)),
        ("b.parquet", (0,)),
        ("b.parquet", (1,)),
    ]
    rows = sum(b.num_rows for p in emitted for b in run3.read(p))
    assert rows == tbl.num_rows


def test_python_datasource_stream_fresh_query_resets_durable_floor(tmp_path):
    """A brand-new query over a previously streamed path must replay
    from zero at its own pace: Spark calls initialOffset() only on a
    fresh checkpoint, right after its first latestOffset(), and that
    hook resets the path-derived sidecar — otherwise a dead query's
    durable floor would silently swallow the new query's data, and a
    first offset paced from it would put every unit up to it into one
    batch. A distinct stream_id keys a distinct sidecar (concurrent
    queries)."""
    import pyarrow.parquet as pq

    from bqfetch_spark.sources.chunked_source import ChunkedParquetStreamReader

    p = str(tmp_path / "nation.parquet")
    pq.write_table(pq.read_table(f"{SF_SMOKE}/nation.parquet"), p, row_group_size=7)

    opts = {"path": p, "groups_per_batch": "2"}
    run1 = ChunkedParquetStreamReader(opts)
    run1.initialOffset()
    run1.partitions({"rg": 0}, run1.latestOffset())
    run1.commit({"rg": 2})  # durable floor now 2

    # crash recovery (no initialOffset; Spark re-plans the last logged
    # batch first): floor honored
    recovered = ChunkedParquetStreamReader(opts)
    recovered.partitions({"rg": 2}, {"rg": 2})
    assert recovered.latestOffset() == {"rg": 4}

    # fresh query (Spark 4.1 asks latestOffset, then initialOffset):
    # sidecar reset, replay from 0, one pace at a time
    fresh = ChunkedParquetStreamReader(opts)
    assert fresh.latestOffset() == {"rg": 2}
    assert fresh.initialOffset() == {"rg": 0}
    parts = fresh.partitions({"rg": 0}, {"rg": 2})
    assert [pt.row_groups for pt in parts] == [(0,), (1,)]

    # distinct stream_id -> independent sidecar, unaffected by run1
    other = ChunkedParquetStreamReader({**opts, "stream_id": "b"})
    assert other.latestOffset() == {"rg": 2}


def test_video_frame_sampling_walks_real_boundaries():
    """sample_video_frames must find frame boundaries from the BMP
    size fields alone — mixed frame sizes parse correctly, the stride
    is inclusive of frame 0, and corrupt magic / truncation raise."""
    import pytest

    from bqfetch_spark.multimodal import encode_bmp, sample_video_frames

    payload = encode_bmp(4, 3) * 5
    got = sample_video_frames(payload, stride=2)
    assert got["n_frames"] == 5 and got["n_sampled"] == 3  # frames 0,2,4
    assert (got["frame_w"], got["frame_h"]) == (4, 3)
    assert got["total_bytes"] == len(payload)
    assert got["frame_bytes"] * 5 == len(payload)

    with pytest.raises(ValueError, match="bad frame magic"):
        sample_video_frames(b"XX" + payload)
    with pytest.raises(ValueError, match="trailing bytes"):
        sample_video_frames(payload[:-4])  # truncated final frame


def test_multimodal_decode_parses_real_headers():
    import pytest

    from bqfetch_spark.multimodal import decode_media, encode_bmp, encode_wav

    img = decode_media(encode_bmp(33, 21))
    assert (img["kind"], img["width"], img["height"], img["bpp"]) == ("image", 33, 21, 24)
    wav = decode_media(encode_wav(16000, 2, 16000))
    assert (wav["kind"], wav["sample_rate"], wav["channels"]) == ("audio", 16000, 2)
    assert wav["duration_ms"] == 1000  # 16000 samples at 16 kHz
    with pytest.raises(ValueError):
        decode_media(b"xxxx not a media payload")


def test_streaming_tumbling_matches_batch(spark):
    ev_stream = streaming_events(spark, SF_SMOKE)
    result = run_to_memory(tumbling_counts_stream(ev_stream), "stream_tumbling_test")
    batch = (
        load_catalog(spark, SF_SMOKE)
        .table("events")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
    )
    s = {(r.window_start, r.event_type): r.n_events for r in result.collect()}
    b = {(r.window_start, r.event_type): r.n_events for r in batch.collect()}
    assert s == b


def test_stream_stream_join_matches_across_microbatches(spark, tmp_path):
    """q97's stream-stream interval join must hold a click in the join
    state store until its purchase arrives in a LATER micro-batch (two
    files, maxFilesPerTrigger=1), and must not match outside the
    horizon. Append-mode output over the bounded replay equals the
    batch interval self-join."""
    import datetime

    from bqfetch_spark.streaming.joins import click_purchase_join_stream
    from bqfetch_spark.streaming.windows import run_to_memory

    t0 = datetime.datetime(2025, 3, 1, 12, 0, 0)
    schema = (
        "event_id bigint, ts timestamp, user_id bigint, event_type string"
    )

    def ev(eid, minutes, user, etype):
        return (eid, t0 + datetime.timedelta(minutes=minutes), user, etype)

    # batch 1: user 1 clicks; user 2 clicks + purchases in-batch
    # batch 2: user 1 purchases 40 min after the click (cross-batch
    #          match, inside 1 h); user 2 purchases again at +90 min
    #          (outside the horizon of the t0 click — no pair)
    spark.createDataFrame(
        [ev(1, 0, 1, "click"), ev(2, 0, 2, "click"), ev(3, 5, 2, "purchase")], schema
    ).coalesce(1).write.parquet(str(tmp_path / "b1"))
    spark.createDataFrame(
        [ev(4, 40, 1, "purchase"), ev(5, 90, 2, "purchase")], schema
    ).coalesce(1).write.parquet(str(tmp_path / "b2"))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "*.parquet")
        .option("recursiveFileLookup", "true")
        .parquet(str(tmp_path))
    )
    result = run_to_memory(
        click_purchase_join_stream(stream), "stream_join_xbatch_test", output_mode="append"
    )
    got = {(r.click_id, r.purchase_id) for r in result.collect()}
    # cross-batch pair (1→4) present; in-batch pair (2→3) present;
    # out-of-horizon (2→5) absent
    assert got == {(1, 4), (2, 3)}
    lag = {r.purchase_id: r.us_from_click for r in result.collect()}
    assert lag[4] == 40 * 60 * 1_000_000 and lag[3] == 5 * 60 * 1_000_000


def test_rollup_maintenance_upserts_across_waves(spark, tmp_path):
    """q98's store must equal the one-shot batch rollup when ingest is
    sliced into THREE waves that revisit the same hours AND days (the
    upsert path, not just the first-write path), and a wave must only
    rewrite the day partitions it touches — a day another wave owns
    keeps its exact files (mtime-pinned)."""
    import datetime
    import os

    from bqfetch_spark.streaming.rollup import upsert_rollup

    t0 = datetime.datetime(2025, 3, 1, 12, 0, 0)
    schema = "ts timestamp, event_type string, value double"

    def ev(minutes, etype, value):
        return (t0 + datetime.timedelta(minutes=minutes), etype, value)

    day = 24 * 60
    waves = [
        [ev(0, "click", 1.5), ev(10, "click", 2.0), ev(70, "view", 3.0)],
        # revisits both day-1 hours, opens day 2
        [ev(20, "click", 0.25), ev(80, "view", 1.0), ev(day, "view", 4.0)],
        [ev(2 * day, "purchase", 9.0)],  # brand-new day only
    ]
    store = str(tmp_path / "store")
    mtimes_by_wave = []
    for i, wave in enumerate(waves):
        upsert_rollup(spark, spark.createDataFrame(wave, schema), store, batch_id=i)
        mtimes_by_wave.append(
            {
                d: os.path.getmtime(os.path.join(store, d))
                for d in os.listdir(store)
                if d.startswith("day=")
            }
        )
    assert set(mtimes_by_wave[-1]) == {"day=20250301", "day=20250302", "day=20250303"}
    # wave 3 touched only day 3: days 1/2 kept their wave-2 files
    for d in ("day=20250301", "day=20250302"):
        assert mtimes_by_wave[2][d] == mtimes_by_wave[1][d]

    from bqfetch_spark.streaming.rollup import read_rollup

    got = {
        (r.bucket_start, r.event_type): (r.n_events, float(r.sum_value))
        for r in read_rollup(spark, store).collect()
    }
    batch = (
        spark.createDataFrame([e for w in waves for e in w], schema)
        .groupBy(F.date_trunc("hour", "ts").alias("bucket_start"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum(F.col("value").cast("decimal(18,6)")).alias("s"))
    )
    want = {(r.bucket_start, r.event_type): (r.n, float(r.s)) for r in batch.collect()}
    assert got == want


def test_rollup_null_ts_bucket_merges_across_waves(spark, tmp_path):
    """NULL-ts events land in the __HIVE_DEFAULT_PARTITION__ day; a
    later wave touching the NULL bucket must MERGE with (not replace)
    the stored NULL-bucket partials — round-4 advice: the old probe
    looked for a literal 'hr=None' path, never matched the hive
    default directory, and silently dropped NULL-bucket history."""
    import datetime

    from bqfetch_spark.streaming.rollup import upsert_rollup

    schema = "ts timestamp, event_type string, value double"
    t0 = datetime.datetime(2025, 3, 1, 12, 0, 0)
    waves = [
        [(None, "click", 1.0), (t0, "click", 2.0)],
        [(None, "click", 10.0)],  # revisits ONLY the NULL bucket
    ]
    store = str(tmp_path / "store")
    for i, wave in enumerate(waves):
        upsert_rollup(spark, spark.createDataFrame(wave, schema), store, batch_id=i)
    from bqfetch_spark.streaming.rollup import read_rollup

    rows = {
        (r.bucket_start, r.event_type): (r.n_events, float(r.sum_value))
        for r in read_rollup(spark, store).collect()
    }
    assert rows[(None, "click")] == (2, 11.0)
    assert rows[(t0, "click")] == (1, 2.0)


def test_rollup_upsert_retry_and_compaction(spark, tmp_path):
    """foreachBatch retry safety for the rollup store: re-running a
    wave with the SAME batch_id must leave every total unchanged (the
    old read-merge-rewrite store double-counted — round-6 redesign to
    append-only partials), and compact_rollup must fold partials
    without changing the merged view."""
    import datetime

    from bqfetch_spark.streaming.rollup import (
        compact_rollup,
        read_rollup,
        upsert_rollup,
    )

    schema = "ts timestamp, event_type string, value double"
    t0 = datetime.datetime(2025, 3, 1, 12, 0, 0)
    w1 = [(t0, "click", 1.5), (None, "view", 3.0)]
    w2 = [(t0, "click", 0.5)]
    store = str(tmp_path / "store")
    upsert_rollup(spark, spark.createDataFrame(w1, schema), store, batch_id=0)
    upsert_rollup(spark, spark.createDataFrame(w2, schema), store, batch_id=1)
    # simulated crash + re-run of micro-batch 1
    upsert_rollup(spark, spark.createDataFrame(w2, schema), store, batch_id=1)

    def view():
        return {
            (r.bucket_start, r.event_type): (r.n_events, float(r.sum_value))
            for r in read_rollup(spark, store).collect()
        }

    want = {(t0, "click"): (2, 2.0), (None, "view"): (1, 3.0)}
    assert view() == want
    compact_rollup(spark, store)
    assert view() == want  # folding partials is value-neutral
    n_rows = spark.read.parquet(store).count()
    assert n_rows == 2  # one partial row per bucket after compaction


def test_token_quota_state_carries_across_microbatches(spark, tmp_path):
    """q100's budget counter must persist in GroupState across waves:
    two doc_id-ranged files arrive as separate micro-batches, and the
    admitted set equals the one-shot per-source cumulative-sum prefix —
    including a source whose budget fills mid-run and admits nothing
    afterwards."""
    from pyspark.sql.window import Window

    from bqfetch_spark.streaming.quota import (
        TOKEN_BUDGET_PER_SOURCE,
        enforce_quota_stream,
        with_token_counts,
    )
    from bqfetch_spark.streaming.windows import run_to_memory

    docs = load_catalog(spark, SF_SMOKE).table("documents")
    lo = docs.filter(F.col("doc_id") < 250)
    hi = docs.filter(F.col("doc_id") >= 250)
    lo.coalesce(1).write.parquet(str(tmp_path / "w1"))
    hi.coalesce(1).write.parquet(str(tmp_path / "w2"))

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "*.parquet")
        .option("recursiveFileLookup", "true")
        .parquet(str(tmp_path))
    )
    result = run_to_memory(
        enforce_quota_stream(stream), "quota_xbatch_test", output_mode="append"
    )

    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    want_df = (
        with_token_counts(docs)
        .withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .filter(F.col("cum_tokens") <= TOKEN_BUDGET_PER_SOURCE)
    )
    got = {tuple(r) for r in result.collect()}
    want = {tuple(r) for r in want_df.select(*result.columns).collect()}
    assert got == want and len(got) > 0
    # wave split actually exercised state carry: some admissions in
    # each wave's doc_id range
    ids = {r[0] for r in got}
    assert any(i < 250 for i in ids) and any(i >= 250 for i in ids)


def test_streaming_dedup_matches_batch(spark):
    """q70: doubled delivery through dropDuplicatesWithinWatermark must
    reproduce the batch table exactly once per event_id."""
    from bqfetch_spark.registry import all_queries

    result = all_queries()["q70_streaming_dedup"].fn(spark, SF_SMOKE)
    batch = load_catalog(spark, SF_SMOKE).table("events")
    assert result.count() == batch.count()
    s = {r.event_id for r in result.collect()}
    b = {r.event_id for r in batch.select("event_id").collect()}
    assert s == b


def test_streaming_incremental_dedup_matches_batch(spark):
    """q71's foreachBatch + fingerprint-store topology must produce
    exactly q66's one-shot batch result (same split, same keep rule)."""
    from bqfetch_spark.registry import all_queries

    reg = all_queries()
    streamed = reg["q71_streaming_incremental_dedup"].fn(spark, SF_SMOKE)
    batch = reg["q66_incremental_dedup"].fn(spark, SF_SMOKE)
    s = {tuple(r) for r in streamed.collect()}
    b = {tuple(r) for r in batch.collect()}
    assert s == b


def test_multimodal_transform_samples_real_pixels():
    """resize_bmp must SAMPLE the source pixels (nearest-neighbor), and
    downsample_wav must keep exactly every 2nd frame — asserted on
    patterned payloads where every pixel/sample value is distinct."""
    import struct

    from bqfetch_spark.multimodal import decode_media, downsample_wav, encode_bmp, encode_wav, resize_bmp

    # patterned 6x4 BMP: pixel (x, y) carries (v, v+1, v+2), v = x*7 + y*13
    w, h = 6, 4
    b = bytearray(encode_bmp(w, h))
    stride = (w * 3 + 3) // 4 * 4
    for y in range(h):
        for x in range(w):
            v = (x * 7 + y * 13) % 256
            off = 54 + y * stride + x * 3
            b[off : off + 3] = bytes([v, (v + 1) % 256, (v + 2) % 256])
    out = resize_bmp(bytes(b), 3, 2)
    meta = decode_media(out)
    assert (meta["width"], meta["height"]) == (3, 2)
    out_stride = (3 * 3 + 3) // 4 * 4
    for y2 in range(2):
        for x2 in range(3):
            sx, sy = x2 * w // 3, y2 * h // 2
            v = (sx * 7 + sy * 13) % 256
            off = 54 + y2 * out_stride + x2 * 3
            assert out[off : off + 3] == bytes([v, (v + 1) % 256, (v + 2) % 256]), (x2, y2)

    # patterned mono WAV: sample i = i*1000; factor-2 keeps 0, 2, 4
    wav = bytearray(encode_wav(8000, 1, 6))
    for i in range(6):
        struct.pack_into("<h", wav, 44 + i * 2, i * 1000)
    ds = downsample_wav(bytes(wav), 2)
    dmeta = decode_media(ds)
    assert dmeta["sample_rate"] == 4000 and dmeta["channels"] == 1
    kept = [struct.unpack_from("<h", ds, 44 + i * 2)[0] for i in range(3)]
    assert kept == [0, 2000, 4000]


def test_watermark_drops_late_rows_in_append_mode(spark, tmp_path):
    """The watermark contract itself: a straggler arriving below the
    operative watermark must be dropped by the stateful aggregation,
    and append mode must emit each finalized window EXACTLY once.
    Batch 1 advances event time to 13:00 (watermark 12:50); batch 2 is
    a propagation batch (Spark applies the late-record filter with the
    PREVIOUS batch's operative watermark, one batch behind eviction —
    measured via numRowsDroppedByWatermark); batch 3 then delivers a
    12:05 straggler for the long-closed 12:00 window. If the straggler
    were admitted it would re-open the evicted window state and append
    mode would emit a DUPLICATE (12:00, 1) row — so asserting exactly
    one finalized row proves the drop."""
    import datetime

    t = lambda h, m: datetime.datetime(2025, 3, 1, h, m)  # noqa: E731
    schema = "user_id bigint, ts timestamp"
    for i, rows in enumerate(
        [
            [(1, t(12, 0)), (1, t(13, 0))],  # on-time; advances watermark
            [(1, t(13, 1))],  # propagation batch: filter catches up
            [(1, t(12, 5))],  # straggler, far below watermark 12:50
        ]
    ):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(tmp_path / f"batch{i}")
        )
        import time

        time.sleep(1.1)  # distinct mtimes keep file->micro-batch order
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "*.parquet")
        .option("recursiveFileLookup", "true")
        .parquet(str(tmp_path))
    )
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "10 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "n")
    )
    result = run_to_memory(agg, "watermark_drop_test", output_mode="append")
    rows = [(r.window_start, r.n) for r in result.collect()]
    # exactly ONE finalized row: the 12:00 window with only its on-time
    # event; the straggler neither incremented it nor re-opened it, and
    # the 13:00/13:01 window never finalized inside the bounded replay
    assert rows == [(t(12, 0), 1)], rows


def test_sorted_write_layout_enables_rowgroup_skipping(spark, tmp_path):
    """Sort-clustered writes are the file-level analog of q38's
    partition pruning: repartitionByRange + sortWithinPartitions on the
    filter key gives every output file a TIGHT, disjoint min/max band
    in its parquet footer, so a point/range predicate can skip all but
    one file's row groups on statistics alone. An unsorted layout
    scatters the key across every file (all bands overlap the filter),
    which is why sorting on the dominant filter column matters at
    100 TB. Verified from the actual footers via pyarrow."""
    import pyarrow.parquet as pq_meta

    ev = load_catalog(spark, SF_SMOKE).table("events")
    sorted_dir = str(tmp_path / "sorted")
    shuffled_dir = str(tmp_path / "shuffled")
    (
        ev.repartitionByRange(4, "user_id")
        .sortWithinPartitions("user_id")
        .write.parquet(sorted_dir)
    )
    ev.repartition(4).write.parquet(shuffled_dir)

    def bands(d):
        out = []
        for f in os.listdir(d):
            if not f.endswith(".parquet"):
                continue
            md = pq_meta.ParquetFile(os.path.join(d, f)).metadata
            idx = md.schema.to_arrow_schema().get_field_index("user_id")
            los, his = [], []
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                los.append(st.min)
                his.append(st.max)
            out.append((min(los), max(his)))
        return sorted(out)

    probe = 7  # a mid-domain user
    sorted_hits = [1 for lo, hi in bands(sorted_dir) if lo <= probe <= hi]
    shuffled_hits = [1 for lo, hi in bands(shuffled_dir) if lo <= probe <= hi]
    # sorted: exactly one file's band can contain the probe (disjoint
    # ranges); shuffled: the key spans every file, nothing is skippable
    assert sum(sorted_hits) == 1, bands(sorted_dir)
    assert sum(shuffled_hits) == 4, bands(shuffled_dir)


def test_token_quota_state_survives_checkpoint_restart(spark, tmp_path):
    """Stronger than cross-micro-batch carry: the budget counter must
    survive a full query STOP + RESTART from the same checkpoint (state
    store recovery). Wave 1 runs to completion in query #1; wave 2
    arrives while nothing is running; query #2 (same checkpoint) must
    admit exactly the continuation of the global cumulative-sum prefix
    — double-counting (state lost) or over-admission (state reset)
    both break the equality."""
    from pyspark.sql.window import Window

    from bqfetch_spark.streaming.quota import (
        TOKEN_BUDGET_PER_SOURCE,
        enforce_quota_stream,
        with_token_counts,
    )

    docs = load_catalog(spark, SF_SMOKE).table("documents")
    src = tmp_path / "waves"
    ckpt = str(tmp_path / "ckpt")
    src.mkdir()
    docs.filter(F.col("doc_id") < 250).coalesce(1).write.parquet(str(src / "w1"))

    sink = str(tmp_path / "admitted")

    def run_once():
        # file sink, not memory: the memory sink refuses checkpoint
        # recovery, and a restartable sink is the point of the test
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", "1")
            .option("pathGlobFilter", "*.parquet")
            .option("recursiveFileLookup", "true")
            .parquet(str(src))
        )
        q = (
            enforce_quota_stream(stream)
            .writeStream.format("parquet")
            .option("path", sink)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    # query #1 is fully stopped; wave 2 lands; query #2 recovers state
    docs.filter(F.col("doc_id") >= 250).coalesce(1).write.parquet(str(src / "w2"))
    run_once()
    got = {tuple(r) for r in spark.read.parquet(sink).collect()}

    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    want_df = (
        with_token_counts(docs)
        .withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .filter(F.col("cum_tokens") <= TOKEN_BUDGET_PER_SOURCE)
    )
    want = {
        tuple(r)
        for r in want_df.select("doc_id", "source", "n_tokens", "cum_tokens").collect()
    }
    assert got == want and len(got) > 0
    # both runs contributed admissions (the budget spans the wave cut)
    ids = {t[0] for t in got}
    assert any(i < 250 for i in ids) and any(i >= 250 for i in ids)


def test_incremental_dedup_batch_retry_is_idempotent(spark, tmp_path):
    """foreachBatch side effects are at-least-once: Spark re-runs a
    micro-batch whose store append completed but whose sink write (or
    offset commit) did not. The batch_id-aware anti-join must make the
    RETRY recompute the SAME survivor set — the original spelling saw
    the wave's own fingerprints and returned 0 survivors, silently
    losing the wave (round-6 fix)."""
    from bqfetch_spark.streaming.incremental import (
        build_fingerprint_store,
        incremental_dedup_batch,
    )

    docs = load_catalog(spark, SF_SMOKE).table("documents")
    store = str(tmp_path / "fp_store")
    build_fingerprint_store(docs.filter(F.col("doc_id") % 10 < 8), store)
    wave = docs.filter(F.col("doc_id") % 10 >= 8)

    first = {r.doc_id for r in incremental_dedup_batch(spark, wave, store, batch_id=7).collect()}
    assert len(first) > 0
    # simulated crash-after-store-append: same batch_id runs again
    retry = {r.doc_id for r in incremental_dedup_batch(spark, wave, store, batch_id=7).collect()}
    assert retry == first
    # a LATER batch still sees this wave's fingerprints as history
    later = {r.doc_id for r in incremental_dedup_batch(spark, wave, store, batch_id=8).collect()}
    assert later == set()


def test_incremental_neardup_matches_oneshot_and_survives_retry(spark, tmp_path):
    """Three doc_id-split waves through an initially-empty band store
    must reproduce q47's one-shot pair set EXACTLY — and a foreachBatch
    retry (same wave re-run, store already holding its rows) must leave
    the distinct'd union unchanged: the store read excludes the wave's
    own ingest_batch, and any extra pairs a LATE retry emits (vs waves
    committed after it) are pairs those waves already produced."""
    import os
    from functools import reduce

    from pyspark.sql import functions as F

    from bqfetch_spark.catalog import load_catalog
    from bqfetch_spark.operators.llm_pipeline import q47_minhash_lsh_pairs
    from bqfetch_spark.streaming.neardup import build_band_store, neardup_batch
    from tests.conftest import SF_CORRECT

    store = os.path.join(str(tmp_path), "band_store")
    docs = load_catalog(spark, SF_CORRECT).table("documents")
    build_band_store(docs.limit(0), store)

    waves = []
    for wave_id in range(3):
        wave = docs.filter(F.col("doc_id") % 3 == wave_id)
        waves.append(neardup_batch(spark, wave, store, batch_id=wave_id))
    inc = reduce(lambda a, b: a.unionByName(b), waves).distinct()
    inc_set = {(r.doc_a, r.doc_b, r.est_jaccard) for r in inc.collect()}
    one_set = {
        (r.doc_a, r.doc_b, r.est_jaccard)
        for r in q47_minhash_lsh_pairs(spark, SF_CORRECT).collect()
    }
    assert inc_set == one_set
    assert inc_set  # planted near-dups ⇒ non-empty

    # late retry of wave 1: the union must not change
    retry = neardup_batch(
        spark, docs.filter(F.col("doc_id") % 3 == 1), store, batch_id=1
    )
    retry_union = (
        waves[0].unionByName(retry).unionByName(waves[2]).distinct()
    )
    retry_set = {(r.doc_a, r.doc_b, r.est_jaccard) for r in retry_union.collect()}
    assert retry_set == one_set
    # store must hold exactly LSH_BANDS rows per doc (no retry doubling)
    from bqfetch_spark.operators.llm_pipeline import LSH_BANDS

    assert spark.read.parquet(store).count() == docs.count() * LSH_BANDS


def test_streaming_neardup_runner_matches_oneshot(spark, tmp_path):
    """The availableNow foreachBatch runner over the whole table equals
    the one-shot q47 pair set."""
    from bqfetch_spark.operators.llm_pipeline import q47_minhash_lsh_pairs
    from bqfetch_spark.streaming.neardup import run_incremental_neardup
    from tests.conftest import SF_CORRECT

    out = run_incremental_neardup(spark, SF_CORRECT, str(tmp_path))
    s = {(r.doc_a, r.doc_b, r.est_jaccard) for r in out.collect()}
    one = {
        (r.doc_a, r.doc_b, r.est_jaccard)
        for r in q47_minhash_lsh_pairs(spark, SF_CORRECT).collect()
    }
    assert s == one


def test_streaming_debounce_matches_batch_lag_window(spark, tmp_path):
    """qx162's streaming spelling: two ts-ranged waves (so per-key
    arrival is time-ordered) through the GroupState debounce must keep
    exactly the rows the batch lag-window spelling keeps — the carried
    last-seen timestamp must bridge the wave boundary."""
    from bqfetch_spark.registry import all_queries
    from bqfetch_spark.streaming.debounce import debounce_stream
    from bqfetch_spark.streaming.windows import run_to_memory

    ev = load_catalog(spark, SF_SMOKE).table("events")
    mid = ev.select(F.percentile_approx("ts", 0.5).cast("long")).collect()[0][0]
    lo = ev.filter(F.col("ts").cast("long") < mid)
    hi = ev.filter(F.col("ts").cast("long") >= mid)
    lo.coalesce(1).write.parquet(str(tmp_path / "w1"))
    hi.coalesce(1).write.parquet(str(tmp_path / "w2"))

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "*.parquet")
        .option("recursiveFileLookup", "true")
        .parquet(str(tmp_path))
    )
    result = run_to_memory(
        debounce_stream(stream), "debounce_xbatch_test", output_mode="append"
    )
    batch = all_queries()["qx162_debounce"].fn(spark, SF_SMOKE)
    got = {tuple(r) for r in result.select(*batch.columns).collect()}
    want = {tuple(r) for r in batch.collect()}
    assert got == want and len(got) > 0
    # the wave split actually crossed state: kept rows on both sides
    ts_vals = {r[3] for r in got}
    import datetime

    mid_dt = datetime.datetime.fromtimestamp(mid, tz=datetime.timezone.utc).replace(
        tzinfo=None
    )
    assert any(t < mid_dt for t in ts_vals) and any(t >= mid_dt for t in ts_vals)


def test_streaming_rate_limit_matches_batch_window(spark, tmp_path):
    """qx163's streaming spelling: ts-split waves through the
    GroupState rate limiter must keep exactly the batch row_number
    result — the (hour, seen) state must bridge an hour that spans the
    wave boundary."""
    from bqfetch_spark.registry import all_queries
    from bqfetch_spark.streaming.rate_limit import rate_limit_stream
    from bqfetch_spark.streaming.windows import run_to_memory

    ev = load_catalog(spark, SF_SMOKE).table("events")
    mid = ev.select(F.percentile_approx("ts", 0.5).cast("long")).collect()[0][0]
    ev.filter(F.col("ts").cast("long") < mid).coalesce(1).write.parquet(
        str(tmp_path / "w1")
    )
    ev.filter(F.col("ts").cast("long") >= mid).coalesce(1).write.parquet(
        str(tmp_path / "w2")
    )
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "*.parquet")
        .option("recursiveFileLookup", "true")
        .parquet(str(tmp_path))
    )
    result = run_to_memory(
        rate_limit_stream(stream), "rate_limit_xbatch_test", output_mode="append"
    )
    batch = all_queries()["qx163_rate_limit"].fn(spark, SF_SMOKE)
    got = {tuple(r) for r in result.select(*batch.columns).collect()}
    want = {tuple(r) for r in batch.collect()}
    assert got == want and len(got) > 0


@pytest.mark.parametrize(
    "module, stream_fn",
    [("debounce", "debounce_stream"), ("rate_limit", "rate_limit_stream")],
)
def test_bucket_count_does_not_change_admissions(spark, monkeypatch, module, stream_fn):
    """The qx164/qx166 streams keep the same rows whether every key
    shares one GroupState bucket or spreads over the default count: the
    bucket is a grouping of per-key state, never part of a decision.
    The state row count proves each run used the bucket count set."""
    import importlib
    from collections import Counter

    from bqfetch_spark.streaming import bucket_state
    from bqfetch_spark.streaming.windows import streaming_events

    wire = getattr(importlib.import_module(f"bqfetch_spark.streaming.{module}"), stream_fn)

    def run(name):
        q = (
            wire(streaming_events(spark, SF_SMOKE))
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        state_rows = max(
            p["stateOperators"][0]["numRowsTotal"] for p in q.recentProgress
        )
        return Counter(tuple(r) for r in spark.table(name).collect()), state_rows

    default_rows, default_state = run(f"{module}_buckets_default")
    monkeypatch.setattr(bucket_state, "BUCKETS", 1)
    one_rows, one_state = run(f"{module}_buckets_one")
    assert one_rows == default_rows and sum(default_rows.values()) > 0
    assert one_state == 1 and default_state > 1


def test_debounce_state_survives_checkpoint_restart(spark, tmp_path):
    """The last-seen timestamp must survive a full query STOP +
    RESTART from the checkpoint: a key-first event in wave 2 that is
    within the debounce horizon of that key's last wave-1 event must
    still be DROPPED by query #2 — state reset would wrongly admit it
    (it would look key-first again)."""
    from bqfetch_spark.registry import all_queries
    from bqfetch_spark.streaming.debounce import debounce_stream
    from tests.conftest import SF_SMOKE as _sf

    ev = load_catalog(spark, _sf).table("events")
    mid = ev.select(F.percentile_approx("ts", 0.5).cast("long")).collect()[0][0]
    src = tmp_path / "waves"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "kept")
    ev.filter(F.col("ts").cast("long") < mid).coalesce(1).write.parquet(str(src / "w1"))

    def run_once():
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", "1")
            .option("pathGlobFilter", "*.parquet")
            .option("recursiveFileLookup", "true")
            .parquet(str(src))
        )
        q = (
            debounce_stream(stream)
            .writeStream.format("parquet")
            .option("path", sink)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    ev.filter(F.col("ts").cast("long") >= mid).coalesce(1).write.parquet(str(src / "w2"))
    run_once()

    batch = all_queries()["qx162_debounce"].fn(spark, _sf)
    got = {tuple(r) for r in spark.read.parquet(sink).select(*batch.columns).collect()}
    want = {tuple(r) for r in batch.collect()}
    assert got == want and len(got) > 0
    # the restart mattered: some wave-2 rows were suppressed by wave-1
    # state (their batch gap_s is a real gap, not the key-first -1)
    import datetime

    mid_dt = datetime.datetime.fromtimestamp(mid, tz=datetime.timezone.utc).replace(
        tzinfo=None
    )
    dropped_wave2 = ev.filter(F.col("ts").cast("long") >= mid).count() - sum(
        1 for t in got if t[3] >= mid_dt
    )
    assert dropped_wave2 > 0


def test_pca_stats_waves_equal_one_shot_bitwise(spark, tmp_path):
    """The store's reason to exist: integer additivity makes the
    wave-maintained statistics BIT-IDENTICAL to the one-shot pass over
    the same corpus — every (pos, merged q) must match exactly, and n
    must equal the vector count."""
    from pyspark.sql import functions as F

    from bqfetch_spark.catalog import load_catalog
    from bqfetch_spark.functions.vectors import as_double
    from bqfetch_spark.operators.similarity import pca_stats_phase1
    from bqfetch_spark.streaming.pca_stats import (
        merged_stats,
        run_incremental_pca_stats,
    )
    from tests.conftest import SF_SMOKE

    work = str(tmp_path / "pcastats")
    cov = run_incremental_pca_stats(spark, SF_SMOKE, work)
    assert cov.count() == 64 * 65 // 2

    emb = load_catalog(spark, SF_SMOKE).table("embeddings").select(
        "vec_id", as_double(F.col("embedding")).alias("v")
    )
    one_shot = {
        (r.pos, r.bkt): r.q1
        for r in pca_stats_phase1(emb).collect()
    }
    store = spark.read.parquet(f"{work}/stats")
    merged = {
        (r.pos, r.bkt): r.q
        for r in store.groupBy("pos", "bkt")
        .agg(F.sum("q1").alias("q"))
        .collect()
    }
    assert merged == one_shot  # exact long equality, every slot

    n, sx, sxy = merged_stats(spark, f"{work}/stats")
    assert n == emb.count()


def test_pca_stats_wave_retry_is_idempotent(spark, tmp_path):
    """A foreachBatch retry of the same wave (same batch_id) must
    leave the merged statistics unchanged — dynamic overwrite of the
    wave's own ingest_batch partition, never double-counted sums."""
    from pyspark.sql import functions as F

    from bqfetch_spark.catalog import load_catalog
    from bqfetch_spark.functions.vectors import as_double
    from bqfetch_spark.streaming.pca_stats import append_stats_wave
    from tests.conftest import SF_SMOKE

    emb = load_catalog(spark, SF_SMOKE).table("embeddings").select(
        "vec_id", as_double(F.col("embedding")).alias("v")
    )
    store = str(tmp_path / "stats")
    wave = emb.filter(F.col("vec_id") % 2 == 1)
    append_stats_wave(spark, wave, store, batch_id=3)
    before = {
        (r.pos, r.bkt): r.q
        for r in spark.read.parquet(store)
        .groupBy("pos", "bkt").agg(F.sum("q1").alias("q")).collect()
    }
    append_stats_wave(spark, wave, store, batch_id=3)  # simulated retry
    after = {
        (r.pos, r.bkt): r.q
        for r in spark.read.parquet(store)
        .groupBy("pos", "bkt").agg(F.sum("q1").alias("q")).collect()
    }
    assert after == before


def test_mix_wave_retry_is_idempotent_and_drift_zero_on_uniform(spark, tmp_path):
    """qx231: a retried wave (same batch_id) must dynamic-overwrite its
    own ingest_batch partition, leaving the drift report identical;
    and a store whose waves replicate the baseline mix exactly reports
    zero drift for every source."""
    from pyspark.sql import functions as F

    from bqfetch_spark.catalog import load_catalog
    from bqfetch_spark.streaming.drift import (
        append_mix_wave,
        drift_report,
        mix_counts,
    )
    from bqfetch_spark.streaming.waves import BACKFILL_BATCH_ID
    from tests.conftest import SF_SMOKE

    docs = load_catalog(spark, SF_SMOKE).table("documents").select(
        "doc_id", "source", "text"
    )
    store = str(tmp_path / "mix")
    (
        mix_counts(docs.filter(F.col("doc_id") % 5 <= 2))
        .withColumn("ingest_batch", F.lit(BACKFILL_BATCH_ID).cast("bigint"))
        .coalesce(1)
        .write.mode("overwrite")
        .partitionBy("ingest_batch")
        .parquet(store)
    )
    wave = docs.filter(F.col("doc_id") % 5 == 3)
    append_mix_wave(spark, wave, store, batch_id=0)
    before = sorted(map(tuple, drift_report(spark, store).collect()))
    append_mix_wave(spark, wave, store, batch_id=0)  # the retry
    after = sorted(map(tuple, drift_report(spark, store).collect()))
    assert before == after

    # uniform ingest: a wave that IS the baseline doubles every count —
    # shares are scale-invariant, so drift must be exactly zero
    store2 = str(tmp_path / "mix2")
    base = docs.filter(F.col("doc_id") % 5 <= 2)
    (
        mix_counts(base)
        .withColumn("ingest_batch", F.lit(BACKFILL_BATCH_ID).cast("bigint"))
        .coalesce(1)
        .write.mode("overwrite")
        .partitionBy("ingest_batch")
        .parquet(store2)
    )
    append_mix_wave(spark, base, store2, batch_id=0)
    assert all(
        r.drift == 0.0 for r in drift_report(spark, store2).collect()
    )


def test_stage_document_files_restages_on_fixture_change(spark, tmp_path):
    """stage_document_files regression: the marker is keyed on the
    parquet CONTENT fingerprint, not the sf_dir path — regenerating
    the fixture at the same path must clear orphaned .txt files and
    restage, while an unchanged fixture is a no-op."""
    import shutil

    from bqfetch_spark.sources.readers import stage_document_files

    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    # load_catalog loads every table eagerly: borrow the others
    for t in os.listdir(SF_SMOKE):
        if t.endswith(".parquet") and not t.startswith("documents"):
            os.symlink(os.path.join(SF_SMOKE, t), os.path.join(sf, t))
    docs_v1 = spark.createDataFrame(
        [(1, "alpha"), (2, "beta")], "doc_id bigint, text string"
    )
    docs_v1.coalesce(1).write.parquet(os.path.join(sf, "documents.parquet"))
    out = str(tmp_path / "staged")
    stage_document_files(spark, sf, out)
    assert sorted(
        f for f in os.listdir(out) if f.endswith(".txt")
    ) == ["1.txt", "2.txt"]

    # unchanged fixture: marker matches, files untouched (same inode)
    ino = os.stat(os.path.join(out, "1.txt")).st_ino
    stage_document_files(spark, sf, out)
    assert os.stat(os.path.join(out, "1.txt")).st_ino == ino

    # regenerate the fixture with different docs at the SAME path
    shutil.rmtree(os.path.join(sf, "documents.parquet"))
    docs_v2 = spark.createDataFrame([(3, "gamma")], "doc_id bigint, text string")
    docs_v2.coalesce(1).write.parquet(os.path.join(sf, "documents.parquet"))
    stage_document_files(spark, sf, out)
    staged = sorted(f for f in os.listdir(out) if f.endswith(".txt"))
    assert staged == ["3.txt"], f"orphans survived restage: {staged}"


def test_qx265_wave_slicing_invariant_and_frozen_bench(spark, tmp_path):
    """However the training stream is sliced, the maintained flag
    store must equal the one-shot scan (same doc_ids, same counts) —
    and the benchmark store must stay byte-stable across waves (it is
    a frozen artifact, never appended)."""
    import os

    from bqfetch_spark.registry import all_queries
    from tests.conftest import SF_SMOKE

    REG = all_queries()
    streaming = {
        r.doc_id: r.n_shared_ngrams
        for r in REG["qx265_streaming_decontamination"].fn(spark, SF_SMOKE).collect()
    }
    oneshot = {
        r.doc_id: r.n_shared_ngrams
        for r in REG["qx259_benchmark_contamination"].fn(spark, SF_SMOKE).collect()
    }
    assert streaming == oneshot and len(streaming) > 0

    # frozen-bench property: two manual waves never mutate the store
    from pyspark.sql import functions as F

    from bqfetch_spark.catalog import load_catalog
    from bqfetch_spark.streaming.decontam import build_benchmark_store, flag_wave

    work = str(tmp_path / "dc")
    bench_dir = os.path.join(work, "bench")
    store_dir = os.path.join(work, "flags")
    docs = load_catalog(spark, SF_SMOKE).table("documents").select("doc_id", "text")
    build_benchmark_store(docs, bench_dir)
    before = sorted(f for f in os.listdir(bench_dir) if f.endswith(".parquet"))
    train = docs.filter(F.col("doc_id") % 7 != 0)
    flag_wave(spark, train.filter(F.col("doc_id") % 2 == 0), bench_dir, store_dir, batch_id=0)
    flag_wave(spark, train.filter(F.col("doc_id") % 2 == 1), bench_dir, store_dir, batch_id=1)
    assert sorted(f for f in os.listdir(bench_dir) if f.endswith(".parquet")) == before
    two_wave = {
        r.doc_id: r.n_shared_ngrams
        for r in spark.read.parquet(store_dir).select("doc_id", "n_shared_ngrams").collect()
    }
    assert two_wave == oneshot


def test_streaming_vocab_growth_matches_oneshot_and_survives_blind_replay(
    spark, tmp_path
):
    """qx273: (a) the store-merged growth report must equal qx269's
    one-shot curve exactly; (b) the word store's min-merge is
    IDEMPOTENT, so even a blind double-append of the same wave (no
    dynamic-overwrite discipline at all) must leave the vocab column
    unchanged — the property that makes this store strictly more
    replay-tolerant than the additive-count stores."""
    import os

    from bqfetch_spark.catalog import load_catalog
    from bqfetch_spark.operators.corpus import qx269_vocab_growth
    from bqfetch_spark.streaming.vocab import (
        append_vocab_wave,
        run_incremental_vocab,
        vocab_report,
    )
    from bqfetch_spark.streaming.waves import wave_of
    from tests.conftest import SF_CORRECT

    work = str(tmp_path / "vocabwork")
    got = run_incremental_vocab(spark, SF_CORRECT, work)
    one = qx269_vocab_growth(spark, SF_CORRECT)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, one.collect()))

    # blind replay of wave 3 (manual append, NOT a dynamic overwrite):
    # vocab (min-merged) must not move; doc stats (additive) would
    # double-count, which is exactly why they keep the overwrite
    # discipline — assert the split behavior explicitly
    store = os.path.join(work, "vocab")
    docs = load_catalog(spark, SF_CORRECT).table("documents").select(
        "doc_id", "source", "text"
    )
    append_vocab_wave(spark, docs.filter(wave_of("doc_id") == 3), store, batch_id=None)
    replayed = {r.frac: r for r in vocab_report(spark, store).collect()}
    for r in one.collect():
        assert replayed[r.frac].vocab == r.vocab  # min-merge idempotent
    assert any(
        replayed[r.frac].n_tokens > r.n_tokens for r in one.collect()
    )  # additive stats DO double-count under a blind append — by design


def test_streaming_packing_straddles_and_retries_correctly(spark, tmp_path):
    """qx276: (a) the store-merged histogram must tile exactly — every
    non-final window sums to PACK_WINDOW tokens; (b) at least one
    window must receive partials from TWO store partitions (the
    straddle case the additivity argument exists for); (c) a retry of
    the last wave (same batch_id, dynamic overwrite, offset excluding
    own batch) must leave the histogram byte-identical."""
    import os

    from pyspark.sql import functions as F

    from bqfetch_spark.catalog import load_catalog
    from bqfetch_spark.streaming.packing import (
        append_pack_wave,
        packing_report,
        run_incremental_packing,
    )
    from bqfetch_spark.streaming.waves import wave_of
    from tests.conftest import SF_CORRECT

    work = str(tmp_path / "packwork")
    rep = run_incremental_packing(spark, SF_CORRECT, work).collect()
    docs0 = load_catalog(spark, SF_CORRECT).table("documents")
    total = docs0.select(
        F.sum(F.size(F.split("text", " ")).cast("bigint"))
    ).first()[0]
    # whole-doc attribution: token totals match the corpus, window ids
    # are contiguous from 0, and every window's doc starting offsets
    # fit its PACK_WINDOW slot (n_tokens can EXCEED the window when a
    # doc straddles — that is what n_spanning counts)
    assert sum(r.n_tokens for r in rep) == total
    ids = sorted(r.window_id for r in rep)
    assert ids == list(range(len(ids)))
    assert any(r.n_spanning > 0 for r in rep)

    store = os.path.join(work, "pack")
    raw = spark.read.parquet(store)
    straddled = (
        raw.groupBy("window_id")
        .agg(F.count_distinct("ingest_batch").alias("nb"))
        .filter(F.col("nb") >= 2)
        .count()
    )
    assert straddled >= 1  # the additivity argument is actually exercised

    # retry of the LAST wave (batch_id 1): histogram must not move
    docs = load_catalog(spark, SF_CORRECT).table("documents").select(
        "doc_id", "source", "text"
    )
    before = sorted(map(tuple, rep))
    append_pack_wave(spark, docs.filter(wave_of("doc_id") == 4), store, batch_id=1)
    after = sorted(map(tuple, packing_report(spark, store).collect()))
    assert after == before
