"""Salted-join equivalence and stateful streaming sessionization."""

from __future__ import annotations

from pyspark.sql import functions as F

from bqfetch_spark.catalog import load_catalog
from bqfetch_spark.plans.skew import salted_join
from tests.conftest import SF_SMOKE


def test_salted_join_equals_plain_join(spark):
    cat = load_catalog(spark, SF_SMOKE)
    orders = cat.table("orders").select(F.col("o_custkey").alias("c_custkey"), "o_totalprice")
    cust = cat.table("customer").select("c_custkey", "c_name")
    plain = orders.join(cust, "c_custkey").groupBy("c_custkey").count()
    salted = salted_join(orders, cust, "c_custkey", salt_buckets=8).groupBy("c_custkey").count()
    p = {(r.c_custkey, r["count"]) for r in plain.collect()}
    s = {(r.c_custkey, r["count"]) for r in salted.collect()}
    assert p == s


def test_salted_join_rejects_bad_buckets(spark):
    import pytest

    cat = load_catalog(spark, SF_SMOKE)
    with pytest.raises(ValueError):
        salted_join(cat.table("orders"), cat.table("customer"), "c_custkey", salt_buckets=0)


def test_streaming_sessionization_matches_batch(spark):
    """Bounded stream through applyInPandasWithState must close the
    same sessions batch sessionization finds (modulo the final open
    session per user, which only a timeout would flush)."""
    from bqfetch_spark.streaming.sessions import sessionize_stream
    from bqfetch_spark.streaming.windows import run_to_memory, streaming_events

    ev = streaming_events(spark, SF_SMOKE)
    result = (
        sessionize_stream(ev)
        .writeStream.format("memory")
        .queryName("sessions_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    result.awaitTermination()
    streamed = spark.table("sessions_test").collect()

    # batch truth: q31 semantics
    from bqfetch_spark.registry import all_queries

    batch_rows = all_queries()["q31_sessionization"].fn(spark, SF_SMOKE).collect()
    batch_sessions = {
        (r.user_id, r.session_start, r.session_end, r.n_events) for r in batch_rows
    }
    # every streamed (closed) session must be a batch session
    for r in streamed:
        assert (
            r.user_id,
            r.session_start,
            r.session_end,
            r.n_events,
        ) in batch_sessions, r
    # with the whole table in one bounded run, all but the last session
    # per user close → most sessions stream out
    n_users = len({r.user_id for r in batch_rows})
    assert len(streamed) >= len(batch_sessions) - n_users - 5
    assert len(streamed) > 0


def test_event_time_timeout_flushes_idle_sessions(spark, tmp_path):
    """sessionize_stream_event_time must flush a still-open session
    once the WATERMARK passes last-event + gap — the batch-equivalent
    close that NoTimeout streaming can never emit. Two files processed
    as two micro-batches: batch 1 opens sessions for users 1 and 2;
    batch 2's far-future event (user 3) advances the watermark past
    their gap, so the trailing no-data batch fires their event-time
    timeouts. User 3's own session stays open (nothing outlives its
    watermark)."""
    import datetime as dt
    import os

    from bqfetch_spark.streaming.sessions import sessionize_stream_event_time

    utc = dt.timezone.utc
    t0 = dt.datetime(2026, 1, 1, 0, 0, 0, tzinfo=utc)
    m = dt.timedelta(minutes=1)
    src = tmp_path / "ev"
    batch1 = spark.createDataFrame(
        [(1, t0), (1, t0 + 5 * m), (2, t0 + 1 * m)], "user_id long, ts timestamp"
    )
    batch2 = spark.createDataFrame(
        [(3, t0 + 360 * m)], "user_id long, ts timestamp"
    )
    batch1.coalesce(1).write.parquet(str(src / "f1"))
    batch2.coalesce(1).write.parquet(str(src / "f2"))
    # FileStreamSource orders by modification time: force f1 before f2
    now = os.path.getmtime(str(src / "f2"))
    for sub, off in (("f1", -100), ("f2", -50)):
        for f in (src / sub).glob("*.parquet"):
            os.utime(f, (now + off, now + off))

    stream = (
        spark.readStream.schema("user_id long, ts timestamp")
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(str(src))
    )
    q = (
        sessionize_stream_event_time(stream, watermark="2 hours")
        .writeStream.format("memory")
        .queryName("et_sessions_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.table("et_sessions_test").collect()
    got = {(r.user_id, r.session_start, r.session_end, r.n_events) for r in rows}
    naive = lambda t: t.replace(tzinfo=None)
    assert (1, naive(t0), naive(t0 + 5 * m), 2) in got, got
    assert (2, naive(t0 + 1 * m), naive(t0 + 1 * m), 1) in got, got
    assert all(r.user_id != 3 for r in rows)
    assert all(r.closed for r in rows)


def test_sessionization_state_survives_checkpoint_restart(spark, tmp_path):
    """An open session must survive a full query STOP + RESTART from
    the same checkpoint: run #1 sees the early half of each user's
    events, run #2 (same checkpoint) the late half — sessions spanning
    the cut must close ONCE with the correct boundaries, which only
    happens if the GroupState recovered. Closed sessions across both
    runs must all be batch-q31 sessions, with near-complete coverage."""
    from pyspark.sql import functions as F

    from bqfetch_spark.catalog import load_catalog
    from bqfetch_spark.registry import all_queries
    from bqfetch_spark.streaming.sessions import sessionize_stream

    ev = load_catalog(spark, SF_SMOKE).table("events").select("user_id", "ts")
    cut = ev.agg(F.expr("percentile(unix_micros(ts), 0.5)")).first()[0]
    src = tmp_path / "waves"
    src.mkdir()
    ev.filter(F.unix_micros("ts") <= cut).coalesce(1).write.parquet(str(src / "w1"))
    w2 = ev.filter(F.unix_micros("ts") > cut)

    sink, ckpt = str(tmp_path / "sessions_out"), str(tmp_path / "ckpt")

    def run_once():
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", "1")
            .option("pathGlobFilter", "*.parquet")
            .option("recursiveFileLookup", "true")
            .parquet(str(src))
        )
        q = (
            sessionize_stream(stream)
            .writeStream.format("parquet")
            .option("path", sink)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    w2.coalesce(1).write.parquet(str(src / "w2"))
    run_once()

    streamed = spark.read.parquet(sink).collect()
    batch_rows = all_queries()["q31_sessionization"].fn(spark, SF_SMOKE).collect()
    batch = {(r.user_id, r.session_start, r.session_end, r.n_events) for r in batch_rows}
    for r in streamed:
        assert (r.user_id, r.session_start, r.session_end, r.n_events) in batch, r
    # a session OPEN at the restart boundary must close correctly in
    # run #2 — without state recovery it would split into two wrong
    # sessions, failing the membership assert above; coverage: all but
    # the final (still-open) session per user streamed out
    n_users = len({r.user_id for r in batch_rows})
    assert len(streamed) >= len(batch) - n_users - 5
    assert len(streamed) > 0
