#!/usr/bin/env python
"""Scale sanity check: replicate lineitem 10× (≈6M rows, ≈TPC-H sf1
row count) into /tmp with shifted keys, then verify the flagship
aggregation scales ≈linearly vs the sf0.1 base — interleaved
measurement so ambient load cancels out of the ratio.

Not part of the pytest suite (generates ~100 MB and takes minutes);
run manually: python scripts/scale_check.py
"""

from __future__ import annotations

import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from bqfetch_spark.catalog import normalize_table
from bqfetch_spark.operators.relational import DEC_PRICE
from bqfetch_spark.session import get_session


def q1_shape(df):
    qty = F.col("l_quantity").cast(DEC_PRICE)
    return (
        df.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(F.sum(qty).alias("s"), F.count(F.lit(1)).alias("n"))
    )


def dedup_shape(df, parts):
    """q40's plan shape (dedup_exact) against an arbitrary frame."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("fp", "text").orderBy("doc_id")
    return (
        df.withColumn("fp", F.xxhash64("text"))
        .repartition(parts, "fp")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id")
    )


def jaccard_shape(df, parts):
    """q46's plan shape (shingle join + DF cap) against an arbitrary
    frame, built with the engine's n-gram kernel."""
    from bqfetch_spark.functions.text import drop_stop_shingles, token_ngrams

    flat = drop_stop_shingles(
        token_ngrams(
            df.select("doc_id", "text").repartition(parts, "doc_id"), 3, distinct=True
        ).repartition(parts, "g")
    )
    a, b = flat.alias("a"), flat.alias("b")
    return (
        a.join(b.hint("shuffle_hash"), (F.col("a.g") == F.col("b.g")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id"), F.col("b.doc_id"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= 2)
    )


def main() -> None:
    spark = get_session("scale-check")
    spark.sparkContext.setLogLevel("ERROR")
    base = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    tmp = "/tmp/bqfs_scale_check"
    shutil.rmtree(tmp, ignore_errors=True)

    reps = spark.range(10).select(F.col("id").alias("rep"))
    li0 = spark.read.parquet(f"{base}/lineitem.parquet")
    li10 = (
        li0.crossJoin(reps)
        .withColumn("l_orderkey", F.col("l_orderkey") + F.col("rep") * 10_000_000)
        .drop("rep")
    )
    li10.repartition(32).write.mode("overwrite").parquet(f"{tmp}/lineitem.parquet")

    small = li0.repartition(32)
    big = spark.read.parquet(f"{tmp}/lineitem.parquet")
    n_small, n_big = small.count(), big.count()
    print(f"rows: small={n_small} big={n_big}")

    worst = 0.0
    for i in range(3):
        t0 = time.time()
        q1_shape(small).collect()
        ts = time.time() - t0
        t0 = time.time()
        q1_shape(big).collect()
        tb = time.time() - t0
        ratio = tb / ts
        worst = max(worst, ratio)
        print(f"round{i}: small={ts:.2f}s big={tb:.2f}s ratio={ratio:.1f}")
    # 10× the data should cost ≤ ~10× the time (linear); far above that
    # would mean a super-linear plan (quadratic operator, spill storm)
    assert worst <= 15, f"super-linear scaling: worst ratio {worst:.1f}"
    print("lineitem agg scaling OK")

    # --- text-pipeline ops at 10× documents -------------------------
    # each replica prefixes EVERY token with a replica tag, so texts
    # (and all shingles) are distinct across replicas: the dedup and
    # shingle-join workloads grow linearly in docs, and measured time
    # must too (a quadratic candidate structure would show ~100×)
    docs0 = spark.read.parquet(f"{base}/documents.parquet").select("doc_id", "text")
    reps = spark.range(10).select(F.col("id").alias("rep"))
    docs10 = (
        docs0.crossJoin(reps)
        .select(
            (F.col("doc_id") + F.col("rep") * 10_000_000).alias("doc_id"),
            F.concat(
                F.concat(F.lit("r"), F.col("rep"), F.lit("_")),
                F.regexp_replace(
                    "text", " ", F.concat(F.lit(" r"), F.col("rep"), F.lit("_"))
                ),
            ).alias("text"),
        )
    )
    docs10.repartition(32).write.mode("overwrite").parquet(f"{tmp}/documents.parquet")
    small_d = docs0.repartition(32)
    big_d = spark.read.parquet(f"{tmp}/documents.parquet")

    for label, shape in (("exact-dedup", dedup_shape), ("ngram-jaccard", jaccard_shape)):
        worst = 0.0
        for i in range(2):
            t0 = time.time()
            ns = shape(small_d, 32).count()
            ts = time.time() - t0
            t0 = time.time()
            nb = shape(big_d, 32).count()
            tb = time.time() - t0
            ratio = tb / ts
            worst = max(worst, ratio)
            print(f"{label} round{i}: small={ts:.2f}s ({ns}) big={tb:.2f}s ({nb}) ratio={ratio:.1f}")
        assert worst <= 20, f"{label} super-linear: worst ratio {worst:.1f}"
        print(f"{label} scaling OK")

    # --- window-chain event ops at 10× users ------------------------
    # replicas shift user_id, so per-user partitions stay the same size
    # and the workload grows in PARTITION COUNT — the axis that grows
    # at 100 TB (more users, not centuries-long histories); window
    # sort + running-min chains must scale linearly in partitions
    ev0 = normalize_table("events", spark.read.parquet(f"{base}/events.parquet")).select(
        "event_id", "ts", "user_id", "event_type", "value",
    )
    reps = spark.range(10).select(F.col("id").alias("rep"))
    ev10 = (
        ev0.crossJoin(reps)
        .select(
            (F.col("event_id") + F.col("rep") * 100_000_000).alias("event_id"),
            "ts",
            (F.col("user_id") + F.col("rep") * 100_000_000).alias("user_id"),
            "event_type",
            "value",
        )
    )
    ev10.repartition(32).write.mode("overwrite").parquet(f"{tmp}/events.parquet")
    small_e = ev0.repartition(32)
    big_e = spark.read.parquet(f"{tmp}/events.parquet")

    def session_shape(df):
        from pyspark.sql.window import Window

        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        micros = F.unix_micros(F.col("ts"))
        gap = micros - F.lag(micros).over(w)
        is_new = F.when(gap.isNull() | (gap > 30 * 60 * 1_000_000), 1).otherwise(0)
        cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        return (
            df.withColumn("sid", F.sum(is_new).over(cum))
            .groupBy("user_id", "sid")
            .agg(F.count(F.lit(1)).alias("n"))
        )

    def funnel_shape(df):
        from pyspark.sql.window import Window

        w = (
            Window.partitionBy("user_id")
            .orderBy("ts", "event_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        view_ts = F.when(F.col("event_type") == "view", F.col("ts"))
        flagged = df.withColumn("first_view", F.min(view_ts).over(w))
        click_q = F.when(
            (F.col("event_type") == "click") & F.col("first_view").isNotNull(), F.col("ts")
        )
        return (
            flagged.withColumn("first_click", F.min(click_q).over(w))
            .groupBy("user_id")
            .agg(F.min("first_click").alias("c"))
        )

    for label, shape in (("sessionization", session_shape), ("funnel", funnel_shape)):
        worst = 0.0
        for i in range(2):
            t0 = time.time()
            ns = shape(small_e).count()
            ts = time.time() - t0
            t0 = time.time()
            nb = shape(big_e).count()
            tb = time.time() - t0
            ratio = tb / ts
            worst = max(worst, ratio)
            print(f"{label} round{i}: small={ts:.2f}s ({ns}) big={tb:.2f}s ({nb}) ratio={ratio:.1f}")
        assert worst <= 20, f"{label} super-linear: worst ratio {worst:.1f}"
        print(f"{label} scaling OK")

    # --- incremental rollup maintenance: wave cost vs history size ---
    # q98's claim is per-wave cost O(wave + touched days), INDEPENDENT
    # of store history. Build a 1x-history store and a 10x-history
    # store (replicas shifted by whole months -> 10x day partitions),
    # then upsert the SAME small wave into each: the ratio must be ~1,
    # not ~10 (a history-rescanning design would scale with the store).
    from bqfetch_spark.streaming.rollup import upsert_rollup

    store1 = f"{tmp}/rollup_1x"
    store10 = f"{tmp}/rollup_10x"
    ev_shift = (
        ev0.crossJoin(reps)
        .select(
            (F.col("ts") + F.make_interval(months=F.col("rep").cast("int"))).alias("ts"),
            "event_type",
            "value",
        )
    )
    upsert_rollup(spark, ev0.select("ts", "event_type", "value"), store1)
    upsert_rollup(spark, ev_shift, store10)
    n1 = len([d for d in os.listdir(store1) if d.startswith("day=")])
    n10 = len([d for d in os.listdir(store10) if d.startswith("day=")])
    print(f"rollup stores: {n1} vs {n10} day partitions")
    wave = ev0.select("ts", "event_type", "value").limit(2000).localCheckpoint(eager=True)
    worst = 0.0
    for i in range(2):
        t0 = time.time()
        upsert_rollup(spark, wave, store1)
        t1x = time.time() - t0
        t0 = time.time()
        upsert_rollup(spark, wave, store10)
        t10x = time.time() - t0
        ratio = t10x / t1x
        worst = max(worst, ratio)
        print(f"rollup-upsert round{i}: 1x={t1x:.2f}s 10x={t10x:.2f}s ratio={ratio:.1f}")
    assert worst <= 3, f"wave cost scales with history: worst ratio {worst:.1f}"
    print("rollup maintenance scaling OK (wave cost flat in history size)")

    # --- q97: stream-stream interval join at 10× users ---------------
    # user_id-shifted replicas grow the KEY COUNT 10× while per-user
    # histories stay fixed — watermark-bounded join state must grow in
    # keys, not history, so wall time scales ≈linearly (a design whose
    # state or probe cost grew super-linearly in keys would blow past
    # the cap). The streams replay bounded (AvailableNow → memory).
    from bqfetch_spark.streaming.joins import click_purchase_join_stream
    from bqfetch_spark.streaming.windows import run_to_memory

    def file_stream(path: str, table: str):
        """readStream over a parquet file OR directory (FileStreamSource
        only accepts directories; single files go through the parent dir
        + a glob filter, like streaming_events)."""
        raw = spark.read.parquet(path).schema
        if os.path.isdir(path):
            s = spark.readStream.schema(raw).parquet(path)
        else:
            d, name = os.path.split(path)
            s = spark.readStream.schema(raw).option("pathGlobFilter", name).parquet(d)
        return normalize_table(table, s)

    def events_stream(path: str):
        return file_stream(path, "events")

    worst = 0.0
    for i in range(2):
        t0 = time.time()
        ns = run_to_memory(
            click_purchase_join_stream(events_stream(f"{base}/events.parquet")),
            f"sc_join_small_{i}",
            output_mode="append",
        ).count()
        ts = time.time() - t0
        t0 = time.time()
        nb = run_to_memory(
            click_purchase_join_stream(events_stream(f"{tmp}/events.parquet")),
            f"sc_join_big_{i}",
            output_mode="append",
        ).count()
        tb = time.time() - t0
        ratio = tb / ts
        worst = max(worst, ratio)
        print(f"stream-join round{i}: small={ts:.2f}s ({ns}) big={tb:.2f}s ({nb}) ratio={ratio:.1f}")
    assert worst <= 20, f"stream-join super-linear: worst ratio {worst:.1f}"
    print("stream-stream interval join scaling OK")

    # --- q99: Python DataSource partition planning at 10× row groups -
    # partitions() reads FOOTERS only; planning a 10× table (here also
    # split across 32 part files) must stay metadata-cheap, and the
    # pushed-filter read itself must scale ≈linearly in data.
    from bqfetch_spark.sources.chunked_source import (
        ChunkedParquetDataSource,
        ChunkedParquetReader,
    )

    t0 = time.time()
    n_small_parts = len(
        ChunkedParquetReader({"path": f"{base}/lineitem.parquet", "rows_per_partition": "200000"}).partitions()
    )
    plan_s = time.time() - t0
    t0 = time.time()
    n_big_parts = len(
        ChunkedParquetReader({"path": f"{tmp}/lineitem.parquet", "rows_per_partition": "200000"}).partitions()
    )
    plan_b = time.time() - t0
    print(
        f"pyds planning: small={plan_s:.3f}s ({n_small_parts} parts) "
        f"big={plan_b:.3f}s ({n_big_parts} parts) ratio={plan_b / plan_s:.1f}"
    )
    assert plan_b / max(plan_s, 1e-3) <= 40, "footer planning scales super-linearly"

    spark.dataSource.register(ChunkedParquetDataSource)

    def pyds_agg(path: str):
        return (
            spark.read.format("bqfetch_chunked")
            .option("path", path)
            .option("rows_per_partition", "200000")
            .load()
            .filter(F.col("l_quantity") >= 45)
            .groupBy("l_returnflag")
            .agg(F.count(F.lit(1)).alias("n"))
        )

    worst = 0.0
    for i in range(2):
        t0 = time.time()
        ns = pyds_agg(f"{base}/lineitem.parquet").count()
        ts = time.time() - t0
        t0 = time.time()
        nb = pyds_agg(f"{tmp}/lineitem.parquet").count()
        tb = time.time() - t0
        ratio = tb / ts
        worst = max(worst, ratio)
        print(f"pyds-scan round{i}: small={ts:.2f}s big={tb:.2f}s ratio={ratio:.1f}")
    assert worst <= 20, f"pyds scan super-linear: worst ratio {worst:.1f}"
    print("python-datasource scaling OK (footer planning + pushed-filter scan)")

    # --- q100: stateful quota at 10× sources -------------------------
    # replica-suffixed sources grow the GroupState KEY COUNT 10× with
    # per-key work fixed — the axis a crawl grows on. Wall time must
    # scale ≈linearly in keys (state lookups are O(1) per key).
    from bqfetch_spark.streaming.quota import enforce_quota_stream

    docs_src = spark.read.parquet(f"{base}/documents.parquet").select(
        "doc_id", "source", "text"
    )
    reps = spark.range(10).select(F.col("id").alias("rep"))
    docs10q = (
        docs_src.crossJoin(reps)
        .select(
            (F.col("doc_id") + F.col("rep") * 10_000_000).alias("doc_id"),
            F.concat(F.col("source"), F.lit("_r"), F.col("rep")).alias("source"),
            "text",
        )
    )
    docs10q.repartition(32).write.mode("overwrite").parquet(f"{tmp}/documents_q.parquet")

    def quota_run(path: str, name: str):
        stream = file_stream(path, "documents")
        return run_to_memory(
            enforce_quota_stream(stream), name, output_mode="append"
        ).count()

    worst = 0.0
    for i in range(2):
        t0 = time.time()
        ns = quota_run(f"{base}/documents.parquet", f"sc_quota_small_{i}")
        ts = time.time() - t0
        t0 = time.time()
        nb = quota_run(f"{tmp}/documents_q.parquet", f"sc_quota_big_{i}")
        tb = time.time() - t0
        ratio = tb / ts
        worst = max(worst, ratio)
        print(f"quota round{i}: small={ts:.2f}s ({ns}) big={tb:.2f}s ({nb}) ratio={ratio:.1f}")
    assert worst <= 20, f"quota super-linear: worst ratio {worst:.1f}"
    print("stateful quota scaling OK (key-count axis)")

    # --- lakehouse surface: merge, SCD2 islands, compaction ----------
    # q35's shape: anti-join base against touched keys + union of new
    # images — must scale linearly in base size when the touched
    # fraction is fixed (the 100 TB axis: bigger base, same CDC rate).
    def merge_shape(df):
        mod = F.col("event_id") % 10
        touched = df.filter(mod.isin(3, 4)).select("event_id")
        upd = df.filter(mod == 4).withColumn("value", F.col("value") + F.lit(1.0))
        return df.join(touched, "event_id", "left_anti").unionByName(upd)

    # q58's shape: lag-compare/running-sum islands, user_id-partitioned
    def scd2_shape(df):
        from pyspark.sql.window import Window

        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        prev = F.lag("event_type").over(w)
        chg = F.when(prev.isNull() | (prev != F.col("event_type")), 1).otherwise(0)
        cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        return (
            df.withColumn("version", F.sum(chg).over(cum))
            .groupBy("user_id", "version")
            .agg(F.count(F.lit(1)).alias("n"))
        )

    for label, shape in (("cdc-merge", merge_shape), ("scd2-islands", scd2_shape)):
        worst = 0.0
        for i in range(2):
            t0 = time.time()
            ns = shape(small_e).count()
            ts = time.time() - t0
            t0 = time.time()
            nb = shape(big_e).count()
            tb = time.time() - t0
            ratio = tb / ts
            worst = max(worst, ratio)
            print(f"{label} round{i}: small={ts:.2f}s ({ns}) big={tb:.2f}s ({nb}) ratio={ratio:.1f}")
        assert worst <= 20, f"{label} super-linear: worst ratio {worst:.1f}"
        print(f"{label} scaling OK")

    # q39's compactor: driver-side metadata sizing + one repartition —
    # 10× the files and bytes must cost ≈10× (listing is O(files),
    # the write is the data volume), never O(files²).
    from bqfetch_spark.operators.lakehouse import compact_parquet_dir

    small_e.write.mode("overwrite").parquet(f"{tmp}/frag_small")  # 32 files
    big_e.repartition(320).write.mode("overwrite").parquet(f"{tmp}/frag_big")
    worst = 0.0
    for i in range(2):
        t0 = time.time()
        compact_parquet_dir(spark, f"{tmp}/frag_small", f"{tmp}/compact_small_{i}")
        ts = time.time() - t0
        t0 = time.time()
        compact_parquet_dir(spark, f"{tmp}/frag_big", f"{tmp}/compact_big_{i}")
        tb = time.time() - t0
        ratio = tb / ts
        worst = max(worst, ratio)
        print(f"compaction round{i}: small={ts:.2f}s big={tb:.2f}s ratio={ratio:.1f}")
    assert worst <= 20, f"compaction super-linear: worst ratio {worst:.1f}"
    print("compaction scaling OK (10x files ~ 10x cost)")

    # --- round-5 extension ops at 10× documents ---------------------
    # chunking is a pure narrow map: 10× docs must cost ≈10× with zero
    # exchanges; co-occurrence is vocab-bounded, so the pair stream
    # grows linearly in documents (the quadratic all-vocab spelling
    # would show ~100×)
    from bqfetch_spark.operators.extensions import CHUNK_LEN, CHUNK_STRIDE

    def chunk_shape(df):
        n_chunks = F.ceil(F.length("text") / F.lit(float(CHUNK_STRIDE))).cast("bigint")
        return (
            df.filter(F.length("text") > 0)
            .select(
                "doc_id",
                "text",
                F.explode(F.sequence(F.lit(0).cast("bigint"), n_chunks - 1)).alias("i"),
            )
            .select(
                F.md5(
                    F.expr(
                        f"substring(text, CAST(i*{CHUNK_STRIDE}+1 AS INT), {CHUNK_LEN})"
                    )
                ).alias("h")
            )
        )

    def cooccur_shape(df):
        tok = df.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("token"))
        vocab = (
            tok.groupBy("token")
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy(F.desc("n"), "token")
            .limit(200)
            .select("token")
        )
        dt = tok.distinct().join(F.broadcast(vocab), "token")
        a, b = dt.alias("a"), dt.alias("b")
        return (
            a.join(b, (F.col("a.doc_id") == F.col("b.doc_id")) & (F.col("a.token") < F.col("b.token")))
            .groupBy(F.col("a.token"), F.col("b.token"))
            .agg(F.count(F.lit(1)).alias("n"))
        )

    # co-occurrence needs a SHARED token space across replicas (the
    # replica-prefixed corpus would dilute the top-200 vocab ~10x per
    # document and hide a pair-fan-out regression): same texts, shifted
    # doc_ids, so in-vocab tokens per doc match small_d exactly and the
    # pair stream must grow truly linearly in documents
    reps = spark.range(10).select(F.col("id").alias("rep"))
    docs10_same = docs0.crossJoin(reps).select(
        (F.col("doc_id") + F.col("rep") * 10_000_000).alias("doc_id"), "text"
    )
    docs10_same.repartition(32).write.mode("overwrite").parquet(f"{tmp}/documents_same.parquet")
    big_d_same = spark.read.parquet(f"{tmp}/documents_same.parquet")

    for label, shape, big_frame in (
        ("doc-chunking", chunk_shape, big_d),
        ("cooccurrence", cooccur_shape, big_d_same),
    ):
        worst = 0.0
        for i in range(2):
            t0 = time.time()
            ns = shape(small_d).count()
            ts = time.time() - t0
            t0 = time.time()
            nb = shape(big_frame).count()
            tb = time.time() - t0
            ratio = tb / ts
            worst = max(worst, ratio)
            print(f"{label} round{i}: small={ts:.2f}s ({ns}) big={tb:.2f}s ({nb}) ratio={ratio:.1f}")
        assert worst <= 20, f"{label} super-linear: worst ratio {worst:.1f}"
        print(f"{label} scaling OK")

    # --- round-5 statistical shapes at 10x -------------------------
    # KS: the two-counter range-exchange cumsum over a 10x-larger
    # distinct value domain (with_global_cumsums — the machinery that
    # replaces the single-task ordered window); EMA: applyInPandas
    # recurrence over 10x users (per-user groups stay the same size, so
    # the Arrow-batch axis grows, which is the 100 TB axis); equi-depth
    # ntile: with_ntile_auto over 10x rows (may legitimately cross the
    # single-sort crossover and switch to the range-exchange spelling).
    from bqfetch_spark.plans.ranks import with_global_cumsums, with_ntile_auto

    def ks_shape(df):
        # v offsets by user_id (replica-shifted) so the DISTINCT value
        # domain — the axis the range exchange partitions — genuinely
        # grows 10x; raw `value` repeats across replicas and would
        # only deepen counters on a same-sized domain
        counts = (
            df.select(
                (F.col("value") + F.col("user_id")).alias("v"),
                (F.col("event_type") < F.lit("n")).cast("bigint").alias("in_a"),
            )
            .groupBy("v")
            .agg(F.sum("in_a").alias("c_a"), F.sum(F.lit(1) - F.col("in_a")).alias("c_b"))
        )
        return with_global_cumsums(counts, ["v"], {"c_a": "cum_a", "c_b": "cum_b"}, 32)

    def ema_shape(df):
        import pandas as pd

        from bqfetch_spark.operators.statistics import EMA_ALPHA

        def grp(pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.sort_values(["ts", "event_id"])
            return pd.DataFrame(
                {
                    "user_id": pdf["user_id"],
                    "event_id": pdf["event_id"],
                    "ema": pdf["value"].ewm(alpha=EMA_ALPHA, adjust=False).mean(),
                }
            )

        return df.select("user_id", "event_id", "ts", "value").groupBy("user_id").applyInPandas(
            grp, "user_id bigint, event_id bigint, ema double"
        )

    def ntile_shape(df):
        return with_ntile_auto(
            df.select(F.col("value").alias("v"), "event_id"), ["v", "event_id"], 10, 32, "bucket"
        ).groupBy("bucket").agg(F.count(F.lit(1)).alias("n"))

    for label, shape in (("ks-cumsum", ks_shape), ("ema-pandas", ema_shape), ("equidepth-ntile", ntile_shape)):
        worst = 0.0
        for i in range(2):
            t0 = time.time()
            ns = shape(small_e).count()
            ts = time.time() - t0
            t0 = time.time()
            nb = shape(big_e).count()
            tb = time.time() - t0
            ratio = tb / ts
            worst = max(worst, ratio)
            print(f"{label} round{i}: small={ts:.2f}s ({ns}) big={tb:.2f}s ({nb}) ratio={ratio:.1f}")
        assert worst <= 20, f"{label} super-linear: worst ratio {worst:.1f}"
        print(f"{label} scaling OK")

    # --- graph/vector shapes at 10x ---------------------------------
    # pagerank fact-reduction: the 6-table edge aggregation at 10x
    # lineitem+orders (matching shifted orderkeys so the join fans out
    # truly 10x; the 625-edge output and the iteration cost stay
    # constant — only the reduction grows). knn: brute-force cosine
    # vote at 10x corpus vectors (queries broadcast, corpus streamed).
    ords0 = spark.read.parquet(f"{base}/orders.parquet")
    reps = spark.range(10).select(F.col("id").alias("rep"))
    ords10 = (
        ords0.crossJoin(reps)
        .withColumn("o_orderkey", F.col("o_orderkey") + F.col("rep") * 10_000_000)
        .drop("rep")
    )
    ords10.repartition(32).write.mode("overwrite").parquet(f"{tmp}/orders.parquet")
    big_o = spark.read.parquet(f"{tmp}/orders.parquet")
    small_o = ords0.repartition(32)
    cust = spark.read.parquet(f"{base}/customer.parquet")
    supp = spark.read.parquet(f"{base}/supplier.parquet")
    nat = spark.read.parquet(f"{base}/nation.parquet")

    def edges_shape(li, o):
        n1 = nat.select(F.col("n_nationkey").alias("ck"), F.col("n_name").alias("src"))
        n2 = nat.select(F.col("n_nationkey").alias("sk"), F.col("n_name").alias("dst"))
        return (
            li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
            .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
            .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
            .join(F.broadcast(n1), F.col("c_nationkey") == F.col("ck"))
            .join(F.broadcast(n2), F.col("s_nationkey") == F.col("sk"))
            .groupBy("src", "dst")
            .agg(F.count(F.lit(1)).alias("w"))
        )

    worst = 0.0
    for i in range(2):
        t0 = time.time()
        ns = edges_shape(small, small_o).count()
        ts = time.time() - t0
        t0 = time.time()
        nb = edges_shape(big, big_o).count()
        tb = time.time() - t0
        ratio = tb / ts
        worst = max(worst, ratio)
        print(f"pagerank-reduce round{i}: small={ts:.2f}s ({ns}) big={tb:.2f}s ({nb}) ratio={ratio:.1f}")
    assert worst <= 20, f"pagerank-reduce super-linear: worst ratio {worst:.1f}"
    print("pagerank-reduce scaling OK")

    from bqfetch_spark.functions.vectors import as_double, cosine

    emb0 = spark.read.parquet(f"{base}/embeddings.parquet")
    emb10 = (
        emb0.crossJoin(reps)
        .withColumn("vec_id", F.col("vec_id") + F.col("rep") * 10_000_000)
        .drop("rep")
    )
    emb10.repartition(32).write.mode("overwrite").parquet(f"{tmp}/embeddings.parquet")
    big_v = spark.read.parquet(f"{tmp}/embeddings.parquet")
    small_v = emb0.repartition(32)

    def knn_shape(df):
        e = df.select("vec_id", "label", as_double(F.col("embedding")).alias("v"))
        q = e.filter(F.col("vec_id") % 20 == 0).limit(25).select(
            F.col("vec_id").alias("qid"), F.col("v").alias("qv")
        )
        return (
            e.crossJoin(F.broadcast(q))
            .select("qid", F.round(cosine(F.col("qv"), F.col("v")), 6).alias("c"))
            .groupBy("qid")
            .agg(F.max("c").alias("best"))
        )

    worst = 0.0
    for i in range(2):
        t0 = time.time()
        ns = knn_shape(small_v).count()
        ts = time.time() - t0
        t0 = time.time()
        nb = knn_shape(big_v).count()
        tb = time.time() - t0
        ratio = tb / ts
        worst = max(worst, ratio)
        print(f"knn-broadcast round{i}: small={ts:.2f}s ({ns}) big={tb:.2f}s ({nb}) ratio={ratio:.1f}")
    assert worst <= 20, f"knn-broadcast super-linear: worst ratio {worst:.1f}"
    print("knn-broadcast scaling OK")

    # --- round-6 ops: bloom prefilter, segment dedup, SQ8 ------------
    # bloom: build over N fps + probe N fps must both be linear (build
    # is a k-explode + bit_or partial agg; probe is a broadcast join)
    def bloom_shape(df):
        from bqfetch_spark.operators.llm_pipeline import (
            bloom_maybe_contains,
            build_bloom,
        )

        fps = df.select(F.xxhash64("text").alias("fp"))
        bloom = build_bloom(fps)
        return bloom_maybe_contains(fps, bloom).groupBy("bloom_maybe").count()

    def segment_shape(df, parts):
        from pyspark.sql.window import Window

        from bqfetch_spark.operators.llm_pipeline import SEGMENT_WORDS

        w = F.split(F.col("text"), " ")
        n_seg = F.ceil(F.size(w) / SEGMENT_WORDS).cast("int")
        seg = df.select(
            "doc_id",
            F.posexplode(F.sequence(F.lit(0), n_seg - 1)).alias("seg_idx", "_i"),
            w.alias("w"),
        ).select(
            "doc_id",
            "seg_idx",
            F.array_join(
                F.slice(
                    "w", F.col("seg_idx").cast("int") * SEGMENT_WORDS + 1, SEGMENT_WORDS
                ),
                " ",
            ).alias("seg"),
        )
        keep_w = Window.partitionBy("seg").orderBy("doc_id", "seg_idx")
        return (
            seg.withColumn("rn", F.row_number().over(keep_w))
            .groupBy("doc_id")
            .agg(F.sum(F.when(F.col("rn") == 1, 1).otherwise(0)).alias("n_kept"))
        )

    for label, shape in (
        ("bloom-prefilter", lambda d, p: bloom_shape(d)),
        ("segment-dedup", segment_shape),
    ):
        worst = 0.0
        for i in range(2):
            t0 = time.time()
            ns = shape(small_d, 32).count()
            ts = time.time() - t0
            t0 = time.time()
            nb = shape(big_d, 32).count()
            tb = time.time() - t0
            ratio = tb / ts
            worst = max(worst, ratio)
            print(f"{label} round{i}: small={ts:.2f}s ({ns}) big={tb:.2f}s ({nb}) ratio={ratio:.1f}")
        assert worst <= 20, f"{label} super-linear: worst ratio {worst:.1f}"
        print(f"{label} scaling OK")

    # SQ8: quantized scoring against a broadcast 25-query side —
    # corpus-linear like knn_shape, but integer math over int8 codes
    def sq8_shape(df):
        e = df.select("vec_id", as_double(F.col("embedding")).alias("v"))
        scale = e.select(
            F.max(F.array_max(F.transform("v", lambda x: F.abs(x)))).alias("s")
        )
        q8 = e.crossJoin(F.broadcast(scale)).select(
            "vec_id",
            F.transform(
                "v", lambda x: F.floor(x / F.col("s") * 127 + 0.5).cast("long")
            ).alias("qv"),
        )
        q = q8.filter(F.col("vec_id") % 20 == 0).limit(25).select(
            F.col("vec_id").alias("qid"), F.col("qv").alias("q_qv")
        )
        score = F.aggregate(
            F.zip_with("q_qv", "qv", lambda x, y: x * y),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        return (
            q8.crossJoin(F.broadcast(q))
            .select("qid", score.alias("s"))
            .groupBy("qid")
            .agg(F.max("s").alias("best"))
        )

    worst = 0.0
    for i in range(2):
        t0 = time.time()
        ns = sq8_shape(small_v).count()
        ts = time.time() - t0
        t0 = time.time()
        nb = sq8_shape(big_v).count()
        tb = time.time() - t0
        ratio = tb / ts
        worst = max(worst, ratio)
        print(f"sq8-scoring round{i}: small={ts:.2f}s ({ns}) big={tb:.2f}s ({nb}) ratio={ratio:.1f}")
    assert worst <= 20, f"sq8-scoring super-linear: worst ratio {worst:.1f}"
    print("sq8-scoring scaling OK")

    # --- qx192 PCA sufficient statistics at 10× vectors ---------------
    # the one-pass Gram trick's claim: the shuffle carries ~2144 rows
    # PER TASK regardless of corpus size, so 10× vectors must cost
    # ~10× map work and identical reduce work — linear wall, constant
    # output (2144-row frame both sizes)
    from bqfetch_spark.operators.similarity import pca_stats_phase1

    def pca_stats_shape(df):
        e = df.select("vec_id", as_double(F.col("embedding")).alias("v"))
        return pca_stats_phase1(e).groupBy("pos").agg(
            F.sum(F.col("q1").cast("decimal(38,0)")).alias("q")
        )

    worst = 0.0
    for i in range(2):
        t0 = time.time()
        ns = pca_stats_shape(small_v).count()
        ts = time.time() - t0
        t0 = time.time()
        nb = pca_stats_shape(big_v).count()
        tb = time.time() - t0
        ratio = tb / ts
        worst = max(worst, ratio)
        print(f"pca-stats round{i}: small={ts:.2f}s ({ns}) big={tb:.2f}s ({nb}) ratio={ratio:.1f}")
    assert worst <= 20, f"pca-stats super-linear: worst ratio {worst:.1f}"
    print("pca-stats scaling OK")

    # --- incremental-store compaction at 10x fingerprints -----------
    # compaction is one distinct over the store + one bin-packed
    # write; 10x store rows must cost ~10x, and the compacted row
    # count must equal the distinct fp count at both sizes
    from bqfetch_spark.streaming.incremental import build_fingerprint_store
    from bqfetch_spark.streaming.maintenance import (
        compact_fingerprint_store,
        parquet_dir_stats,
    )

    docs0s = spark.read.parquet(f"{base}/documents.parquet").select("doc_id", "text")
    docs10s = (
        docs0s.crossJoin(spark.range(10).select(F.col("id").alias("rep")))
        .select(
            (F.col("doc_id") + F.col("rep") * 10_000_000).alias("doc_id"),
            F.concat(F.lit("rep"), F.col("rep"), F.lit(" "), F.col("text")).alias("text"),
        )
    )
    worst = 0.0
    for i in range(2):
        times = []
        for tag, d in (("small", docs0s), ("big", docs10s)):
            store = f"{tmp}/fp_store_{tag}_{i}"
            build_fingerprint_store(d, store)
            # debris: a duplicate append (the retried-wave byte cost)
            dup = spark.read.parquet(store)
            dup.write.mode("append").parquet(store)
            t0 = time.time()
            compact_fingerprint_store(spark, store)
            times.append(time.time() - t0)
            n_files, _b = parquet_dir_stats(store)
            assert n_files == 1, f"compaction left {n_files} files"
        ratio = times[1] / times[0]
        worst = max(worst, ratio)
        print(f"fp-compaction round{i}: small={times[0]:.2f}s big={times[1]:.2f}s ratio={ratio:.1f}")
    assert worst <= 20, f"fp-compaction super-linear: worst ratio {worst:.1f}"
    print("fp-compaction scaling OK")

    # --- qx219 embedding distribution distance at 10× vectors -------
    # one label-keyed exchange of fixed-point moment aggregates + a
    # 10-row broadcast self-join: 10× vectors must cost ≈10× (the
    # moments pass) — a pairwise-distance spelling would show ~100×
    from bqfetch_spark.catalog import TABLES
    from bqfetch_spark.operators.similarity import qx219_embedding_frechet

    emb0 = spark.read.parquet(f"{base}/embeddings.parquet")
    reps = spark.range(10).select(F.col("id").alias("rep"))
    os.makedirs(f"{tmp}/sfbig", exist_ok=True)
    for t in TABLES:  # catalog loads eagerly: satisfy the other tables
        if t not in ("embeddings", "documents"):
            dst = f"{tmp}/sfbig/{t}.parquet"
            if not os.path.exists(dst):
                os.symlink(f"{base}/{t}.parquet", dst)
    (
        emb0.crossJoin(reps)
        .select(
            (F.col("vec_id") + F.col("rep") * 10_000_000).alias("vec_id"),
            "embedding",
            "label",
        )
        .repartition(32)
        .write.mode("overwrite")
        .parquet(f"{tmp}/sfbig/embeddings.parquet")
    )
    # the catalog loads all tables on first touch of sfbig, so the 10×
    # documents replica must exist before the first qx219 call
    d0 = spark.read.parquet(f"{base}/documents.parquet")
    (
        d0.crossJoin(reps)
        .select(
            (F.col("doc_id") + F.col("rep") * 10_000_000).alias("doc_id"),
            "text",
            "lang",
            "source",
            "n_chars",
        )
        .repartition(32)
        .write.mode("overwrite")
        .parquet(f"{tmp}/sfbig/documents.parquet")
    )
    worst = 0.0
    for i in range(2):
        t0 = time.time()
        qx219_embedding_frechet(spark, base).collect()
        ts = time.time() - t0
        t0 = time.time()
        qx219_embedding_frechet(spark, f"{tmp}/sfbig").collect()
        tb = time.time() - t0
        ratio = tb / ts
        worst = max(worst, ratio)
        print(f"frechet round{i}: small={ts:.2f}s big={tb:.2f}s ratio={ratio:.1f}")
    assert worst <= 15, f"frechet super-linear: worst ratio {worst:.1f}"
    print("frechet scaling OK")

    # --- qx220 quantile normalization at 10× documents --------------
    # two range-exchange global ranks + an equi-join lookup: linear.
    # Replicas keep the source column (per-source rank offsets stay a
    # groups-sized broadcast) and shift doc_ids so ranks genuinely grow.
    from bqfetch_spark.operators.corpus import qx220_quantile_normalize

    worst = 0.0
    for i in range(2):
        t0 = time.time()
        qx220_quantile_normalize(spark, base).count()
        ts = time.time() - t0
        t0 = time.time()
        qx220_quantile_normalize(spark, f"{tmp}/sfbig").count()
        tb = time.time() - t0
        ratio = tb / ts
        worst = max(worst, ratio)
        print(f"qnorm round{i}: small={ts:.2f}s big={tb:.2f}s ratio={ratio:.1f}")
    assert worst <= 15, f"qnorm super-linear: worst ratio {worst:.1f}"
    print("qnorm scaling OK")

    # --- qx224/qx229 dup-span family at 10× documents ----------------
    # replicas REUSE the same token space via the shared-text sfbig
    # documents (texts identical, shifted doc_ids): every gram that was
    # duplicated stays duplicated, the positional-gram stream grows
    # 10×, and the per-doc windows stay doc-sized — measured time must
    # stay ≈linear (a token×interval range join would be super-linear)
    from bqfetch_spark.operators.quality import (
        qx224_dup_span_fraction,
        qx229_dup_span_cut,
    )

    for name, fn in (("dupspan", qx224_dup_span_fraction), ("dupcut", qx229_dup_span_cut)):
        worst = 0.0
        for i in range(2):
            t0 = time.time()
            fn(spark, base).count()
            ts = time.time() - t0
            t0 = time.time()
            fn(spark, f"{tmp}/sfbig").count()
            tb = time.time() - t0
            ratio = tb / ts
            worst = max(worst, ratio)
            print(f"{name} round{i}: small={ts:.2f}s big={tb:.2f}s ratio={ratio:.1f}")
        assert worst <= 15, f"{name} super-linear: worst ratio {worst:.1f}"
        print(f"{name} scaling OK")

    # --- qx221 BPE at 10× documents ---------------------------------
    # iteration cost is vocabulary-bounded: replicas REUSE the same
    # token space (no replica prefix), so the vocab frame is identical
    # at 1× and 10× and only the initial token count grows — measured
    # time should be far below 10×
    from bqfetch_spark.operators.llm_pipeline import qx221_bpe_merges

    worst = 0.0
    for i in range(2):
        t0 = time.time()
        qx221_bpe_merges(spark, base).collect()
        ts = time.time() - t0
        t0 = time.time()
        qx221_bpe_merges(spark, f"{tmp}/sfbig").collect()
        tb = time.time() - t0
        ratio = tb / ts
        worst = max(worst, ratio)
        print(f"bpe round{i}: small={ts:.2f}s big={tb:.2f}s ratio={ratio:.1f}")
    assert worst <= 15, f"bpe super-linear: worst ratio {worst:.1f}"
    print("bpe scaling OK")

    # --- hot-key skew join: AQE skew-split must ENGAGE ----------------
    # the reference's one runtime diagnostic is a plan-time skew WARNING
    # (bqfetch/bqfetch.py:410-419: >25% of values >25% off the mean);
    # this engine must also PROVE the mitigation fires. One key owns
    # ~10% of a 10x fact (hot partition ~27x the median); the fact-dim
    # sort-merge join must finalize with SortMergeJoin(skew=true) —
    # AQE split the hot partition and replicated the matching dim
    # partition — and the skewed join must stay within a small factor
    # of a same-volume UNIFORM-key control join (mitigation works, not
    # just engages). Payloads are md5 strings so the hot partition's
    # shuffle bytes cannot compress away below the detection threshold.
    rep10 = spark.range(10).select(F.col("id").alias("rep"))
    pay = F.md5(F.concat_ws("|", "l_orderkey", "rep", "l_partkey", "l_quantity"))
    hot = F.pmod(F.xxhash64("l_orderkey", "rep"), F.lit(10)) == 0
    uniq = F.col("l_orderkey") + F.col("rep") * 10_000_000
    (
        li0.crossJoin(rep10)
        .select(F.when(hot, F.lit(1)).otherwise(uniq).alias("k"), pay.alias("pay"))
        .write.mode("overwrite")
        .parquet(f"{tmp}/skew_fact.parquet")
    )
    (
        li0.crossJoin(rep10)
        .select(uniq.alias("k"), pay.alias("pay"))
        .write.mode("overwrite")
        .parquet(f"{tmp}/uniform_fact.parquet")
    )
    (
        spark.read.parquet(f"{tmp}/uniform_fact.parquet")
        .select("k").distinct()
        .select("k", F.md5(F.col("k").cast("string")).alias("dpay"))
        .write.mode("overwrite")
        .parquet(f"{tmp}/skew_dim.parquet")
    )
    skew_confs = {
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "1m",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1m",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in skew_confs}
    for k, v in skew_confs.items():
        spark.conf.set(k, v)
    try:
        dim = spark.read.parquet(f"{tmp}/skew_dim.parquet")

        def join_shape(path):
            return (
                spark.read.parquet(path)
                .join(dim, "k")
                .groupBy()
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum(F.length("pay") + F.length("dpay")).alias("s"),
                )
            )

        worst = 0.0
        for i in range(2):
            t0 = time.time()
            ju = join_shape(f"{tmp}/uniform_fact.parquet")
            nu = ju.collect()[0]["n"]
            tu = time.time() - t0
            t0 = time.time()
            js = join_shape(f"{tmp}/skew_fact.parquet")
            ns = js.collect()[0]["n"]
            tskew = time.time() - t0
            plan = js._jdf.queryExecution().executedPlan().toString()
            final_plan = plan.split("== Initial Plan ==")[0]
            assert "skew=true" in final_plan, (
                "AQE skew-join split did NOT engage on the hot-key join:\n"
                + final_plan[:1500]
            )
            assert nu == ns == 10 * n_small, (nu, ns, n_small)
            ratio = tskew / tu
            worst = max(worst, ratio)
            print(
                f"skew-join round{i}: uniform={tu:.2f}s skewed={tskew:.2f}s "
                f"ratio={ratio:.1f} (skew=true engaged)"
            )
        assert worst <= 5, f"skew mitigation ineffective: worst ratio {worst:.1f}"
        print("hot-key skew-join mitigation OK")
    finally:
        for k, v in saved.items():
            if v is not None:
                spark.conf.set(k, v)
            else:
                spark.conf.unset(k)

    shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
