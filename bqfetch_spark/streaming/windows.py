"""Structured Streaming variants of the event analytics (SURVEY.md
§2.C C16 note — the reference is batch-only; streams are engine-added).

The batch fixtures double as a replayable stream: readStream over the
events parquet with Trigger.AvailableNow processes the whole table as
a bounded stream through the SAME windowed-aggregation operator the
batch query uses, with a watermark bounding state. On a cluster this
is exactly the incremental-refresh topology; only the source/sink
bindings change.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bqfetch_spark.catalog import load_catalog, normalize_table


def streaming_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the events table (schema taken from the batch
    catalog, which read it off the file's footer with no Spark job;
    pathGlobFilter isolates the one file in the shared dir)."""
    cat = load_catalog(spark, sf_dir)
    batch = cat.table("events")
    stream = (
        spark.readStream.schema(cat.file_schema("events"))
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    # the SAME timestamp normalization the batch catalog applies (the
    # fixture has shipped ts as both int64-nanos and timestamp_ntz
    # across driver versions; normalize_table handles either)
    stream = normalize_table("events", stream)
    assert stream.schema == batch.schema, "stream/batch schema drift"
    return stream


def streaming_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the documents table: its single file is a single
    micro-batch under AvailableNow (schema from the batch catalog)."""
    return (
        spark.readStream.schema(load_catalog(spark, sf_dir).file_schema("documents"))
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )


def tumbling_counts_stream(
    events: DataFrame, watermark: str = "1 hour", window: str = "1 hour"
) -> DataFrame:
    """Watermarked tumbling-window aggregation — late rows beyond the
    watermark are dropped; state is bounded by watermark horizon."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
    )


def hopping_counts_stream(
    events: DataFrame,
    watermark: str = "1 hour",
    window: str = "1 hour",
    slide: str = "30 minutes",
) -> DataFrame:
    """Watermarked HOPPING-window aggregation (qx112's batch shape run
    incrementally): each event lands in window/slide overlapping
    windows; state per open window is bounded by the watermark horizon
    × overlap factor — the overlap multiplies state size, not history."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
    )


def run_to_memory(
    result: DataFrame,
    name: str,
    output_mode: str = "complete",
    state_partitions: int | None = None,
) -> DataFrame:
    """Execute a bounded stream (AvailableNow) into a memory sink and
    return the materialized result as a DataFrame.

    ``state_partitions`` sets the shuffle/state-partition count for
    THIS stream. Unlike batch (where AQE coalesces at runtime),
    streaming state sharding is captured by the first checkpoint and
    can never adapt afterwards — it is an explicit deployment choice
    sized to target key volume. Each stateful operator commits one
    state store PER partition PER micro-batch, so the session's
    scale-default of 32 is pure commit overhead for a fixture-sized
    replay (measured: the q97 join spends most of its wall in 64
    store commits/batch); a production deployment of the same
    topology passes hundreds. The session default is restored after
    the bounded run."""
    spark = result.sparkSession
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        if state_partitions is not None:
            spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
        with tempfile.TemporaryDirectory(prefix="bqfs_ckpt_") as ckpt:
            q = (
                result.writeStream.format("memory")
                .queryName(name)
                .outputMode(output_mode)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return spark.table(name)


def dedup_stream(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming exactly-once dedup on event_id within the watermark
    horizon (dropDuplicatesWithinWatermark): the state store keeps one
    entry per key only until the watermark passes it — bounded state,
    unlike a naive dropDuplicates whose state grows forever. This is
    the streaming leg of the dedup family (batch: q40; incremental
    batch: q66): a continuously-crawled corpus dedupes in flight, and
    re-deliveries inside the lateness horizon are dropped exactly
    like a replayed Kafka partition would be."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(["event_id"])
