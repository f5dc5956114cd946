"""Lakehouse table-maintenance operators: CDC merge, partition-pruned
layout, small-file compaction, SCD2 change history.

The reference's data model is a managed warehouse (BigQuery tables,
bqfetch/bqfetch.py:457-502 reads them; CTAS/DROP mutate them —
SURVEY §2.A A4/A5). On a Spark lakehouse the same user owns the table
LAYOUT too, and the four operators here are the maintenance loop every
100 TB parquet deployment runs daily:

- q35 MERGE (CDC apply): upsert + delete a change set into a snapshot
  — one key anti-join plus a union, the merge-on-read shape.
- q38 partition-pruned scan: hive-partitioned layout written by the
  engine, then a day query whose scan reads ONLY that day's directory
  (PartitionFilters — plan-asserted in tests/test_plan_shapes.py).
- q39 compaction: bin-pack a small-file directory (the debris every
  streaming sink leaves) to target-sized files; content-identity is
  the oracle, the file-count drop is pytest-pinned.
- q58 SCD2 history: gaps-and-islands run-length encoding of per-user
  state changes into (valid_from, valid_to] versioned rows.

All four carry full DuckDB oracles: the merge/history are pure SQL;
the layout ops' oracles aggregate the SAME rows from the original
table, so the driver's value hash proves the rewrite preserved
content byte-for-byte.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from bqfetch_spark.catalog import load_catalog
from bqfetch_spark.operators.relational import r6
from bqfetch_spark.registry import register

DEC_VALUE = "decimal(18,6)"

MERGE_ORACLE = """
WITH upd AS (
  SELECT c_custkey, c_name, c_nationkey,
         c_acctbal + 100.0 AS c_acctbal,
         'MIGRATED' AS c_mktsegment
  FROM customer WHERE c_custkey % 10 = 4
),
ins AS (
  SELECT c_custkey + 1000000 AS c_custkey,
         'NEW#' || CAST(c_custkey + 1000000 AS VARCHAR) AS c_name,
         c_nationkey,
         CAST(0.0 AS DOUBLE) AS c_acctbal,
         'NEW' AS c_mktsegment
  FROM customer WHERE c_custkey % 10 = 5
),
kept AS (
  SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
  FROM customer WHERE c_custkey % 10 NOT IN (3, 4)
)
SELECT * FROM kept
UNION ALL SELECT * FROM upd
UNION ALL SELECT * FROM ins
"""


@register("q35_cdc_merge", oracle=MERGE_ORACLE, tags=("lakehouse", "merge", "cdc"))
def q35_cdc_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE a CDC change set (deletes / updates / inserts, derived
    deterministically from the key so the oracle can derive the same)
    into the customer snapshot. Spark-first merge-on-read: ONE anti
    join of the base against the touched-key set (shuffle or broadcast
    by change-set size — at 100 TB the change set is the small side),
    then a union with the new row images. No row of the base is
    rewritten unless its key changed — the I/O contract a Delta/
    Iceberg MERGE compiles to."""
    base = load_catalog(spark, sf_dir).table("customer")
    mod = F.col("c_custkey") % 10

    updates = base.filter(mod == 4).select(
        "c_custkey",
        "c_name",
        "c_nationkey",
        (F.col("c_acctbal") + F.lit(100.0)).alias("c_acctbal"),
        F.lit("MIGRATED").alias("c_mktsegment"),
    )
    inserts = base.filter(mod == 5).select(
        (F.col("c_custkey") + F.lit(1000000)).alias("c_custkey"),
        F.concat(
            F.lit("NEW#"), (F.col("c_custkey") + F.lit(1000000)).cast("string")
        ).alias("c_name"),
        "c_nationkey",
        F.lit(0.0).alias("c_acctbal"),
        F.lit("NEW").alias("c_mktsegment"),
    )
    # deletes (key%10==3) and updates (key%10==4) both remove the old
    # image; one anti join handles both
    touched = base.filter(mod.isin(3, 4)).select("c_custkey")
    kept = base.join(F.broadcast(touched), "c_custkey", "left_anti")
    return kept.unionByName(updates).unionByName(inserts)


PRUNED_ORACLE = """
SELECT event_type,
       count(*) AS n_events,
       round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6) AS total_value
FROM events
WHERE CAST(ts AS DATE) = DATE '2024-01-02'
GROUP BY event_type
"""

PRUNE_DAY = "2024-01-02"


def layout_dir_for(sf_dir: str) -> str:
    """Cache dir for the hive layout of one fixture root: content-keyed
    on the FULL normalized sf_dir (sha1) — two roots sharing a basename
    can never collide — and uid-scoped so multi-user hosts don't fight
    over one /tmp parent (the same fix as the chunked-source sidecar)."""
    import hashlib
    import tempfile

    norm = os.path.normpath(os.path.abspath(sf_dir))
    key = hashlib.sha1(norm.encode()).hexdigest()[:16]
    parent = os.path.join(tempfile.gettempdir(), f"bqfs_layout_u{os.getuid()}")
    os.makedirs(parent, mode=0o700, exist_ok=True)
    return os.path.join(parent, key)


def write_partitioned_events(spark: SparkSession, sf_dir: str, out_dir: str) -> str:
    """Lay events out hive-partitioned by event day (the layout an
    ingest job writes once; queries prune against it forever). Skips
    the rewrite when the layout for this sf_dir already exists."""
    marker = os.path.join(out_dir, "_layout_of")
    if os.path.exists(marker):
        with open(marker) as fh:
            if fh.read() == sf_dir:
                return out_dir
    ev = load_catalog(spark, sf_dir).table("events")
    (
        ev.withColumn("event_date", F.date_format("ts", "yyyy-MM-dd"))
        .repartition("event_date")
        .write.mode("overwrite")
        .partitionBy("event_date")
        .parquet(out_dir)
    )
    with open(marker, "w") as fh:
        fh.write(sf_dir)
    return out_dir


@register("q38_partition_pruned_scan", oracle=PRUNED_ORACLE, tags=("lakehouse", "layout", "pruning"))
def q38_partition_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day aggregate over a hive-partitioned layout the engine wrote:
    the filter on the PARTITION column becomes a PartitionFilter, so
    the scan lists and reads exactly one ``event_date=.../`` directory
    however many days the table holds (plan-asserted in
    tests/test_plan_shapes.py). The oracle aggregates the same day
    from the ORIGINAL table — the value hash proves the partitioned
    rewrite lost and duplicated nothing for the probed day.
    ``repartition("event_date")`` at write time yields one file per
    day-partition per shuffle bucket rather than files x tasks
    fan-out (the small-file trap q39 exists to clean up)."""
    write_partitioned_events(spark, sf_dir, layout_dir_for(sf_dir))
    out_dir = layout_dir_for(sf_dir)
    day = spark.read.parquet(out_dir).filter(F.col("event_date") == PRUNE_DAY)
    return day.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        r6(F.sum(F.col("value").cast(DEC_VALUE)).cast("double")).alias("total_value"),
    )


COMPACT_ORACLE = """
SELECT event_type,
       count(*) AS n_events,
       count(DISTINCT event_id) AS n_ids,
       round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6) AS total_value
FROM events
GROUP BY event_type
"""

COMPACT_TARGET_BYTES = 128 << 20  # target compacted file size


def compact_parquet_dir(spark: SparkSession, src_dir: str, dst_dir: str,
                        target_bytes: int = COMPACT_TARGET_BYTES) -> int:
    """Bin-pack a parquet directory into ceil(total/target) files:
    size from a driver-side listing (O(n_files) metadata, no data
    read), one round-robin repartition to the target count, one
    write. Returns the target file count. At 100 TB this runs
    per-partition-directory with target counts in the hundreds — the
    repartition is the parallelism, not a bottleneck."""
    total = sum(
        os.path.getsize(os.path.join(src_dir, f))
        for f in os.listdir(src_dir)
        if f.endswith(".parquet")
    )
    n_files = max(1, math.ceil(total / target_bytes))
    spark.read.parquet(src_dir).repartition(n_files).write.mode("overwrite").parquet(dst_dir)
    return n_files


@register("q39_compact_small_files", oracle=COMPACT_ORACLE, tags=("lakehouse", "compaction"))
def q39_compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction: stage events as 64 undersized files (the
    debris a micro-batching sink leaves), bin-pack them to
    target-sized files (compact_parquet_dir), and return a content
    aggregate READ FROM THE COMPACTED STORE. The oracle computes the
    same aggregate from the original table, so the driver's value
    hash certifies the compactor preserved every row and value; the
    64 -> ceil(bytes/target) file-count drop is pinned in pytest."""
    from bqfetch_spark.workcache import overwrite_workdir

    work = overwrite_workdir("compact", sf_dir)
    staging = os.path.join(work, "staging")
    compacted = os.path.join(work, "compacted")
    ev = load_catalog(spark, sf_dir).table("events")
    ev.repartition(64).write.mode("overwrite").parquet(staging)
    compact_parquet_dir(spark, staging, compacted)
    out = spark.read.parquet(compacted)
    return out.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("event_id").alias("n_ids"),
        r6(F.sum(F.col("value").cast(DEC_VALUE)).cast("double")).alias("total_value"),
    )


EVOLVE_ORACLE = """
SELECT COALESCE(CASE WHEN CAST(ts AS DATE) >= DATE '2024-01-03'
                     THEN (CASE WHEN value >= 10.0 THEN 'high' ELSE 'low' END)
                END, '__missing__') AS quality_tier,
       count(*) AS n_events,
       round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6) AS total_value
FROM events
GROUP BY 1
"""

EVOLVE_CUTOVER = "2024-01-03"


@register("q59_schema_evolution", oracle=EVOLVE_ORACLE, tags=("lakehouse", "schema-evolution"))
def q59_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution across file generations: generation 1 (events
    before the cutover day) is written WITHOUT ``quality_tier``;
    generation 2 carries the added column. One ``mergeSchema`` read
    unions both generations — old files surface NULL for the new
    column, exactly the contract a 100 TB table relies on when a
    column is added without rewriting history. The aggregate buckets
    the NULLs explicitly (``__missing__``) so the oracle — which
    derives the same generational split from ``ts`` on the original
    table — hash-checks that no old row was dropped, duplicated, or
    backfilled. Schema merging costs one footer read per FILE GROUP
    (not per row); the data scan is unchanged."""
    from bqfetch_spark.workcache import overwrite_workdir

    ev = load_catalog(spark, sf_dir).table("events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    work = overwrite_workdir("evolve", sf_dir)
    cut = F.to_date(F.col("ts")) >= F.lit(EVOLVE_CUTOVER).cast("date")
    ev.filter(~cut).write.mode("overwrite").parquet(os.path.join(work, "gen=1"))
    (
        ev.filter(cut)
        .withColumn(
            "quality_tier",
            F.when(F.col("value") >= 10.0, "high").otherwise("low"),
        )
        .write.mode("overwrite")
        .parquet(os.path.join(work, "gen=2"))
    )
    merged = spark.read.option("mergeSchema", "true").parquet(work)
    return merged.groupBy(
        F.coalesce("quality_tier", F.lit("__missing__")).alias("quality_tier")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        r6(F.sum(F.col("value").cast(DEC_VALUE)).cast("double")).alias("total_value"),
    )


SCD2_ORACLE = """
WITH ordered AS (
  SELECT user_id, event_type, ts, event_id,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
  FROM events
),
flagged AS (
  SELECT *, CASE WHEN prev_type IS NULL OR prev_type <> event_type
                 THEN 1 ELSE 0 END AS chg
  FROM ordered
),
versioned AS (
  SELECT *, sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS version
  FROM flagged
),
islands AS (
  SELECT user_id, version, min(event_type) AS event_type,
         min(ts) AS valid_from, count(*) AS n_events
  FROM versioned GROUP BY user_id, version
)
SELECT user_id,
       CAST(version AS BIGINT) AS version,
       event_type,
       valid_from,
       lead(valid_from) OVER (PARTITION BY user_id ORDER BY version) AS valid_to,
       CAST(n_events AS BIGINT) AS n_events
FROM islands
"""


@register("q58_scd2_history", oracle=SCD2_ORACLE, tags=("lakehouse", "scd2", "islands"))
def q58_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 change history via gaps-and-islands: collapse each
    user's consecutive same-``event_type`` runs into one versioned row
    with ``[valid_from, valid_to)`` effectivity (open ``valid_to`` =
    current state). Run-length detection is the lag-compare /
    running-sum idiom; every window and the island groupBy partition
    on ``user_id``, so the whole plan is ONE exchange on the user key
    — the sorts and the aggregation reuse it. The un-CAST DuckDB
    ``sum() OVER`` would widen to HUGEINT (the q100 drift class), so
    the oracle casts version/n_events back to BIGINT."""
    ev = load_catalog(spark, sf_dir).table("events")
    w_ord = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("event_type").over(w_ord)
    chg = F.when(prev.isNull() | (prev != F.col("event_type")), 1).otherwise(0)
    versioned = ev.withColumn("chg", chg).withColumn(
        "version",
        F.sum("chg").over(w_ord.rowsBetween(Window.unboundedPreceding, 0)),
    )
    islands = versioned.groupBy("user_id", "version").agg(
        F.min("event_type").alias("event_type"),
        F.min("ts").alias("valid_from"),
        F.count(F.lit(1)).alias("n_events"),
    )
    w_ver = Window.partitionBy("user_id").orderBy("version")
    return islands.select(
        "user_id",
        F.col("version").cast("bigint").alias("version"),
        "event_type",
        "valid_from",
        F.lead("valid_from").over(w_ver).alias("valid_to"),
        "n_events",
    )


# ---------------------------------------------------------------------------
# qx131 — multi-format source round-trip (JSON / CSV interchange)
# ---------------------------------------------------------------------------

# Microsecond-precision timestamp pattern: Spark's DEFAULT json/csv
# timestamp format truncates to millis on write, which would silently
# lose the fixture's microsecond event times — the exact class of
# interchange bug this operator exists to catch.
_TS_FMT = "yyyy-MM-dd HH:mm:ss.SSSSSS"

MULTIFORMAT_ORACLE = """
SELECT fmt, n_rows, n_users, sum_cents, min_us, max_us
FROM (
  SELECT 1 AS ord, 'csv' AS fmt,
    CAST(count(*) AS BIGINT) AS n_rows,
    CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
    CAST(sum(CAST(round(value * 100) AS HUGEINT)) AS BIGINT) AS sum_cents,
    CAST(min(epoch_us(ts)) AS BIGINT) AS min_us,
    CAST(max(epoch_us(ts)) AS BIGINT) AS max_us
  FROM events
  UNION ALL
  SELECT 2, 'json',
    CAST(count(*) AS BIGINT),
    CAST(count(DISTINCT user_id) AS BIGINT),
    CAST(sum(CAST(round(value * 100) AS HUGEINT)) AS BIGINT),
    CAST(min(epoch_us(ts)) AS BIGINT),
    CAST(max(epoch_us(ts)) AS BIGINT)
  FROM events
) ORDER BY ord
"""


@register(
    "qx131_multiformat_roundtrip",
    oracle=MULTIFORMAT_ORACLE,
    doc="JSON/CSV source round-trip: re-exported events must checksum like parquet",
    tags=("sources", "formats", "interchange"),
)
def qx131_multiformat_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-format breadth, value-checked: export the events table
    to line-delimited JSON and to CSV, read each back through the
    matching Spark source, and emit per-format content checksums
    (row count, distinct users, integer-cents value sum, min/max
    epoch-microseconds). The ORACLE computes the same checksums from
    the PARQUET original — so the query only matches if both
    round-trips are LOSSLESS, which is exactly what it exists to
    prove (and what the default writer settings would fail: JSON/CSV
    timestamps truncate to milliseconds without an explicit
    microsecond timestampFormat, CSV needs explicit schema + quoting
    for the embedded-JSON props column). Both reads are real
    DataSource scans — schema projection and partitioned reads work
    the same as parquet's; the checksum aggregation is one
    partial-combined pass per format."""
    import os
    import shutil
    import tempfile

    ev = load_catalog(spark, sf_dir).table("events")
    # Per-invocation scratch dir: a fixed path keyed on the fixture
    # basename races when two sessions overwrite/read concurrently.
    work = tempfile.mkdtemp(prefix="bqfs_formats_")
    jdir, cdir = os.path.join(work, "json"), os.path.join(work, "csv")
    (
        ev.write.mode("overwrite")
        .option("timestampFormat", _TS_FMT)
        .json(jdir)
    )
    (
        ev.write.mode("overwrite")
        .option("header", True)
        .option("timestampFormat", _TS_FMT)
        .option("quoteAll", True)
        .csv(cdir)
    )
    schema = ev.schema
    back = {
        "json": spark.read.schema(schema)
        .option("timestampFormat", _TS_FMT)
        .json(jdir),
        "csv": spark.read.schema(schema)
        .option("header", True)
        .option("timestampFormat", _TS_FMT)
        .csv(cdir),
    }

    def checksum(df: DataFrame, fmt: str) -> DataFrame:
        return df.agg(
            F.lit(fmt).alias("fmt"),
            F.count("*").cast("bigint").alias("n_rows"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
            F.sum(F.round(F.col("value") * 100).cast("decimal(38,0)"))
            .cast("bigint")
            .alias("sum_cents"),
            F.min(F.unix_micros("ts")).cast("bigint").alias("min_us"),
            F.max(F.unix_micros("ts")).cast("bigint").alias("max_us"),
        )
    lazy = checksum(back["csv"], "csv").unionAll(checksum(back["json"], "json"))
    # Materialize the 2-row checksum eagerly so the scratch dir can be
    # removed before returning (the result no longer references it).
    rows, out_schema = lazy.collect(), lazy.schema
    shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(rows, out_schema)


# ---------------------------------------------------------------------------
# qx160 — snapshot diff (change-data-feed between two table versions)
# ---------------------------------------------------------------------------

SNAPSHOT_DIFF_ORACLE = """
WITH a AS (
  SELECT doc_id, text, lang, source, n_chars FROM documents
),
b AS (
  -- version B derived deterministically from A: doc_id%17==0 removed,
  -- %17==1 mutated (n_chars+1), %17==2 additionally cloned under a
  -- shifted key (the 'added' rows)
  SELECT doc_id, text, lang, source,
         CASE WHEN doc_id % 17 = 1 THEN n_chars + 1 ELSE n_chars END AS n_chars
  FROM documents WHERE doc_id % 17 <> 0
  UNION ALL
  SELECT doc_id + 1000000, text, lang, source, n_chars
  FROM documents WHERE doc_id % 17 = 2
),
j AS (
  SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
         a.doc_id IS NULL AS only_b,
         b.doc_id IS NULL AS only_a,
         (a.doc_id IS NOT NULL AND b.doc_id IS NOT NULL AND
          (a.text <> b.text OR a.lang <> b.lang OR a.source <> b.source
           OR a.n_chars <> b.n_chars)) AS mutated
  FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id
)
SELECT doc_id,
       CASE WHEN only_b THEN 'added'
            WHEN only_a THEN 'removed'
            ELSE 'changed' END AS change_type
FROM j
WHERE only_a OR only_b OR mutated
"""


@register(
    "qx160_snapshot_diff",
    oracle=SNAPSHOT_DIFF_ORACLE,
    doc="Change-data-feed diff between two table snapshots: added/removed/changed",
    tags=("lakehouse", "cdc", "diff"),
)
def qx160_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff — what Delta's change data feed / Iceberg's
    changelog scan computes between two table versions, spelled as a
    single keyed FULL OUTER JOIN: rows only in B are 'added', only in
    A 'removed', present in both with any column delta 'changed';
    unchanged rows drop out. Complements q35 (MERGE applies a change
    set; this RECOVERS the change set from two snapshots). Scale
    shape: one co-partitioned join on the table key — with both
    snapshots bucketed by key (sources/writers bucketed writes) this
    is a zero-exchange sort-merge join; the comparison predicate is a
    pure projection. Version B is derived deterministically from A
    (remove / mutate / clone by doc_id rules) so both engines diff
    identical inputs."""
    docs = load_catalog(spark, sf_dir).table("documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    b = (
        docs.filter(F.col("doc_id") % 17 != 0)
        .withColumn(
            "n_chars",
            F.when(F.col("doc_id") % 17 == 1, F.col("n_chars") + 1).otherwise(
                F.col("n_chars")
            ),
        )
        .unionByName(
            docs.filter(F.col("doc_id") % 17 == 2).withColumn(
                "doc_id", F.col("doc_id") + 1_000_000
            )
        )
    )
    a = docs.alias("a")
    bb = b.alias("b")
    j = a.join(bb, F.col("a.doc_id") == F.col("b.doc_id"), "full_outer")
    only_b = F.col("a.doc_id").isNull()
    only_a = F.col("b.doc_id").isNull()
    mutated = (
        F.col("a.doc_id").isNotNull()
        & F.col("b.doc_id").isNotNull()
        & (
            (F.col("a.text") != F.col("b.text"))
            | (F.col("a.lang") != F.col("b.lang"))
            | (F.col("a.source") != F.col("b.source"))
            | (F.col("a.n_chars") != F.col("b.n_chars"))
        )
    )
    return (
        j.filter(only_a | only_b | mutated)
        .select(
            F.coalesce(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_id"),
            F.when(only_b, F.lit("added"))
            .when(only_a, F.lit("removed"))
            .otherwise(F.lit("changed"))
            .alias("change_type"),
        )
    )


# ---------------------------------------------------------------------------
# qx204 — referential-integrity audit (FK orphan counts, one summary)
# ---------------------------------------------------------------------------

# (child table, fk column, parent table, pk column) — the fixture's
# star-schema edges plus the events→customer edge, which is EXPECTED to
# carry orphans (events users aren't all customers): the audit reports,
# it does not assert.
FK_EDGES = [
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"),
    ("events", "user_id", "customer", "c_custkey"),
]

REFERENTIAL_ORACLE = "\nUNION ALL\n".join(
    f"""SELECT '{child}.{fk}->{parent}.{pk}' AS relationship,
       (SELECT CAST(count(*) AS BIGINT) FROM {child}) AS n_child,
       (SELECT CAST(count(*) AS BIGINT) FROM {child} c
         WHERE c.{fk} IS NOT NULL
           AND NOT EXISTS (SELECT 1 FROM {parent} p WHERE p.{pk} = c.{fk})
       ) AS n_orphans,
       (SELECT CAST(count(*) AS BIGINT) FROM {child} WHERE {fk} IS NULL)
         AS n_null_fk"""
    for child, fk, parent, pk in FK_EDGES
)


@register(
    "qx204_referential_integrity",
    oracle=REFERENTIAL_ORACLE,
    doc="FK orphan/null audit across the star-schema edges, one summary frame",
    tags=("lakehouse", "quality", "audit"),
)
def qx204_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit — the nightly data-quality job that
    catches a broken upstream load before a join silently drops rows:
    for every FK edge of the schema, the child row count, the count of
    NON-NULL FKs with no parent (true orphans), and the NULL-FK count
    (reported separately: NULL is "unknown", not "broken"). The
    events→customer edge is included precisely because it carries
    orphans by design — an audit that only checks edges known to be
    clean audits nothing.

    Plan shape per edge: one LEFT-ANTI join from the child's FK
    projection to the parent's key projection — dimension parents
    broadcast (AQE decides; all true here), the one fact-fact edge
    (lineitem→orders) shuffles both key projections, never full rows.
    The per-edge 1-row aggregates union into ONE LAZY frame — the
    original spelling collected 18 separate count() actions in a
    driver loop (3 per edge), serializing the edges; the lazy union
    runs every edge's scans inside a single action so independent
    edges overlap, and the build triggers zero jobs (the qx263/action-
    audit laziness contract). Each child table is scanned at most
    twice (agg + anti-join) with only the FK column read
    (ReadSchema-pruned); the per-edge crossJoin glues two 1-ROW
    aggregates (explicit broadcast → BroadcastNestedLoopJoin, never a
    CartesianProduct over data-sized frames)."""
    cat = load_catalog(spark, sf_dir)
    parts = []
    for child, fk, parent, pk in FK_EDGES:
        c = cat.table(child)
        p = cat.table(parent).select(pk).distinct()
        base = c.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_child"),
            F.count(F.when(F.col(fk).isNull(), F.lit(1)))
            .cast("bigint")
            .alias("n_null_fk"),
        )
        orph = (
            c.select(fk)
            .filter(F.col(fk).isNotNull())
            .join(p, F.col(fk) == F.col(pk), "left_anti")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_orphans"))
        )
        parts.append(
            base.crossJoin(F.broadcast(orph)).select(
                F.lit(f"{child}.{fk}->{parent}.{pk}").alias("relationship"),
                "n_child",
                "n_orphans",
                "n_null_fk",
            )
        )
    out = parts[0]
    for part in parts[1:]:
        out = out.unionAll(part)
    return out


# ---------------------------------------------------------------------------
# qx230 — order-invariant content fingerprint (dataset versioning)
# ---------------------------------------------------------------------------

FINGERPRINT_ORACLE = """
WITH d AS (
  SELECT CAST(CAST('0x' || substring(md5(
           CAST(doc_id AS VARCHAR) || '|' || text || '|' || lang || '|'
           || source || '|' || CAST(n_chars AS VARCHAR)), 1, 15) AS BIGINT)
         AS DECIMAL(38,0)) AS h
  FROM documents
),
o AS (
  SELECT CAST(CAST('0x' || substring(md5(
           CAST(o_orderkey AS VARCHAR) || '|' || CAST(o_custkey AS VARCHAR)
           || '|' || o_orderstatus || '|' || CAST(o_orderdate AS VARCHAR)), 1, 15)
         AS BIGINT) AS DECIMAL(38,0)) AS h
  FROM orders
)
SELECT 'documents' AS table_name, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(h) AS VARCHAR) AS content_fp FROM d
UNION ALL
SELECT 'orders', CAST(count(*) AS BIGINT), CAST(sum(h) AS VARCHAR) FROM o
ORDER BY table_name
"""


@register(
    "qx230_content_fingerprint",
    oracle=FINGERPRINT_ORACLE,
    doc="order-invariant per-table content fingerprint (row-hash sum) for dataset versioning",
    tags=("lakehouse", "versioning", "audit"),
)
def qx230_content_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-versioning primitive: an order- and partitioning-
    invariant content fingerprint per table — the SUM of a 60-bit
    md5-prefix hash of each row's canonical encoding (sum is
    commutative, so any task layout, file order, or shuffle plan
    yields the identical value; DECIMAL(38,0) accumulation cannot
    overflow below ~10^19 rows). Two snapshots with equal (n_rows,
    content_fp) are content-identical with ~2^-60 collision odds —
    the O(1)-output check a pipeline runs before and after a
    migration/compaction (q39) or as the cheap pre-filter in front of
    qx160's full row-level diff. md5 (not xxhash64) so the rule is
    engine-portable — the same convention as every keep-rule in the
    curation family.

    Plan: pure projection + one-row partial-aggregated final per
    table; at 100 TB it runs at scan bandwidth with a 32-row
    shuffle."""
    cat = load_catalog(spark, sf_dir)

    def fp(df: DataFrame, cols: list[str], name: str) -> DataFrame:
        enc = F.concat_ws("|", *[F.col(c).cast("string") for c in cols])
        h = F.conv(F.substring(F.md5(enc), 1, 15), 16, 10).cast("bigint")
        return df.select(h.alias("h")).agg(
            F.lit(name).alias("table_name"),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum(F.col("h").cast("decimal(38,0)")).cast("string").alias("content_fp"),
        )

    docs = fp(
        cat.table("documents"),
        ["doc_id", "text", "lang", "source", "n_chars"],
        "documents",
    )
    orders = fp(
        cat.table("orders"),
        ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderdate"],
        "orders",
    )
    return docs.unionByName(orders).orderBy("table_name")


# ---------------------------------------------------------------------------
# Versioned parquet table: snapshot manifests + time travel
# ---------------------------------------------------------------------------
#
# The environment blocks delta-spark (no pip), so the table-format leg
# the ACID lakehouses provide is built directly on parquet, the way
# Iceberg does it: DATA FILES ARE IMMUTABLE — every commit writes new
# part files and a JSON manifest (manifests/v<N>.json) listing exactly
# the files that make up that snapshot. Readers never list the data
# directory; they read the manifest and open precisely those files, so
#   - time travel = read an old manifest (the files still exist),
#   - commits are atomic = the manifest appears via temp-file+rename,
#   - concurrent writers conflict on the manifest name, not on data.
# At 100 TB the manifest is O(n_files) paths — the same scaling as
# Iceberg's manifest lists — and a snapshot read costs zero directory
# listings (reference cite: bqfetch/bqfetch.py:457-502 reads managed
# BigQuery tables; this gives the unmanaged-parquet user the same
# read-a-consistent-snapshot contract).

TT_MANIFESTS = "manifests"
TT_DATA = "data"


def table_version(table_dir: str) -> int:
    """Latest committed version (0 = empty table, no commits yet)."""
    mdir = os.path.join(table_dir, TT_MANIFESTS)
    if not os.path.isdir(mdir):
        return 0
    versions = [
        int(f[1:-5])
        for f in os.listdir(mdir)
        if f.startswith("v") and f.endswith(".json")
    ]
    return max(versions, default=0)


def _manifest_path(table_dir: str, version: int) -> str:
    return os.path.join(table_dir, TT_MANIFESTS, f"v{version:06d}.json")


def _read_manifest(table_dir: str, version: int) -> dict:
    import json

    path = _manifest_path(table_dir, version)
    if not os.path.exists(path):
        raise KeyError(
            f"snapshot v{version} does not exist in {table_dir} "
            f"(latest = v{table_version(table_dir)})"
        )
    with open(path) as fh:
        return json.load(fh)


def commit_snapshot(
    spark: SparkSession, table_dir: str, df: DataFrame, mode: str = "overwrite"
) -> int:
    """Commit ``df`` as the table's next snapshot; returns the new
    version number. ``mode='overwrite'``: the new snapshot is exactly
    ``df``. ``mode='append'``: the parent snapshot's files plus ``df``
    (no rewrite of history — append is an O(delta) metadata commit).

    The data files land under data/commit-<version>/ (immutable — a
    commit never touches another commit's files); the manifest is
    written temp-file+os.replace, so a crashed commit leaves orphaned
    data files no manifest references, but never a half-visible
    snapshot. A concurrent committer racing to the same version loses
    on the atomic manifest link (os.link raises EEXIST — the kernel,
    not a check-then-act exists() probe, arbitrates the race) —
    optimistic concurrency, the Iceberg/Delta protocol shape."""
    import json
    import tempfile

    if mode not in ("overwrite", "append"):
        raise ValueError(f"mode must be overwrite|append, got {mode!r}")
    parent = table_version(table_dir)
    version = parent + 1
    os.makedirs(os.path.join(table_dir, TT_MANIFESTS), exist_ok=True)
    commit_dir = os.path.join(table_dir, TT_DATA, f"commit-{version:06d}")
    df.write.mode("error").parquet(commit_dir)
    new_files = sorted(
        os.path.join(TT_DATA, f"commit-{version:06d}", f)
        for f in os.listdir(commit_dir)
        if f.endswith(".parquet")
    )
    files = new_files
    if mode == "append" and parent > 0:
        files = _read_manifest(table_dir, parent)["files"] + new_files
    manifest = {
        "version": version,
        "parent": parent,
        "mode": mode,
        "schema": df.schema.json(),
        "files": files,
    }
    fd, tmp = tempfile.mkstemp(dir=os.path.join(table_dir, TT_MANIFESTS), prefix=".v.")
    with os.fdopen(fd, "w") as fh:
        json.dump(manifest, fh)
    target = _manifest_path(table_dir, version)
    try:
        # os.link fails with EEXIST if the manifest already exists, so the
        # FILESYSTEM enforces the conflict — a check-then-act exists()
        # followed by os.replace() would let two racing committers both
        # "succeed" (os.replace silently overwrites) and lose one commit.
        os.link(tmp, target)
    except FileExistsError:
        os.remove(tmp)
        raise RuntimeError(
            f"concurrent commit conflict on v{version} in {table_dir}"
        ) from None
    os.remove(tmp)
    return version


def read_snapshot(spark: SparkSession, table_dir: str, version: int | None = None) -> DataFrame:
    """The table AS OF ``version`` (default: latest) — reads exactly
    the manifest's files, no directory listing, so a snapshot is
    immutable even while newer commits land."""
    if version is None:
        version = table_version(table_dir)
    man = _read_manifest(table_dir, version)
    paths = [os.path.join(table_dir, p) for p in man["files"]]
    if not paths:
        raise KeyError(f"snapshot v{version} is empty in {table_dir}")
    return spark.read.parquet(*paths)


def _timetravel_store_dir(sf_dir: str) -> str:
    """Content-keyed, uid-scoped store dir for qx241's 3-version table
    (same path policy as layout_dir_for)."""
    import hashlib
    import tempfile

    norm = os.path.normpath(os.path.abspath(sf_dir))
    key = hashlib.sha1(norm.encode()).hexdigest()[:16]
    parent = os.path.join(tempfile.gettempdir(), f"bqfs_timetravel_u{os.getuid()}")
    os.makedirs(parent, mode=0o700, exist_ok=True)
    return os.path.join(parent, key)


def build_timetravel_store(spark: SparkSession, sf_dir: str, table_dir: str) -> str:
    """Deterministic 3-version documents table exercising both commit
    modes (v1 overwrite = base corpus; v2 append = the doc_id%17==2
    clones under shifted keys; v3 overwrite = qx160's mutated version
    B). Skips when already built for this fixture (marker keyed on the
    sf_dir path — the versions derive deterministically from it)."""
    marker = os.path.join(table_dir, "_store_of")
    if os.path.exists(marker):
        with open(marker) as fh:
            if fh.read() == sf_dir and table_version(table_dir) == 3:
                return table_dir
        import shutil

        shutil.rmtree(table_dir)
    docs = load_catalog(spark, sf_dir).table("documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    clones = docs.filter(F.col("doc_id") % 17 == 2).withColumn(
        "doc_id", F.col("doc_id") + 1_000_000
    )
    version_b = (
        docs.filter(F.col("doc_id") % 17 != 0)
        .withColumn(
            "n_chars",
            F.when(F.col("doc_id") % 17 == 1, F.col("n_chars") + 1).otherwise(
                F.col("n_chars")
            ),
        )
        .unionByName(clones)
    )
    commit_snapshot(spark, table_dir, docs, mode="overwrite")  # v1
    commit_snapshot(spark, table_dir, clones, mode="append")  # v2 = v1 + clones
    commit_snapshot(spark, table_dir, version_b, mode="overwrite")  # v3
    with open(marker, "w") as fh:
        fh.write(sf_dir)
    return table_dir


TIMETRAVEL_ORACLE = """
WITH v1 AS (
  SELECT doc_id, n_chars, text FROM documents
),
clones AS (
  SELECT doc_id + 1000000 AS doc_id, n_chars, text
  FROM documents WHERE doc_id % 17 = 2
),
v2 AS (
  SELECT * FROM v1 UNION ALL SELECT * FROM clones
),
v3 AS (
  SELECT doc_id,
         CASE WHEN doc_id % 17 = 1 THEN n_chars + 1 ELSE n_chars END AS n_chars,
         text
  FROM documents WHERE doc_id % 17 <> 0
  UNION ALL SELECT * FROM clones
),
all_v AS (
  SELECT 1 AS version, * FROM v1
  UNION ALL SELECT 2, * FROM v2
  UNION ALL SELECT 3, * FROM v3
)
SELECT CAST(version AS BIGINT) AS version, doc_id,
       CAST(n_chars AS BIGINT) AS n_chars,
       md5(text) AS content_md5
FROM all_v
"""


@register(
    "qx241_time_travel",
    oracle=TIMETRAVEL_ORACLE,
    doc="manifest-based time travel: every historical snapshot read back content-identical",
    tags=("lakehouse", "time-travel", "versioning"),
)
def qx241_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel over the manifest-versioned parquet table: a
    3-commit history (overwrite, append, overwrite — so history
    contains both O(delta) metadata appends and full replacements) is
    read back AS OF every version, and each row carries an md5 content
    checksum. The oracle reconstructs all three historical states
    from the source table directly, so the driver's value hash proves
    the manifest machinery returns every snapshot byte-identical —
    including v1/v2 AFTER the v3 overwrite landed (immutability, the
    property a plain overwritten parquet dir loses). Scale shape:
    manifest reads are O(n_files) driver-side JSON; each snapshot scan
    opens exactly its files with zero directory listings; the union of
    three snapshot scans stays a flat parquet scan + projection."""
    store = build_timetravel_store(spark, sf_dir, _timetravel_store_dir(sf_dir))
    out = None
    for v in (1, 2, 3):
        snap = read_snapshot(spark, store, v).select(
            F.lit(v).cast("bigint").alias("version"),
            "doc_id",
            F.col("n_chars").cast("bigint").alias("n_chars"),
            F.md5(F.col("text")).alias("content_md5"),
        )
        out = snap if out is None else out.unionByName(snap)
    return out


# ---------------------------------------------------------------------------
# qx247: MERGE into the versioned table (ACID write + time travel together)
# ---------------------------------------------------------------------------

VERSIONED_MERGE_ORACLE = """
WITH merged AS (
  WITH upd AS (
    SELECT c_custkey, c_name, c_nationkey,
           c_acctbal + 100.0 AS c_acctbal,
           'MIGRATED' AS c_mktsegment
    FROM customer WHERE c_custkey % 10 = 4
  ),
  ins AS (
    SELECT c_custkey + 1000000 AS c_custkey,
           'NEW#' || CAST(c_custkey + 1000000 AS VARCHAR) AS c_name,
           c_nationkey,
           CAST(0.0 AS DOUBLE) AS c_acctbal,
           'NEW' AS c_mktsegment
    FROM customer WHERE c_custkey % 10 = 5
  ),
  kept AS (
    SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
    FROM customer WHERE c_custkey % 10 NOT IN (3, 4)
  )
  SELECT * FROM kept
  UNION ALL SELECT * FROM upd
  UNION ALL SELECT * FROM ins
),
v1 AS (
  SELECT 1 AS version, c_custkey, c_name,
         CAST(c_acctbal AS DECIMAL(12,2)) AS bal, c_mktsegment
  FROM customer
),
v2 AS (
  SELECT 2 AS version, c_custkey, c_name,
         CAST(c_acctbal AS DECIMAL(12,2)) AS bal, c_mktsegment
  FROM merged
),
allv AS (SELECT * FROM v1 UNION ALL SELECT * FROM v2)
SELECT CAST(version AS BIGINT) AS version,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CAST(CAST('0x' || substring(md5(
             CAST(c_custkey AS VARCHAR) || '|' || c_name || '|'
             || CAST(bal AS VARCHAR) || '|' || c_mktsegment), 1, 15) AS BIGINT)
           AS DECIMAL(38,0))) AS VARCHAR) AS content_fp
FROM allv
GROUP BY version
ORDER BY version
"""


@register(
    "qx247_versioned_merge",
    oracle=VERSIONED_MERGE_ORACLE,
    doc="MERGE committed as a snapshot: pre-merge state still readable, both fingerprinted",
    tags=("lakehouse", "merge", "time-travel", "cdc"),
)
def qx247_versioned_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ACID write story completed: q35's CDC MERGE applied as a
    COMMIT on the manifest-versioned table (qx241), so the pre-merge
    snapshot remains readable after the merge lands — Delta's
    MERGE + VERSION AS OF pair on plain parquet. v1 = the customer
    snapshot; v2 = the merged result committed copy-on-write (an
    overwrite commit: MERGE rewrites the table image, history keeps
    the old files). Both versions read back AS OF and fingerprinted
    (balances canonicalized to DECIMAL(12,2) so the string hash is
    engine-identical); the oracle recomputes both states from the
    source table — value-hash proof that the merge produced exactly
    the right rows AND that committing it did not disturb history.

    Scale shape: the merge is q35's anti-join + union (change set
    broadcast); each commit writes once; the audits are per-snapshot
    scans with one-row partial-aggregated finals."""
    from bqfetch_spark.workcache import overwrite_workdir

    base = load_catalog(spark, sf_dir).table("customer")
    mod = F.col("c_custkey") % 10
    updates = base.filter(mod == 4).select(
        "c_custkey",
        "c_name",
        "c_nationkey",
        (F.col("c_acctbal") + F.lit(100.0)).alias("c_acctbal"),
        F.lit("MIGRATED").alias("c_mktsegment"),
    )
    inserts = base.filter(mod == 5).select(
        (F.col("c_custkey") + F.lit(1000000)).alias("c_custkey"),
        F.concat(
            F.lit("NEW#"), (F.col("c_custkey") + F.lit(1000000)).cast("string")
        ).alias("c_name"),
        "c_nationkey",
        F.lit(0.0).alias("c_acctbal"),
        F.lit("NEW").alias("c_mktsegment"),
    )
    touched = base.filter(mod.isin(3, 4)).select("c_custkey")
    cols = ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"]
    merged = (
        base.select(*cols)
        .join(F.broadcast(touched), "c_custkey", "left_anti")
        .unionByName(updates)
        .unionByName(inserts)
    )

    work = overwrite_workdir("vmerge", sf_dir)
    store = os.path.join(work, "table")
    commit_snapshot(spark, store, base.select(*cols), mode="overwrite")  # v1
    commit_snapshot(spark, store, merged, mode="overwrite")  # v2 (copy-on-write MERGE)

    h = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    "|",
                    F.col("c_custkey").cast("string"),
                    "c_name",
                    F.col("c_acctbal").cast("decimal(12,2)").cast("string"),
                    "c_mktsegment",
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("bigint")
    out = None
    for v in (1, 2):
        snap = read_snapshot(spark, store, v).agg(
            F.lit(v).cast("bigint").alias("version"),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum(h.cast("decimal(38,0)")).cast("string").alias("content_fp"),
        )
        out = snap if out is None else out.unionByName(snap)
    return out.orderBy("version")


# ---------------------------------------------------------------------------
# qx255: OPTIMIZE commit (compaction as a snapshot, history intact)
# ---------------------------------------------------------------------------

OPTIMIZE_ORACLE = """
WITH clones AS (
  SELECT doc_id + 1000000 AS doc_id, n_chars, text
  FROM documents WHERE doc_id % 17 = 2
),
v3 AS (
  SELECT doc_id,
         CASE WHEN doc_id % 17 = 1 THEN n_chars + 1 ELSE n_chars END AS n_chars,
         text
  FROM documents WHERE doc_id % 17 <> 0
  UNION ALL SELECT * FROM clones
),
vers AS (
  SELECT 3 AS version, * FROM v3
  UNION ALL
  SELECT 4 AS version, * FROM v3
)
SELECT CAST(version AS BIGINT) AS version,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CAST(CAST('0x' || substring(
             md5(CAST(doc_id AS VARCHAR) || '|' || text), 1, 15) AS BIGINT)
           AS DECIMAL(38,0))) AS VARCHAR) AS content_fp
FROM vers
GROUP BY version
ORDER BY version
"""


@register(
    "qx255_optimize_commit",
    oracle=OPTIMIZE_ORACLE,
    doc="compaction as a snapshot commit: OPTIMIZE rewrites files, content and history intact",
    tags=("lakehouse", "compaction", "time-travel"),
)
def qx255_optimize_commit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta's OPTIMIZE on the manifest store: the latest snapshot's
    scattered commit files (qx241's history leaves v3 = one overwrite
    commit, but a long append chain leaves many small files — q39's
    debris problem moved into the table format) are rewritten as ONE
    bin-packed commit. Because compaction is itself a commit, the
    pre-compaction snapshot stays readable — maintenance never
    destroys history. Output: v3 (pre) and v4 (post,
    compacted) read back AS OF and fingerprinted; the oracle derives
    both from the source table and they must be IDENTICAL content —
    the q39 content-identity contract, now version-aware. The
    file-count drop is pytest-pinned (layout, not content)."""
    from bqfetch_spark.workcache import overwrite_workdir

    work = overwrite_workdir("optimize", sf_dir)
    store = build_timetravel_store(spark, sf_dir, os.path.join(work, "table"))
    v3 = read_snapshot(spark, store, 3)
    # bin-pack: one task per ~32 MB of input (fixture → 1 file)
    commit_snapshot(spark, store, v3.coalesce(1), mode="overwrite")  # v4

    h = F.conv(
        F.substring(F.md5(F.concat_ws("|", F.col("doc_id").cast("string"), "text")), 1, 15),
        16,
        10,
    ).cast("bigint")
    out = None
    for v in (3, 4):
        snap = read_snapshot(spark, store, v).agg(
            F.lit(v).cast("bigint").alias("version"),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum(h.cast("decimal(38,0)")).cast("string").alias("content_fp"),
        )
        out = snap if out is None else out.unionByName(snap)
    return out.orderBy("version")


# ---------------------------------------------------------------------------
# qx274: Z-order layout effectiveness (data-skipping planner)
# ---------------------------------------------------------------------------

Z_BITS = 10  # quantization bits per dimension (1024 buckets)
Z_FILE_ROWS = 4096  # rows per simulated file


def _zorder_interleave_sql(xq: str, yq: str) -> str:
    return " + ".join(
        f"((({xq} >> {b}) & 1) << {2 * b}) + ((({yq} >> {b}) & 1) << {2 * b + 1})"
        for b in range(Z_BITS)
    )


ZORDER_ORACLE = f"""
WITH o AS (
  SELECT o_orderkey AS k, o_custkey AS c,
         CAST(datediff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS d
  FROM orders
),
dom AS (
  SELECT min(c) AS cmin, max(c) AS cmax, min(d) AS dmin, max(d) AS dmax FROM o
),
q AS (
  SELECT o.k, o.c, o.d,
         ((o.c - dom.cmin) * {1 << Z_BITS}) // (dom.cmax - dom.cmin + 1) AS cq,
         ((o.d - dom.dmin) * {1 << Z_BITS}) // (dom.dmax - dom.dmin + 1) AS dq
  FROM o, dom
),
z AS (SELECT k, c, d, {_zorder_interleave_sql("cq", "dq")} AS zv FROM q),
ranked AS (
  SELECT c, d,
         (row_number() OVER (ORDER BY k) - 1) // {Z_FILE_ROWS} AS f_nat,
         (row_number() OVER (ORDER BY c, k) - 1) // {Z_FILE_ROWS} AS f_key,
         (row_number() OVER (ORDER BY zv, k) - 1) // {Z_FILE_ROWS} AS f_z
  FROM z
),
files AS (
  SELECT 'natural' AS strategy, f_nat AS f, min(c) AS c0, max(c) AS c1,
         min(d) AS d0, max(d) AS d1 FROM ranked GROUP BY f_nat
  UNION ALL
  SELECT 'bykey', f_key, min(c), max(c), min(d), max(d) FROM ranked GROUP BY f_key
  UNION ALL
  SELECT 'zorder', f_z, min(c), max(c), min(d), max(d) FROM ranked GROUP BY f_z
)
SELECT files.strategy,
       CAST(count(*) AS BIGINT) AS n_files,
       round(CAST(sum(c1 - c0 + 1) AS DOUBLE)
             / CAST(dom.cmax - dom.cmin + 1 AS DOUBLE) / count(*), 6)
         AS custkey_span_frac,
       round(CAST(sum(d1 - d0 + 1) AS DOUBLE)
             / CAST(dom.dmax - dom.dmin + 1 AS DOUBLE) / count(*), 6)
         AS date_span_frac
FROM files, dom
GROUP BY files.strategy, dom.cmax, dom.cmin, dom.dmax, dom.dmin
ORDER BY files.strategy
"""


@register(
    "qx274_zorder_layout",
    oracle=ZORDER_ORACLE,
    doc="Z-order vs natural vs single-key layout: per-file min/max span fractions",
    tags=("lakehouse", "layout", "planning"),
)
def qx274_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-layout planner for scan pruning at 100 TB: simulate writing
    orders into Z_FILE_ROWS-row files under three orderings — natural
    (arrival), single-key sort (o_custkey), and Z-ORDER (bit-interleave
    of quantized custkey × order-day) — and report each file set's
    average per-file min/max SPAN FRACTION in both dimensions. The
    span fraction IS the expected fraction of files a uniform point
    predicate must read under min/max skipping (parquet row-group /
    Delta-style file stats): natural order prunes nothing (~1.0 in
    both dims), a single-key sort is perfect on its key and useless on
    the other, and Z-order pays a bounded factor in BOTH — the
    measured justification for OPTIMIZE ZORDER BY before anyone
    rewrites 100 TB.

    Exactness: quantization, interleave, file assignment and spans are
    pure BIGINT arithmetic; two final rounded divisions. Scale shape:
    domain min/max is a 1-row broadcast; each strategy's file
    assignment is a global rank (rides plans/ranks.with_global_rank —
    the ONE-exchange bucket machinery past the crossover, never a
    single-task sort of the corpus); per-file stats partial-aggregate
    map-side; output is 3 rows."""
    from bqfetch_spark.plans.ranks import with_global_rank
    from bqfetch_spark.session import shuffle_partitions

    orders = load_catalog(spark, sf_dir).table("orders")
    o = orders.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_custkey").alias("c"),
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1992-01-01").cast("date")
        )
        .cast("bigint")
        .alias("d"),
    )
    dom = o.agg(
        F.min("c").alias("cmin"),
        F.max("c").alias("cmax"),
        F.min("d").alias("dmin"),
        F.max("d").alias("dmax"),
    )
    q = o.crossJoin(F.broadcast(dom)).select(
        "k",
        "c",
        "d",
        "cmin",
        "cmax",
        "dmin",
        "dmax",
        F.expr(f"((c - cmin) * {1 << Z_BITS}) div (cmax - cmin + 1)").alias("cq"),
        F.expr(f"((d - dmin) * {1 << Z_BITS}) div (dmax - dmin + 1)").alias("dq"),
    )
    zv = None
    for b in range(Z_BITS):
        term = F.shiftleft(F.shiftright("cq", b).bitwiseAND(F.lit(1)), 2 * b) + F.shiftleft(
            F.shiftright("dq", b).bitwiseAND(F.lit(1)), 2 * b + 1
        )
        zv = term if zv is None else zv + term
    base = q.select("k", "c", "d", "cmin", "cmax", "dmin", "dmax", zv.alias("zv"))
    np_ = shuffle_partitions(spark)

    def file_stats(order_cols: list[str], name: str) -> DataFrame:
        ranked = with_global_rank(base, order_cols, np_, rank_col="__rn")
        return (
            ranked.select(
                "c", "d", "cmin", "cmax", "dmin", "dmax",
                F.expr(f"(__rn - 1) div {Z_FILE_ROWS}").alias("f"),
            )
            .groupBy("f")
            .agg(
                F.min("c").alias("c0"), F.max("c").alias("c1"),
                F.min("d").alias("d0"), F.max("d").alias("d1"),
                F.max("cmin").alias("cmin"), F.max("cmax").alias("cmax"),
                F.max("dmin").alias("dmin"), F.max("dmax").alias("dmax"),
            )
            .groupBy()
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_files"),
                r6(
                    F.sum(F.col("c1") - F.col("c0") + 1).cast("double")
                    / (F.max("cmax") - F.max("cmin") + 1).cast("double")
                    / F.count(F.lit(1))
                ).alias("custkey_span_frac"),
                r6(
                    F.sum(F.col("d1") - F.col("d0") + 1).cast("double")
                    / (F.max("dmax") - F.max("dmin") + 1).cast("double")
                    / F.count(F.lit(1))
                ).alias("date_span_frac"),
            )
            .select(F.lit(name).alias("strategy"), "n_files", "custkey_span_frac", "date_span_frac")
        )

    return (
        file_stats(["k"], "natural")
        .unionByName(file_stats(["c", "k"], "bykey"))
        .unionByName(file_stats(["zv", "k"], "zorder"))
        .orderBy("strategy")
    )


# ---------------------------------------------------------------------------
# qx279: sort-range planner (sample -> boundaries -> exact bucket census)
# ---------------------------------------------------------------------------

# Deterministic ~1/64 row sample: md5 of the unique (orderkey, linenumber)
# row key, first 15 hex chars (60 bits), below 2^54. Fixed-constant
# threshold shared verbatim with the oracle — no engine does any float
# arithmetic to decide membership.
RANGE_SAMPLE_THR = 1 << 54
RANGE_BUCKETS = 32

SORT_RANGE_ORACLE = f"""
WITH samp AS (
  SELECT l_orderkey AS k
  FROM lineitem
  WHERE CAST('0x' || substring(md5(CAST(l_orderkey AS VARCHAR) || ':'
                 || CAST(l_linenumber AS VARCHAR)), 1, 15) AS BIGINT)
        < {RANGE_SAMPLE_THR}
),
tiles AS (SELECT k, ntile({RANGE_BUCKETS}) OVER (ORDER BY k) AS tile FROM samp),
bounds AS (
  SELECT max(k) AS b FROM tiles WHERE tile < {RANGE_BUCKETS} GROUP BY tile
),
barr AS (
  -- coalesce: list() over ZERO rows is NULL in DuckDB but [] in
  -- Spark's collect_list; an empty sample must mean "one bucket",
  -- not a NULL bucket
  SELECT coalesce(list_sort(list(b)), CAST([] AS BIGINT[])) AS bs FROM bounds
),
assigned AS (
  SELECT l_orderkey AS k,
         CAST(1 + len(list_filter(bs, x -> x < l_orderkey)) AS INTEGER) AS bucket
  FROM lineitem, barr
),
agg AS (
  SELECT bucket, CAST(count(*) AS BIGINT) AS n_rows,
         CAST(min(k) AS BIGINT) AS min_key, CAST(max(k) AS BIGINT) AS max_key
  FROM assigned GROUP BY bucket
)
SELECT bucket, n_rows, min_key, max_key,
       round(CAST(n_rows AS DOUBLE) / CAST(sum(n_rows) OVER () AS DOUBLE), 6)
         AS row_frac
FROM agg
ORDER BY bucket
"""


@register(
    "qx279_sort_range_planner",
    oracle=SORT_RANGE_ORACLE,
    doc="RangePartitioner-style sampled sort boundaries with an exact per-bucket census",
    tags=("lakehouse", "planning", "layout"),
)
def qx279_sort_range_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plan a global sort/range-layout of lineitem by l_orderkey the way
    Spark's RangePartitioner does — sample, cut boundaries, THEN measure
    what the cut would do — without ever paying for the full sort. On
    100 TB you run this census first: if row_frac is balanced you
    commit to the repartitionByRange + sortWithinPartitions rewrite; if
    a bucket is hot you raise the sample rate or salt (reference
    analog: the chunk-sizing dry run of bqfetch/bqfetch.py:430-455).

    Determinism with duplicate keys: ntile orders the sample BY THE KEY
    ITSELF, so tile boundaries land at fixed positions in the sorted
    VALUE sequence — per-tile max is a prefix-range max of that
    sequence, identical in both engines no matter how ties shuffle.
    Boundary assignment (count of boundaries strictly below the key)
    sends boundary-valued rows left, so buckets partition the corpus
    exactly; repeated boundary values simply leave a bucket empty in
    BOTH engines.

    Scale shape: the sample filter is map-side (md5 of two int
    columns); the ntile window runs over the SAMPLE (corpus/64 rows —
    in production you'd tune the rate to ~1k rows/bucket, the same
    refinement Spark's own sampler applies); the 31-boundary array
    broadcasts to an otherwise map-side bucket census that rides ONE
    bucket-keyed exchange of 32 partial rows per task. No full-corpus
    sort, no skew exposure."""
    from bqfetch_spark.operators.llm_pipeline import md5_bigint

    li = load_catalog(spark, sf_dir).table("lineitem")
    rowkey = F.concat(
        F.col("l_orderkey").cast("string"), F.lit(":"), F.col("l_linenumber").cast("string")
    )
    samp = li.filter(md5_bigint(rowkey, 15) < RANGE_SAMPLE_THR).select(
        F.col("l_orderkey").alias("k")
    )
    tiles = samp.withColumn("tile", F.ntile(RANGE_BUCKETS).over(Window.orderBy("k")))
    bounds = (
        tiles.filter(F.col("tile") < RANGE_BUCKETS).groupBy("tile").agg(F.max("k").alias("b"))
    )
    barr = bounds.agg(F.sort_array(F.collect_list("b")).alias("bs"))
    assigned = li.crossJoin(F.broadcast(barr)).select(
        F.col("l_orderkey").alias("k"),
        (F.lit(1) + F.size(F.expr("filter(bs, x -> x < l_orderkey)")))
        .cast("int")
        .alias("bucket"),
    )
    agg = assigned.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.min("k").cast("bigint").alias("min_key"),
        F.max("k").cast("bigint").alias("max_key"),
    )
    return agg.select(
        "bucket",
        "n_rows",
        "min_key",
        "max_key",
        r6(
            F.col("n_rows").cast("double")
            / F.sum("n_rows").over(Window.partitionBy()).cast("double")
        ).alias("row_frac"),
    ).orderBy("bucket")
