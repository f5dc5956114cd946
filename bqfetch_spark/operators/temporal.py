"""Temporal join/window operators the reference has no equivalent for:
range-frame windows, as-of joins, and the MLlib LSH similarity-join
variant. These are the "operator Spark lacks as a single primitive →
compose existing DataFrame ops" cases (build brief, custom-operator
path a).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from bqfetch_spark.catalog import load_catalog
from bqfetch_spark.functions.text import token_ngrams
from bqfetch_spark.operators.relational import r6
from bqfetch_spark.registry import register

HOUR_US = 3_600_000_000

RANGE_FRAME_ORACLE = f"""
SELECT
  event_id,
  user_id,
  ts,
  CAST(count(*) OVER w - 1 AS BIGINT) AS prior_events_1h,
  round(CAST(sum(CAST(value AS DECIMAL(18,6))) OVER w - CAST(value AS DECIMAL(18,6)) AS DOUBLE), 6)
    AS prior_value_1h
FROM events
WINDOW w AS (
  PARTITION BY user_id ORDER BY epoch_us(ts)
  RANGE BETWEEN {HOUR_US} PRECEDING AND CURRENT ROW
)
"""


@register("q36_range_frame", oracle=RANGE_FRAME_ORACLE, tags=("window", "range"))
def q36_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-range window frame: events by the same user in the
    trailing hour (self excluded by subtraction — the [t-1h, t] frame
    includes the current row on both engines, so count-1/sum-value
    gives the strictly-prior aggregate even when timestamps tie).
    RANGE frames over epoch-µs ordering — one shuffle on user_id."""
    ev = load_catalog(spark, sf_dir).table("events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts")))
        .rangeBetween(-HOUR_US, Window.currentRow)
    )
    val_dec = F.col("value").cast("decimal(18,6)")
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        (F.count(F.lit(1)).over(w) - 1).cast("bigint").alias("prior_events_1h"),
        r6((F.sum(val_dec).over(w) - val_dec).cast("double")).alias("prior_value_1h"),
    )


ASOF_ORACLE = """
WITH tagged AS (
  SELECT user_id, event_id, ts, event_type,
         max(CASE WHEN event_type = 'click' THEN ts END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_click_ts
  FROM events
)
SELECT event_id, user_id, ts AS purchase_ts, last_click_ts,
       CAST(CASE WHEN last_click_ts IS NULL THEN NULL
                 ELSE epoch_us(ts) - epoch_us(last_click_ts) END AS BIGINT) AS us_since_click
FROM tagged
WHERE event_type = 'purchase'
"""


@register("q37_asof_join", oracle=ASOF_ORACLE, tags=("join", "asof"))
def q37_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase matched to the user's latest strictly-
    preceding click. Implemented as the union-scan window idiom (tag
    rows, running max of click timestamps over a ROWS frame) — a single
    shuffle on user_id, no range join explosion; this is the scalable
    spelling of MERGE ASOF / ASOF JOIN and works identically in the
    DuckDB oracle."""
    ev = load_catalog(spark, sf_dir).table("events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    click_ts = F.when(F.col("event_type") == "click", F.col("ts"))
    tagged = ev.withColumn("last_click_ts", F.max(click_ts).over(w))
    return tagged.filter(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        F.col("ts").alias("purchase_ts"),
        "last_click_ts",
        F.when(
            F.col("last_click_ts").isNull(), F.lit(None).cast("bigint")
        )
        .otherwise(F.unix_micros(F.col("ts")) - F.unix_micros(F.col("last_click_ts")))
        .alias("us_since_click"),
    )


INTERVAL_SPIKE_FACTOR = 1.25  # busy hour: count >= factor × the type's mean

INTERVAL_JOIN_ORACLE = f"""
WITH h AS (
  SELECT event_type, date_trunc('hour', ts) AS hr, count(*) AS c
  FROM events GROUP BY 1, 2
),
m AS (
  SELECT event_type, avg(c) AS mean_c FROM h GROUP BY 1
),
busy AS (
  SELECT h.event_type, h.hr FROM h JOIN m USING (event_type)
  WHERE h.c >= {INTERVAL_SPIKE_FACTOR} * m.mean_c
),
isl AS (
  SELECT event_type, hr,
         CASE WHEN lag(hr) OVER (PARTITION BY event_type ORDER BY hr)
                   = hr - INTERVAL 1 HOUR THEN 0 ELSE 1 END AS brk
  FROM busy
),
grp AS (
  SELECT event_type, hr,
         sum(brk) OVER (PARTITION BY event_type ORDER BY hr
                        ROWS UNBOUNDED PRECEDING) AS g
  FROM isl
),
iv AS (
  SELECT event_type AS incident_type,
         min(hr) AS start_ts,
         max(hr) + INTERVAL 1 HOUR AS end_ts
  FROM grp GROUP BY event_type, g
)
SELECT
  iv.incident_type,
  iv.start_ts,
  iv.end_ts,
  count(*) AS n_events,
  CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users,
  round(CAST(sum(CAST(e.value AS DECIMAL(18,6))) AS DOUBLE), 6) AS sum_value
FROM iv JOIN events e ON e.ts >= iv.start_ts AND e.ts < iv.end_ts
GROUP BY 1, 2, 3
"""


_BUCKET_UNIT_SECONDS = {
    "second": 1,
    "minute": 60,
    "hour": 3600,
    "day": 86400,
    "week": 604800,
}


def _bucket_seconds(bucket: str) -> int:
    """Width of a fixed-duration bucket spec ('1 hour', '30 minutes',
    '2 days') in seconds. Variable-length units (month/year) are
    rejected — a grid floor cannot key them."""
    parts = bucket.strip().lower().split()
    if len(parts) != 2:
        raise ValueError(f"bucket must be '<n> <unit>', got {bucket!r}")
    n, unit = parts
    width = _BUCKET_UNIT_SECONDS.get(unit.rstrip("s"))
    if width is None or not n.isdigit() or int(n) < 1:
        raise ValueError(f"unsupported fixed-width bucket {bucket!r}")
    return int(n) * width


def bucketed_interval_join(
    fact: DataFrame,
    intervals: DataFrame,
    ts_col: str,
    start_col: str,
    end_col: str,
    bucket: str = "1 hour",
) -> DataFrame:
    """Generic keyless interval join (fact.ts ∈ [start, end)) without
    the O(n×m) nested-loop a raw inequality join plans: each interval
    is EXPLODED into the fixed-width time buckets it covers, the fact
    side maps to its single bucket, and the join becomes a hash
    equi-join on the bucket plus a residual containment filter. Each
    (interval, bucket) row is unique and a fact row has one bucket, so
    no pair is produced twice. Interval sets are small relative to
    facts (incidents, campaigns, outages) — Spark broadcasts them;
    cost is |facts| + Σ interval_buckets, never |facts| × |intervals|.

    Both sides key on the SAME ``bucket``-derived grid (epoch-floor,
    so interval bounds need not be grid-aligned; round 2 truncated the
    fact side to hours regardless of ``bucket``, producing empty joins
    for any other width). Empty intervals (end <= start) match nothing.
    Fixed-width units only — months/years vary in length, so a grid
    floor cannot key them."""
    w = _bucket_seconds(bucket)

    def grid(c: F.Column) -> F.Column:
        # cast→double keeps sub-second precision (unix_timestamp truncates)
        return F.timestamp_seconds(F.floor(c.cast("double") / w) * w)

    step = F.expr(f"INTERVAL {w} SECOND")
    end_g = grid(F.col(end_col))
    # last covered bucket: end's own bucket iff the interval extends
    # into it, else the one before (end exactly on the grid is exclusive)
    last = F.when(F.col(end_col) > end_g, end_g).otherwise(end_g - step)
    iv = (
        intervals.filter(F.col(end_col) > F.col(start_col))
        .withColumn("__bucket", F.explode(F.sequence(grid(F.col(start_col)), last, step)))
    )
    keyed = fact.withColumn("__bucket", grid(F.col(ts_col)))
    return keyed.join(F.broadcast(iv), "__bucket").filter(
        (F.col(ts_col) >= F.col(start_col)) & (F.col(ts_col) < F.col(end_col))
    )


@register("q78_interval_join", oracle=INTERVAL_JOIN_ORACLE, tags=("join", "interval"))
def q78_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyless interval join over derived variable-length windows:
    detect per-type "spike" hours (count >= 1.25× that type's mean
    hourly rate), merge consecutive busy hours into incident intervals
    (islands-and-gaps: lag-break + running sum), then join ALL events
    falling inside each incident window — cross-type, no join key.

    Plan shape: the interval derivation aggregates to O(hours) rows
    (independent of event volume), the islands window partitions by
    event_type over those few rows, and the join itself is
    bucket-exploded + broadcast (bucketed_interval_join) — the fact
    table is scanned once and hash-joined, never nested-loop'd. The
    oracle uses the direct inequality join (fine at sf0.01); both
    spell the same [start, end) containment."""
    ev = load_catalog(spark, sf_dir).table("events")
    hourly = (
        ev.groupBy("event_type", F.date_trunc("hour", "ts").alias("hr"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    means = hourly.groupBy("event_type").agg(F.avg("c").alias("mean_c"))
    busy = hourly.join(F.broadcast(means), "event_type").filter(
        F.col("c") >= INTERVAL_SPIKE_FACTOR * F.col("mean_c")
    )
    w = Window.partitionBy("event_type").orderBy("hr")
    brk = F.when(
        F.lag("hr").over(w) == F.col("hr") - F.expr("INTERVAL 1 HOUR"), F.lit(0)
    ).otherwise(F.lit(1))
    grp = busy.withColumn("brk", brk).withColumn(
        "g", F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    intervals = grp.groupBy(F.col("event_type").alias("incident_type"), "g").agg(
        F.min("hr").alias("start_ts"),
        (F.max("hr") + F.expr("INTERVAL 1 HOUR")).alias("end_ts"),
    ).drop("g")
    joined = bucketed_interval_join(ev, intervals, "ts", "start_ts", "end_ts")
    return joined.groupBy("incident_type", "start_ts", "end_ts").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
        r6(F.sum(F.col("value").cast("decimal(18,6)")).cast("double")).alias("sum_value"),
    )


GAP_FILL_ORACLE = """
WITH h AS (
  SELECT event_type, date_trunc('hour', ts) AS hr, count(*) AS c,
         sum(CAST(value AS DECIMAL(18,6))) AS v
  FROM events GROUP BY 1, 2
),
span AS (SELECT min(hr) AS lo, max(hr) AS hi FROM h),
types AS (SELECT DISTINCT event_type FROM h),
spine AS (
  SELECT t.event_type, unnest(generate_series(s.lo, s.hi, INTERVAL 1 HOUR)) AS hr
  FROM types t, span s
),
j AS (
  SELECT s.event_type, s.hr, h.c, h.v
  FROM spine s LEFT JOIN h ON h.event_type = s.event_type AND h.hr = s.hr
)
SELECT
  event_type,
  hr,
  CAST(coalesce(c, 0) AS BIGINT) AS n_events,
  CAST(c IS NULL AS INTEGER) AS is_gap,
  round(CAST(last_value(v IGNORE NULLS)
               OVER (PARTITION BY event_type ORDER BY hr
                     ROWS UNBOUNDED PRECEDING) AS DOUBLE), 6) AS value_locf
FROM j
"""


@register("q79_gap_fill", oracle=GAP_FILL_ORACLE, tags=("temporal", "resample"))
def q79_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style resampling: aggregate events to an hourly grid
    per event_type, materialize the MISSING hours from a generated
    time spine, and forward-fill the hourly value sum
    (last-observation-carried-forward) across gaps.

    Plan shape: the raw data is touched once, by the hourly aggregate
    — everything after runs on O(types × hours) rows, which grows with
    calendar time, not data volume (at 100 TB/year that is still a few
    thousand rows per series). The spine is a cross join of the
    distinct-type set with one exploded sequence bounded by the global
    [min, max] hour (a 1-row broadcast); the LOCF window partitions by
    event_type over spine-sized partitions. The value rides as
    DECIMAL through the fill and rounds once at the end, so
    carried-forward values are bit-identical to the oracle's."""
    ev = load_catalog(spark, sf_dir).table("events")
    hourly = ev.groupBy("event_type", F.date_trunc("hour", "ts").alias("hr")).agg(
        F.count(F.lit(1)).alias("c"),
        F.sum(F.col("value").cast("decimal(18,6)")).alias("v"),
    )
    span = hourly.agg(F.min("hr").alias("lo"), F.max("hr").alias("hi"))
    spine = (
        hourly.select("event_type")
        .distinct()
        .join(F.broadcast(span))
        .select(
            "event_type",
            F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("hr"),
        )
    )
    j = spine.join(hourly, ["event_type", "hr"], "left")
    w = (
        Window.partitionBy("event_type")
        .orderBy("hr")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return j.select(
        "event_type",
        "hr",
        F.coalesce("c", F.lit(0)).cast("bigint").alias("n_events"),
        F.col("c").isNull().cast("int").alias("is_gap"),
        r6(F.last("v", ignorenulls=True).over(w).cast("double")).alias("value_locf"),
    )


@register("q49_mllib_minhash_lsh", oracle=None, tags=("dedup", "mllib", "lsh"))
def q49_mllib_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MLlib MinHashLSH variant of q47: token-3-gram shingle sets →
    HashingTF sparse vectors → MinHashLSH approxSimilarityJoin
    (Jaccard distance ≤ 0.4, i.e. similarity ≥ 0.6 — a real near-dup
    cut). Shingles, not unigrams: the fixture corpus draws from a
    small vocabulary, so unigram token SETS overlap heavily across
    unrelated docs (median pairwise Jaccard distance ≈ 0.33 — a
    unigram threshold either explodes quadratically or keeps nothing
    meaningful); order-sensitive 3-gram shingles give near-dups the
    same feature definition as the hand-rolled q47. Rows-only (MLlib
    hash seeds are internal); on a cluster both paths scale
    identically (band-bucket shuffle)."""
    from pyspark.ml.feature import HashingTF, MinHashLSH

    docs = load_catalog(spark, sf_dir).table("documents")
    from bqfetch_spark.session import shuffle_partitions

    # spread the tokenize + shingle/hash feature stage across cores:
    # the one-file fixture scan is a single input partition, so the
    # exchange comes FIRST and all expression work runs post-shuffle.
    # Shingle rows (short docs get one clamped shingle, as in q47) are
    # re-assembled per doc with collect_set; HashingTF is
    # order-insensitive over the set.
    toks = (
        token_ngrams(
            docs.select("doc_id", "text").repartition(shuffle_partitions(spark), "doc_id"),
            3,
            pad_short=True,
        )
        .groupBy("doc_id")
        .agg(F.collect_set("g").alias("tokens"))
    )
    tf = HashingTF(inputCol="tokens", outputCol="features", numFeatures=1 << 16)
    feats = tf.transform(toks)
    lsh = MinHashLSH(inputCol="features", outputCol="hashes", numHashTables=4, seed=42)
    model = lsh.fit(feats)
    # pre-transform ONCE: approxSimilarityJoin re-runs the shingle +
    # hash pipeline per side when handed untransformed input — for a
    # self-join that is 2x the whole feature stage for nothing
    hashed = model.transform(feats)
    pairs = model.approxSimilarityJoin(hashed, hashed, 0.4, distCol="jaccard_dist")
    return (
        pairs.filter(F.col("datasetA.doc_id") < F.col("datasetB.doc_id"))
        .select(
            F.col("datasetA.doc_id").alias("doc_a"),
            F.col("datasetB.doc_id").alias("doc_b"),
            r6(F.col("jaccard_dist")).alias("jaccard_dist"),
        )
        .orderBy("doc_a", "doc_b")
    )


@register("q54_brp_lsh_neighbors", oracle=None, tags=("similarity", "mllib", "lsh"))
def q54_brp_lsh_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BucketedRandomProjectionLSH (Euclidean) ANN over the embedding
    column — the MLlib vector-LSH path beside the hand-rolled IVF
    (q53): project onto seeded random hyperplanes, bucket by quantized
    projection. Candidates are generated SET-BASED: explode the hash
    tables on both sides and equi-join on (table, bucket) — ONE plan
    for all query vectors, no driver-side loop (the same candidate
    definition approxNearestNeighbors uses, single-probe). Exact
    Euclidean distance re-ranks candidates; window top-10 per query.
    Rows-only (internal hash seeds); agreement with the per-query
    approxNearestNeighbors path is pytest-asserted."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector, vector_to_array

    emb = load_catalog(spark, sf_dir).table("embeddings").select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("v"),
        array_to_vector(F.col("embedding").cast("array<double>")).alias("features"),
    )
    lsh = BucketedRandomProjectionLSH(
        inputCol="features", outputCol="hashes", bucketLength=2.0, numHashTables=4, seed=42
    )
    model = lsh.fit(emb)
    # (vec_id, v, table, bucket) — one row per hash table per vector;
    # shuffle key is (table, bucket), fixed-width, O(docs × tables)
    hashed = model.transform(emb).select(
        "vec_id",
        "v",
        F.posexplode("hashes").alias("table", "h"),
    ).select(
        "vec_id", "v", "table", vector_to_array("h").getItem(0).cast("bigint").alias("bucket")
    )
    queries = hashed.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        "table",
        "bucket",
    )
    # same-bucket-in-any-table candidates, deduped across tables
    cand = (
        hashed.join(F.broadcast(queries), ["table", "bucket"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "qv", F.col("vec_id").alias("neighbor_id"), "v")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    dist = F.sqrt(
        F.aggregate(
            F.zip_with(F.col("qv"), F.col("v"), lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("euclidean_dist"), F.col("neighbor_id"))
    return (
        cand.select("query_id", "neighbor_id", r6(dist).alias("euclidean_dist"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 10)
        .drop("rn")
        .orderBy("query_id", "euclidean_dist", "neighbor_id")
    )


# ---------------------------------------------------------------------------
# qx150 — point-in-time dimension enrichment (PIT join against SCD2)
# ---------------------------------------------------------------------------

PIT_ORACLE = """
WITH src AS (
  SELECT user_id, event_type, ts, event_id FROM events
  WHERE event_type IN ('view', 'click')
),
tagged AS (
  SELECT *, CASE WHEN lag(event_type) OVER w IS NULL
                   OR lag(event_type) OVER w <> event_type
            THEN 1 ELSE 0 END AS chg
  FROM src WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
islands AS (
  SELECT user_id,
         sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS version,
         event_type, ts, event_id
  FROM tagged
),
hist AS (
  SELECT user_id, version, min(event_type) AS browse_state,
         min(ts) AS valid_from
  FROM islands GROUP BY user_id, version
),
dim AS (
  SELECT user_id, browse_state, valid_from,
         lead(valid_from) OVER (PARTITION BY user_id ORDER BY version) AS valid_to
  FROM hist
),
facts AS (
  SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'
)
SELECT f.event_id, f.user_id, f.ts, d.browse_state,
       d.valid_from AS state_since
FROM facts f
LEFT JOIN dim d
  ON d.user_id = f.user_id
 AND d.valid_from <= f.ts
 AND (d.valid_to IS NULL OR f.ts < d.valid_to)
"""


@register(
    "qx150_pit_enrich",
    oracle=PIT_ORACLE,
    doc="point-in-time join: each purchase enriched with the browsing state valid at its timestamp",
    tags=("temporal", "lakehouse", "scd2", "asof"),
)
def qx150_pit_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (temporal-validity) enrichment — the join every
    feature store and SCD2 warehouse runs: each fact row picks the ONE
    dimension version whose [valid_from, valid_to) covers its
    timestamp, never a later one (leakage-safe backfill). Here the
    versioned dimension is each user's view/click browsing-state
    history (q58's islands idiom over a DISJOINT event subset — not
    circular) and the facts are purchases; a purchase before any
    browsing history keeps NULL state (left semantics).

    The scalable spelling is the union-scan generalization of q37:
    version-start rows and fact rows union into ONE user_id exchange,
    sorted (ts, is_fact, version, event_id) — state rows sort before a
    fact at the same instant, so valid_from is inclusive exactly like
    the oracle's range predicate — and last(state, ignorenulls) over
    the running frame carries the active version onto each fact. No
    range join, no per-version fan-out: at 100 TB this is one sorted
    exchange of facts + version boundaries (versions are islands —
    orders of magnitude fewer than facts). Zero-length versions
    (shared valid_from) collapse correctly on both sides: the oracle's
    ts < valid_to excludes them; here the later version's state row
    sorts last at the tied instant and wins the running last()."""
    ev = load_catalog(spark, sf_dir).table("events")
    src = ev.filter(F.col("event_type").isin("view", "click"))
    w_ord = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("event_type").over(w_ord)
    chg = F.when(prev.isNull() | (prev != F.col("event_type")), 1).otherwise(0)
    islands = (
        src.withColumn("chg", chg)
        .withColumn(
            "version", F.sum("chg").over(w_ord.rowsBetween(Window.unboundedPreceding, 0))
        )
        .groupBy("user_id", "version")
        .agg(F.min("event_type").alias("browse_state"), F.min("ts").alias("valid_from"))
    )
    starts = islands.select(
        "user_id",
        F.col("valid_from").alias("ts"),
        F.lit(None).cast("long").alias("event_id"),
        F.lit(0).alias("is_fact"),
        "version",
        "browse_state",
        F.col("valid_from").alias("state_since"),
    )
    facts = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        "event_id",
        F.lit(1).alias("is_fact"),
        F.lit(None).cast("bigint").alias("version"),
        F.lit(None).cast("string").alias("browse_state"),
        F.lit(None).cast("timestamp").alias("state_since"),
    )
    scan = Window.partitionBy("user_id").orderBy(
        "ts", "is_fact", F.col("version").asc_nulls_last(), "event_id"
    ).rowsBetween(Window.unboundedPreceding, 0)
    return (
        starts.unionByName(facts)
        .select(
            "user_id",
            "ts",
            "event_id",
            "is_fact",
            F.last("browse_state", ignorenulls=True).over(scan).alias("cur_state"),
            F.last("state_since", ignorenulls=True).over(scan).alias("cur_since"),
        )
        .filter(F.col("is_fact") == 1)
        .select(
            "event_id",
            "user_id",
            "ts",
            F.col("cur_state").alias("browse_state"),
            F.col("cur_since").alias("state_since"),
        )
    )


# ---------------------------------------------------------------------------
# qx173 — linear interpolation resample (the interp leg next to q79's LOCF)
# ---------------------------------------------------------------------------

INTERP_ORACLE = """
WITH h AS (
  SELECT event_type, date_trunc('hour', ts) AS hr,
         sum(CAST(value AS DECIMAL(18,6))) AS v
  FROM events GROUP BY 1, 2
),
span AS (SELECT min(hr) AS lo, max(hr) AS hi FROM h),
types AS (SELECT DISTINCT event_type FROM h),
spine AS (
  SELECT t.event_type, unnest(generate_series(s.lo, s.hi, INTERVAL 1 HOUR)) AS hr
  FROM types t, span s
),
j AS (
  SELECT s.event_type, s.hr, h.v
  FROM spine s LEFT JOIN h ON h.event_type = s.event_type AND h.hr = s.hr
),
b AS (
  SELECT event_type, hr, v,
         last_value(v IGNORE NULLS) OVER (
           PARTITION BY event_type ORDER BY hr ROWS UNBOUNDED PRECEDING) AS prev_v,
         last_value(CASE WHEN v IS NOT NULL THEN hr END IGNORE NULLS) OVER (
           PARTITION BY event_type ORDER BY hr ROWS UNBOUNDED PRECEDING) AS prev_hr,
         first_value(v IGNORE NULLS) OVER (
           PARTITION BY event_type ORDER BY hr
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_v,
         first_value(CASE WHEN v IS NOT NULL THEN hr END IGNORE NULLS) OVER (
           PARTITION BY event_type ORDER BY hr
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_hr
  FROM j
)
SELECT event_type, hr,
       CAST(v IS NULL AS INTEGER) AS is_gap,
       round(CASE
         WHEN v IS NOT NULL THEN CAST(v AS DOUBLE)
         WHEN prev_v IS NULL OR next_v IS NULL THEN NULL
         ELSE CAST(prev_v AS DOUBLE)
              + (CAST(next_v AS DOUBLE) - CAST(prev_v AS DOUBLE))
                * (CAST(epoch_us(hr) - epoch_us(prev_hr) AS DOUBLE)
                   / CAST(epoch_us(next_hr) - epoch_us(prev_hr) AS DOUBLE))
       END, 6) AS value_interp
FROM b
"""


@register(
    "qx173_linear_interpolate",
    oracle=INTERP_ORACLE,
    doc="Hourly resample with linear interpolation across gaps",
    tags=("temporal", "resample"),
)
def qx173_linear_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resampling with LINEAR interpolation — the other
    standard gap policy next to q79's LOCF: a gap hour's value is the
    time-weighted blend of the nearest known hours on either side
    (NULL outside the known range — interpolation never extrapolates).
    Same spine shape as q79 (per-type hourly grid from one domain-
    bounded aggregate); the bracketing lookups are two IGNORE NULLS
    window passes over one event_type exchange, so the whole resample
    is spine-sized, never event-sized. All arithmetic after the exact
    DECIMAL hourly sums is the identical IEEE expression in both
    engines; known hours pass the exact value through."""
    ev = load_catalog(spark, sf_dir).table("events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hr")
    ).agg(F.sum(F.col("value").cast("decimal(18,6)")).alias("v"))
    span = hourly.agg(F.min("hr").alias("lo"), F.max("hr").alias("hi"))
    types = hourly.select("event_type").distinct()
    spine = (
        types.crossJoin(F.broadcast(span))
        .select(
            "event_type",
            F.explode(
                F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))
            ).alias("hr"),
        )
    )
    j = spine.join(hourly, ["event_type", "hr"], "left")
    w_prev = (
        Window.partitionBy("event_type")
        .orderBy("hr")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_next = (
        Window.partitionBy("event_type")
        .orderBy("hr")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    known_hr = F.when(F.col("v").isNotNull(), F.col("hr"))
    b = j.select(
        "event_type",
        "hr",
        "v",
        F.last("v", ignorenulls=True).over(w_prev).alias("prev_v"),
        F.last(known_hr, ignorenulls=True).over(w_prev).alias("prev_hr"),
        F.first("v", ignorenulls=True).over(w_next).alias("next_v"),
        F.first(known_hr, ignorenulls=True).over(w_next).alias("next_hr"),
    )
    ratio = (
        (F.unix_micros("hr") - F.unix_micros("prev_hr")).cast("double")
        / (F.unix_micros("next_hr") - F.unix_micros("prev_hr")).cast("double")
    )
    interp = (
        F.when(F.col("v").isNotNull(), F.col("v").cast("double"))
        .when(F.col("prev_v").isNull() | F.col("next_v").isNull(), F.lit(None))
        .otherwise(
            F.col("prev_v").cast("double")
            + (F.col("next_v").cast("double") - F.col("prev_v").cast("double")) * ratio
        )
    )
    return b.select(
        "event_type",
        "hr",
        F.col("v").isNull().cast("int").alias("is_gap"),
        r6(interp).alias("value_interp"),
    )


# ---------------------------------------------------------------------------
# qx232: temporal train/test split with an embargo gap
# ---------------------------------------------------------------------------

# split at 80% of the time range; embargo = the 2% of range before it
EMBARGO_SPLIT_NUM, EMBARGO_SPLIT_DEN = 4, 5
EMBARGO_WIDTH_DEN = 50

TEMPORAL_EMBARGO_ORACLE = f"""
WITH bounds AS (
  SELECT epoch_us(min(ts)) AS lo, epoch_us(max(ts)) AS hi FROM events
),
cut AS (
  SELECT lo, hi,
         lo + ((hi - lo) * {EMBARGO_SPLIT_NUM}) // {EMBARGO_SPLIT_DEN} AS t_us,
         (hi - lo) // {EMBARGO_WIDTH_DEN} AS gap_us
  FROM bounds
),
lab AS (
  SELECT e.event_type,
         CASE WHEN epoch_us(e.ts) >= c.t_us THEN 'test'
              WHEN epoch_us(e.ts) >= c.t_us - c.gap_us THEN 'embargo'
              ELSE 'train' END AS split
  FROM events e CROSS JOIN cut c
)
SELECT event_type,
       CAST(sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
       CAST(sum(CASE WHEN split = 'embargo' THEN 1 ELSE 0 END) AS BIGINT) AS n_embargo,
       CAST(sum(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS BIGINT) AS n_test
FROM lab GROUP BY event_type ORDER BY event_type
"""


@register(
    "qx232_temporal_embargo_split",
    oracle=TEMPORAL_EMBARGO_ORACLE,
    doc="point-in-time split with an embargo gap: per-type train/embargo/test counts",
    tags=("events", "temporal", "holdout", "leakage"),
)
def qx232_temporal_embargo_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TEMPORAL leg of the leakage-control trilogy (content:
    qx223's n-gram embargo; identity: qx227's cluster-aware split;
    time: this): a point-in-time cut at 80% of the event-time range,
    with the 2%-of-range window BEFORE the cut embargoed — the
    standard guard against label leakage through rows whose features
    were computed from data that straddles the boundary (the reason
    financial/forecasting eval uses purged splits). Boundaries are
    exact INTEGER microsecond arithmetic from the 1-row min/max agg
    ((hi−lo)·4 div 5 and (hi−lo) div 50), so both engines cut at the
    identical microsecond — no float-boundary event can flip sides.

    Plan: one scalar min/max pass broadcast back as a literal cross
    join, then a pure-projection labeling and a groups-sized rollup —
    two scans at worst, no data-sized shuffle beyond the final
    event_type agg."""
    ev = load_catalog(spark, sf_dir).table("events")
    b = ev.agg(
        F.min(F.unix_micros("ts")).alias("lo"),
        F.max(F.unix_micros("ts")).alias("hi"),
    ).select(
        (
            F.col("lo")
            + F.expr(
                f"((hi - lo) * {EMBARGO_SPLIT_NUM}) div {EMBARGO_SPLIT_DEN}"
            )
        ).alias("t_us"),
        F.expr(f"(hi - lo) div {EMBARGO_WIDTH_DEN}").alias("gap_us"),
    )
    us = F.unix_micros("ts")
    split = (
        F.when(us >= F.col("t_us"), "test")
        .when(us >= F.col("t_us") - F.col("gap_us"), "embargo")
        .otherwise("train")
    )
    return (
        ev.crossJoin(F.broadcast(b))
        .select("event_type", split.alias("split"))
        .groupBy("event_type")
        .agg(
            F.sum(F.when(F.col("split") == "train", 1).otherwise(0))
            .cast("bigint")
            .alias("n_train"),
            F.sum(F.when(F.col("split") == "embargo", 1).otherwise(0))
            .cast("bigint")
            .alias("n_embargo"),
            F.sum(F.when(F.col("split") == "test", 1).otherwise(0))
            .cast("bigint")
            .alias("n_test"),
        )
        .orderBy("event_type")
    )
