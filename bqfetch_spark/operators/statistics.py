"""Round-5 statistical / sequence operators — the exploratory-analysis
shapes an analyst runs before committing a 100 TB curation job (none
exist in the reference, a fetch client: bqfetch/bqfetch.py:1 has no
query layer):

- qx115 Markov transition matrix (per-entity event sequences)
- qx116 time-weighted average (step-function hold between events)
- qx117 two-sample Kolmogorov-Smirnov test (exact, no global sort)
- qx118 per-group token entropy (vocab-bounded Shannon entropy)
- qx119 rolling exact median (frame-bounded window percentile)
- qx120 Benford leading-digit audit (fraud/quality screen)
- qx122 MAD robust outliers (median absolute deviation flags)
- qx123 equi-depth histogram (exact deciles via the scalable ntile)
- qx124 exponential moving average (recursive; applyInPandas ewm)

(qx121, the stream-static enrichment join, lives with the other
streaming registrations in operators/extensions.py.)

Naming: ``qx…`` sorts after every ``q\\d…`` name so the driver's
50-row CORRECTNESS window never displaces an existing green row; the
pytest oracle gate + CORRECTNESS_SELF artifact cover these.

Determinism: registry conventions (FIXTURES.md) — exact integer/
decimal accumulation wherever a sum crosses rows, doubles only in
final single-expression derivations, ``round(x, 6)`` surfacing,
unique tie-break keys on every ordered window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from bqfetch_spark.catalog import load_catalog
from bqfetch_spark.functions.text import token_ngrams
from bqfetch_spark.operators.relational import r6
from bqfetch_spark.plans.ranks import with_global_cumsums
from bqfetch_spark.registry import register
from bqfetch_spark.session import shuffle_partitions

# ---------------------------------------------------------------------------
# qx115 — Markov transition matrix over per-user event sequences
# ---------------------------------------------------------------------------

MARKOV_ORACLE = """
WITH seq AS (
  SELECT
    event_type,
    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
  FROM events
)
SELECT
  prev_type,
  event_type,
  CAST(count(*) AS BIGINT) AS n_transitions,
  round(
    CAST(count(*) AS DOUBLE)
    / CAST(sum(count(*)) OVER (PARTITION BY prev_type) AS DOUBLE),
    6
  ) AS p_transition
FROM seq
WHERE prev_type IS NOT NULL
GROUP BY prev_type, event_type
"""


@register(
    "qx115_markov_transitions",
    oracle=MARKOV_ORACLE,
    doc="first-order Markov transition counts/probabilities over user event sequences",
    tags=("events", "sequence", "stats"),
)
def qx115_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of event types: for each
    user's time-ordered event sequence, count (prev -> next) pairs and
    normalise per source state. One exchange touches event-sized data
    (hash on user_id for the lag window — per-user partitions, never a
    global sort); the pair aggregation partial-combines to at most
    |types|² rows, and the normalising window runs over that ~25-row
    frame. Ordering ties break on event_id so the sequence — and hence
    the counts — is a deterministic total order in both engines.
    p_transition = exact BIGINT count ÷ exact BIGINT row total, one
    double division per output row: engine-identical."""
    ev = load_catalog(spark, sf_dir).table("events")
    seq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            "event_type", F.lag("event_type").over(seq).alias("prev_type")
        )
        .where(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "event_type")
        .agg(F.count("*").cast("bigint").alias("n_transitions"))
    )
    per_source = Window.partitionBy("prev_type")
    return pairs.select(
        "prev_type",
        "event_type",
        "n_transitions",
        r6(
            F.col("n_transitions").cast("double")
            / F.sum("n_transitions").over(per_source).cast("double")
        ).alias("p_transition"),
    )


# ---------------------------------------------------------------------------
# qx116 — time-weighted average (step-function hold until next event)
# ---------------------------------------------------------------------------

TWA_ORACLE = """
WITH seq AS (
  SELECT
    user_id,
    CAST(value AS DECIMAL(18,6)) AS v,
    lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      - epoch_us(ts) AS dt_us
  FROM events
)
SELECT
  user_id,
  CAST(count(*) AS BIGINT) AS n_intervals,
  CAST(sum(dt_us) AS BIGINT) AS span_us,
  round(CAST(sum(v * dt_us) AS DOUBLE) / CAST(sum(dt_us) AS DOUBLE), 6) AS twa_value
FROM seq
WHERE dt_us IS NOT NULL AND dt_us > 0
GROUP BY user_id
"""


@register(
    "qx116_time_weighted_avg",
    oracle=TWA_ORACLE,
    doc="per-user time-weighted average of value (hold-until-next-event weighting)",
    tags=("events", "temporal", "stats"),
)
def qx116_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average per user — the TSDB aggregate a plain
    avg() gets wrong whenever sampling is irregular: each observation
    is held until the next one, so it is weighted by the microseconds
    until its successor (last observation carries no weight; zero-gap
    duplicates carry none either). Weights are exact integer
    microseconds (``unix_micros`` here, ``epoch_us`` in the oracle) and
    values accumulate as DECIMAL(18,6) x BIGINT products — the weighted
    sum is exact in both engines, with one double division at the end.
    Plan: ONE hash exchange on user_id feeds both the lead() window and
    the per-user aggregate (same partitioning, no second shuffle); no
    global sort anywhere."""
    ev = load_catalog(spark, sf_dir).table("events")
    seq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros("ts")
    seqd = ev.select(
        "user_id",
        F.col("value").cast("decimal(18,6)").alias("v"),
        (F.lead(us).over(seq) - us).alias("dt_us"),
    ).where(F.col("dt_us").isNotNull() & (F.col("dt_us") > 0))
    return seqd.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n_intervals"),
        F.sum("dt_us").cast("bigint").alias("span_us"),
        r6(
            F.sum(F.col("v") * F.col("dt_us")).cast("double")
            / F.sum("dt_us").cast("double")
        ).alias("twa_value"),
    )


# ---------------------------------------------------------------------------
# qx117 — two-sample Kolmogorov-Smirnov test (exact, scalable CDFs)
# ---------------------------------------------------------------------------

KS_SEG_A = "BUILDING"
KS_SEG_B = "MACHINERY"

KS_ORACLE = f"""
WITH labeled AS (
  SELECT
    o_totalprice AS v,
    CASE WHEN c_mktsegment = '{KS_SEG_A}' THEN 1 ELSE 0 END AS in_a
  FROM orders JOIN customer ON o_custkey = c_custkey
  WHERE c_mktsegment IN ('{KS_SEG_A}', '{KS_SEG_B}')
),
counts AS (
  SELECT v, sum(in_a) AS c_a, sum(1 - in_a) AS c_b
  FROM labeled GROUP BY v
),
cdf AS (
  SELECT
    sum(c_a) OVER (ORDER BY v) AS cum_a,
    sum(c_b) OVER (ORDER BY v) AS cum_b,
    sum(c_a) OVER () AS n_a,
    sum(c_b) OVER () AS n_b
  FROM counts
)
SELECT
  CAST(max(n_a) AS BIGINT) AS n_a,
  CAST(max(n_b) AS BIGINT) AS n_b,
  round(max(abs(
    CAST(cum_a AS DOUBLE) / CAST(n_a AS DOUBLE)
    - CAST(cum_b AS DOUBLE) / CAST(n_b AS DOUBLE)
  )), 6) AS ks_d
FROM cdf
"""


@register(
    "qx117_ks_test",
    oracle=KS_ORACLE,
    doc="exact two-sample Kolmogorov-Smirnov D between order-price distributions",
    tags=("stats", "distribution", "scalable-window"),
)
def qx117_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov statistic comparing the
    o_totalprice distribution of two customer segments: D = max over
    the pooled domain of |CDF_a - CDF_b|. The naive spelling is a
    window ordered over ALL rows — a single-task global sort, the
    first OOM at 100 TB. This one (a) reduces facts to per-distinct-
    value counters first (partial-aggregated groupBy — the only
    exchange that touches fact-sized data), then (b) computes BOTH
    running counters with plans/ranks.with_global_cumsums: one range
    exchange over the value domain, per-partition local cumsums, and a
    broadcast of per-partition offsets (a ~n_partitions-row metadata
    frame). No single task ever sorts more than one value-range's
    rows. CDF counters are exact BIGINTs; each |F_a - F_b| is two
    double divisions of exact integers and a max — engine-identical,
    no summation drift. Sample sizes come back alongside D so the
    caller can derive the alpha threshold c(α)·sqrt((n_a+n_b)/
    (n_a·n_b)) client-side."""
    cat = load_catalog(spark, sf_dir)
    labeled = (
        cat.table("orders")
        .join(
            F.broadcast(
                cat.table("customer").where(
                    F.col("c_mktsegment").isin(KS_SEG_A, KS_SEG_B)
                )
            ),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .select(
            F.col("o_totalprice").alias("v"),
            (F.col("c_mktsegment") == KS_SEG_A).cast("bigint").alias("in_a"),
        )
    )
    # MATERIALIZE the per-distinct-value counters once: the cumsum
    # machinery references this frame three times (bucket exchange,
    # per-partition totals, sample sizes), and as a lazy branch each
    # reference would re-run the fact join — measured 6 fact scans.
    # The frame is domain-bounded, exactly what a 100 TB run caches.
    counts = (
        labeled.groupBy("v")
        .agg(F.sum("in_a").alias("c_a"), F.sum(F.lit(1) - F.col("in_a")).alias("c_b"))
        .localCheckpoint(eager=True)
    )
    cum = with_global_cumsums(
        counts, ["v"], {"c_a": "cum_a", "c_b": "cum_b"}, shuffle_partitions(spark)
    )
    # sample sizes as a broadcast 1-row aggregate — an unpartitioned
    # window here would coalesce the domain-sized CDF frame into one task
    totals = counts.agg(
        F.sum("c_a").cast("bigint").alias("n_a"),
        F.sum("c_b").cast("bigint").alias("n_b"),
    )
    cdf = cum.select("cum_a", "cum_b").crossJoin(F.broadcast(totals))
    gap = F.abs(
        F.col("cum_a").cast("double") / F.col("n_a").cast("double")
        - F.col("cum_b").cast("double") / F.col("n_b").cast("double")
    )
    return cdf.agg(
        F.max("n_a").cast("bigint").alias("n_a"),
        F.max("n_b").cast("bigint").alias("n_b"),
        r6(F.max(gap)).alias("ks_d"),
    )


# ---------------------------------------------------------------------------
# qx118 — per-group token entropy (vocab-bounded Shannon entropy)
# ---------------------------------------------------------------------------

ENTROPY_ORACLE = """
WITH tok AS (
  SELECT lang, unnest(string_split(text, ' ')) AS token
  FROM documents
),
counts AS (
  SELECT lang, token, count(*) AS c
  FROM tok GROUP BY lang, token
)
SELECT
  lang,
  CAST(sum(c) AS BIGINT) AS n_tokens,
  CAST(count(*) AS BIGINT) AS vocab,
  round(
    log2(CAST(sum(c) AS DOUBLE))
    - sum(CAST(c AS DOUBLE) * log2(CAST(c AS DOUBLE))) / CAST(sum(c) AS DOUBLE),
    6
  ) AS entropy_bits
FROM counts
GROUP BY lang
"""


@register(
    "qx118_token_entropy",
    oracle=ENTROPY_ORACLE,
    doc="Shannon entropy of the token distribution per language",
    tags=("text", "stats", "quality"),
)
def qx118_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each language's token distribution — the
    corpus-diversity number LLM-data curation tracks (a collapsing
    entropy flags template spam; q34's tokenizer, same ' '-split
    convention, keeps the oracle aligned). H = log2(N) - Σ c·log2(c)/N
    over per-token counts c: this form keeps every cross-row sum over
    exact BIGINTs or products of exact counts with a single log2 each,
    so cross-engine drift is bounded by ~vocab ulps — invisible at
    round-6. Plan: explode + ONE partial-aggregated (lang, token)
    groupBy bounds the exchange by vocabulary, not corpus size; the
    per-lang reduce then touches |vocab| rows. At 100 TB the (lang,
    token) grain is exactly the word-count shape — the canonical
    map-side-combine win."""
    docs = load_catalog(spark, sf_dir).table("documents")
    counts = (
        docs.select("lang", F.explode(F.split("text", " ", -1)).alias("token"))
        .groupBy("lang", "token")
        .agg(F.count("*").alias("c"))
    )
    c, n = F.col("c").cast("double"), F.sum("c").cast("double")
    return counts.groupBy("lang").agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.count("*").cast("bigint").alias("vocab"),
        r6(F.log2(n) - F.sum(c * F.log2(c)) / n).alias("entropy_bits"),
    )


# ---------------------------------------------------------------------------
# qx119 — rolling exact median (frame-bounded window percentile)
# ---------------------------------------------------------------------------

ROLLING_MEDIAN_ORACLE = """
SELECT
  event_id,
  user_id,
  round(CAST(value AS DOUBLE), 6) AS value,
  round(
    CAST(median(value) OVER (
      PARTITION BY user_id ORDER BY ts, event_id
      ROWS BETWEEN 6 PRECEDING AND CURRENT ROW
    ) AS DOUBLE),
    6
  ) AS med7
FROM events
"""


@register(
    "qx119_rolling_median",
    oracle=ROLLING_MEDIAN_ORACLE,
    doc="exact rolling median over a 7-row per-user event frame",
    tags=("events", "window-agg", "robust-stats"),
)
def qx119_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact rolling median of `value` over each user's trailing
    7-observation frame — the robust companion to q22's moving
    average (one outlier saturates a mean; the median shrugs it off).
    Spark's exact `percentile` aggregate runs as a frame-bounded
    window function, so the state per row is the 7-row frame — cost
    O(rows x frame), independent of history length, and the exchange
    is the same single hash-partition-by-user the other sequence
    operators reuse (no global sort; frames never cross users). Both
    engines interpolate the even-count median as the mean of the two
    middle values, one double op. Tie-break on event_id makes frame
    membership a deterministic total order."""
    ev = load_catalog(spark, sf_dir).table("events")
    frame = (
        Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-6, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        r6(F.col("value").cast("double")).alias("value"),
        r6(
            F.expr("percentile(value, 0.5)").over(frame).cast("double")
        ).alias("med7"),
    )


# ---------------------------------------------------------------------------
# qx120 — Benford leading-digit audit
# ---------------------------------------------------------------------------

BENFORD_ORACLE = """
WITH digits AS (
  SELECT CAST(substr(CAST(o_totalprice AS VARCHAR), 1, 1) AS INT) AS digit
  FROM orders
  WHERE o_totalprice >= 1
)
SELECT
  digit,
  CAST(count(*) AS BIGINT) AS n_orders,
  round(CAST(count(*) AS DOUBLE) / CAST(sum(count(*)) OVER () AS DOUBLE), 6)
    AS observed_frac,
  round(log10(1.0 + 1.0 / digit), 6) AS benford_frac,
  round(abs(
    CAST(count(*) AS DOUBLE) / CAST(sum(count(*)) OVER () AS DOUBLE)
    - log10(1.0 + 1.0 / digit)
  ), 6) AS abs_dev
FROM digits
GROUP BY digit
"""


@register(
    "qx120_benford",
    oracle=BENFORD_ORACLE,
    doc="Benford leading-digit distribution of order prices vs the log10 law",
    tags=("stats", "quality", "audit"),
)
def qx120_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law audit of o_totalprice: distribution of leading
    significant digits against the expected log10(1 + 1/d) — the
    classic screen for fabricated or truncated numeric columns in an
    ingest pipeline. The leading digit comes from the shortest-
    round-trip string form (identical between Spark and DuckDB for
    non-scientific doubles >= 1; float log10-of-value spellings
    misdigit exact powers of ten, so string it is). Plan: digit
    projection folds into the scan, then a partial-aggregated 9-group
    count — the whole audit is one exchange of <=9 rows per map task
    regardless of SF. observed_frac is exact-count ÷ exact-total in
    one double division; benford_frac is a single log10 per digit:
    both engine-identical at round-6."""
    o = load_catalog(spark, sf_dir).table("orders")
    digits = o.where(F.col("o_totalprice") >= 1).select(
        F.substring(F.col("o_totalprice").cast("string"), 1, 1)
        .cast("int")
        .alias("digit")
    )
    counted = digits.groupBy("digit").agg(F.count("*").cast("bigint").alias("n_orders"))
    total = Window.partitionBy()
    obs = F.col("n_orders").cast("double") / F.sum("n_orders").over(total).cast(
        "double"
    )
    expected = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit"))
    return counted.select(
        "digit",
        "n_orders",
        r6(obs).alias("observed_frac"),
        r6(expected).alias("benford_frac"),
        r6(F.abs(obs - expected)).alias("abs_dev"),
    )


# ---------------------------------------------------------------------------
# qx122 — MAD-based robust outliers (median absolute deviation)
# ---------------------------------------------------------------------------

MAD_ORACLE = """
WITH med AS (
  SELECT event_type, median(value) AS med
  FROM events GROUP BY event_type
),
mad AS (
  SELECT e.event_type, any_value(med) AS med, median(abs(value - med)) AS mad
  FROM events e JOIN med USING (event_type)
  GROUP BY e.event_type
)
SELECT
  event_id,
  e.event_type,
  round(CAST(value AS DOUBLE), 6) AS value,
  round((value - med) / (1.4826 * mad), 6) AS robust_z
FROM events e JOIN mad USING (event_type)
WHERE mad > 0 AND abs(value - med) > 3 * 1.4826 * mad
"""


@register(
    "qx122_mad_outliers",
    oracle=MAD_ORACLE,
    doc="robust outlier flags via median absolute deviation (3-sigma-equivalent)",
    tags=("events", "stats", "robust-stats"),
)
def qx122_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection: |x - median| > 3 x 1.4826 x MAD per
    event type — the screen qx106's z-scores fail on heavy-tailed
    data, where outliers inflate the stddev that is supposed to catch
    them (median and MAD have a 50% breakdown point; 1.4826 rescales
    MAD to sigma-equivalents under normality). Two grouped exact
    medians (Spark's `percentile` JVM aggregate — same two-middle
    interpolation as DuckDB's `median`), each joined back by
    BROADCAST on the ~5-row per-type stats frame, so the fact table is
    never shuffled — two scans, zero fact exchanges. Zero-MAD groups
    are filtered (robust z undefined), mirrored in the oracle; the
    flag predicate compares expressions derived from bit-identical
    medians, so the cut is engine-deterministic."""
    ev = load_catalog(spark, sf_dir).table("events")
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    dev = ev.join(F.broadcast(med), "event_type")
    mad = dev.groupBy("event_type").agg(
        F.first("med").alias("med"),
        F.expr("percentile(abs(value - med), 0.5)").alias("mad"),
    )
    flagged = ev.join(F.broadcast(mad), "event_type")
    cut = F.lit(3.0) * F.lit(1.4826) * F.col("mad")
    return flagged.where(
        (F.col("mad") > 0) & (F.abs(F.col("value") - F.col("med")) > cut)
    ).select(
        "event_id",
        "event_type",
        r6(F.col("value").cast("double")).alias("value"),
        r6(
            (F.col("value") - F.col("med")) / (F.lit(1.4826) * F.col("mad"))
        ).alias("robust_z"),
    )


# ---------------------------------------------------------------------------
# qx123 — equi-depth histogram (decile buckets over the scalable ntile)
# ---------------------------------------------------------------------------

EQUIDEPTH_ORACLE = """
WITH bucketed AS (
  SELECT
    o_totalprice AS v,
    ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS bucket
  FROM orders
)
SELECT
  CAST(bucket AS BIGINT) AS bucket,
  CAST(count(*) AS BIGINT) AS n_orders,
  round(CAST(min(v) AS DOUBLE), 6) AS lo,
  round(CAST(max(v) AS DOUBLE), 6) AS hi,
  round(CAST(sum(CAST(v AS DECIMAL(18,6))) AS DOUBLE), 6) AS bucket_revenue
FROM bucketed
GROUP BY bucket
"""


@register(
    "qx123_equidepth_histogram",
    oracle=EQUIDEPTH_ORACLE,
    doc="exact decile (equi-depth) histogram of order prices with bucket bounds",
    tags=("stats", "histogram", "scalable-window"),
)
def qx123_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth decile histogram of o_totalprice — the companion to
    qx111's fixed-width bins: every bucket holds the same row count
    and the [lo, hi] bounds ARE the exact decile boundaries (the shape
    optimizers and data-profiling UIs want). Bucketing runs through
    plans/ranks.with_ntile_auto: at fixture scale a single-window
    ntile, past the measured crossover the bucket-exchange + offset
    spelling with no single-task sort — bit-identical bucket
    membership either way, because offsets derive from actual
    partition counts and ties break on the unique o_orderkey. The
    per-bucket reduce then partial-aggregates to 10 rows; revenue
    accumulates in DECIMAL, exact in both engines."""
    from bqfetch_spark.plans.ranks import with_ntile_auto

    o = load_catalog(spark, sf_dir).table("orders").select(
        F.col("o_totalprice").alias("v"), "o_orderkey"
    )
    bucketed = with_ntile_auto(
        o, ["v", "o_orderkey"], 10, shuffle_partitions(spark), "bucket"
    )
    return bucketed.groupBy("bucket").agg(
        F.count("*").cast("bigint").alias("n_orders"),
        r6(F.min("v").cast("double")).alias("lo"),
        r6(F.max("v").cast("double")).alias("hi"),
        r6(F.sum(F.col("v").cast("decimal(18,6)")).cast("double")).alias(
            "bucket_revenue"
        ),
    )


# ---------------------------------------------------------------------------
# qx124 — exponential moving average (recursive smoothing per entity)
# ---------------------------------------------------------------------------

EMA_ALPHA = 0.2

EMA_ORACLE = f"""
WITH seq AS (
  SELECT
    user_id, event_id, value,
    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS k
  FROM events
),
terms AS (
  SELECT
    user_id, event_id, k,
    CASE WHEN k = 0 THEN value ELSE {EMA_ALPHA} * value END
      * power({1 - EMA_ALPHA}, -k) AS term
  FROM seq
)
SELECT
  user_id,
  event_id,
  round(
    power({1 - EMA_ALPHA}, k)
    * sum(term) OVER (PARTITION BY user_id ORDER BY k),
    6
  ) AS ema
FROM terms
"""


@register(
    "qx124_ema",
    oracle=EMA_ORACLE,
    doc="per-user exponential moving average of value (alpha=0.2, recursive)",
    tags=("events", "sequence", "pandas-udf"),
)
def qx124_ema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponential moving average per user — ema_t = alpha*x_t +
    (1-alpha)*ema_{t-1}, seeded at the first observation. The
    recurrence is the canonical operator Spark's declarative windows
    CANNOT express (each row depends on the previous OUTPUT, not a
    frame of inputs), so this is an applyInPandas group map: one hash
    exchange on user_id, then pandas' C-loop `ewm(adjust=False)`
    inside each Arrow batch — O(n) per key, numerically stable at ANY
    sequence length. (The algebraic window spelling the ORACLE uses —
    r^k * cumsum(x_i r^-i) — is JVM-only but its r^-k intermediate
    overflows past ~3000 rows/key at alpha=0.2; fine for the sf0.01
    oracle frame, wrong default for 100 TB, hence the UDF side is the
    engine path.) Sort inside the group is by (ts, event_id) — the
    same deterministic total order as the oracle's row_number."""
    import pandas as pd

    ev = load_catalog(spark, sf_dir).table("events").select(
        "user_id", "event_id", "ts", "value"
    )

    # Partition-level mapInPandas over a (user_id)-clustered sort
    # (round 13, guide §4.5): groupBy().applyInPandas invoked the
    # kernel once per USER — ~1500 pandas DataFrame constructions of
    # ~67 rows each at sf0.1, pure per-group overhead. One exchange on
    # user_id + sortWithinPartitions gives every task its users as
    # contiguous runs, and pandas' grouped ewm (cython, adjust=False)
    # replays the IDENTICAL per-user C recursion over all groups in
    # one call — bit-identical to the per-group spelling. Memory per
    # task is the partition, the same order as one Arrow batch here.
    def ema_part(batches):
        pdfs = list(batches)
        if not pdfs:
            return
        pdf = pd.concat(pdfs, ignore_index=True) if len(pdfs) > 1 else pdfs[0]
        ema = (
            pdf.groupby("user_id", sort=False)["value"]
            .ewm(alpha=EMA_ALPHA, adjust=False)
            .mean()
            .reset_index(level=0, drop=True)
            .sort_index()
        )
        yield pd.DataFrame(
            {"user_id": pdf["user_id"], "event_id": pdf["event_id"], "ema": ema}
        )

    # rounding stays JVM-side (round 13): F.round IS the HALF_UP-on-
    # shortest-repr semantics _sql_round6 mirrors (BigDecimal.valueOf →
    # setScale over Double.toString), and the raw doubles cross the
    # Arrow edge bit-exact — the old per-element Python Decimal loop
    # was the only row-at-a-time cost left in this UDF (pandas rounds
    # half-even, so Series.round would flip decimal-grid halves — the
    # qx196 failure class — but the JVM round agrees with the oracle
    # by construction)
    return (
        ev.repartition(shuffle_partitions(spark), "user_id")
        .sortWithinPartitions("user_id", "ts", "event_id")
        .mapInPandas(ema_part, "user_id bigint, event_id bigint, ema double")
        .withColumn("ema", F.round("ema", 6))
    )


# ---------------------------------------------------------------------------
# qx126 — two-proportion A/B test (deterministic hash assignment + z-test)
# ---------------------------------------------------------------------------

AB_ORACLE = """
WITH assign AS (
  SELECT
    user_id,
    CASE WHEN substring(md5(CAST(user_id AS VARCHAR)), 1, 1) < '8'
         THEN 'A' ELSE 'B' END AS variant,
    max(CASE WHEN event_type = 'purchase'
             AND ts < TIMESTAMP '2024-01-02 00:00:00'
             THEN 1 ELSE 0 END) AS converted
  FROM events
  GROUP BY user_id
),
agg AS (
  SELECT
    sum(CASE WHEN variant = 'A' THEN 1 ELSE 0 END) AS n_a,
    sum(CASE WHEN variant = 'A' THEN converted ELSE 0 END) AS c_a,
    sum(CASE WHEN variant = 'B' THEN 1 ELSE 0 END) AS n_b,
    sum(CASE WHEN variant = 'B' THEN converted ELSE 0 END) AS c_b
  FROM assign
)
SELECT
  CAST(n_a AS BIGINT) AS n_a,
  CAST(c_a AS BIGINT) AS conv_a,
  CAST(n_b AS BIGINT) AS n_b,
  CAST(c_b AS BIGINT) AS conv_b,
  round(CAST(c_a AS DOUBLE) / n_a, 6) AS rate_a,
  round(CAST(c_b AS DOUBLE) / n_b, 6) AS rate_b,
  round(
    (CAST(c_a AS DOUBLE) / n_a - CAST(c_b AS DOUBLE) / n_b)
    / nullif(sqrt(
        (CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))
        * (1.0 - CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))
        * (1.0 / n_a + 1.0 / n_b)
      ), 0.0),
    6
  ) AS z_score
FROM agg
"""


@register(
    "qx126_ab_test",
    oracle=AB_ORACLE,
    doc="two-proportion z-test over a deterministic hash-assigned A/B split",
    tags=("stats", "experiment", "hash-assignment"),
)
def qx126_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment readout end-to-end: users are assigned to variants
    by the first hex digit of md5(user_id) — the q72/q81 keep-rule
    convention, a pure function of the key, so assignment survives
    reruns/retries and is identical in any engine — conversion is
    "ever purchased", and the two-proportion z-statistic compares the
    rates under the pooled-variance null. ONE user_id exchange
    (variant is a row-local expression; the per-user conversion flag
    partial-aggregates) reduces everything to a 1-row frame of exact
    BIGINT counts; rates and z derive in mirrored single-expression
    doubles. The z threshold (±1.96 at alpha=.05) is left to the
    caller — the statistic, not the policy, is the operator."""
    ev = load_catalog(spark, sf_dir).table("events")
    early = (F.col("event_type") == "purchase") & (
        F.col("ts") < F.lit("2024-01-02 00:00:00").cast("timestamp")
    )
    per_user = ev.groupBy("user_id").agg(
        F.max(early.cast("int")).alias("converted")
    )
    variant_a = F.substring(F.md5(F.col("user_id").cast("string")), 1, 1) < "8"
    agg = per_user.agg(
        F.sum(variant_a.cast("bigint")).alias("n_a"),
        F.sum(F.when(variant_a, F.col("converted")).otherwise(0)).alias("c_a"),
        F.sum((~variant_a).cast("bigint")).alias("n_b"),
        F.sum(F.when(~variant_a, F.col("converted")).otherwise(0)).alias("c_b"),
    )
    n_a, c_a = F.col("n_a").cast("double"), F.col("c_a").cast("double")
    n_b, c_b = F.col("n_b").cast("double"), F.col("c_b").cast("double")
    pooled = (c_a + c_b) / (F.col("n_a") + F.col("n_b"))
    # a saturated metric (everyone or no one converts) has zero pooled
    # variance: z is undefined -> NULL, mirrored via nullif in the oracle
    z = F.try_divide(
        c_a / n_a - c_b / n_b,
        F.sqrt(pooled * (F.lit(1.0) - pooled) * (F.lit(1.0) / n_a + F.lit(1.0) / n_b)),
    )
    return agg.select(
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("c_a").cast("bigint").alias("conv_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        F.col("c_b").cast("bigint").alias("conv_b"),
        r6(c_a / n_a).alias("rate_a"),
        r6(c_b / n_b).alias("rate_b"),
        r6(z).alias("z_score"),
    )


# ---------------------------------------------------------------------------
# qx127 — weighted sampling without replacement (Efraimidis–Spirakis)
# ---------------------------------------------------------------------------

WSAMPLE_K = 50

WSAMPLE_ORACLE = f"""
WITH keyed AS (
  SELECT
    doc_id,
    n_chars,
    pow(
      (CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) + 0.5)
        / 4294967296.0,
      1.0 / n_chars
    ) AS k
  FROM documents
  WHERE n_chars > 0
)
SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars, round(k, 6) AS sample_key
FROM keyed
ORDER BY k DESC, doc_id
LIMIT {WSAMPLE_K}
"""


@register(
    "qx127_weighted_sample",
    oracle=WSAMPLE_ORACLE,
    doc="deterministic weighted sample without replacement (Efraimidis-Spirakis top-k)",
    tags=("sampling", "curation", "top-k"),
)
def qx127_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement via the Efraimidis-
    Spirakis one-pass reduction: give every row the key u^(1/w) (u a
    uniform in (0,1), w its weight — document length here, the
    longer-docs-sampled-more-often curation rule) and keep the global
    top-k keys. That turns weighted sampling into a TakeOrdered — the
    same O(k)-driver-memory, no-global-sort plan as q82's holdout —
    so it runs in one pass at any SF. u derives from the first 8 hex
    digits of md5(doc_id) (+0.5, /2^32: strictly inside (0,1), so
    pow never hits 0^x), a pure function of the key: reruns, retries
    and both engines agree on the whole sample, not just its
    distribution. Ties on doc_id make the boundary a total order."""
    docs = load_catalog(spark, sf_dir).table("documents")
    u = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        .cast("double")
        + F.lit(0.5)
    ) / F.lit(4294967296.0)
    keyed = docs.where(F.col("n_chars") > 0).select(
        "doc_id",
        F.col("n_chars").cast("bigint").alias("n_chars"),
        F.pow(u, F.lit(1.0) / F.col("n_chars")).alias("k"),
    )
    return (
        keyed.orderBy(F.desc("k"), "doc_id")
        .limit(WSAMPLE_K)
        .select("doc_id", "n_chars", r6(F.col("k")).alias("sample_key"))
    )


# ---------------------------------------------------------------------------
# qx128 — winsorization (percentile clipping per group)
# ---------------------------------------------------------------------------

WINSOR_ORACLE = """
WITH pct AS (
  SELECT
    event_type,
    quantile_cont(value, 0.05) AS p05,
    quantile_cont(value, 0.95) AS p95
  FROM events
  GROUP BY event_type
)
SELECT
  event_id,
  e.event_type,
  round(CAST(value AS DOUBLE), 6) AS value,
  round(least(greatest(value, p05), p95), 6) AS winsorized,
  CAST(value < p05 OR value > p95 AS INTEGER) AS was_clipped
FROM events e JOIN pct USING (event_type)
"""


@register(
    "qx128_winsorize",
    oracle=WINSOR_ORACLE,
    doc="per-group p05/p95 winsorization (tail clipping) with clip flags",
    tags=("events", "stats", "cleaning"),
)
def qx128_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization — clip each event's value into its type's
    [p05, p95] band, the standard tail-taming step before training on
    heavy-tailed metrics (vs qx122, which FLAGS outliers, this
    REPAIRS them). Exact percentiles per type (Spark's `percentile`
    aggregate, DuckDB's quantile_cont — same (n-1)p interpolation rule,
    already parity-proven by qx119's rolling median), broadcast back
    as a ~5-row stats frame: the fact table is never shuffled, and
    the clip itself is a row-local least/greatest — every output value
    a single mirrored double op."""
    ev = load_catalog(spark, sf_dir).table("events")
    pct = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.05)").alias("p05"),
        F.expr("percentile(value, 0.95)").alias("p95"),
    )
    return ev.join(F.broadcast(pct), "event_type").select(
        "event_id",
        "event_type",
        r6(F.col("value").cast("double")).alias("value"),
        r6(F.least(F.greatest("value", "p05"), F.col("p95"))).alias("winsorized"),
        ((F.col("value") < F.col("p05")) | (F.col("value") > F.col("p95")))
        .cast("int")
        .alias("was_clipped"),
    )


# ---------------------------------------------------------------------------
# qx129 — group-wise OLS trend (exact-moment linear regression)
# ---------------------------------------------------------------------------

# Fixed x-axis anchor (2024-01-01 UTC): keeps per-row x, x², x·y inside
# int64 for the fixture's 2024 event horizon without a data-dependent
# (hence nondeterministic-at-plan-time) centering pass.
TREND_ANCHOR_S = 1_704_067_200

OLS_ORACLE = f"""
WITH pts AS (
  SELECT
    event_type,
    epoch_us(ts) // 1000000 - {TREND_ANCHOR_S} AS x,
    CAST(round(value * 100) AS BIGINT) AS y
  FROM events
),
m AS (
  SELECT
    event_type,
    count(*) AS n,
    CAST(sum(CAST(x AS HUGEINT)) AS DOUBLE) AS sx,
    CAST(sum(CAST(y AS HUGEINT)) AS DOUBLE) AS sy,
    CAST(sum(CAST(x * x AS HUGEINT)) AS DOUBLE) AS sxx,
    CAST(sum(CAST(x * y AS HUGEINT)) AS DOUBLE) AS sxy
  FROM pts
  GROUP BY event_type
)
SELECT
  event_type,
  CAST(n AS BIGINT) AS n_events,
  round((n * sxy - sx * sy) / (n * sxx - sx * sx) / 100.0 * 86400.0, 6)
    AS slope_per_day,
  round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n / 100.0, 6)
    AS intercept
FROM m
"""


@register(
    "qx129_ols_trend",
    oracle=OLS_ORACLE,
    doc="per-type OLS trend (slope/intercept) of value over time, exact moments",
    tags=("stats", "regression", "temporal"),
)
def qx129_ols_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Least-squares trend of `value` over time per event type — the
    drift detector behind every "is this metric degrading" dashboard.
    qx110's exact-moment discipline applied to regression: x is whole
    seconds from a FIXED anchor (int64-safe products without a
    data-dependent centering pass), y is integer cents, and the four
    moments Σx, Σy, Σx², Σxy accumulate in DECIMAL(38,0)/HUGEINT —
    exact, add-order-independent, partial-aggregable, so the whole
    fit is ONE map-side-combined exchange of 5 numbers per type.
    Slope and intercept then derive in mirrored double expressions
    (slope re-derived inline for the intercept rather than chained,
    so both engines run literally the same tree); /100 undoes cents,
    ×86400 surfaces per-day units."""
    ev = load_catalog(spark, sf_dir).table("events")
    pts = ev.select(
        "event_type",
        (F.expr("unix_micros(ts) div 1000000") - F.lit(TREND_ANCHOR_S)).alias("x"),
        F.round(F.col("value") * 100).cast("bigint").alias("y"),
    )
    big = lambda c: F.sum(c.cast("decimal(38,0)")).cast("double")  # noqa: E731
    m = pts.groupBy("event_type").agg(
        F.count("*").alias("n"),
        big(F.col("x")).alias("sx"),
        big(F.col("y")).alias("sy"),
        big(F.col("x") * F.col("x")).alias("sxx"),
        big(F.col("x") * F.col("y")).alias("sxy"),
    )
    n = F.col("n")
    sx, sy, sxx, sxy = F.col("sx"), F.col("sy"), F.col("sxx"), F.col("sxy")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return m.select(
        "event_type",
        n.cast("bigint").alias("n_events"),
        r6(slope / F.lit(100.0) * F.lit(86400.0)).alias("slope_per_day"),
        r6((sy - slope * sx) / n / F.lit(100.0)).alias("intercept"),
    )


# ---------------------------------------------------------------------------
# qx130 — common user journeys (ordered aggregation / path mining)
# ---------------------------------------------------------------------------

JOURNEY_LEN = 8
JOURNEY_TOPK = 20

JOURNEY_ORACLE = f"""
WITH paths AS (
  SELECT
    user_id,
    array_to_string(
      list_slice(list(event_type ORDER BY ts, event_id), 1, {JOURNEY_LEN}),
      '>'
    ) AS journey
  FROM events
  GROUP BY user_id
)
SELECT journey, n_users
FROM (
  SELECT
    journey,
    CAST(count(*) AS BIGINT) AS n_users,
    row_number() OVER (ORDER BY count(*) DESC, journey) AS rn
  FROM paths
  GROUP BY journey
)
WHERE rn <= {JOURNEY_TOPK}
"""


@register(
    "qx130_user_journey",
    oracle=JOURNEY_ORACLE,
    doc="most common first-8-step user journeys (ordered path aggregation)",
    tags=("events", "sequence", "path-mining"),
)
def qx130_user_journey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Path mining: each user's first 8 (JOURNEY_LEN) event types in time order,
    joined into a journey string, then the 20 (JOURNEY_TOPK) most common journeys —
    the "what do users actually do" query every product-analytics tool
    ships. Ordered aggregation is the operator here: Spark has no
    ORDER BY inside collect_list, so order is imposed structurally —
    collect (ts, event_id, event_type) structs, array_sort (struct
    comparison = lexicographic on fields, and (ts, event_id) is a
    unique total order, so the trailing event_type never decides), then
    slice BEFORE the journey string exists, bounding each row at 8 (JOURNEY_LEN)
    steps. One user_id exchange builds paths (per-user arrays bounded
    by the events-per-user horizon — at 100 TB you'd pre-filter the
    lookback window, same plan); journey counting partial-aggregates,
    and the final top-k is TakeOrdered with a journey tie-break, no
    global sort."""
    ev = load_catalog(spark, sf_dir).table("events")
    arr = F.array_sort(F.collect_list(F.struct("ts", "event_id", "event_type")))
    journey = F.array_join(
        F.slice(F.transform(arr, lambda x: x["event_type"]), 1, JOURNEY_LEN), ">"
    )
    paths = ev.groupBy("user_id").agg(journey.alias("journey"))
    return (
        paths.groupBy("journey")
        .agg(F.count("*").cast("bigint").alias("n_users"))
        .orderBy(F.desc("n_users"), "journey")
        .limit(JOURNEY_TOPK)
    )


# ---------------------------------------------------------------------------
# qx136 — Jensen-Shannon divergence per source vs the corpus
# ---------------------------------------------------------------------------

JSD_ORACLE = """
WITH tok AS (
  SELECT source, unnest(string_split(text, ' ')) AS token FROM documents
),
sc AS (
  SELECT source, token, count(*) AS c FROM tok GROUP BY source, token
),
st AS (SELECT source, sum(c) AS n FROM sc GROUP BY source),
cc AS (SELECT token, count(*) AS cc FROM tok GROUP BY token),
ct AS (SELECT sum(cc) AS nn FROM cc),
terms AS (
  SELECT
    sc.source,
    CAST(sc.c AS DOUBLE) / st.n AS p,
    CAST(cc.cc AS DOUBLE) / ct.nn AS q
  FROM sc
  JOIN st ON sc.source = st.source
  JOIN cc ON sc.token = cc.token
  CROSS JOIN ct
)
SELECT
  source,
  round(
    0.5 * sum(p * log2(2.0 * p / (p + q)))
    + 0.5 * (sum(q * log2(2.0 * q / (p + q))) + (1.0 - sum(q))),
    6
  ) AS jsd_bits
FROM terms
GROUP BY source
"""


@register(
    "qx136_jsd_divergence",
    oracle=JSD_ORACLE,
    doc="Jensen-Shannon divergence of each source's token distribution vs the corpus",
    tags=("text", "stats", "quality"),
)
def qx136_jsd_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How far each source's token distribution sits from the corpus
    mixture — the domain-shift number a curation pipeline watches when
    a new crawl lands (JSD is symmetric, bounded [0,1] in bits, and
    defined even where KL blows up on missing tokens). The q-side sum
    over tokens a source LACKS has the closed form (1 − Σ_{t∈S} q_t)
    — log2(2q/(0+q)) is exactly 1 bit — so the whole statistic needs
    only the source∩corpus INNER join: one vocab-bounded token
    exchange serving both count layers, never a per-source scan of
    the full vocabulary. p/q are exact-count ratios; the log2 sums
    carry ~ulp-per-term drift, orders below round-6 (qx118's
    entropy argument)."""
    docs = load_catalog(spark, sf_dir).table("documents")
    tok = docs.select("source", F.explode(F.split("text", " ", -1)).alias("token"))
    # MATERIALIZE the (source, token) frame once: every coarser count
    # layer derives from it, and as separate lazy branches each layer
    # would re-scan and re-explode the corpus (measured 4 scans —
    # column pruning differentiates the subtrees, so ReuseExchange
    # cannot dedup them). The frame is vocab-bounded — exactly what a
    # 100 TB run would cache before fanning out count layers.
    sc = (
        tok.groupBy("source", "token")
        .agg(F.count("*").alias("c"))
        .localCheckpoint(eager=True)
    )
    st = sc.groupBy("source").agg(F.sum("c").alias("n"))
    cc = sc.groupBy("token").agg(F.sum("c").alias("cc"))
    ct = cc.agg(F.sum("cc").alias("nn"))
    terms = (
        sc.join(F.broadcast(st), "source")
        .join(cc, "token")
        .crossJoin(F.broadcast(ct))
        .select(
            "source",
            (F.col("c").cast("double") / F.col("n")).alias("p"),
            (F.col("cc").cast("double") / F.col("nn")).alias("q"),
        )
    )
    p, q = F.col("p"), F.col("q")
    return terms.groupBy("source").agg(
        r6(
            F.lit(0.5) * F.sum(p * F.log2(F.lit(2.0) * p / (p + q)))
            + F.lit(0.5)
            * (
                F.sum(q * F.log2(F.lit(2.0) * q / (p + q)))
                + (F.lit(1.0) - F.sum(q))
            )
        ).alias("jsd_bits")
    )


# ---------------------------------------------------------------------------
# qx137 — CUSUM changepoint detection
# ---------------------------------------------------------------------------

CUSUM_ORACLE = """
WITH m AS (
  SELECT
    event_type,
    CAST(sum(CAST(round(value * 100) AS HUGEINT)) AS DOUBLE)
      / count(*) / 100.0 AS mu
  FROM events GROUP BY event_type
),
cusum AS (
  SELECT
    e.event_type,
    ts,
    event_id,
    sum(value - mu) OVER (
      PARTITION BY e.event_type ORDER BY ts, event_id
    ) AS s
  FROM events e JOIN m ON e.event_type = m.event_type
)
SELECT event_type, ts AS changepoint_ts, round(abs(s), 6) AS cusum_peak
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY event_type ORDER BY round(abs(s), 6) DESC, ts, event_id
  ) AS rn
  FROM cusum
)
WHERE rn = 1
"""


@register(
    "qx137_cusum_changepoint",
    oracle=CUSUM_ORACLE,
    doc="CUSUM level-shift changepoint per event type (peak cumulative deviation)",
    tags=("events", "stats", "changepoint"),
)
def qx137_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Where did the level shift? The CUSUM statistic — the running
    sum of deviations from the series mean — peaks in magnitude at the
    most likely changepoint, the classic single-shift detector behind
    metric-drift alerts. The mean comes from exact integer-cents sums
    (qx110's discipline: order-independent, engine-identical); the
    running sum then evaluates in FRAME order, which the (ts,
    event_id) tie-break makes a deterministic total order — both
    engines add the same doubles in the same sequence, so even the
    intermediate CUSUM values are bit-identical. The argmax itself
    ranks on the ROUNDED |s| (round-6 advice: near-tied peaks must not
    flip on sub-6dp summation drift — the repo's rounded-rank
    convention, same as qx133/qx138), with the (ts, event_id)
    tie-break deciding exact rounded ties. One per-type hash exchange
    serves the window and the argmax; the peak is a per-type
    row_number over the same partitioning, no global sort."""
    ev = load_catalog(spark, sf_dir).table("events")
    m = ev.groupBy("event_type").agg(
        (
            F.sum(F.round(F.col("value") * 100).cast("decimal(38,0)")).cast("double")
            / F.count("*")
            / F.lit(100.0)
        ).alias("mu")
    )
    seq = Window.partitionBy("event_type").orderBy("ts", "event_id")
    cusum = ev.join(F.broadcast(m), "event_type").select(
        "event_type",
        "ts",
        "event_id",
        F.sum(F.col("value") - F.col("mu"))
        .over(seq.rowsBetween(Window.unboundedPreceding, 0))
        .alias("s"),
    )
    peak = Window.partitionBy("event_type").orderBy(
        r6(F.abs(F.col("s"))).desc(), "ts", "event_id"
    )
    return (
        cusum.withColumn("rn", F.row_number().over(peak))
        .where(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("ts").alias("changepoint_ts"),
            r6(F.abs(F.col("s"))).alias("cusum_peak"),
        )
    )


# ---------------------------------------------------------------------------
# qx138 — TF-IDF keyword extraction (top terms per document)
# ---------------------------------------------------------------------------

KEYWORDS_PER_DOC = 3

TFIDF_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
),
tf AS (
  SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY doc_id, token
),
df AS (
  SELECT token, count(DISTINCT doc_id) AS n_docs FROM tok GROUP BY token
),
n AS (SELECT count(*) AS n_total FROM documents),
scored AS (
  SELECT
    tf.doc_id,
    tf.token,
    round(tf.tf * ln(CAST(n.n_total AS DOUBLE) / df.n_docs), 6) AS tfidf
  FROM tf JOIN df ON tf.token = df.token CROSS JOIN n
)
SELECT doc_id, token, tfidf, CAST(rn AS BIGINT) AS rank
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY doc_id ORDER BY tfidf DESC, token
  ) AS rn
  FROM scored
)
WHERE rn <= {KEYWORDS_PER_DOC}
"""


@register(
    "qx138_tfidf_keywords",
    oracle=TFIDF_ORACLE,
    doc="top-3 TF-IDF keywords per document (keyword extraction / tagging)",
    tags=("text", "tfidf", "top-k"),
)
def qx138_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword extraction: each document's 3 (KEYWORDS_PER_DOC) highest-TF-IDF terms —
    the tagging step that turns a raw corpus into something
    searchable/groupable (q80 scores docs by rarity; this names WHICH
    terms make each doc distinctive). tf and df ride the SAME
    token-keyed exchange (one explode feeds both aggregations); the
    document-frequency join is vocabulary-bounded; ranking partitions
    per doc_id with the ROUNDED score + token tie-break so float noise
    can't flip the cut (q50's rounded-rank convention). ln() here, not
    log2 — mirroring q80's IDF definition so the two operators
    compose."""
    docs = load_catalog(spark, sf_dir).table("documents")
    tok = docs.select("doc_id", F.explode(F.split("text", " ", -1)).alias("token"))
    tf = tok.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    # tf already holds one row per (doc, token), so document frequency
    # is a WINDOW count over tf partitioned by token — a branch-free
    # chain (one scan, one explode), where a separate df aggregate
    # joined back would re-scan and re-explode the corpus (column
    # pruning blocks ReuseExchange across the branches); per-token
    # partitions are bounded by document frequency
    df_w = Window.partitionBy("token")
    n_total = docs.agg(F.count("*").alias("n_total"))
    scored = (
        tf.withColumn("n_docs", F.count("*").over(df_w))
        .crossJoin(F.broadcast(n_total))
        .select(
            "doc_id",
            "token",
            r6(
                F.col("tf")
                * F.log(F.col("n_total").cast("double") / F.col("n_docs"))
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "token")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= KEYWORDS_PER_DOC)
        .select("doc_id", "token", "tfidf", "rank")
    )


# ---------------------------------------------------------------------------
# qx140 — market-basket affinity (item-pair co-occurrence + lift)
# ---------------------------------------------------------------------------

BASKET_TOPK = 20

BASKET_ORACLE = f"""
WITH items AS (
  SELECT DISTINCT l_orderkey AS okey, l_partkey AS part FROM lineitem
),
n AS (SELECT count(DISTINCT okey) AS n_orders FROM items),
ic AS (SELECT part, count(*) AS c FROM items GROUP BY part),
pairs AS (
  SELECT a.part AS part_a, b.part AS part_b, count(*) AS c_ab
  FROM items a JOIN items b ON a.okey = b.okey AND a.part < b.part
  GROUP BY 1, 2
)
SELECT
  part_a,
  part_b,
  CAST(c_ab AS BIGINT) AS n_cooccur,
  round(CAST(c_ab AS DOUBLE) * n.n_orders / (ca.c * cb.c), 6) AS lift
FROM pairs
JOIN ic ca ON part_a = ca.part
JOIN ic cb ON part_b = cb.part
CROSS JOIN n
ORDER BY n_cooccur DESC, part_a, part_b
LIMIT {BASKET_TOPK}
"""


@register(
    "qx140_market_basket",
    oracle=BASKET_ORACLE,
    doc="top item-pair affinities by basket co-occurrence with lift scores",
    tags=("relational", "association", "top-k"),
)
def qx140_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket analysis: which parts ship together more than
    chance — the association-rule primitive behind every
    "frequently bought together" feature. The pair stream is the
    within-basket self-join on l_orderkey, so fan-out is bounded by
    items-per-basket² (a per-order constant), NOT catalog²: the same
    linear-growth argument as qx107's vocab-bounded co-occurrence,
    with the basket as the bounding scope. lift = P(a,b)/(P(a)P(b))
    derives from exact BIGINT supports in one mirrored double
    expression; the per-item support table is catalog-sized and
    broadcast onto the pair stream. Final top-k is TakeOrdered on
    (count, part_a, part_b) — a deterministic total order, no global
    sort."""
    li = load_catalog(spark, sf_dir).table("lineitem")
    items = li.select(
        F.col("l_orderkey").alias("okey"), F.col("l_partkey").alias("part")
    ).distinct()
    n_orders = items.agg(F.countDistinct("okey").alias("n_orders"))
    ic = items.groupBy("part").agg(F.count("*").alias("c"))
    a, b = items.alias("a"), items.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.okey") == F.col("b.okey")) & (F.col("a.part") < F.col("b.part")),
        )
        .groupBy(
            F.col("a.part").alias("part_a"), F.col("b.part").alias("part_b")
        )
        .agg(F.count("*").alias("c_ab"))
    )
    ca = ic.select(F.col("part").alias("part_a"), F.col("c").alias("ca"))
    cb = ic.select(F.col("part").alias("part_b"), F.col("c").alias("cb"))
    return (
        pairs.join(F.broadcast(ca), "part_a")
        .join(F.broadcast(cb), "part_b")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "part_a",
            "part_b",
            F.col("c_ab").cast("bigint").alias("n_cooccur"),
            r6(
                F.col("c_ab").cast("double")
                * F.col("n_orders")
                / (F.col("ca") * F.col("cb"))
            ).alias("lift"),
        )
        .orderBy(F.desc("n_cooccur"), "part_a", "part_b")
        .limit(BASKET_TOPK)
    )


# ---------------------------------------------------------------------------
# qx141 — deterministic group k-fold assignment (leakage-safe CV splits)
# ---------------------------------------------------------------------------

KFOLD_K = 5

KFOLD_ORACLE = f"""
WITH assigned AS (
  SELECT
    user_id,
    CAST(CAST('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 8) AS BIGINT)
         % {KFOLD_K} AS INT) AS fold,
    count(*) AS n_events
  FROM events
  GROUP BY user_id
)
SELECT
  fold,
  CAST(count(*) AS BIGINT) AS n_users,
  CAST(sum(n_events) AS BIGINT) AS n_events
FROM assigned
GROUP BY fold
"""


@register(
    "qx141_kfold_assignment",
    oracle=KFOLD_ORACLE,
    doc="deterministic group k-fold split (every user's events share one fold)",
    tags=("sampling", "curation", "hash-assignment"),
)
def qx141_kfold_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group k-fold cross-validation splits: the fold is a pure
    function of the GROUP key (md5-derived, the q72/qx126 convention),
    so all of a user's events land in one fold — the leakage guard a
    row-level split violates (a user in both train and eval leaks
    identity features). Deterministic: reruns, retries, and engines
    agree on the entire assignment, and adding new users never moves
    existing ones between folds (hash, not modulo-of-row-number).
    ONE user_id exchange produces per-user rows; the per-fold rollup
    is a 5 (KFOLD_K)-group aggregate."""
    ev = load_catalog(spark, sf_dir).table("events")
    fold = (
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % KFOLD_K
    ).cast("int")
    per_user = ev.groupBy("user_id").agg(F.count("*").alias("n_events"))
    return (
        per_user.select(fold.alias("fold"), "n_events")
        .groupBy("fold")
        .agg(
            F.count("*").cast("bigint").alias("n_users"),
            F.sum("n_events").cast("bigint").alias("n_events"),
        )
    )


# ---------------------------------------------------------------------------
# qx142 — minority-class oversampling (deterministic replication balance)
# ---------------------------------------------------------------------------

OVERSAMPLE_ORACLE = """
WITH cc AS (
  SELECT event_type, count(*) AS c FROM events GROUP BY event_type
),
tgt AS (SELECT max(c) AS target FROM cc),
replicated AS (
  SELECT
    e.event_type,
    e.event_id,
    copy,
    row_number() OVER (
      PARTITION BY e.event_type ORDER BY e.event_id, copy
    ) AS rn
  FROM events e
  JOIN cc ON e.event_type = cc.event_type
  CROSS JOIN tgt
  CROSS JOIN unnest(range(1, CAST(ceil(CAST(target AS DOUBLE) / c) AS BIGINT) + 1))
    AS t(copy)
)
SELECT
  event_type,
  CAST(count(*) AS BIGINT) AS n_rows,
  CAST(count(DISTINCT event_id) AS BIGINT) AS n_source_events,
  CAST(max(copy) AS BIGINT) AS max_copy
FROM replicated
CROSS JOIN tgt
WHERE rn <= target
GROUP BY event_type
"""


@register(
    "qx142_oversample_minority",
    oracle=OVERSAMPLE_ORACLE,
    doc="balance classes by deterministic replication up to the majority count",
    tags=("sampling", "curation", "rebalancing"),
)
def qx142_oversample_minority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class rebalancing by replication: every event type is brought
    up to EXACTLY the majority class's row count — each row replicates
    ceil(target/c) times (explode over a sequence, a narrow map), then
    a per-class row_number over the deterministic (event_id, copy)
    order trims the overshoot, so the balanced set is a pure function
    of the input (no RNG — the rebalancing twin of q72's md5 DOWN-
    sampling). The class-count frame is tiny and broadcast; the only
    data-sized exchange is the per-class trim window, partitioned by
    class — and since replication factors are per-CLASS constants, the
    explode fan-out is bounded by target/c per row, never quadratic.
    Surfaced per class: balanced row count (== target for every
    class), distinct source events, and the replication ceiling."""
    ev = load_catalog(spark, sf_dir).table("events")
    cc = ev.groupBy("event_type").agg(F.count("*").alias("c"))
    tgt = cc.agg(F.max("c").alias("target"))
    factor = F.ceil(F.col("target").cast("double") / F.col("c")).cast("bigint")
    replicated = (
        ev.select("event_type", "event_id")
        .join(F.broadcast(cc), "event_type")
        .crossJoin(F.broadcast(tgt))
        .select(
            "event_type",
            "event_id",
            "target",
            F.explode(F.sequence(F.lit(1).cast("bigint"), factor)).alias("copy"),
        )
    )
    trim = Window.partitionBy("event_type").orderBy("event_id", "copy")
    return (
        replicated.withColumn("rn", F.row_number().over(trim))
        .where(F.col("rn") <= F.col("target"))
        .groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.countDistinct("event_id").cast("bigint").alias("n_source_events"),
            F.max("copy").cast("bigint").alias("max_copy"),
        )
    )


# ---------------------------------------------------------------------------
# qx143 — seasonal baseline + residual anomalies (hour-of-day profile)
# ---------------------------------------------------------------------------

SEASONAL_Z = 3.0

SEASONAL_ORACLE = f"""
WITH prof AS (
  SELECT
    event_type,
    CAST(hour(ts) AS INT) AS hod,
    CAST(sum(CAST(round(value * 100) AS HUGEINT)) AS DOUBLE)
      / count(*) / 100.0 AS mu,
    count(*) AS n,
    CAST(sum(CAST(round(value * 100) AS HUGEINT)
             * CAST(round(value * 100) AS HUGEINT)) AS DOUBLE) AS sxx,
    CAST(sum(CAST(round(value * 100) AS HUGEINT)) AS DOUBLE) AS sx
  FROM events
  GROUP BY event_type, hour(ts)
)
SELECT
  event_id,
  e.event_type,
  e.hod AS hod,
  round(CAST(value AS DOUBLE), 6) AS value,
  round((value - mu) / sigma, 6) AS seasonal_z
FROM (
  SELECT
    event_type, hod, mu,
    sqrt((sxx - sx * sx / n) / (n - 1)) / 100.0 AS sigma
  FROM prof
  WHERE n > 1
) p
JOIN (SELECT *, CAST(hour(ts) AS INT) AS hod FROM events) e
  ON e.event_type = p.event_type AND e.hod = p.hod
WHERE sigma > 0 AND abs((value - mu) / sigma) > {SEASONAL_Z}
"""


@register(
    "qx143_seasonal_anomalies",
    oracle=SEASONAL_ORACLE,
    doc="anomalies vs an hour-of-day seasonal baseline (per type+hour z-scores)",
    tags=("events", "temporal", "anomaly"),
)
def qx143_seasonal_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality-aware anomaly detection: a metric that is normal at
    peak hour is anomalous at 3 AM — flat thresholds (qx106) can't see
    that, so the baseline here is the (event_type, hour-of-day)
    profile: exact-cents mean and sample stddev per cell, a ≤|types|×24
    frame built in ONE partial-aggregated pass and BROADCAST back onto
    the events, which are never shuffled. Moments follow the qx110
    discipline (integer cents, HUGEINT/DECIMAL sums → mirrored double
    derivation); degenerate cells (n≤1 or zero variance) are excluded
    on both sides, and the flag predicate compares bit-identical
    expressions, so the anomaly set is engine-deterministic."""
    ev = load_catalog(spark, sf_dir).table("events")
    cents = F.round(F.col("value") * 100).cast("decimal(38,0)")
    prof = (
        ev.groupBy("event_type", F.hour("ts").cast("int").alias("hod"))
        .agg(
            F.count("*").alias("n"),
            F.sum(cents).cast("double").alias("sx"),
            F.sum(cents * cents).cast("double").alias("sxx"),
        )
        .where(F.col("n") > 1)
        .select(
            "event_type",
            "hod",
            (F.col("sx") / F.col("n") / F.lit(100.0)).alias("mu"),
            (
                F.sqrt(
                    (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n"))
                    / (F.col("n") - 1)
                )
                / F.lit(100.0)
            ).alias("sigma"),
        )
        .where(F.col("sigma") > 0)
    )
    evh = ev.select(
        "event_id", "event_type", "value", F.hour("ts").cast("int").alias("hod")
    )
    z = (F.col("value") - F.col("mu")) / F.col("sigma")
    return (
        evh.join(F.broadcast(prof), ["event_type", "hod"])
        .where(F.abs(z) > SEASONAL_Z)
        .select(
            "event_id",
            "event_type",
            "hod",
            r6(F.col("value").cast("double")).alias("value"),
            r6(z).alias("seasonal_z"),
        )
    )


# ---------------------------------------------------------------------------
# qx144 — lag-feature generation (ML feature engineering)
# ---------------------------------------------------------------------------

LAG_FEATURES_ORACLE = """
SELECT
  event_id,
  user_id,
  round(CAST(value AS DOUBLE), 6) AS value,
  round(CAST(lag(value, 1) OVER w AS DOUBLE), 6) AS lag1,
  round(CAST(lag(value, 2) OVER w AS DOUBLE), 6) AS lag2,
  round(CAST(value - lag(value, 1) OVER w AS DOUBLE), 6) AS delta1,
  round(
    CAST(sum(CAST(value AS DECIMAL(18,6))) OVER (
      PARTITION BY user_id ORDER BY ts, event_id
      ROWS BETWEEN 2 PRECEDING AND CURRENT ROW
    ) AS DOUBLE)
    / count(*) OVER (
      PARTITION BY user_id ORDER BY ts, event_id
      ROWS BETWEEN 2 PRECEDING AND CURRENT ROW
    ),
    6
  ) AS mean3,
  CAST(count(*) OVER (
    PARTITION BY user_id ORDER BY ts, event_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
  ) - 1 AS BIGINT) AS n_prior
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


@register(
    "qx144_lag_features",
    oracle=LAG_FEATURES_ORACLE,
    doc="per-user lag/delta/rolling-mean feature matrix for sequence models",
    tags=("events", "feature-engineering", "window-analytic"),
)
def qx144_lag_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature engineering for sequence models: each observation gains
    its two lags, the first difference, a trailing 3-row mean and its
    prior-observation count — the standard tabular features a
    forecasting/churn model trains on, produced as ONE pass. Every
    window shares the identical (user_id | ts, event_id) spec, so
    Catalyst evaluates all five features in a single Window operator
    over a single user_id exchange — the feature count scales without
    re-sorting. The rolling mean accumulates in DECIMAL (exact in both
    engines) over the explicit frame; leading rows yield NULL lags,
    exactly what a leakage-safe training join wants."""
    ev = load_catalog(spark, sf_dir).table("events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    frame3 = w.rowsBetween(-2, 0)
    hist = w.rowsBetween(Window.unboundedPreceding, 0)
    dec = F.col("value").cast("decimal(18,6)")
    return ev.select(
        "event_id",
        "user_id",
        r6(F.col("value").cast("double")).alias("value"),
        r6(F.lag("value", 1).over(w).cast("double")).alias("lag1"),
        r6(F.lag("value", 2).over(w).cast("double")).alias("lag2"),
        r6((F.col("value") - F.lag("value", 1).over(w)).cast("double")).alias(
            "delta1"
        ),
        r6(
            F.sum(dec).over(frame3).cast("double") / F.count("*").over(frame3)
        ).alias("mean3"),
        (F.count("*").over(hist) - 1).cast("bigint").alias("n_prior"),
    )


# ---------------------------------------------------------------------------
# qx147 — count-min-sketch heavy hitters (token frequency)
# ---------------------------------------------------------------------------

CMS_TOPK = 10
CMS_EPS = 1e-4  # over-estimate bound: eps * total_tokens (w.p. CONFIDENCE)
CMS_CONFIDENCE = 0.99
CMS_SEED = 42

HEAVY_HITTERS_ORACLE = f"""
WITH tok AS (
  SELECT unnest(string_split(text, ' ')) AS token FROM documents
),
counts AS (
  SELECT token, count(*) AS n_exact FROM tok GROUP BY token
),
ranked AS (
  SELECT token, n_exact,
         row_number() OVER (ORDER BY n_exact DESC, token) AS rn
  FROM counts
)
SELECT token, n_exact, true AS est_in_bounds
FROM ranked WHERE rn <= {CMS_TOPK}
"""


@register(
    "qx147_heavy_hitters_cms",
    oracle=HEAVY_HITTERS_ORACLE,
    doc="top-10 tokens with a count-min-sketch over-estimate bound check",
    tags=("sketch", "text", "agg"),
)
def qx147_heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters with a count-min sketch — the third sketch family
    next to HLL (q15/q94) and GK quantiles (q90). The CMS is the
    100 TB shape for "what are the frequent tokens in this crawl":
    fixed O(width×depth) mergeable state per partition, one pass, no
    token shuffle; only candidate identification needs the exact pass.

    Here both run: the exact top-CMS_TOPK (count desc, token
    tie-break — deterministic) anchors the cross-engine value check,
    and Spark's own sketch (count_min_sketch aggregate, deserialized
    driver-side via the JVM CountMinSketch reader) is probed for each
    heavy hitter, asserting the CMS guarantee estimate ∈
    [exact, exact + eps·N]. DuckDB has no CMS, so its flag column is
    literal true — the bound genuinely checks SPARK's sketch, while
    the token/count columns are full cross-engine values (the same
    one-sided-oracle stance as q15/q94, documented rather than
    hidden). The sketch probe is O(CMS_TOPK) driver work on a
    kilobyte-scale object."""
    docs = load_catalog(spark, sf_dir).table("documents")
    tok = docs.select(F.explode(F.split(F.col("text"), " ")).alias("token"))
    top = (
        tok.groupBy("token")
        .agg(F.count(F.lit(1)).alias("n_exact"))
        .orderBy(F.desc("n_exact"), "token")
        .limit(CMS_TOPK)
    )
    agg = tok.agg(
        F.count_min_sketch("token", F.lit(CMS_EPS), F.lit(CMS_CONFIDENCE), F.lit(CMS_SEED)).alias("cms"),
        F.count(F.lit(1)).alias("n_total"),
    ).first()
    from bqfetch_spark.compat import jvm_or_none

    jvm = jvm_or_none(spark)
    if jvm is None:  # Spark Connect: no JVM-side sketch deserializer
        raise RuntimeError(
            "qx147's sketch-bound probe deserializes Spark's CountMinSketch "
            "driver-side via the JVM reader, which Spark Connect does not "
            "expose; run this query on classic PySpark (every other column "
            "of the result is plain DataFrame output and Connect-safe)"
        )
    sketch = jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom(
        bytes(agg["cms"])
    )
    bound = CMS_EPS * agg["n_total"]
    rows = [
        (
            r["token"],
            r["n_exact"],
            bool(
                r["n_exact"]
                <= sketch.estimateCount(r["token"])
                <= r["n_exact"] + bound
            ),
        )
        for r in top.collect()
    ]
    return spark.createDataFrame(
        rows, "token string, n_exact bigint, est_in_bounds boolean"
    )


# ---------------------------------------------------------------------------
# qx148 — BM25 keyword retrieval (top documents for a derived query)
# ---------------------------------------------------------------------------

BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOPK = 10
# query = the tokens ranked 10..14 by document frequency (df desc,
# token tie-break): mid-frequency terms (the fixture corpus draws from
# a ~31-token pool, so the band must sit inside it), so idf actually
# discriminates;
# deriving the query from the corpus keeps it deterministic in BOTH
# engines with no fixture-specific literals
BM25_QRANK_LO, BM25_QRANK_HI = 10, 14

BM25_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
),
tf AS (
  SELECT doc_id, token, CAST(count(*) AS DOUBLE) AS tf
  FROM tok GROUP BY doc_id, token
),
dfr AS (
  SELECT token, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY token
),
qterms AS (
  SELECT token, df FROM (
    SELECT token, df, row_number() OVER (ORDER BY df DESC, token) AS rn
    FROM dfr
  ) WHERE rn BETWEEN {BM25_QRANK_LO} AND {BM25_QRANK_HI}
),
dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY doc_id),
stats AS (
  SELECT CAST(count(*) AS DOUBLE) AS n_docs,
         (SELECT avg(dl) FROM dl) AS avg_dl
  FROM documents
),
scored AS (
  SELECT
    tf.doc_id,
    sum(
      ln((stats.n_docs - qterms.df + 0.5) / (qterms.df + 0.5) + 1.0)
      * tf.tf * ({BM25_K1} + 1.0)
      / (tf.tf + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * dl.dl / stats.avg_dl))
    ) AS s
  FROM tf
  JOIN qterms ON qterms.token = tf.token
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats
  GROUP BY tf.doc_id
)
SELECT doc_id, round(s, 6) AS bm25, CAST(rn AS BIGINT) AS rank
FROM (
  SELECT *, row_number() OVER (ORDER BY round(s, 6) DESC, doc_id) AS rn
  FROM scored
)
WHERE rn <= {BM25_TOPK}
"""


@register(
    "qx148_bm25_retrieval",
    oracle=BM25_ORACLE,
    doc="BM25 top-10 documents for a df-derived 5-term query",
    tags=("text", "retrieval", "top-k"),
)
def qx148_bm25_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword retrieval — the ranking function every lexical search
    stack runs (Lucene's Okapi BM25, idf·tf·(k1+1)/(tf+k1·(1−b+b·|d|/avgdl))
    with the +1 idf smoothing) — over a query derived from the corpus
    itself: the tokens df-ranked 10–14 (BM25_QRANK_LO..HI), picked via
    TakeOrdered (no global sort; the rank window runs on the collected
    top-14 frame).
    One token explode feeds tf; df and document length are re-aggs of
    the tiny tf frame; the query side broadcasts onto the tf stream,
    so the corpus is scanned once and only query-term postings survive
    the join — the inverted-index access pattern as a DataFrame plan.
    The final cut ranks on the ROUNDED score with doc_id tie-break
    (the repo's rounded-rank convention): the ≤5-term score sum drifts
    ~1 ulp across engines, invisible at 6dp."""
    docs = load_catalog(spark, sf_dir).table("documents")
    tok = docs.select("doc_id", F.explode(F.split("text", " ", -1)).alias("token"))
    tf = (
        tok.groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).cast("double").alias("tf"))
    )
    dfr = tf.groupBy("token").agg(F.count(F.lit(1)).cast("double").alias("df"))
    top_q = dfr.orderBy(F.desc("df"), "token").limit(BM25_QRANK_HI)
    qw = Window.orderBy(F.desc("df"), "token")  # ≤54 rows: single task fine
    qterms = (
        top_q.withColumn("rn", F.row_number().over(qw))
        .filter(F.col("rn").between(BM25_QRANK_LO, BM25_QRANK_HI))
        .select("token", "df")
    )
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    stats = docs.agg(F.count(F.lit(1)).cast("double").alias("n_docs")).crossJoin(
        dl.agg(F.avg("dl").alias("avg_dl"))
    )
    idf = F.log(
        (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
        + F.lit(1.0)
    )
    term_score = (
        idf
        * F.col("tf")
        * F.lit(BM25_K1 + 1.0)
        / (
            F.col("tf")
            + F.lit(BM25_K1)
            * (F.lit(1.0 - BM25_B) + F.lit(BM25_B) * F.col("dl") / F.col("avg_dl"))
        )
    )
    scored = (
        tf.join(F.broadcast(qterms), "token")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(r6(F.sum(term_score)).alias("bm25"))
    )
    w = Window.orderBy(F.col("bm25").desc(), "doc_id")  # ranks a ≤corpus frame,
    # but the filter below keeps only top-10: TakeOrdered would also work;
    # the single-task window input is the scored frame (docs containing a
    # query term), bounded by the query postings
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= BM25_TOPK)
        .select("doc_id", "bm25", "rank")
    )


# ---------------------------------------------------------------------------
# qx149 — bigram language-model fluency score per document
# ---------------------------------------------------------------------------

BIGRAM_TOPK = 15

BIGRAM_LM_ORACLE = f"""
WITH tok AS (
  SELECT doc_id,
         unnest(string_split(text, ' ')) AS token,
         generate_subscripts(string_split(text, ' '), 1) AS pos
  FROM documents
),
big AS (
  SELECT a.doc_id, a.token AS w1, b.token AS w2
  FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
),
c12 AS (SELECT w1, w2, CAST(count(*) AS DOUBLE) AS c12 FROM big GROUP BY w1, w2),
c1 AS (SELECT w1, CAST(sum(c12) AS DOUBLE) AS c1 FROM c12 GROUP BY w1),
v AS (SELECT CAST(count(DISTINCT token) AS DOUBLE) AS v FROM tok),
doc_lp AS (
  SELECT big.doc_id,
         avg(ln((c12.c12 + 1.0) / (c1.c1 + v.v))) AS lp,
         count(*) AS n_bigrams
  FROM big
  JOIN c12 ON c12.w1 = big.w1 AND c12.w2 = big.w2
  JOIN c1 ON c1.w1 = big.w1
  CROSS JOIN v
  GROUP BY big.doc_id
)
SELECT doc_id, round(lp, 6) AS avg_logprob, CAST(n_bigrams AS BIGINT) AS n_bigrams
FROM (
  SELECT *, row_number() OVER (ORDER BY round(lp, 6), doc_id) AS rn
  FROM doc_lp
)
WHERE rn <= {BIGRAM_TOPK}
"""


@register(
    "qx149_bigram_logprob",
    oracle=BIGRAM_LM_ORACLE,
    doc="bottom-15 documents by Laplace-smoothed bigram log-probability (fluency filter)",
    tags=("text", "quality", "lm"),
)
def qx149_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fluency scoring with a corpus-fit bigram LM — the step past
    q87's unigram model: a document whose word PAIRS are unusual for
    the corpus reads as boilerplate/garble even when its words are
    common, and the lowest-scoring docs are the curation-review queue.
    p(w2|w1) is Laplace-smoothed (c12+1)/(c1+V); each doc's score is
    the mean ln p over its bigrams.

    Plan shape: ONE posexplode produces positioned tokens; bigrams are
    a self-join on (doc_id, pos+1) — at 100 TB this is the one
    doc_id-keyed exchange, and per-doc partitions are document-length
    bounded. The bigram model (c12/c1) lives on vocabulary²-bounded
    frames that re-aggregate the bigram stream; scoring re-joins the
    model onto it (AQE picks broadcast where the model is small). The
    avg is a mean of per-bigram ln() terms — mirrored expressions,
    ~ulp drift, stable at the 6dp rounded rank (doc_id tie-break)."""
    docs = load_catalog(spark, sf_dir).table("documents")
    tok = docs.select(
        "doc_id", F.posexplode(F.split("text", " ", -1)).alias("pos", "token")
    )
    t1, t2 = tok.alias("t1"), tok.alias("t2")
    big = t1.join(
        t2,
        (F.col("t1.doc_id") == F.col("t2.doc_id"))
        & (F.col("t2.pos") == F.col("t1.pos") + 1),
    ).select(
        F.col("t1.doc_id").alias("doc_id"),
        F.col("t1.token").alias("w1"),
        F.col("t2.token").alias("w2"),
    )
    c12 = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).cast("double").alias("c12"))
    c1 = c12.groupBy("w1").agg(F.sum("c12").alias("c1"))
    v = tok.agg(F.countDistinct("token").cast("double").alias("v"))
    lp = F.log((F.col("c12") + F.lit(1.0)) / (F.col("c1") + F.col("v")))
    doc_lp = (
        big.join(c12, ["w1", "w2"])
        .join(c1, "w1")
        .crossJoin(F.broadcast(v))
        .groupBy("doc_id")
        .agg(
            r6(F.avg(lp)).alias("avg_logprob"),
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
        )
    )
    w = Window.orderBy(F.col("avg_logprob").asc(), "doc_id")
    return (
        doc_lp.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= BIGRAM_TOPK)
        .drop("rn")
    )


# ---------------------------------------------------------------------------
# qx151 — Gini concentration of customer revenue (scalable global rank)
# ---------------------------------------------------------------------------

GINI_ORACLE = """
WITH rev AS (
  SELECT c.c_custkey,
         coalesce(sum(CAST(round(o.o_totalprice * 100) AS DECIMAL(38,0))), 0)
           AS cents
  FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
  GROUP BY c.c_custkey
),
ranked AS (
  SELECT cents,
         CAST(row_number() OVER (ORDER BY cents, c_custkey) AS DECIMAL(38,0)) AS i
  FROM rev
),
s AS (
  SELECT CAST(count(*) AS DECIMAL(38,0)) AS n,
         sum(cents) AS tot,
         sum(i * cents) AS iw
  FROM ranked
)
SELECT CAST(n AS BIGINT) AS n_customers,
       round(CAST(2 * iw - (n + 1) * tot AS DOUBLE)
             / CAST(n * tot AS DOUBLE), 6) AS gini
FROM s
"""


@register(
    "qx151_gini_concentration",
    oracle=GINI_ORACLE,
    doc="Gini coefficient of customer revenue (zero-revenue customers included)",
    tags=("stats", "rank", "scale-machinery"),
)
def qx151_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration as a Gini coefficient — the one-number
    answer to "how skewed is our customer base" (and, on a corpus, to
    "how concentrated are our training tokens per source"). Uses the
    rank formula G = (2·Σi·x₍ᵢ₎ − (n+1)·Σx) / (n·Σx) over ascending
    revenue: every term is EXACT integer-cents DECIMAL arithmetic
    (qx110's discipline) until the single final double division, so
    the oracle matches bit-for-bit; blocks of equal x are
    permutation-invariant in Σi·x, so the custkey tie-break is for
    determinism of the plan, not the value.

    The global ascending rank is the repo's bucket-exchange machinery
    (plans/ranks.with_global_rank — no single-task sort), which is the
    point at 100 TB: ranking 1.5B customers is exactly the operation a
    naive Window.orderBy turns into one task. Zero-revenue customers
    enter via the dimension left join (broadcast by size)."""
    from bqfetch_spark.plans.ranks import with_global_rank
    from bqfetch_spark.session import shuffle_partitions

    cat = load_catalog(spark, sf_dir)
    cents = F.coalesce(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("decimal(38,0)")),
        F.lit(0).cast("decimal(38,0)"),
    )
    rev = (
        cat.table("customer")
        .join(
            cat.table("orders"),
            F.col("o_custkey") == F.col("c_custkey"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(cents.alias("cents"))
    )
    ranked = with_global_rank(
        rev, ["cents", "c_custkey"], shuffle_partitions(spark), rank_col="i"
    )
    s = ranked.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("cents").alias("tot"),
        F.sum(F.col("i").cast("decimal(38,0)") * F.col("cents")).alias("iw"),
    )
    return s.select(
        F.col("n").cast("bigint").alias("n_customers"),
        F.round(
            (2 * F.col("iw") - (F.col("n") + 1) * F.col("tot")).cast("double")
            / (F.col("n") * F.col("tot")).cast("double"),
            6,
        ).alias("gini"),
    )


# ---------------------------------------------------------------------------
# qx152 — one-pass correlation matrix over lineitem measures
# ---------------------------------------------------------------------------

# integer-scaled measures (exact DECIMAL sums; scale factors cancel in
# the correlation, so no descaling is needed)
_CORR_MEASURES = {
    "qty": "CAST(l_quantity AS DECIMAL(38,0))",
    "price": "CAST(round(l_extendedprice * 100) AS DECIMAL(38,0))",
    "discount": "CAST(round(l_discount * 100) AS DECIMAL(38,0))",
    "tax": "CAST(round(l_tax * 100) AS DECIMAL(38,0))",
}


def _corr_matrix_oracle() -> str:
    keys = list(_CORR_MEASURES)
    cols = ",\n    ".join(
        f"{expr} AS {k}" for k, expr in _CORR_MEASURES.items()
    )
    aggs = ["CAST(count(*) AS DECIMAL(38,0)) AS n"]
    for k in keys:
        aggs.append(f"sum({k}) AS s_{k}")
        aggs.append(f"sum({k} * {k}) AS ss_{k}")
    pairs = [(a, b) for i, a in enumerate(keys) for b in keys[i + 1 :]]
    for a, b in pairs:
        aggs.append(f"sum({a} * {b}) AS sp_{a}_{b}")
    selects = []
    for a, b in pairs:
        num = f"CAST(n * sp_{a}_{b} - s_{a} * s_{b} AS DOUBLE)"
        da = f"CAST(n * ss_{a} - s_{a} * s_{a} AS DOUBLE)"
        db = f"CAST(n * ss_{b} - s_{b} * s_{b} AS DOUBLE)"
        selects.append(
            f"SELECT '{a}' AS measure_a, '{b}' AS measure_b,\n"
            f"       round({num} / sqrt({da} * {db}), 6) AS corr FROM s"
        )
    return (
        f"WITH m AS (\n  SELECT\n    {cols}\n  FROM lineitem\n),\n"
        f"s AS (\n  SELECT {', '.join(aggs)} FROM m\n)\n"
        + "\nUNION ALL ".join(selects)
    )


@register(
    "qx152_correlation_matrix",
    oracle=_corr_matrix_oracle(),
    doc="all-pairs Pearson correlation of 4 lineitem measures in one aggregate pass",
    tags=("stats", "agg", "single-pass"),
)
def qx152_correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The k×k correlation matrix every feature-engineering pass wants
    — computed in ONE aggregate scan: n, k sums, k sums of squares and
    k(k−1)/2 cross-products all partial-aggregate map-side (zero extra
    exchanges; the fact table is read once, whatever k is). The
    pairwise Pearson r then assembles from those sufficient statistics
    as a literal expression over one 1-row frame.

    Exactness discipline: measures are integer-scaled DECIMAL(38,0)
    (cents / hundredths — the scale factors cancel inside r), so every
    sufficient statistic is exact integer arithmetic in both engines;
    the only floating-point is the final assemble (correctly-rounded
    IEEE ops on identical integers → bit-identical at round-6). qx110
    computes one pair with this discipline; this generalizes it to the
    matrix without k² scans. Honest bound: n·Σx² must fit
    DECIMAL(38) — comfortable through ~1e10 rows of cent-scaled
    measures; past that, drop the n· cross-multiplication in favor of
    mean-centered double statistics (one extra pass for the means) and
    accept ~ulp assembly drift."""
    li = load_catalog(spark, sf_dir).table("lineitem")
    keys = list(_CORR_MEASURES)
    m = li.selectExpr(*[f"{expr} AS {k}" for k, expr in _CORR_MEASURES.items()])
    aggs = [F.count(F.lit(1)).cast("decimal(38,0)").alias("n")]
    for k in keys:
        aggs.append(F.sum(F.col(k)).alias(f"s_{k}"))
        aggs.append(F.sum(F.col(k) * F.col(k)).alias(f"ss_{k}"))
    pairs = [(a, b) for i, a in enumerate(keys) for b in keys[i + 1 :]]
    for a, b in pairs:
        aggs.append(F.sum(F.col(a) * F.col(b)).alias(f"sp_{a}_{b}"))
    s = m.agg(*aggs)
    stack_args = []
    for a, b in pairs:
        num = (F.col("n") * F.col(f"sp_{a}_{b}") - F.col(f"s_{a}") * F.col(f"s_{b}")).cast("double")
        da = (F.col("n") * F.col(f"ss_{a}") - F.col(f"s_{a}") * F.col(f"s_{a}")).cast("double")
        db = (F.col("n") * F.col(f"ss_{b}") - F.col(f"s_{b}") * F.col(f"s_{b}")).cast("double")
        stack_args.append(
            F.struct(
                F.lit(a).alias("measure_a"),
                F.lit(b).alias("measure_b"),
                F.round(num / F.sqrt(da * db), 6).alias("corr"),
            )
        )
    return s.select(F.explode(F.array(*stack_args)).alias("row")).select("row.*")


# ---------------------------------------------------------------------------
# qx153 — ROC-AUC of a score against a binary label (exact rank-sum)
# ---------------------------------------------------------------------------

AUC_HEAVY_BUYS = 14  # label: a "heavy purchaser" (>= this many purchases);
# every fixture user purchases at least once, so the raw any-purchase
# label is degenerate — the >= 14 cut splits every SF ~50/50

AUC_ORACLE = """
WITH u AS (
  SELECT user_id,
         sum(CAST(round(value * 100) AS BIGINT)) AS score,
         CASE WHEN sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) >= 14
              THEN 1 ELSE 0 END AS pos
  FROM events GROUP BY user_id
),
per_score AS (
  SELECT score, CAST(count(*) AS BIGINT) AS n_s, CAST(sum(pos) AS BIGINT) AS p_s
  FROM u GROUP BY score
),
c AS (
  SELECT *, CAST(sum(n_s) OVER (ORDER BY score ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_n
  FROM per_score
),
tot AS (
  SELECT CAST(sum(p_s) AS BIGINT) AS n_pos, CAST(sum(n_s - p_s) AS BIGINT) AS n_neg
  FROM per_score
),
s AS (
  SELECT CAST(sum(p_s * (2 * (cum_n - n_s) + n_s + 1)) AS BIGINT) AS rank2 FROM c
)
SELECT tot.n_pos, tot.n_neg,
       round(CAST(s.rank2 - tot.n_pos * (tot.n_pos + 1) AS DOUBLE)
             / CAST(2 * tot.n_pos * tot.n_neg AS DOUBLE), 6) AS auc
FROM s, tot
"""


@register(
    "qx153_score_auc",
    oracle=AUC_ORACLE,
    doc="exact ROC-AUC (midrank Mann-Whitney): does activity value predict heavy purchasing",
    tags=("stats", "eval", "rank", "scale-machinery"),
)
def qx153_score_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC-AUC — the metric every data-quality / conversion classifier
    is judged by — computed EXACTLY via the midrank Mann-Whitney
    identity, not trapezoid approximation: AUC = (Σ₂R⁺ − n⁺(n⁺+1)) /
    (2·n⁺·n⁻) where Σ₂R⁺ = Σ_s p_s·(2·cnt_lt + n_s + 1) over DISTINCT
    scores s (ties get midranks automatically). Here: does a user's
    total activity value predict heavy purchasing (≥ AUC_HEAVY_BUYS
    purchases — the raw any-purchase label is degenerate on the
    fixture, where every user converts)?

    Every quantity is integer until the single final division, so the
    oracle matches exactly. The only ordered pass runs on the DISTINCT
    score frame through plans/ranks.with_global_cumsums — the
    bucket-exchange cumsum (no single-task sort), the same machinery as
    the KS test — so a 1e9-distinct-score corpus ranks in parallel.
    The rank2 accumulator is Σ p·2·rank ≲ 2·n² — fits BIGINT through
    ~2e9 users; past that, lift rank2 to DECIMAL(38,0)."""
    from bqfetch_spark.plans.ranks import with_global_cumsums
    from bqfetch_spark.session import shuffle_partitions

    ev = load_catalog(spark, sf_dir).table("events")
    u = ev.groupBy("user_id").agg(
        F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("score"),
        (
            F.sum((F.col("event_type") == "purchase").cast("int")) >= AUC_HEAVY_BUYS
        ).cast("int").alias("pos"),
    )
    per_score = u.groupBy("score").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_s"),
        F.sum("pos").cast("bigint").alias("p_s"),
    )
    c = with_global_cumsums(
        per_score, ["score"], {"n_s": "cum_n"}, shuffle_partitions(spark)
    )
    rank2 = F.sum(
        F.col("p_s") * (2 * (F.col("cum_n") - F.col("n_s")) + F.col("n_s") + 1)
    ).cast("bigint")
    agg = c.agg(
        rank2.alias("rank2"),
        F.sum("p_s").cast("bigint").alias("n_pos"),
        F.sum(F.col("n_s") - F.col("p_s")).cast("bigint").alias("n_neg"),
    )
    return agg.select(
        "n_pos",
        "n_neg",
        F.round(
            (F.col("rank2") - F.col("n_pos") * (F.col("n_pos") + 1)).cast("double")
            / (2 * F.col("n_pos") * F.col("n_neg")).cast("double"),
            6,
        ).alias("auc"),
    )


# ---------------------------------------------------------------------------
# qx154 — mutual information between two categoricals
# ---------------------------------------------------------------------------

MI_ORACLE = """
WITH cells AS (
  SELECT event_type AS x, CAST(extract(hour FROM ts) AS BIGINT) AS y,
         CAST(count(*) AS BIGINT) AS c_xy
  FROM events GROUP BY 1, 2
),
mx AS (SELECT x, CAST(sum(c_xy) AS BIGINT) AS c_x FROM cells GROUP BY x),
my AS (SELECT y, CAST(sum(c_xy) AS BIGINT) AS c_y FROM cells GROUP BY y),
n AS (SELECT CAST(sum(c_xy) AS BIGINT) AS n FROM cells)
SELECT CAST(count(*) AS BIGINT) AS n_cells,
       round(sum(
         (CAST(c_xy AS DOUBLE) / n.n)
         * ln(CAST(c_xy AS DOUBLE) * n.n / (CAST(c_x AS DOUBLE) * c_y))
       ), 6) AS mi_nats
FROM cells JOIN mx USING (x) JOIN my USING (y) CROSS JOIN n
"""


@register(
    "qx154_mutual_information",
    oracle=MI_ORACLE,
    doc="mutual information between event type and hour-of-day (dependence screen)",
    tags=("stats", "agg", "feature-selection"),
)
def qx154_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information I(X;Y) = Σ p(x,y)·ln(p(x,y)/(p(x)p(y))) —
    the model-free dependence screen feature selection runs before
    training (here: how much does the hour of day tell you about what
    users do?). Complements qx114's χ² (significance) with the
    information-theoretic effect size, and q118's single-variable
    entropy with the bivariate form.

    One fact pass reduces to the |X|×|Y| joint-count frame; margins
    are re-aggregations of that tiny frame (broadcast back), so the
    facts are scanned ONCE and nothing larger than the contingency
    table is ever exchanged — the same reduce-then-assemble posture as
    qx125/qx152. Counts are exact BIGINTs; the ≤|X|·|Y| double ln
    terms assemble identically in both engines at 6dp."""
    ev = load_catalog(spark, sf_dir).table("events")
    cells = ev.groupBy(
        F.col("event_type").alias("x"), F.hour("ts").cast("bigint").alias("y")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c_xy"))
    mx = cells.groupBy("x").agg(F.sum("c_xy").cast("bigint").alias("c_x"))
    my = cells.groupBy("y").agg(F.sum("c_xy").cast("bigint").alias("c_y"))
    n = cells.agg(F.sum("c_xy").cast("bigint").alias("n"))
    term = (F.col("c_xy").cast("double") / F.col("n")) * F.log(
        F.col("c_xy").cast("double") * F.col("n")
        / (F.col("c_x").cast("double") * F.col("c_y"))
    )
    return (
        cells.join(F.broadcast(mx), "x")
        .join(F.broadcast(my), "y")
        .crossJoin(F.broadcast(n))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_cells"),
            F.round(F.sum(term), 6).alias("mi_nats"),
        )
    )


# ---------------------------------------------------------------------------
# qx181 — calibration curve (reliability diagram buckets)
# ---------------------------------------------------------------------------

CALIB_BUCKETS = 10

CALIB_ORACLE = f"""
WITH u AS (
  SELECT user_id,
         sum(CAST(round(value * 100) AS BIGINT)) AS score,
         CASE WHEN sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              >= {{heavy}} THEN 1 ELSE 0 END AS pos
  FROM events GROUP BY user_id
),
span AS (SELECT min(score) AS lo, max(score) AS hi FROM u),
b AS (
  SELECT least({CALIB_BUCKETS} - 1,
               CAST((u.score - s.lo) * {CALIB_BUCKETS} // (s.hi - s.lo + 1) AS BIGINT))
           AS bucket,
         u.score - s.lo AS rel, s.hi - s.lo AS span_w, u.pos
  FROM u, span s
)
SELECT CAST(bucket AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS n,
       round(CAST(sum(rel) AS DOUBLE) / (count(*) * CAST(any_value(span_w) AS DOUBLE)), 6)
         AS avg_pred,
       round(CAST(sum(pos) AS DOUBLE) / count(*), 6) AS obs_rate
FROM b
GROUP BY bucket
""".format(heavy=14)


@register(
    "qx181_calibration_curve",
    oracle=CALIB_ORACLE,
    doc="Reliability-diagram buckets: normalized score vs observed positive rate",
    tags=("stats", "eval"),
)
def qx181_calibration_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Score calibration — the reliability diagram behind every model
    eval deck: users bucketed into 10 equal-width bands of the integer
    activity score (qx153's derivation), each bucket reporting its
    mean NORMALIZED score (the 'predicted probability' proxy) against
    the OBSERVED heavy-purchaser rate; the gap between the two columns
    is the per-bucket calibration error (ECE = n-weighted mean |gap|,
    one trivial re-agg of this frame). Bucketing is pure integer
    arithmetic on (score − min) — exact in both engines; only the two
    output ratios go through double division, identically. One events
    scan; the span scalar is a 1-row broadcast."""
    ev = load_catalog(spark, sf_dir).table("events")
    u = ev.groupBy("user_id").agg(
        F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("score"),
        (
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)) >= 14
        ).cast("int").alias("pos"),
    )
    span = u.agg(F.min("score").alias("lo"), F.max("score").alias("hi"))
    b = u.crossJoin(F.broadcast(span)).select(
        F.least(
            F.lit(CALIB_BUCKETS - 1),
            F.expr(f"(score - lo) * {CALIB_BUCKETS} div (hi - lo + 1)").cast("bigint"),
        ).alias("bucket"),
        (F.col("score") - F.col("lo")).alias("rel"),
        (F.col("hi") - F.col("lo")).alias("span_w"),
        "pos",
    )
    return b.groupBy(F.col("bucket").cast("bigint").alias("bucket")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        r6(
            F.sum("rel").cast("double")
            / (F.count(F.lit(1)) * F.first("span_w").cast("double"))
        ).alias("avg_pred"),
        r6(F.sum("pos").cast("double") / F.count(F.lit(1))).alias("obs_rate"),
    )


# ---------------------------------------------------------------------------
# qx182 — precision / recall / F1 at a deterministic threshold
# ---------------------------------------------------------------------------

PRF_ORACLE = """
WITH u AS (
  SELECT user_id,
         sum(CAST(round(value * 100) AS BIGINT)) AS score,
         CASE WHEN sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) >= 14
              THEN 1 ELSE 0 END AS pos
  FROM events GROUP BY user_id
),
tot AS (SELECT CAST(sum(score) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS n FROM u),
cls AS (
  -- predicted positive iff score > mean score; integer cross-multiply
  -- (score * n > total) keeps the cut EXACT, no float mean
  SELECT u.pos, CASE WHEN u.score * t.n > t.s THEN 1 ELSE 0 END AS pred
  FROM u, tot t
),
m AS (
  SELECT CAST(sum(pred * pos) AS BIGINT) AS tp,
         CAST(sum(pred * (1 - pos)) AS BIGINT) AS fp,
         CAST(sum((1 - pred) * pos) AS BIGINT) AS fn,
         CAST(sum((1 - pred) * (1 - pos)) AS BIGINT) AS tn
  FROM cls
)
SELECT tp, fp, fn, tn,
       round(CAST(tp AS DOUBLE) / (tp + fp), 6) AS precision,
       round(CAST(tp AS DOUBLE) / (tp + fn), 6) AS recall,
       round(2.0 * tp / (2.0 * tp + fp + fn), 6) AS f1,
       round(CAST(tp + tn AS DOUBLE) / (tp + fp + fn + tn), 6) AS accuracy
FROM m
"""


@register(
    "qx182_classification_metrics",
    oracle=PRF_ORACLE,
    doc="Precision/recall/F1/accuracy at an exact integer-arithmetic threshold",
    tags=("stats", "eval"),
)
def qx182_classification_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The threshold-metrics companion to qx153's AUC: confusion-matrix
    counts and precision/recall/F1/accuracy for the
    score-above-mean classifier. The threshold comparison is an
    integer CROSS-MULTIPLY (score·n > Σscore) — the mean is never
    materialized as a float, so the cut is exact in both engines; the
    four counts are exact ints and only the final ratios divide. One
    events scan + a 1-row broadcast total."""
    ev = load_catalog(spark, sf_dir).table("events")
    u = ev.groupBy("user_id").agg(
        F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("score"),
        (
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)) >= 14
        ).cast("int").alias("pos"),
    )
    tot = u.agg(
        F.sum("score").cast("bigint").alias("s"), F.count(F.lit(1)).cast("bigint").alias("n")
    )
    cls = u.crossJoin(F.broadcast(tot)).select(
        "pos",
        (F.col("score") * F.col("n") > F.col("s")).cast("int").alias("pred"),
    )
    m = cls.agg(
        F.sum(F.col("pred") * F.col("pos")).cast("bigint").alias("tp"),
        F.sum(F.col("pred") * (1 - F.col("pos"))).cast("bigint").alias("fp"),
        F.sum((1 - F.col("pred")) * F.col("pos")).cast("bigint").alias("fn"),
        F.sum((1 - F.col("pred")) * (1 - F.col("pos"))).cast("bigint").alias("tn"),
    )
    return m.select(
        "tp",
        "fp",
        "fn",
        "tn",
        r6(F.col("tp").cast("double") / (F.col("tp") + F.col("fp"))).alias("precision"),
        r6(F.col("tp").cast("double") / (F.col("tp") + F.col("fn"))).alias("recall"),
        r6(2.0 * F.col("tp") / (2.0 * F.col("tp") + F.col("fp") + F.col("fn"))).alias("f1"),
        r6(
            (F.col("tp") + F.col("tn")).cast("double")
            / (F.col("tp") + F.col("fp") + F.col("fn") + F.col("tn"))
        ).alias("accuracy"),
    )


# ---------------------------------------------------------------------------
# qx183 — Cohen's kappa between two deterministic raters
# ---------------------------------------------------------------------------

KAPPA_ORACLE = """
WITH u AS (
  SELECT user_id,
         sum(CAST(round(value * 100) AS BIGINT)) AS score,
         CAST(count(*) AS BIGINT) AS n_events
  FROM events GROUP BY user_id
),
tot AS (
  SELECT CAST(sum(score) AS BIGINT) AS s, CAST(sum(n_events) AS BIGINT) AS e,
         CAST(count(*) AS BIGINT) AS n
  FROM u
),
r AS (
  SELECT CASE WHEN u.score * t.n > t.s THEN 1 ELSE 0 END AS a,
         CASE WHEN u.n_events * t.n > t.e THEN 1 ELSE 0 END AS b
  FROM u, tot t
),
c AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(a * b) AS BIGINT) AS yy,
         CAST(sum(a * (1 - b)) AS BIGINT) AS yn,
         CAST(sum((1 - a) * b) AS BIGINT) AS ny,
         CAST(sum((1 - a) * (1 - b)) AS BIGINT) AS nn
  FROM r
)
SELECT n, yy, yn, ny, nn,
       round((CAST(yy + nn AS DOUBLE) / n
              - (CAST((yy + yn) AS DOUBLE) * (yy + ny)
                 + CAST((ny + nn) AS DOUBLE) * (yn + nn)) / (CAST(n AS DOUBLE) * n))
             / (1.0
              - (CAST((yy + yn) AS DOUBLE) * (yy + ny)
                 + CAST((ny + nn) AS DOUBLE) * (yn + nn)) / (CAST(n AS DOUBLE) * n)),
             6) AS kappa
FROM c
"""


@register(
    "qx183_cohen_kappa",
    oracle=KAPPA_ORACLE,
    doc="Cohen's kappa agreement between the value-rater and the volume-rater",
    tags=("stats", "eval"),
)
def qx183_cohen_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-rater agreement (Cohen's κ) — the labeling-QA statistic —
    between two deterministic binary raters over users: 'high total
    value' vs 'high event volume' (each an exact integer cross-multiply
    against its own mean, as in qx182). The 2×2 contingency counts are
    exact ints from one pass over the per-user frame; κ's observed and
    chance agreement divide only at the end, in the identical IEEE
    expression both engines. Scale: one events scan, per-user agg,
    1-row broadcast totals, 1-row output."""
    ev = load_catalog(spark, sf_dir).table("events")
    u = ev.groupBy("user_id").agg(
        F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("score"),
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
    )
    tot = u.agg(
        F.sum("score").cast("bigint").alias("s"),
        F.sum("n_events").cast("bigint").alias("e"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    r = u.crossJoin(F.broadcast(tot)).select(
        (F.col("score") * F.col("n") > F.col("s")).cast("int").alias("a"),
        (F.col("n_events") * F.col("n") > F.col("e")).cast("int").alias("b"),
    )
    c = r.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("a") * F.col("b")).cast("bigint").alias("yy"),
        F.sum(F.col("a") * (1 - F.col("b"))).cast("bigint").alias("yn"),
        F.sum((1 - F.col("a")) * F.col("b")).cast("bigint").alias("ny"),
        F.sum((1 - F.col("a")) * (1 - F.col("b"))).cast("bigint").alias("nn"),
    )
    pe = (
        (F.col("yy") + F.col("yn")).cast("double") * (F.col("yy") + F.col("ny"))
        + (F.col("ny") + F.col("nn")).cast("double") * (F.col("yn") + F.col("nn"))
    ) / (F.col("n").cast("double") * F.col("n"))
    po = (F.col("yy") + F.col("nn")).cast("double") / F.col("n")
    return c.select(
        "n",
        "yy",
        "yn",
        "ny",
        "nn",
        r6((po - pe) / (F.lit(1.0) - pe)).alias("kappa"),
    )


# ---------------------------------------------------------------------------
# qx196 — Holt double-exponential smoothing (level + trend recursion)
# ---------------------------------------------------------------------------

# Gains and their complements are ALL module-level literals (the
# complement is never computed as 1-α at runtime — the bit-identical
# IEEE requirement) and BOTH the kernel and the oracle reference the
# same four names, so changing a gain moves both engines together.
HOLT_ALPHA = 0.3  # level gain
HOLT_ALPHA_C = 0.7  # literal complement of HOLT_ALPHA
HOLT_BETA = 0.1  # trend gain
HOLT_BETA_C = 0.9  # literal complement of HOLT_BETA


def _sql_round6(x: float) -> float:
    """SQL-compatible 6dp rounding for Python kernels: HALF-UP on the
    double's shortest decimal repr — the semantics of BOTH Spark's
    F.round (BigDecimal.valueOf → setScale HALF_UP over
    Double.toString) and DuckDB's round. Python's builtin round() is
    banker's, which disagrees on exact decimal halves — and recursions
    over decimal-grid inputs (cents × one-decimal gains) DO land on
    halves: observed 4/10000 flips at sf0.01 (e.g. 83.0665265 →
    banker's 83.066526 vs SQL 83.066527)."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(repr(x)).quantize(Decimal("0.000001"), ROUND_HALF_UP))

HOLT_ORACLE = f"""
WITH RECURSIVE seq AS (
  SELECT user_id, event_id, CAST(value AS DOUBLE) AS x,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS k
  FROM events
),
hw(user_id, k, event_id, level, trend) AS (
  SELECT user_id, k, event_id, x, CAST(0.0 AS DOUBLE) FROM seq WHERE k = 1
  UNION ALL
  SELECT h.user_id, o.k, o.event_id,
         {HOLT_ALPHA!r} * o.x + {HOLT_ALPHA_C!r} * (h.level + h.trend),
         {HOLT_BETA!r} * (({HOLT_ALPHA!r} * o.x + {HOLT_ALPHA_C!r} * (h.level + h.trend)) - h.level)
           + {HOLT_BETA_C!r} * h.trend
  FROM hw h
  JOIN seq o ON o.user_id = h.user_id AND o.k = h.k + 1
)
SELECT user_id, event_id,
       round(level, 6) AS level,
       round(trend, 6) AS trend
FROM hw
"""


@register(
    "qx196_holt_smoothing",
    oracle=HOLT_ORACLE,
    doc="per-user Holt double-exponential smoothing of value (level + trend)",
    tags=("events", "sequence", "pandas-udf"),
)
def qx196_holt_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double-exponential smoothing per user — the trend-aware
    big sibling of qx124's EMA: lₜ = α·xₜ + (1−α)(lₜ₋₁+bₜ₋₁),
    bₜ = β(lₜ−lₜ₋₁) + (1−β)bₜ₋₁, seeded l₁=x₁, b₁=0. Two coupled
    recurrences on previous OUTPUTS — inexpressible in declarative
    windows, and unlike the EMA there is no r^k·cumsum algebraic
    unrolling at all, so BOTH sides replay the recursion: Spark as an
    applyInPandas group map (one user_id exchange, C-speed loop per
    Arrow batch), the oracle as a recursive CTE stepping every key one
    observation per iteration. Each step is the IDENTICAL IEEE double
    expression with literal gains (0.3/0.7, 0.1/0.9 — never computed
    as 1−α at runtime), evaluated in the same (ts, event_id) order —
    so the trajectories agree bit-for-bit and the 6dp hash matches.
    O(n) per key at any sequence length; recursion depth = max
    events/key (86 at sf0.01), envelope shared with qx124's
    fixture-bound pin."""
    import pandas as pd

    ev = load_catalog(spark, sf_dir).table("events").select(
        "user_id", "event_id", "ts", F.col("value").cast("double").alias("x")
    )

    # Partition-level mapInPandas over a (user_id)-clustered sort
    # (round 13, the qx124 rewrite): groupBy().applyInPandas paid one
    # pandas DataFrame construction per USER (~1500 × ~67 rows at
    # sf0.1) around a recursion whose real work is microseconds. One
    # exchange + sortWithinPartitions makes users contiguous runs, and
    # ONE Python loop per task replays the coupled recurrences with a
    # reset at each user boundary — the per-step float expressions are
    # UNCHANGED (literal gains, same order), so trajectories stay
    # bit-identical to the recursive-CTE oracle.
    def holt_part(batches):
        pdfs = list(batches)
        if not pdfs:
            return
        pdf = pd.concat(pdfs, ignore_index=True) if len(pdfs) > 1 else pdfs[0]
        us = pdf["user_id"].tolist()
        xs = pdf["x"].tolist()
        levels = [0.0] * len(xs)
        trends = [0.0] * len(xs)
        prev_u = None
        l = b = 0.0
        for i, (u, x) in enumerate(zip(us, xs)):
            if u != prev_u:
                l, b = x, 0.0
                prev_u = u
            else:
                l_new = HOLT_ALPHA * x + HOLT_ALPHA_C * (l + b)
                b = HOLT_BETA * (l_new - l) + HOLT_BETA_C * b
                l = l_new
            levels[i] = l
            trends[i] = b
        yield pd.DataFrame(
            {
                "user_id": pdf["user_id"],
                "event_id": pdf["event_id"],
                "level": levels,
                "trend": trends,
            }
        )

    # 6dp rounding JVM-side (round 13, same as qx124): the recursion
    # itself must replay per row, but the per-element Python Decimal
    # rounding that used to dominate the loop is F.round's job — the
    # identical HALF_UP-on-shortest-repr semantics, vectorized in
    # whole-stage codegen after the Arrow edge
    return (
        ev.repartition(shuffle_partitions(spark), "user_id")
        .sortWithinPartitions("user_id", "ts", "event_id")
        .mapInPandas(
            holt_part, "user_id bigint, event_id bigint, level double, trend double"
        )
        .withColumn("level", F.round("level", 6))
        .withColumn("trend", F.round("trend", 6))
    )


# ---------------------------------------------------------------------------
# qx205 — multi-feature OLS per group (normal equations, exact moments)
# ---------------------------------------------------------------------------

# Cramer cofactor spelling shared VERBATIM (variable-for-variable) by
# the SQL oracle and the Python combine — identical IEEE expressions
# over identical exact-moment doubles ⇒ bit-identical coefficients.
_OLS2_DET = "(m00*(m11*m22 - m12*m12) - m01*(m01*m22 - m12*m02) + m02*(m01*m12 - m11*m02))"
_OLS2_B0 = "(sy*(m11*m22 - m12*m12) - m01*(s1y*m22 - m12*s2y) + m02*(s1y*m12 - m11*s2y))"
_OLS2_B1 = "(m00*(s1y*m22 - s2y*m12) - sy*(m01*m22 - m12*m02) + m02*(m01*s2y - s1y*m02))"
_OLS2_B2 = "(m00*(m11*s2y - m12*s1y) - m01*(m01*s2y - s1y*m02) + sy*(m01*m12 - m11*m02))"

OLS2_ORACLE = f"""
WITH feat AS (
  SELECT event_type,
         extract(hour FROM ts) AS x1,
         date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS x2,
         CAST(value AS DECIMAL(18,6)) AS y
  FROM events
),
mom AS (
  SELECT event_type,
         CAST(count(*) AS DOUBLE) AS m00,
         CAST(sum(x1) AS DOUBLE) AS m01,
         CAST(sum(x2) AS DOUBLE) AS m02,
         CAST(sum(x1 * x1) AS DOUBLE) AS m11,
         CAST(sum(x1 * x2) AS DOUBLE) AS m12,
         CAST(sum(x2 * x2) AS DOUBLE) AS m22,
         CAST(sum(y) AS DOUBLE) AS sy,
         CAST(sum(x1 * y) AS DOUBLE) AS s1y,
         CAST(sum(x2 * y) AS DOUBLE) AS s2y
  FROM feat GROUP BY event_type
)
SELECT event_type,
       CASE WHEN {_OLS2_DET} = 0 THEN NULL
            ELSE round({_OLS2_B0} / {_OLS2_DET}, 6) END AS intercept,
       CASE WHEN {_OLS2_DET} = 0 THEN NULL
            ELSE round({_OLS2_B1} / {_OLS2_DET}, 6) END AS beta_hour,
       CASE WHEN {_OLS2_DET} = 0 THEN NULL
            ELSE round({_OLS2_B2} / {_OLS2_DET}, 6) END AS beta_day
FROM mom
"""


@register(
    "qx205_ols_multifeature",
    oracle=OLS2_ORACLE,
    doc="per-type 2-feature OLS (hour, day index) via exact normal-equation moments",
    tags=("statistics", "regression"),
)
def qx205_ols_multifeature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-feature OLS per event type — qx129's trend fit grown to
    two regressors (hour-of-day, day index since 2024-01-01) plus
    intercept: value ≈ β₀ + β₁·hour + β₂·day, the seasonality-vs-drift
    decomposition a metrics pipeline fits per segment. The 100 TB
    shape is the qx152/qx192 sufficient-statistics pattern: ONE
    partial-aggregated scan reduces the facts to 9 exact moments per
    group (integer features × DECIMAL(18,6) values — order-exact
    sums), the 3×3 normal equations solve DRIVER-side on the
    |types|-row frame (Cramer cofactors; distributing a 3×3 solve
    would be theater), and the cofactor expression is shared verbatim
    with the oracle so the doubles agree bit-for-bit. Day index via
    explicit date arithmetic, not dayofweek (Spark counts 1=Sunday,
    DuckDB 0=Sunday — a cross-engine trap). Singular groups (det=0)
    yield NULL coefficients in both engines."""
    ev = load_catalog(spark, sf_dir).table("events")
    feat = ev.select(
        "event_type",
        F.hour("ts").alias("x1"),
        F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")).alias("x2"),
        F.col("value").cast("decimal(18,6)").alias("y"),
    )
    mom = feat.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("m00"),
        F.sum("x1").alias("m01"),
        F.sum("x2").alias("m02"),
        F.sum(F.col("x1") * F.col("x1")).alias("m11"),
        F.sum(F.col("x1") * F.col("x2")).alias("m12"),
        F.sum(F.col("x2") * F.col("x2")).alias("m22"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x1").cast("decimal(18,6)") * F.col("y")).alias("s1y"),
        F.sum(F.col("x2").cast("decimal(18,6)") * F.col("y")).alias("s2y"),
    )
    out = []
    for r in mom.collect():
        m00, m01, m02 = float(r.m00), float(r.m01), float(r.m02)
        m11, m12, m22 = float(r.m11), float(r.m12), float(r.m22)
        sy, s1y, s2y = float(r.sy), float(r.s1y), float(r.s2y)
        det = m00*(m11*m22 - m12*m12) - m01*(m01*m22 - m12*m02) + m02*(m01*m12 - m11*m02)
        if det == 0:
            out.append((r.event_type, None, None, None))
            continue
        b0 = sy*(m11*m22 - m12*m12) - m01*(s1y*m22 - m12*s2y) + m02*(s1y*m12 - m11*s2y)
        b1 = m00*(s1y*m22 - s2y*m12) - sy*(m01*m22 - m12*m02) + m02*(m01*s2y - s1y*m02)
        b2 = m00*(m11*s2y - m12*s1y) - m01*(m01*s2y - s1y*m02) + sy*(m01*m12 - m11*m02)
        out.append(
            (
                r.event_type,
                _sql_round6(b0 / det),
                _sql_round6(b1 / det),
                _sql_round6(b2 / det),
            )
        )
    return spark.createDataFrame(
        out, "event_type string, intercept double, beta_hour double, beta_day double"
    )


# ---------------------------------------------------------------------------
# qx209 — Zipf slope of the token frequency distribution
# ---------------------------------------------------------------------------

ZIPF_MIN_FREQ = 2  # hapax cutoff: rank-frequency fit over tokens seen >= 2×

ZIPF_ORACLE = f"""
WITH freq AS (
  SELECT token, count(*) AS f
  FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
  GROUP BY token
  HAVING count(*) >= {ZIPF_MIN_FREQ}
),
ranked AS (
  SELECT ln(CAST(row_number() OVER (ORDER BY f DESC, token) AS DOUBLE)) AS lx,
         ln(CAST(f AS DOUBLE)) AS ly
  FROM freq
),
mom AS (
  SELECT CAST(count(*) AS DOUBLE) AS n,
         CAST(sum(CAST(lx AS DECIMAL(28,18))) AS DOUBLE) AS sx,
         CAST(sum(CAST(ly AS DECIMAL(28,18))) AS DOUBLE) AS sy,
         CAST(sum(CAST(lx * lx AS DECIMAL(28,18))) AS DOUBLE) AS sxx,
         CAST(sum(CAST(lx * ly AS DECIMAL(28,18))) AS DOUBLE) AS sxy
  FROM ranked
)
SELECT CAST(n AS BIGINT) AS n_tokens_fit,
       round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS zipf_slope,
       round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n, 6)
         AS zipf_intercept
FROM mom
"""


@register(
    "qx209_zipf_slope",
    oracle=ZIPF_ORACLE,
    doc="log-log OLS slope of the token rank-frequency curve (Zipf diagnostic)",
    tags=("text", "statistics", "corpus-health"),
)
def qx209_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf diagnostic — natural corpora follow freq ∝ rank^s with
    s ≈ −1; a corpus whose fitted slope drifts far from that is
    telling you something upstream broke (template spam flattens the
    head, aggressive dedup starves the tail, OCR noise fattens the
    hapax mass — hence the ≥2 cutoff). One token exchange produces
    exact frequencies; the frequency RANK is the bucket-exchange global
    rank (no single-task vocabulary sort — the vocabulary of 100 TB
    of text is itself big data); the log-log OLS reduces to 5 moments
    via one more partial-aggregated pass and the closed form evaluates
    on the 1-row frame.

    Float parity note: Σln(rank) sums DOUBLES, whose partial-agg order
    Spark does not fix — unlike the engine's usual exact-DECIMAL sums,
    ln() values have no exact representation to sum. The moments are
    instead summed as DECIMAL(28,18)-cast ln values: the CAST of the
    identical IEEE ln double is identical in both engines, and decimal
    sums are order-exact, so the slope is bit-stable. (The oracle
    spells the same casts.)"""
    from bqfetch_spark.plans.ranks import with_global_rank
    from bqfetch_spark.session import shuffle_partitions

    docs = load_catalog(spark, sf_dir).table("documents")
    freq = (
        docs.select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("f"))
        .filter(F.col("f") >= ZIPF_MIN_FREQ)
    )
    # rank by frequency desc: spell as ascending keys for the range
    # exchange (negative f), token tie-break
    ranked = with_global_rank(
        freq.withColumn("negf", -F.col("f")),
        ["negf", "token"],
        shuffle_partitions(spark),
        rank_col="__rank",
    ).select(
        F.log(F.col("__rank").cast("double")).alias("lx"),
        F.log(F.col("f").cast("double")).alias("ly"),
    )
    mom = ranked.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(F.col("lx").cast("decimal(28,18)")).alias("sx"),
        F.sum(F.col("ly").cast("decimal(28,18)")).alias("sy"),
        F.sum((F.col("lx") * F.col("lx")).cast("decimal(28,18)")).alias("sxx"),
        F.sum((F.col("lx") * F.col("ly")).cast("decimal(28,18)")).alias("sxy"),
    ).first()
    n = float(mom.n)
    sx, sy, sxx, sxy = (float(mom.sx), float(mom.sy), float(mom.sxx), float(mom.sxy))
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    intercept = (sy - slope * sx) / n
    return spark.createDataFrame(
        [(int(n), _sql_round6(slope), _sql_round6(intercept))],
        "n_tokens_fit bigint, zipf_slope double, zipf_intercept double",
    )


# ---------------------------------------------------------------------------
# qx214 — interpolated Kneser-Ney bigram LM (continuation-count smoothing)
# ---------------------------------------------------------------------------

KN_TOPK = 15
KN_DISCOUNT = 0.75

KN_BIGRAM_ORACLE = f"""
WITH tok AS (
  SELECT doc_id,
         unnest(string_split(text, ' ')) AS token,
         generate_subscripts(string_split(text, ' '), 1) AS pos
  FROM documents
),
big AS (
  SELECT a.doc_id, a.token AS w1, b.token AS w2
  FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
),
c12 AS (SELECT w1, w2, CAST(count(*) AS DOUBLE) AS c12 FROM big GROUP BY w1, w2),
w1s AS (
  SELECT w1, CAST(sum(c12) AS DOUBLE) AS c1,
         CAST(count(*) AS DOUBLE) AS n1f
  FROM c12 GROUP BY w1
),
w2s AS (SELECT w2, CAST(count(*) AS DOUBLE) AS n1b FROM c12 GROUP BY w2),
btot AS (SELECT CAST(count(*) AS DOUBLE) AS b FROM c12),
doc_lp AS (
  SELECT big.doc_id,
         avg(ln(
           greatest(c12.c12 - {KN_DISCOUNT}, 0.0) / w1s.c1
           + ({KN_DISCOUNT} * w1s.n1f / w1s.c1) * (w2s.n1b / btot.b)
         )) AS lp,
         count(*) AS n_bigrams
  FROM big
  JOIN c12 ON c12.w1 = big.w1 AND c12.w2 = big.w2
  JOIN w1s ON w1s.w1 = big.w1
  JOIN w2s ON w2s.w2 = big.w2
  CROSS JOIN btot
  GROUP BY big.doc_id
)
SELECT doc_id, round(lp, 6) AS kn_logprob, CAST(n_bigrams AS BIGINT) AS n_bigrams
FROM (
  SELECT *, row_number() OVER (ORDER BY round(lp, 6), doc_id) AS rn
  FROM doc_lp
)
WHERE rn <= {KN_TOPK}
"""


@register(
    "qx214_kneser_ney_bigram",
    oracle=KN_BIGRAM_ORACLE,
    doc="bottom-15 documents by interpolated Kneser-Ney bigram log-probability",
    tags=("text", "quality", "lm"),
)
def qx214_kneser_ney_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram scoring — the step past qx149's
    Laplace smoothing: mass discounted from observed bigrams
    (max(c12-D,0)/c1) is redistributed via the CONTINUATION
    distribution p_cont(w2) = N1+(.,w2)/B — how many distinct contexts
    a word follows, not how often it occurs — with back-off weight
    D*N1+(w1,.)/c1 (Kneser & Ney 1995; Chen & Goodman 1999). A word
    like a boilerplate token that is frequent but follows few contexts
    gets a LOW continuation probability, which is exactly what makes
    KN the standard n-gram smoothing. Bottom-k docs = the
    curation-review queue.

    Plan shape: identical exchange family to qx149 — the positioned
    self-join builds the bigram stream once; c12 / (c1, N1+(w1,.)) /
    N1+(.,w2) are three vocabulary-bounded re-aggregations of the SAME
    c12 frame (the two marginals reduce c12, never the corpus); B is a
    one-row broadcast; scoring re-joins the model onto the bigram
    stream (AQE broadcasts the vocab-bounded sides at fixture scale).
    Raw text never shuffles — only (doc_id, w1, w2) triples."""
    docs = load_catalog(spark, sf_dir).table("documents")
    tok = docs.select(
        "doc_id", F.posexplode(F.split("text", " ", -1)).alias("pos", "token")
    )
    t1, t2 = tok.alias("t1"), tok.alias("t2")
    big = t1.join(
        t2,
        (F.col("t1.doc_id") == F.col("t2.doc_id"))
        & (F.col("t2.pos") == F.col("t1.pos") + 1),
    ).select(
        F.col("t1.doc_id").alias("doc_id"),
        F.col("t1.token").alias("w1"),
        F.col("t2.token").alias("w2"),
    )
    c12 = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).cast("double").alias("c12"))
    w1s = c12.groupBy("w1").agg(
        F.sum("c12").alias("c1"), F.count(F.lit(1)).cast("double").alias("n1f")
    )
    w2s = c12.groupBy("w2").agg(F.count(F.lit(1)).cast("double").alias("n1b"))
    btot = c12.agg(F.count(F.lit(1)).cast("double").alias("b"))
    d = F.lit(KN_DISCOUNT)
    p_kn = F.greatest(F.col("c12") - d, F.lit(0.0)) / F.col("c1") + (
        d * F.col("n1f") / F.col("c1")
    ) * (F.col("n1b") / F.col("b"))
    doc_lp = (
        big.join(c12, ["w1", "w2"])
        .join(w1s, "w1")
        .join(w2s, "w2")
        .crossJoin(F.broadcast(btot))
        .groupBy("doc_id")
        .agg(
            r6(F.avg(F.log(p_kn))).alias("kn_logprob"),
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
        )
    )
    w = Window.orderBy(F.col("kn_logprob").asc(), "doc_id")
    return (
        doc_lp.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= KN_TOPK)
        .drop("rn")
    )


# ---------------------------------------------------------------------------
# qx225: bigram conditional entropy per source (text predictability)
# ---------------------------------------------------------------------------

COND_ENTROPY_ORACLE = """
WITH toks AS (SELECT source, string_split(text, ' ') AS t FROM documents),
pairs AS (
  SELECT source,
         unnest(list_transform(generate_series(1, len(t) - 1),
                i -> t[i] || ' ' || t[i+1])) AS pg
  FROM toks WHERE len(t) >= 2
),
pc AS (SELECT source, pg, count(*) AS c FROM pairs GROUP BY source, pg),
mc AS (
  SELECT source, string_split(pg, ' ')[1] AS w1, sum(c) AS c
  FROM pc GROUP BY source, string_split(pg, ' ')[1]
),
hp AS (
  SELECT source, CAST(sum(c) AS BIGINT) AS n_pairs,
         round(log2(CAST(sum(c) AS DOUBLE))
               - sum(CAST(c AS DOUBLE) * log2(CAST(c AS DOUBLE)))
                 / CAST(sum(c) AS DOUBLE), 6) AS h_pair_bits
  FROM pc GROUP BY source
),
hm AS (
  SELECT source,
         round(log2(CAST(sum(c) AS DOUBLE))
               - sum(CAST(c AS DOUBLE) * log2(CAST(c AS DOUBLE)))
                 / CAST(sum(c) AS DOUBLE), 6) AS h_w1_bits
  FROM mc GROUP BY source
)
SELECT hp.source, hp.n_pairs, hp.h_pair_bits, hm.h_w1_bits,
       round(hp.h_pair_bits - hm.h_w1_bits, 6) AS h_cond_bits
FROM hp JOIN hm ON hp.source = hm.source
ORDER BY hp.source
"""


@register(
    "qx225_conditional_entropy",
    oracle=COND_ENTROPY_ORACLE,
    doc="per-source bigram conditional entropy H(w2|w1): text predictability",
    tags=("text", "stats", "quality", "llm-pipeline"),
)
def qx225_conditional_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional entropy H(w₂|w₁) = H(pairs) − H(w₁-marginal) per
    source — the entropy-RATE companion to qx118's unigram entropy:
    a source whose tokens are diverse (high H(w₁)) but whose
    CONTINUATIONS are predictable (low H(w₂|w₁)) is template/loop text
    that unigram diversity cannot flag; natural prose keeps several
    bits of continuation surprise. Both entropies derive from the SAME
    bigram count frame (the w₁ marginal is a re-aggregation, the exact
    chain-rule identity — not an independently-estimated unigram
    distribution), so H_cond ≥ 0 holds by construction.

    Plan shape: adjacent pairs are row-local word bigrams; ONE
    (source, bigram)-keyed exchange builds the count frame; the
    marginal and both entropy folds are source-keyed reductions of
    that vocabulary-bounded frame (qx214's exchange family). Entropy
    terms use the qx118 convention: log2(N) − Σ c·log2 c / N from
    exact integer counts, rounded 6dp."""
    docs = load_catalog(spark, sf_dir).table("documents")
    pc = token_ngrams(docs, 2, keys=("source",)).groupBy("source", "g").agg(
        F.count(F.lit(1)).alias("c")
    )
    mc = pc.groupBy("source", F.split("g", " ")[0].alias("w1")).agg(F.sum("c").alias("c"))

    def entropy(df, out):
        n = F.sum("c").cast("double")
        return df.groupBy("source").agg(
            F.sum("c").cast("bigint").alias(f"__n_{out}"),
            F.round(
                F.log2(n) - F.sum(F.col("c").cast("double") * F.log2("c")) / n, 6
            ).alias(out),
        )

    hp = entropy(pc, "h_pair_bits").withColumnRenamed("__n_h_pair_bits", "n_pairs")
    hm = entropy(mc, "h_w1_bits").drop("__n_h_w1_bits")
    return (
        hp.join(hm, "source")
        .select(
            "source",
            "n_pairs",
            "h_pair_bits",
            "h_w1_bits",
            F.round(F.col("h_pair_bits") - F.col("h_w1_bits"), 6).alias("h_cond_bits"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# qx226: lexical diversity per source (TTR + hapax fraction)
# ---------------------------------------------------------------------------

TTR_ORACLE = """
WITH tok AS (
  SELECT source, unnest(string_split(text, ' ')) AS token FROM documents
),
counts AS (SELECT source, token, count(*) AS c FROM tok GROUP BY source, token)
SELECT source,
       CAST(sum(c) AS BIGINT) AS n_tokens,
       CAST(count(*) AS BIGINT) AS vocab,
       CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
       round(CAST(count(*) AS DOUBLE) / sum(c), 6) AS ttr,
       round(CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 6) AS hapax_frac
FROM counts GROUP BY source ORDER BY source
"""


@register(
    "qx226_lexical_diversity",
    oracle=TTR_ORACLE,
    doc="per-source type-token ratio and hapax-legomenon fraction",
    tags=("text", "stats", "quality"),
)
def qx226_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-token ratio and hapax fraction per source — the two
    cheapest lexical-diversity diagnostics (Heaps-law intercepts
    qx209's Zipf slope doesn't capture): machine-generated or
    deduplicated-to-death text shows a collapsing TTR, OCR noise and
    spam inflate hapax counts. One (source, token)-keyed exchange of
    partial counts, then a source-keyed reduction — the q34/qx118
    shape on the source axis."""
    docs = load_catalog(spark, sf_dir).table("documents")
    tok = docs.select(
        "source", F.explode(F.split(F.col("text"), " ")).alias("token")
    )
    counts = tok.groupBy("source", "token").agg(F.count(F.lit(1)).alias("c"))
    return (
        counts.groupBy("source")
        .agg(
            F.sum("c").cast("bigint").alias("n_tokens"),
            F.count(F.lit(1)).cast("bigint").alias("vocab"),
            F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("hapax"),
        )
        .select(
            "source",
            "n_tokens",
            "vocab",
            "hapax",
            F.round(F.col("vocab").cast("double") / F.col("n_tokens"), 6).alias("ttr"),
            F.round(F.col("hapax").cast("double") / F.col("vocab"), 6).alias(
                "hapax_frac"
            ),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# qx233: retrieval quality metrics (MRR / nDCG@k per query term)
# ---------------------------------------------------------------------------

RM_TOPK = 10
RM_REL_TF = 2  # relevance ground truth: tf(term, doc) >= 2

RETRIEVAL_METRICS_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
),
tf AS (
  SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY doc_id, token
),
dfr AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
n AS (SELECT count(*) AS n_docs FROM documents),
qterms AS (
  SELECT token, df FROM (
    SELECT token, df, row_number() OVER (ORDER BY df DESC, token) AS rn FROM dfr
  ) WHERE rn BETWEEN {BM25_QRANK_LO} AND {BM25_QRANK_HI}
),
scored AS (
  SELECT q.token AS term, tf.doc_id,
         round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / q.df), 6) AS s,
         tf.tf >= {RM_REL_TF} AS rel
  FROM tf JOIN qterms q ON tf.token = q.token CROSS JOIN n
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY term ORDER BY s DESC, doc_id) AS rnk
  FROM scored
),
rtot AS (
  SELECT term, CAST(sum(CASE WHEN rel THEN 1 ELSE 0 END) AS BIGINT) AS n_relevant_total
  FROM scored GROUP BY term
),
top AS (SELECT * FROM ranked WHERE rnk <= {RM_TOPK}),
m AS (
  SELECT term,
         CAST(sum(CASE WHEN rel THEN 1 ELSE 0 END) AS BIGINT) AS n_relevant_top,
         coalesce(round(1.0 / min(CASE WHEN rel THEN rnk END), 6), 0.0) AS mrr,
         sum(CASE WHEN rel THEN 1.0 / log2(rnk + 1.0) ELSE 0 END) AS dcg
  FROM top GROUP BY term
)
SELECT m.term, r.n_relevant_total, m.n_relevant_top, m.mrr,
       round(m.dcg / list_sum(list_transform(
           generate_series(1, CAST(least(r.n_relevant_total, {RM_TOPK}) AS INTEGER)),
           i -> 1.0 / log2(i + 1.0))), 6) AS ndcg
FROM m JOIN rtot r ON m.term = r.term
ORDER BY m.term
"""


@register(
    "qx233_retrieval_metrics",
    oracle=RETRIEVAL_METRICS_ORACLE,
    doc="MRR and nDCG@10 per query term for tf-idf rankings vs a tf-based relevance rule",
    tags=("text", "retrieval", "metrics", "llm-pipeline"),
)
def qx233_retrieval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offline retrieval EVALUATION — the IR metrics (reciprocal rank,
    nDCG@{RM_TOPK}) a RAG/data-curation stack tracks when it swaps
    rankers (qx148's BM25, qx199's hybrid RRF): per query term, rank
    docs by tf·idf (rounded before ranking so cross-engine float noise
    cannot reorder the cut, doc_id tie-break), ground truth =
    tf ≥ {RM_REL_TF} (a rule independent of the score's idf factor, so
    the metric is not trivially 1), nDCG's ideal gain from the TOTAL
    relevant count capped at k — the textbook definition, not the
    within-top-k shortcut that inflates scores.

    Plan shape: the tf/df frames are the qx148 exchanges; rankings are
    windows PARTITIONED BY TERM (parallel across the query set — at a
    1000-term eval suite that is 1000 independent windows); the ideal-
    DCG denominator folds a ≤{RM_TOPK}-element sequence per term. No
    stage touches more than one term's posting list."""
    docs = load_catalog(spark, sf_dir).table("documents")
    tok = docs.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    tf = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    dfr = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    # Corpus size rides as a broadcast 1-ROW aggregate glued onto the
    # tiny query-term frame — not a build-time docs.count() action
    # (the qx263/action-audit laziness contract).
    n_frame = docs.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    from pyspark.sql.window import Window as W

    # TakeOrdered pulls the df head; the rank window then runs on that
    # BM25_QRANK_HI-row frame only (the qx148 convention)
    qterms = (
        dfr.orderBy(F.col("df").desc(), "token")
        .limit(BM25_QRANK_HI)
        .withColumn(
            "rn", F.row_number().over(W.orderBy(F.col("df").desc(), "token"))
        )
        .filter(F.col("rn") >= BM25_QRANK_LO)
        .select(F.col("token").alias("term"), "df")
        .crossJoin(F.broadcast(n_frame))
    )
    scored = (
        tf.join(F.broadcast(qterms), tf.token == qterms.term)
        .select(
            "term",
            "doc_id",
            F.round(
                F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6
            ).alias("s"),
            (F.col("tf") >= RM_REL_TF).alias("rel"),
        )
    )
    w = W.partitionBy("term").orderBy(F.col("s").desc(), "doc_id")
    ranked = scored.withColumn("rnk", F.row_number().over(w))
    rtot = scored.groupBy("term").agg(
        F.sum(F.when(F.col("rel"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_relevant_total")
    )
    top = ranked.filter(F.col("rnk") <= RM_TOPK)
    m = top.groupBy("term").agg(
        F.sum(F.when(F.col("rel"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_relevant_top"),
        F.coalesce(
            F.round(F.lit(1.0) / F.min(F.when(F.col("rel"), F.col("rnk"))), 6),
            F.lit(0.0),
        ).alias("mrr"),
        F.sum(
            F.when(F.col("rel"), F.lit(1.0) / F.log2(F.col("rnk") + 1.0)).otherwise(
                0.0
            )
        ).alias("dcg"),
    )
    idcg = F.aggregate(
        F.sequence(F.lit(1), F.least(F.col("n_relevant_total"), F.lit(RM_TOPK)).cast("int")),
        F.lit(0.0),
        lambda acc, i: acc + F.lit(1.0) / F.log2(i.cast("double") + 1.0),
    )
    return (
        m.join(rtot, "term")
        .select(
            "term",
            "n_relevant_total",
            "n_relevant_top",
            "mrr",
            # zero-relevant terms: F.sequence(1, 0) is DESCENDING [1, 0]
            # (not empty like generate_series), so the fold would add
            # 1/log2(1) = +Inf — gate to NULL, matching the oracle's
            # empty-series list_sum NULL
            F.when(F.col("n_relevant_total") == 0, F.lit(None).cast("double"))
            .otherwise(F.round(F.col("dcg") / idcg, 6))
            .alias("ndcg"),
        )
        .orderBy("term")
    )


# ---------------------------------------------------------------------------
# qx235: Markov sequence-likelihood anomaly scoring (bot detection)
# ---------------------------------------------------------------------------

SEQ_ANOMALY_TOPK = 25  # most-anomalous users emitted

SEQ_ANOMALY_ORACLE = f"""
WITH seq AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
  FROM events
),
tr AS (
  SELECT prev_type, event_type, count(*) AS c
  FROM seq WHERE prev_type IS NOT NULL
  GROUP BY prev_type, event_type
),
probs AS (
  SELECT prev_type, event_type,
         CAST(c AS DOUBLE) / sum(c) OVER (PARTITION BY prev_type) AS p
  FROM tr
),
scored AS (
  SELECT s.user_id,
         count(*) AS n_transitions,
         round(-sum(ln(p.p)) / count(*), 6) AS nll_per_step
  FROM seq s JOIN probs p
    ON s.prev_type = p.prev_type AND s.event_type = p.event_type
  WHERE s.prev_type IS NOT NULL
  GROUP BY s.user_id
)
SELECT user_id, CAST(n_transitions AS BIGINT) AS n_transitions, nll_per_step,
       CAST(rn AS BIGINT) AS rank
FROM (
  SELECT *, row_number() OVER (ORDER BY nll_per_step DESC, user_id) AS rn
  FROM scored
)
WHERE rn <= {SEQ_ANOMALY_TOPK}
"""


@register(
    "qx235_sequence_anomaly",
    oracle=SEQ_ANOMALY_ORACLE,
    doc="per-user Markov negative-log-likelihood per step; top-k anomalous sequences",
    tags=("events", "sequence", "anomaly", "stats"),
)
def qx235_sequence_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-anomaly scoring — qx115's transition matrix turned
    into a DETECTOR: each user's event stream is scored by its average
    negative log-likelihood per step under the corpus-wide first-order
    Markov model; users whose transition patterns the population model
    finds surprising (bots, scripted replays, instrumentation bugs)
    rank first. Length-normalising by the user's transition count
    keeps long sessions from dominating on volume alone.

    Plan shape: ONE user_id exchange for the lag window (per-user
    partitions — qx115's shape); the transition model partial-combines
    to ≤|types|² rows and BROADCASTS back onto the transition stream
    (the model join must never shuffle the facts); the top-k is
    TakeOrderedAndProject. ln(p) terms join from the model's DOUBLE
    probabilities — both engines derive them from identical integer
    counts, and the per-user sums round at 6dp."""
    ev = load_catalog(spark, sf_dir).table("events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
    ).filter(F.col("prev_type").isNotNull())

    tr = seq.groupBy("prev_type", "event_type").agg(F.count(F.lit(1)).alias("c"))
    wprev = Window.partitionBy("prev_type")
    probs = tr.select(
        "prev_type",
        "event_type",
        (F.col("c").cast("double") / F.sum("c").over(wprev)).alias("p"),
    )
    scored = (
        seq.join(F.broadcast(probs), ["prev_type", "event_type"])
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_transitions"),
            F.round(
                -F.sum(F.log("p")) / F.count(F.lit(1)), 6
            ).alias("nll_per_step"),
        )
    )
    wr = Window.orderBy(F.col("nll_per_step").desc(), "user_id")
    return (
        scored.orderBy(F.col("nll_per_step").desc(), "user_id")
        .limit(SEQ_ANOMALY_TOPK)
        .withColumn("rank", F.row_number().over(wr).cast("bigint"))
    )
