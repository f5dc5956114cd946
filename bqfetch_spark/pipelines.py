"""End-to-end LLM training-data pipeline: the composition the engine
exists for — quality-filter → exact-dedup → near-dup-removal → token
accounting — as ONE oracle-checked lazy plan.

Each stage is the same operator family the standalone queries expose
(q43 quality, q40 dedup, q46 n-gram Jaccard); composing them keeps
everything in one Catalyst plan, so column pruning and filter ordering
happen across stage boundaries — there is no materialization between
stages (at scale, insert .checkpoint() after dedup if the near-dup
join re-reads the corpus multiple times).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from bqfetch_spark.catalog import load_catalog
from bqfetch_spark.functions.text import SHINGLE_DF_CAP, drop_stop_shingles, token_ngrams
from bqfetch_spark.operators.llm_pipeline import STOPWORD_PATTERN, dedup_exact
from bqfetch_spark.operators.relational import r6
from bqfetch_spark.registry import register
from bqfetch_spark.session import shuffle_partitions

QUALITY_THRESHOLD = 0.45  # keeps ~60% of the fixture corpus
JACCARD_THRESHOLD = 0.5
MIN_SHARED = 2

PIPELINE_ORACLE = rf"""
WITH scored AS (
  SELECT doc_id, text, lang,
    round(
      0.4 * (CAST(len(regexp_extract_all(text, '{STOPWORD_PATTERN}')) AS DOUBLE)
             / len(string_split(text, ' ')))
      + 0.3 * least(1.0, CAST(len(string_split(text, ' ')) AS BIGINT) / 100.0)
      + 0.3 * (1 - CAST(length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS DOUBLE)
                   / length(text)),
    6) AS quality_score
  FROM documents
),
quality AS (
  SELECT * FROM scored WHERE quality_score >= {QUALITY_THRESHOLD}
),
deduped AS (
  SELECT doc_id, text, lang, quality_score
  FROM (
    SELECT *, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn FROM quality
  ) WHERE rn = 1
),
grams AS (
  SELECT doc_id,
         list_distinct(list_transform(generate_series(1, len(t) - 2),
                                      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS gs
  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM deduped)
  WHERE len(t) >= 3
),
flat AS (
  SELECT doc_id, g FROM (SELECT doc_id, unnest(gs) AS g FROM grams)
  QUALIFY count(*) OVER (PARTITION BY g) <= {SHINGLE_DF_CAP}
),
sizes AS (SELECT doc_id, len(gs) AS n_grams FROM grams),
near_dup_losers AS (
  SELECT DISTINCT greatest(p.adoc, p.bdoc) AS doc_id
  FROM (
    SELECT a.doc_id AS adoc, b.doc_id AS bdoc, count(*) AS n_shared
    FROM flat a JOIN flat b ON a.g = b.g AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    HAVING count(*) >= {MIN_SHARED}
  ) p
  JOIN sizes sa ON sa.doc_id = p.adoc
  JOIN sizes sb ON sb.doc_id = p.bdoc
  WHERE round(CAST(p.n_shared AS DOUBLE)
        / (sa.n_grams + sb.n_grams - p.n_shared), 6) >= {JACCARD_THRESHOLD}
),
survivors AS (
  SELECT d.* FROM deduped d
  WHERE d.doc_id NOT IN (SELECT doc_id FROM near_dup_losers)
)
SELECT
  doc_id,
  lang,
  quality_score,
  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
FROM survivors
"""


@register("q65_training_pipeline", oracle=PIPELINE_ORACLE, tags=("pipeline", "dedup", "quality"))
def q65_training_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → quality filter (score ≥ 0.45 on the rounded value,
    so both engines make identical keep decisions) → exact dedup (min
    doc_id per text) → n-gram-Jaccard near-dup removal (drop the
    higher doc_id of any pair with rounded J ≥ 0.5) → per-doc token
    accounting."""
    docs = load_catalog(spark, sf_dir).table("documents")

    n_tokens = F.size(F.split(F.col("text"), " ")).cast("bigint")
    stop_ratio = (
        F.size(F.regexp_extract_all(F.col("text"), F.lit(STOPWORD_PATTERN), 0)).cast("double")
        / F.size(F.split(F.col("text"), " "))
    )
    # try_divide: an empty text must yield NULL punct_ratio (the
    # oracle's double/0 NaN canonicalizes the same), not an ANSI crash
    punct_ratio = F.try_divide(
        F.length(F.regexp_replace(F.col("text"), "[A-Za-z0-9 ]", "")).cast("double"),
        F.length("text").cast("double"),
    )
    quality = r6(
        F.lit(0.4) * stop_ratio
        + F.lit(0.3) * F.least(F.lit(1.0), n_tokens.cast("double") / 100)
        + F.lit(0.3) * (F.lit(1) - punct_ratio)
    )
    scored = docs.select("doc_id", "text", "lang", quality.alias("quality_score"))
    kept = scored.filter(F.col("quality_score") >= QUALITY_THRESHOLD)

    # exact dedup shuffled on the 8-byte xxhash64(text) pre-key, text
    # only compared on hash ties (operators/llm_pipeline.dedup_exact)
    np = shuffle_partitions(spark)
    deduped = dedup_exact(kept, np)

    # near-dup candidates via shared-shingle join (same shape as q46):
    # the per-doc gram dedup rides the doc_id exchange, and one join-key
    # exchange then feeds the DF-cap window, both self-join sides, and
    # the sizes aggregate
    fr = token_ngrams(
        deduped.select("doc_id", "text").repartition(np, "doc_id"), 3, distinct=True
    ).repartition(np, "g")
    sizes = fr.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_grams"))
    flat = drop_stop_shingles(fr)
    a, b = flat.alias("a"), flat.alias("b")
    pairs = (
        a.join(b, (F.col("a.g") == F.col("b.g")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("adoc"), F.col("b.doc_id").alias("bdoc"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= MIN_SHARED)
    )
    sa, sb = sizes.alias("sa"), sizes.alias("sb")
    losers = (
        pairs.join(F.broadcast(sa), F.col("sa.doc_id") == F.col("adoc"))
        .join(F.broadcast(sb), F.col("sb.doc_id") == F.col("bdoc"))
        .filter(
            r6(
                F.col("n_shared").cast("double")
                / (F.col("sa.n_grams") + F.col("sb.n_grams") - F.col("n_shared"))
            )
            >= JACCARD_THRESHOLD
        )
        .select(F.greatest("adoc", "bdoc").alias("doc_id"))
        .distinct()
    )

    survivors = deduped.join(losers, "doc_id", "left_anti")
    return survivors.select(
        "doc_id",
        "lang",
        "quality_score",
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n_tokens"),
    )


# ---------------------------------------------------------------------------
# qx165 — round-6 curation pipeline: rule filter → segment dedup → packing
# ---------------------------------------------------------------------------

from bqfetch_spark.operators.corpus import SEQ_LEN  # noqa: E402
from bqfetch_spark.operators.llm_pipeline import SEGMENT_WORDS  # noqa: E402
from bqfetch_spark.operators.quality import (  # noqa: E402
    GOPHER_MIN_STOPWORDS,
    GOPHER_MIN_WORDS,
    GOPHER_STOPWORDS,
)

_STOP_SQL = ", ".join(f"'{s}'" for s in GOPHER_STOPWORDS)

CURATION_V2_ORACLE = f"""
WITH keep AS (
  SELECT doc_id FROM (
    SELECT doc_id,
           len(string_split(text, ' ')) AS n_words,
           len(list_intersect(string_split(text, ' '), [{_STOP_SQL}])) AS n_stop
    FROM documents
  ) WHERE n_words >= {GOPHER_MIN_WORDS} AND n_stop >= {GOPHER_MIN_STOPWORDS}
),
seg AS (
  SELECT d.doc_id, i AS seg_idx,
         array_to_string(
           list_slice(string_split(d.text, ' '),
                      i * {SEGMENT_WORDS} + 1, i * {SEGMENT_WORDS} + {SEGMENT_WORDS}),
           ' ') AS seg
  FROM documents d
  JOIN keep k ON k.doc_id = d.doc_id,
       unnest(range(CAST(ceil(len(string_split(d.text, ' ')) / {SEGMENT_WORDS}.0)
                    AS BIGINT))) t(i)
),
marked AS (
  SELECT doc_id, seg_idx, seg,
         row_number() OVER (PARTITION BY seg ORDER BY doc_id, seg_idx) AS rn
  FROM seg
),
rebuilt AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept_segments,
         string_agg(CASE WHEN rn = 1 THEN seg END, ' ' ORDER BY seg_idx) AS kept_text
  FROM marked GROUP BY doc_id
  HAVING sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) > 0
),
deduped AS (
  SELECT doc_id, n_kept_segments, kept_text FROM (
    SELECT *, row_number() OVER (PARTITION BY kept_text ORDER BY doc_id) AS rn
    FROM rebuilt
  ) WHERE rn = 1
),
toks AS (
  SELECT doc_id, n_kept_segments,
         CAST(len(string_split(kept_text, ' ')) AS BIGINT) AS n_tokens
  FROM deduped
),
cum AS (
  SELECT doc_id, n_kept_segments, n_tokens,
         sum(n_tokens) OVER (ORDER BY doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
  FROM toks
)
SELECT doc_id, n_kept_segments, n_tokens,
       CAST((c - n_tokens) // {SEQ_LEN} AS BIGINT) AS start_seq,
       CAST((c - n_tokens) % {SEQ_LEN} AS BIGINT) AS start_offset
FROM cum
"""


@register(
    "qx165_curation_pipeline_v2",
    oracle=CURATION_V2_ORACLE,
    doc="Round-6 curation chain: Gopher rules -> segment dedup -> exact dedup -> packing",
    tags=("pipeline", "dedup", "quality", "packing"),
)
def qx165_curation_pipeline_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-6 operators composed the way a crawl-to-training-set
    pipeline runs them, as ONE lazy Catalyst plan: Gopher rule filter
    (word-count + stopword rules of qx156 — the length-invariant
    subset, since segment dedup is about to change the other metrics)
    → CCNet segment dedup (qx157: corpus-wide first occurrence, docs
    rebuilt from surviving 10-word segments, fully-boilerplate docs
    dropped) → exact dedup on the REBUILT text (two docs can become
    identical only after boilerplate removal — ordering matters)
    → concat-and-chunk sequence packing (qx161) over the survivors.
    Cross-stage optimization is the point of the single plan: the
    rule filter prunes docs before the segment explode ever happens.
    Shares its constants with the standalone ops so thresholds cannot
    drift. Exchange count is bounded by the stage keys (seg window,
    doc rebuild, rebuilt-text dedup, pack bucket exchange + cumsum
    metadata) and — unlike running the stages standalone — nothing is
    materialized between stages."""
    from bqfetch_spark.plans.ranks import with_global_cumsum

    docs = load_catalog(spark, sf_dir).table("documents")
    words = F.split("text", " ")
    n_words = F.size(words)
    n_stop = F.size(
        F.array_intersect(words, F.array(*[F.lit(s) for s in GOPHER_STOPWORDS]))
    )
    kept_docs = docs.filter(
        (n_words >= GOPHER_MIN_WORDS) & (n_stop >= GOPHER_MIN_STOPWORDS)
    ).select("doc_id", words.alias("w"))

    n_seg = F.ceil(F.size("w") / SEGMENT_WORDS).cast("int")
    seg = kept_docs.select(
        "doc_id",
        F.posexplode(F.sequence(F.lit(0), n_seg - 1)).alias("seg_idx", "_i"),
        "w",
    ).select(
        "doc_id",
        F.col("seg_idx").cast("long").alias("seg_idx"),
        F.array_join(
            F.slice("w", F.col("seg_idx").cast("int") * SEGMENT_WORDS + 1, SEGMENT_WORDS),
            " ",
        ).alias("seg"),
    )
    keep_w = Window.partitionBy("seg").orderBy("doc_id", "seg_idx")
    marked = seg.withColumn("rn", F.row_number().over(keep_w))
    kept_struct = F.when(F.col("rn") == 1, F.struct("seg_idx", "seg"))
    rebuilt = (
        marked.groupBy("doc_id")
        .agg(
            F.sum(F.when(F.col("rn") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_kept_segments"),
            F.array_join(
                F.transform(F.sort_array(F.collect_list(kept_struct)), lambda s: s["seg"]),
                " ",
            ).alias("kept_text"),
        )
        .filter(F.col("n_kept_segments") > 0)
    )
    dedup_w = Window.partitionBy("kept_text").orderBy("doc_id")
    deduped = (
        rebuilt.withColumn("rn", F.row_number().over(dedup_w))
        .filter(F.col("rn") == 1)
        .select(
            "doc_id",
            "n_kept_segments",
            F.size(F.split("kept_text", " ")).cast("bigint").alias("n_tokens"),
        )
    )
    cum = with_global_cumsum(deduped, ["doc_id"], "n_tokens", shuffle_partitions(spark), "c")
    return cum.select(
        "doc_id",
        "n_kept_segments",
        "n_tokens",
        F.expr(f"(c - n_tokens) div {SEQ_LEN}").cast("bigint").alias("start_seq"),
        ((F.col("c") - F.col("n_tokens")) % SEQ_LEN).cast("bigint").alias("start_offset"),
    )


# ---------------------------------------------------------------------------
# qx202 — round-7 curation pipeline: rules → exact dedup → containment
#          drop → length-bucketed batches
# ---------------------------------------------------------------------------

from bqfetch_spark.operators.corpus import BATCH_SIZE  # noqa: E402
from bqfetch_spark.operators.llm_pipeline import (  # noqa: E402
    CONTAIN_MIN_GRAMS,
    CONTAIN_THRESHOLD,
)

CURATION_V3_ORACLE = f"""
WITH keep AS (
  SELECT doc_id, text FROM (
    SELECT doc_id, text,
           len(string_split(text, ' ')) AS n_words,
           len(list_intersect(string_split(text, ' '), [{_STOP_SQL}])) AS n_stop
    FROM documents
  ) WHERE n_words >= {GOPHER_MIN_WORDS} AND n_stop >= {GOPHER_MIN_STOPWORDS}
),
deduped AS (
  SELECT doc_id, text FROM (
    SELECT doc_id, text, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
    FROM keep
  ) WHERE rn = 1
),
toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM deduped),
grams AS (
  SELECT doc_id,
         list_distinct(list_transform(generate_series(1, len(t) - 2),
                                      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS gs
  FROM toks WHERE len(t) >= 3
),
flat AS (
  SELECT doc_id, g FROM (SELECT doc_id, unnest(gs) AS g FROM grams)
  QUALIFY count(*) OVER (PARTITION BY g) <= {SHINGLE_DF_CAP}
),
sizes AS (SELECT doc_id, count(*) AS n_surv FROM flat GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS x, b.doc_id AS y, count(*) AS n_shared
  FROM flat a JOIN flat b ON a.g = b.g AND a.doc_id <> b.doc_id
  GROUP BY 1, 2
),
dropped AS (
  SELECT DISTINCT p.x AS doc_id
  FROM pairs p
  JOIN sizes sx ON sx.doc_id = p.x
  JOIN sizes sy ON sy.doc_id = p.y
  WHERE sx.n_surv >= {CONTAIN_MIN_GRAMS}
    AND round(CAST(p.n_shared AS DOUBLE) / sx.n_surv, 6) >= {CONTAIN_THRESHOLD}
    AND (round(CAST(p.n_shared AS DOUBLE) / sy.n_surv, 6) < {CONTAIN_THRESHOLD}
         OR p.y < p.x)
),
surv AS (
  SELECT d.doc_id, CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens
  FROM deduped d
  WHERE d.doc_id NOT IN (SELECT doc_id FROM dropped)
),
ranked AS (
  SELECT doc_id, n_tokens,
         row_number() OVER (ORDER BY n_tokens, doc_id) - 1 AS rk
  FROM surv
)
SELECT doc_id, n_tokens, CAST(rk // {BATCH_SIZE} AS BIGINT) AS batch_id
FROM ranked
"""


@register(
    "qx202_curation_pipeline_v3",
    oracle=CURATION_V3_ORACLE,
    doc="Round-7 chain: Gopher rules -> exact dedup -> containment drop -> length batches",
    tags=("pipeline", "dedup", "containment", "batching"),
)
def qx202_curation_pipeline_v3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-7 operators composed as ONE lazy plan, the order a
    crawl-to-SFT pipeline runs them: Gopher rule filter (qx156's
    length-invariant subset) → exact dedup (q40's keeper rule) →
    CONTAINMENT drop (qx201: a doc ≥80% shingle-contained in another
    surviving doc is dropped — quoted/excerpted copies; mutual
    containment keeps the lower doc_id; the drop rule tests against
    ALL dedup survivors in one pass, not iteratively, so it is
    order-free and SQL-expressible) → length-bucketed batch assembly
    (qx195) over what remains, emitting per-doc batch assignments.

    Cross-stage pushdown is the point of the single plan: the rule
    filter and exact dedup shrink the corpus BEFORE the shingle
    explode (the expensive stage) ever runs. Constants are imported
    from the standalone ops so thresholds cannot drift. Exchange
    count: text-dedup window, one g exchange (cap window + self-join +
    sizes), pair groupBy, drop anti-join, then qx195's bucket-exchange
    rank — text itself crosses the wire once, for the dedup window."""
    from bqfetch_spark.plans.ranks import with_global_rank

    docs = load_catalog(spark, sf_dir).table("documents")
    np = shuffle_partitions(spark)
    words = F.split("text", " ")
    n_stop = F.size(
        F.array_intersect(words, F.array(*[F.lit(s) for s in GOPHER_STOPWORDS]))
    )
    keep = docs.filter(
        (F.size(words) >= GOPHER_MIN_WORDS) & (n_stop >= GOPHER_MIN_STOPWORDS)
    ).select("doc_id", "text")
    dedup_w = Window.partitionBy("text").orderBy("doc_id")
    deduped = (
        keep.withColumn("rn", F.row_number().over(dedup_w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "text")
    )

    flat = drop_stop_shingles(token_ngrams(deduped, 3, distinct=True).repartition(np, "g"))
    sizes = flat.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_surv"))
    a, b = flat.alias("a"), flat.alias("b")
    pairs = (
        a.join(
            b.hint("shuffle_hash"),
            (F.col("a.g") == F.col("b.g")) & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("x"), F.col("b.doc_id").alias("y"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sx, sy = sizes.alias("sx"), sizes.alias("sy")
    cx = r6(F.col("n_shared").cast("double") / F.col("sx.n_surv"))
    cy = r6(F.col("n_shared").cast("double") / F.col("sy.n_surv"))
    dropped = (
        pairs.join(F.broadcast(sx), F.col("sx.doc_id") == F.col("x"))
        .join(F.broadcast(sy), F.col("sy.doc_id") == F.col("y"))
        .filter(
            (F.col("sx.n_surv") >= CONTAIN_MIN_GRAMS)
            & (cx >= CONTAIN_THRESHOLD)
            & ((cy < CONTAIN_THRESHOLD) | (F.col("y") < F.col("x")))
        )
        .select(F.col("x").alias("doc_id"))
        .distinct()
    )
    surv = deduped.join(F.broadcast(dropped), "doc_id", "left_anti").select(
        "doc_id", F.size(F.split("text", " ")).cast("bigint").alias("n_tokens")
    )
    ranked = with_global_rank(surv, ["n_tokens", "doc_id"], np, rank_col="__rank")
    return ranked.select(
        "doc_id",
        "n_tokens",
        ((F.col("__rank") - 1) / BATCH_SIZE).cast("bigint").alias("batch_id"),
    )
