"""Corpus-quality operators beyond per-doc scoring (q43): Gopher-style
repetition statistics, PII redaction, and eval-set contamination
screening — the filters a large-scale training-data pipeline runs
between raw crawl and tokenizer.

Scale stance (100 TB of documents):
- Repetition stats are one doc_id-keyed exchange; both aggregation
  levels (per-(doc,bigram) count, then per-doc max/sum) ride that one
  exchange because hash-partitioning on doc_id satisfies the clustered
  distribution of any grouping key-set containing doc_id.
- PII redaction is a pure projection (JVM regex, whole-stage codegen) —
  no shuffle at all; it scales with scan bandwidth.
- Contamination screening broadcasts the EVAL side (benchmarks are
  tiny — thousands of docs) and streams the corpus once; the corpus
  side never shuffles its text, only (doc_id, gram) rows into the
  per-pair count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from bqfetch_spark.catalog import load_catalog
from bqfetch_spark.functions.text import CONTAM_N, token_ngrams
from bqfetch_spark.operators.relational import r6
from bqfetch_spark.registry import register
from bqfetch_spark.session import shuffle_partitions

# ---------------------------------------------------------------------------
# q75: repetition statistics (Gopher-style quality signals)
# ---------------------------------------------------------------------------

TOP_BIGRAM_FLAG = 0.08  # ~p99 of top-bigram share at sf0.01
DUP_WORD_FLAG = 0.65  # ~p90 of repeated-word share

REPETITION_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
base AS (
  SELECT doc_id, len(t) AS n_words, len(list_distinct(t)) AS n_distinct, t
  FROM toks WHERE len(t) >= 2
),
big AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(t) - 1),
                               i -> t[i] || ' ' || t[i+1])) AS bg
  FROM toks WHERE len(t) >= 2
),
bc AS (
  SELECT doc_id, bg, count(*) AS c FROM big GROUP BY 1, 2
),
agg AS (
  SELECT doc_id, max(c) AS top_c, sum(c) AS tot FROM bc GROUP BY 1
)
SELECT
  b.doc_id,
  CAST(b.n_words AS BIGINT) AS n_words,
  round(CAST(a.top_c AS DOUBLE) / a.tot, 6) AS top_bigram_frac,
  round(1 - CAST(b.n_distinct AS DOUBLE) / b.n_words, 6) AS dup_word_frac,
  CAST(round(CAST(a.top_c AS DOUBLE) / a.tot, 6) > {TOP_BIGRAM_FLAG}
       OR round(1 - CAST(b.n_distinct AS DOUBLE) / b.n_words, 6) > {DUP_WORD_FLAG}
       AS INTEGER) AS flagged
FROM base b JOIN agg a USING (doc_id)
"""


@register("q75_repetition_stats", oracle=REPETITION_ORACLE, tags=("quality", "filtering"))
def q75_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals per document: the share of the
    most frequent word bigram (boilerplate / spam indicator) and the
    repeated-word fraction, plus a flag at data-derived thresholds.

    Plan shape: shuffle RAW text on doc_id first (the one-file fixture
    scan is a single input partition — the exchange spreads the regex
    and gram work over every core), then BOTH aggregation levels
    (per-(doc_id,bigram) count and per-doc max/sum) ride that single
    exchange: hash-partitioning on doc_id satisfies the clustered
    distribution of (doc_id, bg). One shuffle total, no matter the
    corpus size. The flag compares the ROUNDED fractions so the
    boolean is bit-identical across engines."""
    docs = load_catalog(spark, sf_dir).table("documents")
    np = shuffle_partitions(spark)
    t = F.split(F.col("text"), " ")
    per_doc = ["doc_id", "n_words", "n_distinct"]
    base = (
        docs.select("doc_id", "text")
        .repartition(np, "doc_id")
        .select(
            "doc_id",
            "text",
            F.size(t).cast("bigint").alias("n_words"),
            F.size(F.array_distinct(t)).alias("n_distinct"),
        )
    )
    agg = (
        token_ngrams(base, 2, keys=per_doc)
        .groupBy(*per_doc, "g")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy(*per_doc)
        .agg(F.max("c").alias("top_c"), F.sum("c").alias("tot"))
    )
    top_frac = r6(F.col("top_c").cast("double") / F.col("tot"))
    dup_frac = r6(F.lit(1.0) - F.col("n_distinct").cast("double") / F.col("n_words"))
    return agg.select(
        "doc_id",
        "n_words",
        top_frac.alias("top_bigram_frac"),
        dup_frac.alias("dup_word_frac"),
        ((top_frac > TOP_BIGRAM_FLAG) | (dup_frac > DUP_WORD_FLAG)).cast("int").alias("flagged"),
    )


# ---------------------------------------------------------------------------
# q76: PII redaction (regex scrub, pure projection)
# ---------------------------------------------------------------------------

# The synthetic corpus carries no PII, so the query plants deterministic
# address/phone strings derived from doc_id, then redacts them — the
# round trip proves the scrub finds and removes exactly what it should.
# Patterns are kept to the Java/RE2 common subset (no lookarounds).
EMAIL_RE = r"[a-z0-9]+@[a-z]+\.[a-z]+"
PHONE_RE = r"555-[0-9]{4}"

PII_ORACLE = f"""
WITH planted AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example phone 555-0'
              || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') AS raw
  FROM documents
)
SELECT
  doc_id,
  CAST(len(regexp_extract_all(raw, '{EMAIL_RE}')) AS INTEGER) AS n_emails,
  CAST(len(regexp_extract_all(raw, '{PHONE_RE}')) AS INTEGER) AS n_phones,
  md5(regexp_replace(regexp_replace(raw, '{EMAIL_RE}', '<EMAIL>', 'g'),
                     '{PHONE_RE}', '<PHONE>', 'g')) AS redacted_md5
FROM planted
"""


@register("q76_pii_redact", oracle=PII_ORACLE, tags=("quality", "pii"))
def q76_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex PII scrub: count and redact email/phone occurrences.

    Pure projection — JVM regex inside whole-stage codegen, zero
    shuffles; at 100 TB this runs at scan bandwidth. The md5 of the
    redacted text is the oracle's value check (the full redacted text
    would dominate the comparison payload for no extra signal)."""
    docs = load_catalog(spark, sf_dir).table("documents")
    raw = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example phone 555-0"),
        F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
    )
    planted = docs.select("doc_id", raw.alias("raw"))
    redacted = F.regexp_replace(
        F.regexp_replace(F.col("raw"), EMAIL_RE, "<EMAIL>"), PHONE_RE, "<PHONE>"
    )
    return planted.select(
        "doc_id",
        # idx=0 explicitly: Spark's regexp_extract_all defaults to group 1
        F.size(F.regexp_extract_all("raw", F.lit(EMAIL_RE), 0)).alias("n_emails"),
        F.size(F.regexp_extract_all("raw", F.lit(PHONE_RE), 0)).alias("n_phones"),
        F.md5(redacted.cast("binary")).alias("redacted_md5"),
    )


# ---------------------------------------------------------------------------
# q77: eval-set contamination screen (broadcast n-gram overlap)
# ---------------------------------------------------------------------------

EVAL_DOCS = 20  # doc_id < EVAL_DOCS plays the held-out benchmark

CONTAM_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
grams AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
             generate_series(1, len(t) - {CONTAM_N - 1}),
             i -> list_aggregate(t[i:i+{CONTAM_N - 1}], 'string_agg', ' ')))) AS g
  FROM toks WHERE len(t) >= {CONTAM_N}
)
SELECT
  tr.doc_id AS doc_id,
  ev.doc_id AS eval_doc_id,
  count(*) AS n_shared
FROM grams tr
JOIN grams ev ON tr.g = ev.g
WHERE ev.doc_id < {EVAL_DOCS} AND tr.doc_id >= {EVAL_DOCS}
GROUP BY 1, 2
"""


@register("q77_contamination", oracle=CONTAM_ORACLE, tags=("quality", "decontamination"))
def q77_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-decontamination screen: for every training document,
    count distinct {CONTAM_N}-grams shared with any eval document
    (doc_id < EVAL_DOCS stands in for the held-out benchmark).

    Plan shape for 100 TB: the EVAL side is tiny (real benchmarks are
    a few thousand docs) — its gram set is built once and BROADCAST;
    the corpus streams through scan → gram-explode → broadcast hash
    join → partial-agg'd groupBy. The corpus side is scanned exactly
    once and never carries text past the projection; the only shuffle
    is the final (doc_id, eval_doc_id) count, which is bounded by the
    number of contaminated pairs, not the corpus size."""
    docs = load_catalog(spark, sf_dir).table("documents")
    np = shuffle_partitions(spark)
    base = docs.select("doc_id", "text").repartition(np, "doc_id")
    train = token_ngrams(base.filter(F.col("doc_id") >= EVAL_DOCS), CONTAM_N, distinct=True)
    ev = token_ngrams(
        base.filter(F.col("doc_id") < EVAL_DOCS), CONTAM_N, distinct=True
    ).withColumnRenamed("doc_id", "eval_doc_id")
    return (
        train.join(F.broadcast(ev), "g")
        .groupBy("doc_id", "eval_doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )


# ---------------------------------------------------------------------------
# q80: IDF rarity score (vocabulary-broadcast TF-IDF signal)
# ---------------------------------------------------------------------------

IDF_ORACLE = """
WITH tok AS (
  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token
  FROM documents
),
df AS (
  SELECT token, count(*) AS n_docs FROM tok GROUP BY 1
),
n AS (SELECT count(*) AS n_total FROM documents)
SELECT
  t.doc_id,
  CAST(count(*) AS BIGINT) AS n_distinct_tokens,
  round(avg(ln(CAST(n.n_total AS DOUBLE) / df.n_docs)), 6) AS avg_idf,
  round(max(ln(CAST(n.n_total AS DOUBLE) / df.n_docs)), 6) AS max_idf
FROM tok t JOIN df ON t.token = df.token CROSS JOIN n
GROUP BY t.doc_id
"""


@register("q80_idf_rarity", oracle=IDF_ORACLE, tags=("quality", "tfidf"))
def q80_idf_rarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rare-token density per document: mean and max inverse document
    frequency (ln(N/df)) over each doc's distinct tokens — the
    TF-IDF-shaped "is this document unusual vocabulary" quality
    signal.

    Plan shape for 100 TB: natural-language vocabulary is heavy-tailed
    but BOUNDED (tens of millions of terms, not corpus-sized), so the
    document-frequency table is aggregated once (map-side partial
    count on the token explode) and then joined back to the exploded
    tokens on token — df rides the same token-keyed exchange the DF
    aggregate produced, so the join adds no new shuffle of the big
    side. Per-doc averages run over ≤ doc-length values, where
    double-accumulation order drift stays far below the round(6)
    surfacing precision."""
    docs = load_catalog(spark, sf_dir).table("documents")
    np = shuffle_partitions(spark)
    tok = (
        docs.select("doc_id", "text")
        .repartition(np, "doc_id")
        .select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .dropDuplicates(["doc_id", "token"])
        .repartition(np, "token")
    )
    df = tok.groupBy("token").agg(F.count(F.lit(1)).alias("n_docs"))
    n_total = docs.select(F.count(F.lit(1)).alias("n_total"))
    idf = F.log(F.col("n_total").cast("double") / F.col("n_docs"))
    return (
        tok.join(df.hint("shuffle_hash"), "token")
        .join(F.broadcast(n_total))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_distinct_tokens"),
            r6(F.avg(idf)).alias("avg_idf"),
            r6(F.max(idf)).alias("max_idf"),
        )
    )


# ---------------------------------------------------------------------------
# q81: temperature-scaled language mixing (data-derived sample rates)
# ---------------------------------------------------------------------------

TEMP_BUDGET_FRAC = 0.5  # sample half the corpus overall...
# ...allocated across languages ∝ sqrt(count): the α=0.5 "temperature"
# rebalancing multilingual pipelines use to upweight tail languages

TEMP_MIX_ORACLE = f"""
WITH counts AS (
  SELECT lang, CAST(count(*) AS DOUBLE) AS n FROM documents GROUP BY 1
),
tot AS (
  SELECT sum(n) AS n_total, sum(sqrt(n)) AS z FROM counts
),
rates AS (
  SELECT c.lang,
         round(least(1.0, ({TEMP_BUDGET_FRAC} * t.n_total * sqrt(c.n) / t.z) / c.n), 9) AS rate
  FROM counts c CROSS JOIN tot t
)
SELECT
  d.doc_id,
  d.lang,
  d.n_chars,
  round(r.rate, 6) AS keep_rate
FROM documents d JOIN rates r USING (lang)
WHERE ('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
      < CAST(floor(r.rate * 4294967296) AS BIGINT)
"""


@register("q81_temperature_mix", oracle=TEMP_MIX_ORACLE, tags=("sampling", "mixing"))
def q81_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source mixing: sample TEMP_BUDGET_FRAC of the
    corpus with per-language budgets ∝ sqrt(language count) (α = 0.5),
    the standard rebalancing that keeps head languages from drowning
    the tail. Rates are DERIVED FROM THE DATA (two tiny aggregates),
    unlike q72's fixed rate table.

    Determinism: keep iff the first 32 md5 bits of doc_id fall below
    rate × 2³², so retries and speculative tasks agree. sqrt (IEEE
    correctly-rounded in both engines, unlike pow) and a round(rate, 9)
    before the threshold keep the cross-engine boundary exact. Scale:
    language counts and rates are O(languages) rows broadcast back;
    the corpus itself is one scan + filter, no shuffle."""
    docs = load_catalog(spark, sf_dir).table("documents")
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).cast("double").alias("n"))
    tot = counts.agg(F.sum("n").alias("n_total"), F.sum(F.sqrt("n")).alias("z"))
    rates = counts.join(F.broadcast(tot)).select(
        "lang",
        F.round(
            F.least(
                F.lit(1.0),
                (TEMP_BUDGET_FRAC * F.col("n_total") * F.sqrt("n") / F.col("z"))
                / F.col("n"),
            ),
            9,
        ).alias("rate"),
    )
    hash32 = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("bigint")
    return (
        docs.join(F.broadcast(rates), "lang")
        .filter(hash32 < F.floor(F.col("rate") * 4294967296).cast("bigint"))
        .select("doc_id", "lang", "n_chars", F.round("rate", 6).alias("keep_rate"))
    )


# ---------------------------------------------------------------------------
# q82: deterministic exact-k sample (holdout-split building block)
# ---------------------------------------------------------------------------

HOLDOUT_K = 100

HOLDOUT_ORACLE = f"""
SELECT doc_id, lang, n_chars
FROM (
  SELECT doc_id, lang, n_chars
  FROM documents
  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
  LIMIT {HOLDOUT_K}
) t
"""


@register("q82_holdout_sample", oracle=HOLDOUT_ORACLE, tags=("sampling", "holdout"))
def q82_holdout_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-k uniform holdout sample: the k documents with the
    smallest md5(doc_id) — hash order is uniform over the corpus yet a
    pure function of the key, so the same k docs come back on every
    run, rerun, and engine (unlike sample(fraction) which is both
    approximate-sized and partition-order-dependent).

    Plan shape: orderBy(hash).limit(k) becomes TakeOrderedAndProject —
    per-partition k-element heaps merged at the driver, O(k) driver
    memory and NO global sort, so "give me a 10k-doc eval split from
    100 TB" is one scan."""
    docs = load_catalog(spark, sf_dir).table("documents")
    h = F.md5(F.col("doc_id").cast("string"))
    return (
        docs.orderBy(h, "doc_id")
        .limit(HOLDOUT_K)
        .select("doc_id", "lang", "n_chars")
    )


# ---------------------------------------------------------------------------
# q83: single-pass column profile (ANALYZE-style table stats)
# ---------------------------------------------------------------------------

PROFILE_COLS = ("lang", "source", "n_chars")

PROFILE_ORACLE = """
WITH s AS (SELECT * FROM documents)
SELECT 'lang' AS col_name, count(*) AS n_rows,
       CAST(count(*) - count(lang) AS BIGINT) AS n_nulls,
       CAST(count(DISTINCT lang) AS BIGINT) AS n_distinct,
       CAST(min(lang) AS VARCHAR) AS min_val, CAST(max(lang) AS VARCHAR) AS max_val
FROM s
UNION ALL
SELECT 'source', count(*), CAST(count(*) - count(source) AS BIGINT),
       CAST(count(DISTINCT source) AS BIGINT),
       CAST(min(source) AS VARCHAR), CAST(max(source) AS VARCHAR)
FROM s
UNION ALL
SELECT 'n_chars', count(*), CAST(count(*) - count(n_chars) AS BIGINT),
       CAST(count(DISTINCT n_chars) AS BIGINT),
       CAST(min(n_chars) AS VARCHAR), CAST(max(n_chars) AS VARCHAR)
FROM s
"""


@register("q83_column_profile", oracle=PROFILE_ORACLE, tags=("profiling", "stats"))
def q83_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style column statistics — row count, null count, exact
    distinct count, min/max — for several columns in ONE pass: all
    aggregates compute in a single groupBy-less agg (Spark plans the
    multi-countDistinct via one Expand + aggregate, one scan of the
    table), then unpivot to a (col_name, stats) row per column with
    stack(). The oracle spells it as per-column UNION ALL branches —
    same rows, but the engine reads the table once, not once per
    column. min/max surface as strings so one schema fits every
    column type."""
    docs = load_catalog(spark, sf_dir).table("documents")
    aggs = []
    for c in PROFILE_COLS:
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__rows"),
            F.sum(F.col(c).isNull().cast("long")).alias(f"{c}__nulls"),
            F.countDistinct(c).alias(f"{c}__distinct"),
            # min/max on the NATIVE type (numeric order), cast after —
            # casting first would compare lexicographically
            F.min(F.col(c)).cast("string").alias(f"{c}__min"),
            F.max(F.col(c)).cast("string").alias(f"{c}__max"),
        ]
    wide = docs.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', {c}__rows, {c}__nulls, {c}__distinct, {c}__min, {c}__max"
        for c in PROFILE_COLS
    )
    return wide.select(
        F.expr(
            f"stack({len(PROFILE_COLS)}, {stack_args}) AS "
            "(col_name, n_rows, n_nulls, n_distinct, min_val, max_val)"
        )
    )


# ---------------------------------------------------------------------------
# q87: unigram-LM scoring (perplexity-style quality filter)
# ---------------------------------------------------------------------------

UNIGRAM_ORACLE = """
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
),
freq AS (
  SELECT token, count(*) AS cnt FROM tok GROUP BY 1
),
tot AS (SELECT count(*) AS n FROM tok)
SELECT
  t.doc_id,
  CAST(count(*) AS BIGINT) AS n_tokens,
  round(avg(-ln(CAST(f.cnt AS DOUBLE) / tot.n)), 6) AS nll,
  round(exp(avg(-ln(CAST(f.cnt AS DOUBLE) / tot.n))), 6) AS perplexity
FROM tok t JOIN freq f ON t.token = f.token CROSS JOIN tot
GROUP BY t.doc_id
"""


@register("q87_unigram_logprob", oracle=UNIGRAM_ORACLE, tags=("quality", "lm"))
def q87_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-model quality scoring, CCNet-style: train a unigram LM
    on the corpus itself (token -> occurrence probability), then score
    every document by mean negative log-likelihood and its exp
    (perplexity). Low-probability-token documents (gibberish, OCR
    noise, rare-script spam) surface at high perplexity — the standard
    LM-based quality filter, here with the corpus as its own LM.

    Differs from q80 (IDF): this is occurrence-weighted (term
    frequency over ALL token positions), q80 is document-frequency
    over distinct tokens.

    Plan shape for 100 TB: the LM table is vocabulary-bounded, built
    by a map-side-partial count on the token-keyed exchange; the
    scored join rides the SAME exchange (shuffle_hash, no re-shuffle
    of the exploded side); the corpus total is a 1-row broadcast. Text
    itself never shuffles — only (doc_id, token) pairs."""
    docs = load_catalog(spark, sf_dir).table("documents")
    np = shuffle_partitions(spark)
    tok = (
        docs.select("doc_id", "text")
        .repartition(np, "doc_id")
        .select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .repartition(np, "token")
    )
    freq = tok.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    total = tok.select(F.count(F.lit(1)).alias("n"))
    neg_lp = -F.log(F.col("cnt").cast("double") / F.col("n"))
    return (
        tok.join(freq.hint("shuffle_hash"), "token")
        .join(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            r6(F.avg(neg_lp)).alias("nll"),
            r6(F.exp(F.avg(neg_lp))).alias("perplexity"),
        )
    )


# ---------------------------------------------------------------------------
# Gopher-style rule-based quality filter
# ---------------------------------------------------------------------------

GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_WORD_LEN = 3.0
GOPHER_MAX_MEAN_WORD_LEN = 10.0
GOPHER_MIN_STOPWORDS = 2
GOPHER_MIN_ALPHA_RATIO = 0.8
GOPHER_STOPWORDS = ("the", "a", "of", "and", "to", "is", "in", "it")

_STOP_SQL = ", ".join(f"'{s}'" for s in GOPHER_STOPWORDS)

GOPHER_ORACLE = f"""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS words FROM documents
),
m AS (
  SELECT doc_id,
         CAST(len(words) AS BIGINT) AS n_words,
         round(CAST(list_sum(list_transform(words, x -> length(x))) AS DOUBLE)
               / len(words), 6) AS mean_word_len,
         CAST(len(list_intersect(words, [{_STOP_SQL}])) AS BIGINT)
           AS n_stop_distinct,
         round(CAST(len(list_filter(words, x -> regexp_matches(x, '[A-Za-z]')))
               AS DOUBLE) / len(words), 6) AS alpha_word_ratio
  FROM w
)
SELECT doc_id, n_words, mean_word_len, n_stop_distinct, alpha_word_ratio,
       CAST(
         n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS}
         AND mean_word_len BETWEEN {GOPHER_MIN_MEAN_WORD_LEN} AND {GOPHER_MAX_MEAN_WORD_LEN}
         AND n_stop_distinct >= {GOPHER_MIN_STOPWORDS}
         AND alpha_word_ratio >= {GOPHER_MIN_ALPHA_RATIO}
         AS BOOLEAN) AS keep
FROM m
"""


@register(
    "qx156_gopher_quality_filter",
    oracle=GOPHER_ORACLE,
    doc="Gopher-style rule-based quality filter (word count / word length / stopwords / alpha ratio)",
    tags=("quality", "text", "filter"),
)
def qx156_gopher_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The rule battery every web-scale curation pipeline runs before
    any model-based scoring (the Gopher/MassiveText repetition-and-
    quality rules, reused by Falcon/RefinedWeb): word-count bounds,
    mean-word-length bounds, minimum distinct stopwords (a cheap
    "is this prose" signal), and a minimum fraction of words containing
    an alphabetic character. All four signals are single-pass JVM array
    expressions over the split — a pure projection with ZERO exchanges,
    so at 100 TB it runs at scan speed and composes with any downstream
    filter pushdown. The keep decision thresholds the ROUNDED ratios so
    both engines make identical boundary calls."""
    docs = load_catalog(spark, sf_dir).table("documents")
    words = F.split("text", " ")
    n_words = F.size(words).cast("bigint")
    mean_wl = r6(
        F.aggregate(
            F.transform(words, F.length), F.lit(0).cast("bigint"), lambda a, x: a + x
        ).cast("double")
        / n_words
    )
    n_stop = F.size(
        F.array_intersect(words, F.array(*[F.lit(s) for s in GOPHER_STOPWORDS]))
    ).cast("bigint")
    alpha_ratio = r6(
        F.size(F.filter(words, lambda x: x.rlike("[A-Za-z]"))).cast("double") / n_words
    )
    m = docs.select(
        "doc_id",
        n_words.alias("n_words"),
        mean_wl.alias("mean_word_len"),
        n_stop.alias("n_stop_distinct"),
        alpha_ratio.alias("alpha_word_ratio"),
    )
    return m.withColumn(
        "keep",
        F.col("n_words").between(GOPHER_MIN_WORDS, GOPHER_MAX_WORDS)
        & F.col("mean_word_len").between(GOPHER_MIN_MEAN_WORD_LEN, GOPHER_MAX_MEAN_WORD_LEN)
        & (F.col("n_stop_distinct") >= GOPHER_MIN_STOPWORDS)
        & (F.col("alpha_word_ratio") >= GOPHER_MIN_ALPHA_RATIO),
    )


# ---------------------------------------------------------------------------
# qx223: decontaminated train/test split (holdout + n-gram embargo)
# ---------------------------------------------------------------------------

DECONTAM_K = 100  # held-out eval docs (q82's md5-head rule)

DECONTAM_ORACLE = f"""
WITH hold AS (
  SELECT doc_id FROM documents
  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id LIMIT {DECONTAM_K}
),
toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
grams AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
             generate_series(1, len(t) - {CONTAM_N - 1}),
             i -> list_aggregate(t[i:i+{CONTAM_N - 1}], 'string_agg', ' ')))) AS g
  FROM toks WHERE len(t) >= {CONTAM_N}
),
tgrams AS (
  SELECT DISTINCT g FROM grams WHERE doc_id IN (SELECT doc_id FROM hold)
),
contam AS (
  SELECT DISTINCT gr.doc_id
  FROM grams gr JOIN tgrams ON gr.g = tgrams.g
  WHERE gr.doc_id NOT IN (SELECT doc_id FROM hold)
),
lab AS (
  SELECT d.doc_id, d.source,
         len(string_split(d.text, ' ')) AS n_tok,
         d.doc_id IN (SELECT doc_id FROM hold) AS is_test,
         d.doc_id IN (SELECT doc_id FROM contam) AS is_contam
  FROM documents d
)
SELECT source,
       CAST(sum(CASE WHEN is_test THEN 1 ELSE 0 END) AS BIGINT) AS n_test,
       CAST(sum(CASE WHEN NOT is_test AND NOT is_contam THEN 1 ELSE 0 END) AS BIGINT) AS n_train_kept,
       CAST(sum(CASE WHEN NOT is_test AND is_contam THEN 1 ELSE 0 END) AS BIGINT) AS n_train_dropped,
       CAST(sum(CASE WHEN NOT is_test AND NOT is_contam THEN n_tok ELSE 0 END) AS BIGINT) AS tokens_kept
FROM lab GROUP BY source ORDER BY source
"""


@register(
    "qx223_decontaminated_split",
    oracle=DECONTAM_ORACLE,
    doc="holdout split + n-gram embargo: per-source kept/dropped train counts",
    tags=("quality", "decontamination", "llm-pipeline", "curation"),
)
def qx223_decontaminated_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The decontaminated train/test SPLIT itself — the step q77's
    screen feeds: carve the eval set with q82's deterministic md5-head
    rule (rerun-stable exactly-k holdout), then EMBARGO every training
    document that shares any distinct {CONTAM_N}-gram with any eval
    doc (the direction that matters: eval text must not leak into
    train). Emits the per-source audit a data card wants: eval count,
    kept/dropped train counts, surviving token budget.

    Plan shape at 100 TB: the eval id set is TakeOrderedAndProject
    (O(k) driver heap merge, no global sort) and BROADCASTS; the eval
    gram set is distinct-collapsed (k docs × grams — benchmark-sized)
    and BROADCASTS into the corpus gram stream, so the corpus is
    scanned once, text never shuffles, and the only exchanges are the
    contaminated-id distinct (bounded by contaminated docs, not the
    corpus) and the final groups-sized source rollup. The drop flag
    joins back on doc_id — an equi-join against the
    corpus-partitioned frame."""
    docs = load_catalog(spark, sf_dir).table("documents")
    h = F.md5(F.col("doc_id").cast("string"))
    test_ids = docs.orderBy(h, "doc_id").limit(DECONTAM_K).select("doc_id")

    test_grams = (
        token_ngrams(docs.join(F.broadcast(test_ids), "doc_id"), CONTAM_N)
        .select("g")
        .distinct()
    )
    train = docs.join(F.broadcast(test_ids), "doc_id", "left_anti")
    contam_ids = (
        token_ngrams(train, CONTAM_N)
        .join(F.broadcast(test_grams), "g")
        .select("doc_id")
        .distinct()
        .withColumn("__contam", F.lit(True))
    )

    n_tok = F.size(F.split(F.col("text"), " ")).cast("bigint")
    train_lab = (
        train.select("doc_id", "source", n_tok.alias("n_tok"))
        .join(contam_ids, "doc_id", "left")
        .withColumn("is_contam", F.coalesce(F.col("__contam"), F.lit(False)))
    )
    train_agg = train_lab.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_train_all"),
        F.sum(F.when(F.col("is_contam"), 1).otherwise(0)).cast("bigint").alias("n_train_dropped"),
        F.sum(F.when(~F.col("is_contam"), F.col("n_tok")).otherwise(0)).cast("bigint").alias("tokens_kept"),
    )
    test_agg = (
        docs.join(F.broadcast(test_ids), "doc_id")
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_test"))
    )
    return (
        train_agg.join(test_agg, "source", "full_outer")
        .select(
            "source",
            F.coalesce("n_test", F.lit(0)).cast("bigint").alias("n_test"),
            F.coalesce(F.col("n_train_all") - F.col("n_train_dropped"), F.lit(0))
            .cast("bigint")
            .alias("n_train_kept"),
            F.coalesce("n_train_dropped", F.lit(0)).cast("bigint").alias("n_train_dropped"),
            F.coalesce("tokens_kept", F.lit(0)).cast("bigint").alias("tokens_kept"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# qx224: duplicated-span fraction (exact-substring dedup metric)
# ---------------------------------------------------------------------------

SPAN_N = CONTAM_N  # span width in tokens: the decontamination gram width

DUP_SPAN_ORACLE = f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
grams AS (
  SELECT doc_id, unnest(list_transform(generate_series(1, len(t) - {SPAN_N - 1}),
        i -> {{'i': i, 'g': list_aggregate(t[i:i+{SPAN_N - 1}], 'string_agg', ' ')}})) AS z
  FROM toks WHERE len(t) >= {SPAN_N}
),
g2 AS (SELECT doc_id, z.i AS i, z.g AS g FROM grams),
df AS (SELECT g, count(DISTINCT doc_id) AS ndocs FROM g2 GROUP BY g),
dup AS (SELECT g2.doc_id, g2.i FROM g2 JOIN df ON g2.g = df.g WHERE df.ndocs >= 2),
iv AS (
  SELECT doc_id, i,
         greatest(0, (i + {SPAN_N}) - greatest(i,
           coalesce(max(i + {SPAN_N}) OVER (PARTITION BY doc_id ORDER BY i
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), i))) AS cov
  FROM dup
),
per AS (SELECT doc_id, sum(cov) AS dup_tokens FROM iv GROUP BY doc_id)
SELECT d.doc_id,
       CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
       CAST(coalesce(per.dup_tokens, 0) AS BIGINT) AS dup_tokens,
       round(CAST(coalesce(per.dup_tokens, 0) AS DOUBLE)
             / len(string_split(d.text, ' ')), 6) AS dup_fraction
FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
ORDER BY d.doc_id
"""


def _dup_span_positions(docs: DataFrame) -> DataFrame:
    """(doc_id, i): 1-based start positions of every {SPAN_N}-gram
    that also appears in at least one OTHER document. Positional grams
    are row-local; the cross-doc test is one gram-keyed
    distinct-doc-count exchange joined back. Shared by qx224 (measure)
    and qx229 (cut)."""
    pos = token_ngrams(docs, SPAN_N, positional=True)
    df_counts = pos.groupBy("g").agg(F.count_distinct("doc_id").alias("ndocs"))
    return pos.join(df_counts.filter(F.col("ndocs") >= 2), "g").select("doc_id", "i")


@register(
    "qx224_dup_span_fraction",
    oracle=DUP_SPAN_ORACLE,
    doc="per-doc fraction of tokens covered by cross-doc-shared n-gram spans",
    tags=("quality", "dedup", "llm-pipeline"),
)
def qx224_dup_span_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exact-substring duplication METRIC (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): for
    every document, the fraction of its tokens covered by at least one
    {SPAN_N}-gram that also appears in ANOTHER document. Near-dup
    operators (q46-q49) decide keep/drop per doc; this measures HOW
    MUCH of each surviving doc is boilerplate/quotation — the signal
    that drives span-level cutting rather than whole-doc dropping.

    Plan shape: positional grams are a row-local explode
    (position rides along, so coverage is reconstructible); the
    cross-doc test is ONE gram-keyed exchange (distinct-doc count,
    q46's family) joined back to the positional stream; interval union
    per doc is the classic running-max-end window — partitioned by
    doc_id (parallel across docs, each window is one doc's dup
    positions). Every stage is linear in corpus grams; no pairwise
    structure ever materializes. Within-doc-only repeats are NOT
    counted (ndocs >= 2 is cross-doc by construction) — self-repetition
    is q75's job."""
    docs = load_catalog(spark, sf_dir).table("documents")
    dup = _dup_span_positions(docs)

    prev = (
        Window.partitionBy("doc_id")
        .orderBy("i")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cov = F.greatest(
        F.lit(0),
        (F.col("i") + F.lit(SPAN_N))
        - F.greatest(
            F.col("i"),
            F.coalesce(F.max(F.col("i") + F.lit(SPAN_N)).over(prev), F.col("i")),
        ),
    )
    per = (
        dup.withColumn("cov", cov)
        .groupBy("doc_id")
        .agg(F.sum("cov").cast("bigint").alias("dup_tokens"))
    )
    n_tok = F.size(F.split(F.col("text"), " ")).cast("bigint")
    return (
        docs.select("doc_id", n_tok.alias("n_tokens"))
        .join(per, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("dup_tokens", F.lit(0)).cast("bigint").alias("dup_tokens"),
            F.round(
                F.coalesce("dup_tokens", F.lit(0)).cast("double") / F.col("n_tokens"),
                6,
            ).alias("dup_fraction"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# qx229: duplicated-span CUTTING (rebuild docs from uncovered tokens)
# ---------------------------------------------------------------------------

DUP_CUT_ORACLE = f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
grams AS (
  SELECT doc_id, unnest(list_transform(generate_series(1, len(t) - {SPAN_N - 1}),
        i -> {{'i': i, 'g': list_aggregate(t[i:i+{SPAN_N - 1}], 'string_agg', ' ')}})) AS z
  FROM toks WHERE len(t) >= {SPAN_N}
),
g2 AS (SELECT doc_id, z.i AS i, z.g AS g FROM grams),
df AS (SELECT g, count(DISTINCT doc_id) AS ndocs FROM g2 GROUP BY g),
dup AS (SELECT g2.doc_id, g2.i FROM g2 JOIN df ON g2.g = df.g WHERE df.ndocs >= 2),
tok AS (
  SELECT doc_id, unnest(list_transform(generate_series(1, len(t)),
        j -> {{'pos': j, 'w': t[j]}})) AS z
  FROM toks
),
ev AS (
  SELECT doc_id, i AS pos, 0 AS kind, i + {SPAN_N} AS e, NULL AS w FROM dup
  UNION ALL
  SELECT doc_id, z.pos AS pos, 1 AS kind, NULL AS e, z.w AS w FROM tok
),
run AS (
  SELECT doc_id, pos, kind, w,
         max(e) OVER (PARTITION BY doc_id ORDER BY pos, kind
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS me
  FROM ev
),
kept AS (
  SELECT doc_id, pos, w FROM run
  WHERE kind = 1 AND (me IS NULL OR me <= pos)
),
agg AS (
  SELECT doc_id, count(*) AS n_kept,
         md5(string_agg(w, ' ' ORDER BY pos)) AS cleaned_md5
  FROM kept GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
       CAST(coalesce(a.n_kept, 0) AS BIGINT) AS n_kept,
       coalesce(a.cleaned_md5, md5('')) AS cleaned_md5
FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
ORDER BY d.doc_id
"""


@register(
    "qx229_dup_span_cut",
    oracle=DUP_CUT_ORACLE,
    doc="remove cross-doc-shared spans, rebuild each doc from uncovered tokens",
    tags=("quality", "dedup", "llm-pipeline"),
)
def qx229_dup_span_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level deduplication — the CUT operator qx224's metric
    motivates (Lee et al. 2022 remove duplicated substrings rather
    than whole documents): every token covered by a cross-doc-shared
    {SPAN_N}-gram is removed and the doc is rebuilt from the surviving
    tokens in order. Emits (n_tokens, n_kept, md5 of the rebuilt
    text) per doc, so the oracle pins the EXACT reconstruction, not
    just counts.

    Plan shape: the dup-start frame is shared with qx224
    (_dup_span_positions — one gram-keyed exchange). Coverage becomes
    a single per-doc WINDOW by merging span-start events (carrying
    end = i+{SPAN_N}) into the token stream and running-maxing the
    end — a token is covered iff the max end of any start at-or-before
    it exceeds its position (starts sort before the token at the same
    position). No token-×-interval range join ever forms. The rebuild
    sorts each doc's kept tokens inside an array (array_sort of
    (pos, w) structs — doc-local, bounded by doc length), never in a
    global sort."""
    docs = load_catalog(spark, sf_dir).table("documents")
    dup = _dup_span_positions(docs)

    tok = token_ngrams(docs, 1, positional=True).select(
        "doc_id", F.col("i").alias("pos"), F.col("g").alias("w")
    )

    starts = dup.select(
        "doc_id",
        F.col("i").alias("pos"),
        F.lit(0).alias("kind"),
        (F.col("i") + F.lit(SPAN_N)).alias("e"),
        F.lit(None).cast("string").alias("w"),
    )
    tokens = tok.select(
        "doc_id",
        "pos",
        F.lit(1).alias("kind"),
        F.lit(None).cast("long").alias("e"),
        "w",
    )
    run = (
        Window.partitionBy("doc_id")
        .orderBy("pos", "kind")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    ev = starts.unionByName(tokens).withColumn("me", F.max("e").over(run))
    kept = ev.filter(
        (F.col("kind") == 1) & (F.col("me").isNull() | (F.col("me") <= F.col("pos")))
    )
    agg = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_kept"),
        F.md5(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "w"))),
                    lambda s: s["w"],
                ),
            )
        ).alias("cleaned_md5"),
    )
    n_tok = F.size(F.split(F.col("text"), " ")).cast("bigint")
    return (
        docs.select("doc_id", n_tok.alias("n_tokens"))
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("n_kept", F.lit(0)).cast("bigint").alias("n_kept"),
            F.coalesce("cleaned_md5", F.md5(F.lit(""))).alias("cleaned_md5"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# qx238: data-derived stopword scoring (self-calibrating prose signal)
# ---------------------------------------------------------------------------

STOP_DISCOVER_K = 20  # df-top tokens used as the discovered stopword list
STOP_FLAG_FACTOR = 0.5  # flag docs below half their source's mean ratio

DISCOVERED_STOP_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
),
dfr AS (
  SELECT token, count(DISTINCT doc_id) AS df FROM tok GROUP BY token
),
stop AS (
  SELECT token FROM (
    SELECT token, row_number() OVER (ORDER BY df DESC, token) AS rn FROM dfr
  ) WHERE rn <= {STOP_DISCOVER_K}
),
per AS (
  SELECT t.doc_id,
         count(*) AS n_tokens,
         sum(CASE WHEN s.token IS NOT NULL THEN 1 ELSE 0 END) AS n_stop
  FROM tok t LEFT JOIN stop s ON t.token = s.token
  GROUP BY t.doc_id
),
scored AS (
  SELECT d.doc_id, d.source,
         round(CAST(per.n_stop AS DOUBLE) / per.n_tokens, 6) AS stop_ratio
  FROM documents d JOIN per ON d.doc_id = per.doc_id
),
src AS (
  SELECT source, round(avg(stop_ratio), 6) AS src_mean_ratio
  FROM scored GROUP BY source
)
SELECT s.doc_id, s.source, s.stop_ratio, src.src_mean_ratio,
       CAST(s.stop_ratio < {STOP_FLAG_FACTOR} * src.src_mean_ratio AS BOOLEAN)
         AS flagged
FROM scored s JOIN src ON s.source = src.source
ORDER BY s.doc_id
"""


@register(
    "qx238_discovered_stopwords",
    oracle=DISCOVERED_STOP_ORACLE,
    doc="df-derived stopword list; per-doc stopword ratio vs source mean, low-ratio flag",
    tags=("quality", "text", "filter", "llm-pipeline"),
)
def qx238_discovered_stopwords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-calibrating stopword signal: qx156's Gopher rule needs a
    HAND-PICKED stopword list, which breaks on unknown languages and
    domain corpora — here the list is DISCOVERED from the corpus (the
    {STOP_DISCOVER_K} highest-document-frequency tokens: function
    words by definition), and each doc's stopword ratio is judged
    against ITS OWN SOURCE's mean (the qx220 batch-effect stance —
    an absolute threshold would mis-flag terse sources wholesale).
    Low ratio relative to source = keyword-stuffed lists, garble, or
    navigation debris.

    Plan shape: df ranking is a token-keyed exchange + TakeOrdered
    head (vocab-bounded); the discovered list and the groups-sized
    source means both BROADCAST back onto row-local projections — the
    corpus is scanned once for counting and once for scoring, with no
    data-sized shuffle beyond the per-doc count. Flag compares ROUNDED
    ratios so both engines make identical boundary calls."""
    docs = load_catalog(spark, sf_dir).table("documents")
    tok = docs.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    dfr = tok.groupBy("token").agg(F.count_distinct("doc_id").alias("df"))
    stop = (
        dfr.orderBy(F.col("df").desc(), "token")
        .limit(STOP_DISCOVER_K)
        .select("token")
    )
    per = (
        tok.join(F.broadcast(stop.withColumn("__s", F.lit(1))), "token", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.coalesce("__s", F.lit(0))).alias("n_stop"),
        )
    )
    scored = (
        docs.select("doc_id", "source")
        .join(per, "doc_id")
        .select(
            "doc_id",
            "source",
            F.round(F.col("n_stop").cast("double") / F.col("n_tokens"), 6).alias(
                "stop_ratio"
            ),
        )
    )
    src = scored.groupBy("source").agg(
        F.round(F.avg("stop_ratio"), 6).alias("src_mean_ratio")
    )
    return (
        scored.join(F.broadcast(src), "source")
        .select(
            "doc_id",
            "source",
            "stop_ratio",
            "src_mean_ratio",
            (F.col("stop_ratio") < STOP_FLAG_FACTOR * F.col("src_mean_ratio")).alias(
                "flagged"
            ),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# qx257: epoch-refilled token quota (token bucket with periodic reset)
# ---------------------------------------------------------------------------

REFILL_EPOCHS = 4  # docs partition into epochs by md5 (crawl cycles)
REFILL_BUDGET = 250  # tokens admitted per source per epoch

REFILL_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, source,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         CAST(CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS BIGINT)
              % {REFILL_EPOCHS} AS BIGINT) AS epoch
  FROM documents
),
cum AS (
  SELECT source, epoch, doc_id, n_tokens,
         sum(n_tokens) OVER (PARTITION BY source, epoch
                             ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
  FROM toks
)
SELECT source, epoch,
       CAST(count(*) AS BIGINT) AS n_seen,
       CAST(sum(CASE WHEN c <= {REFILL_BUDGET} THEN 1 ELSE 0 END) AS BIGINT) AS n_admitted,
       CAST(sum(CASE WHEN c <= {REFILL_BUDGET} THEN n_tokens ELSE 0 END) AS BIGINT)
         AS tokens_admitted
FROM cum
GROUP BY source, epoch
ORDER BY source, epoch
"""


@register(
    "qx257_epoch_refill_quota",
    oracle=REFILL_ORACLE,
    doc="token-bucket quota with per-epoch refill: prefix admission within (source, epoch)",
    tags=("curation", "quota", "sampling"),
)
def qx257_epoch_refill_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The refill semantics q100's quota deliberately deferred
    ('production would add a TTL to reopen budgets per crawl epoch'):
    each source's budget RESETS every epoch — documents hash into
    {REFILL_EPOCHS} epochs (md5 of the key: rerun-stable crawl-cycle
    assignment), and within each (source, epoch) the md5-ordered
    prefix whose running token sum fits {REFILL_BUDGET} is admitted.
    Output is the per-(source, epoch) admission ledger — the table
    that shows whether a budget starves a source every cycle or only
    under bursts.

    Scale shape: one (source, epoch)-partitioned cumsum window — the
    keys multiply, so partitions stay small and parallelism GROWS with
    epochs (never a global sort); the ledger rollup partial-aggregates.
    All-BIGINT arithmetic, exact oracle."""
    docs = load_catalog(spark, sf_dir).table("documents")
    epoch = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("bigint")
        % REFILL_EPOCHS
    )
    toks = docs.select(
        "source",
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n_tokens"),
        epoch.alias("epoch"),
    )
    w = (
        Window.partitionBy("source", "epoch")
        .orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = toks.withColumn("c", F.sum("n_tokens").over(w))
    admitted = F.col("c") <= REFILL_BUDGET
    return (
        cum.groupBy("source", "epoch")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_seen"),
            F.sum(admitted.cast("int")).cast("bigint").alias("n_admitted"),
            F.sum(F.when(admitted, F.col("n_tokens")).otherwise(0))
            .cast("bigint")
            .alias("tokens_admitted"),
        )
        .orderBy("source", "epoch")
    )


# ---------------------------------------------------------------------------
# qx268: cross-source overlap matrix (pairwise shared distinct n-grams)
# ---------------------------------------------------------------------------

XSRC_ORACLE = f"""
WITH toks AS (
  SELECT source, string_split(text, ' ') AS t FROM documents
),
grams AS (
  SELECT DISTINCT source,
         unnest(list_transform(
             generate_series(1, len(t) - {CONTAM_N - 1}),
             i -> list_aggregate(t[i:i+{CONTAM_N - 1}], 'string_agg', ' '))) AS g
  FROM toks WHERE len(t) >= {CONTAM_N}
),
sizes AS (SELECT source, CAST(count(*) AS BIGINT) AS n_grams FROM grams GROUP BY source),
shared AS (
  SELECT a.source AS source_a, b.source AS source_b,
         CAST(count(*) AS BIGINT) AS shared_grams
  FROM grams a JOIN grams b ON a.g = b.g AND a.source < b.source
  GROUP BY 1, 2
)
SELECT s.source_a, s.source_b, s.shared_grams,
       round(CAST(s.shared_grams AS DOUBLE)
             / CAST(least(sa.n_grams, sb.n_grams) AS DOUBLE), 6) AS containment
FROM shared s
JOIN sizes sa ON sa.source = s.source_a
JOIN sizes sb ON sb.source = s.source_b
ORDER BY s.source_a, s.source_b
"""


@register(
    "qx268_cross_source_overlap",
    oracle=XSRC_ORACLE,
    doc="pairwise shared distinct n-gram counts and containment between sources",
    tags=("quality", "decontamination", "curation"),
)
def qx268_cross_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cross-SOURCE contamination matrix: for every source pair,
    how many distinct {CONTAM_N}-grams they share and the containment
    fraction (shared / smaller source's gram set). q77 screens train
    against a benchmark; this screens the corpus against ITSELF — the
    query a curation team runs to find mirrored crawls, syndicated
    content, or a source that is secretly a subset of another before
    mixture weights are assigned (a duplicated source would otherwise
    be double-weighted).

    vs qx217 (the rare-shingle leakage matrix): qx217 counts DF-capped
    rare 3-grams — a sensitive tripwire for any shared text, but its
    cap deliberately throws away the denominators, so it cannot say
    "B ⊆ A". This one keeps ALL {CONTAM_N}-grams and reports
    containment against the SMALLER set — 1.0 is the subset-source
    signature the mixture-weight decision needs; the two reports are
    read together in a qx174-style data card.

    Scale shape: distinct (source, gram) — one gram-keyed exchange,
    vocab-bounded output (Heaps' law) — then a self-join ON GRAM: a
    gram present in k sources contributes C(k,2) pairs, and k is
    bounded by the source count (dozens), so join output ≤
    |gram vocab|·C(S,2)/…, never corpus-sized. The final matrix is
    S²-sized — metadata. Text never moves past the projection."""
    docs = load_catalog(spark, sf_dir).table("documents")
    grams = token_ngrams(docs, CONTAM_N, keys=("source",), distinct=True)
    sizes = grams.groupBy("source").agg(F.count(F.lit(1)).cast("bigint").alias("n_grams"))
    ga, gb = grams.alias("ga"), grams.alias("gb")
    shared = (
        ga.join(gb, (F.col("ga.g") == F.col("gb.g")) & (F.col("ga.source") < F.col("gb.source")))
        .groupBy(F.col("ga.source").alias("source_a"), F.col("gb.source").alias("source_b"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("shared_grams"))
    )
    sa = sizes.select(F.col("source").alias("source_a"), F.col("n_grams").alias("na"))
    sb = sizes.select(F.col("source").alias("source_b"), F.col("n_grams").alias("nb"))
    return (
        shared.join(sa, "source_a")
        .join(sb, "source_b")
        .select(
            "source_a",
            "source_b",
            "shared_grams",
            r6(
                F.col("shared_grams").cast("double")
                / F.least("na", "nb").cast("double")
            ).alias("containment"),
        )
        .orderBy("source_a", "source_b")
    )


# ---------------------------------------------------------------------------
# qx278: char-bigram familiarity (statistical quality score, no model)
# ---------------------------------------------------------------------------

FAMILIARITY_ORACLE = """
WITH pos AS (
  SELECT doc_id, source, substring(text, i, 2) AS g
  FROM documents, LATERAL (SELECT unnest(range(1, length(text))) AS i) ii
  WHERE length(text) >= 2
),
dg AS (
  SELECT doc_id, source, g, CAST(count(*) AS BIGINT) AS c
  FROM pos GROUP BY 1, 2, 3
),
gtab AS (SELECT g, CAST(sum(c) AS BIGINT) AS cg FROM dg GROUP BY g),
docfam AS (
  SELECT d.doc_id, d.source,
         CAST(sum(d.c) AS BIGINT) AS n_bigrams,
         sum(CAST(d.c AS HUGEINT) * CAST(gl.cg AS HUGEINT)) AS wsum
  FROM dg d JOIN gtab gl ON gl.g = d.g
  GROUP BY 1, 2
),
scored AS (
  SELECT doc_id, source, n_bigrams, wsum,
         round(CAST(wsum AS DOUBLE) / CAST(n_bigrams AS DOUBLE), 6) AS fam
  FROM docfam
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_bigrams) AS BIGINT) AS n_bigrams,
       round(CAST(sum(wsum) AS DOUBLE) / CAST(sum(n_bigrams) AS DOUBLE), 6)
         AS mean_familiarity,
       min(fam) AS min_familiarity,
       (min({'f': fam, 'd': doc_id})).d AS least_familiar_doc
FROM scored GROUP BY source
ORDER BY source
"""


@register(
    "qx278_char_bigram_familiarity",
    oracle=FAMILIARITY_ORACLE,
    doc="per-source mean/min corpus-frequency familiarity of char bigrams (model-free quality)",
    tags=("quality", "text", "scoring"),
)
def qx278_char_bigram_familiarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-free quality scoring: a document whose character bigrams
    are RARE in the corpus (mojibake, binary spill, wrong-language
    fragments, markup soup) scores low on mean corpus-frequency of its
    bigrams — the classic cheap proxy a 100-TB pipeline runs before any
    learned quality model (reference analog: the per-table statistics
    the reference fetches to plan work, bqfetch/bqfetch.py:430-455,
    generalized to content statistics). Reports, per source, the doc
    count, bigram mass, mean and min familiarity, and the least
    familiar document (the outlier a reviewer opens first).

    Exactness: the per-doc score multiplies decimal(19,0) OPERANDS
    (count × global-count — products reach corpus-bigram-total
    magnitude squared, far past int64 at 100 TB; the oracle mirrors
    with HUGEINT), sums exactly, and rounds ONCE after a single double
    division. Source means divide the exact decimal sums — never a
    float accumulation. min() over identically-rounded doubles is
    order-free; the argmin doc uses a (fam, doc_id) total order.

    Scale shape: ONE corpus scan. The (doc, bigram) count frame is
    materialized once with an eager localCheckpoint (budgeted in the
    action audit as the anti-double-scan device), then BOTH consumers
    — the vocab-bounded global bigram table and the scorer join — read
    the materialized frame instead of each re-deriving the corpus
    explode (the spelling rounds 9-10 shipped held two corpus scans;
    exchange reuse could not merge them because column pruning made
    the subtrees differ). The per-source rollup folds the argmin into
    the SAME aggregate via struct-min (both engines order structs
    field-lexicographically), so the scored frame also has exactly one
    consumer."""
    docs = load_catalog(spark, sf_dir).table("documents")
    pos = docs.filter(F.length("text") >= 2).select(
        "doc_id",
        "source",
        F.explode(
            F.expr("transform(sequence(1, length(text) - 1), i -> substring(text, i, 2))")
        ).alias("g"),
    )
    from pyspark.storagelevel import StorageLevel

    # DISK_ONLY checkpoint: the gram frame is corpus-scale (≈ docs ×
    # distinct-bigrams-per-doc rows), and the default MEMORY_AND_DISK
    # level OOMs the 100× census while UNROLLING deserialized blocks
    # (measured in the 100× census, scripts/scale_check.py
    # qx278_char_bigram_familiarity). Serialized-to-disk
    # writes through with no unroll buffer; both consumers then stream
    # the materialized blocks.
    dg = (
        pos.groupBy("doc_id", "source", "g")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .localCheckpoint(eager=True, storageLevel=StorageLevel.DISK_ONLY)
    )
    glob = dg.groupBy("g").agg(F.sum("c").cast("bigint").alias("cg"))
    docfam = (
        dg.join(F.broadcast(glob), "g")
        .groupBy("doc_id", "source")
        .agg(
            F.sum("c").cast("bigint").alias("n_bigrams"),
            F.sum(
                F.col("c").cast("decimal(19,0)") * F.col("cg").cast("decimal(19,0)")
            ).alias("wsum"),
        )
    )
    scored = docfam.select(
        "doc_id",
        "source",
        "n_bigrams",
        "wsum",
        r6(F.col("wsum").cast("double") / F.col("n_bigrams").cast("double")).alias("fam"),
    )
    # ONE per-source aggregate: the argmin rides a struct-min (both
    # engines compare structs field-lexicographically, and (fam,
    # doc_id) is a total order) instead of a second consumer of the
    # scored frame — a window/join spelling doubled the corpus scans.
    argmin = F.min(F.struct(F.col("fam").alias("f"), F.col("doc_id").alias("d")))
    return (
        scored.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_bigrams").cast("bigint").alias("n_bigrams"),
            r6(
                F.sum("wsum").cast("double") / F.sum(F.col("n_bigrams")).cast("double")
            ).alias("mean_familiarity"),
            F.min("fam").alias("min_familiarity"),
            argmin.alias("__m"),
        )
        .select(
            "source",
            "n_docs",
            "n_bigrams",
            "mean_familiarity",
            "min_familiarity",
            F.col("__m.d").alias("least_familiar_doc"),
        )
        .orderBy("source")
    )
