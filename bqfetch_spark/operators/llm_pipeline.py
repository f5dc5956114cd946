"""LLM-training-data pipeline operators over `documents` (SURVEY.md
§2.C C18/C20 + the dedup/text-analysis suite).

Scale stance (100 TB of documents):
- Exact dedup: hash-shuffle on the text key once; row_number keeps the
  smallest doc_id (deterministic, unlike dropDuplicates).
- MinHash-LSH: signatures are fixed-width (K longs) per doc — shuffle
  cost is O(docs × K), never O(docs²); candidate pairs come from
  band-bucket equi-joins.
- All tokenization/hashing is JVM-side (split/xxhash64/aggregate) — no
  Python in the scan path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from bqfetch_spark.catalog import load_catalog
from bqfetch_spark.functions.text import (
    CONTAM_N,
    SHINGLE_DF_CAP,
    drop_stop_shingles,
    token_ngrams,
)
from bqfetch_spark.operators.relational import r6
from bqfetch_spark.registry import register
from bqfetch_spark.session import shuffle_partitions

# ---------------------------------------------------------------------------
# C18 — exact dedup (deterministic keeper: min doc_id per text)
# ---------------------------------------------------------------------------

DEDUP_ORACLE = """
SELECT doc_id, lang, source, n_chars
FROM (
  SELECT doc_id, lang, source, n_chars,
         row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
  FROM documents
)
WHERE rn = 1
"""


def dedup_exact(df: DataFrame, n_partitions: int, order_col: str = "doc_id") -> DataFrame:
    """Exact dedup on `text` keeping the lowest `order_col` row.

    The exchange key is xxhash64(text) — 8 bytes, not the raw document
    — and collisions are resolved on the full text: the explicit
    repartition on `fp` alone satisfies the window's clustering
    requirement for (fp, text) (same fp ⇒ co-located), so Catalyst
    plans exactly ONE exchange, hashpartitioning(fp). The sort inside
    each partition orders by (fp, text, order_col): full-text
    comparisons happen only between rows whose 64-bit hashes tie."""
    w = Window.partitionBy("fp", "text").orderBy(order_col)
    return (
        df.withColumn("fp", F.xxhash64("text"))
        .repartition(n_partitions, "fp")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn", "fp")
    )


@register("q40_exact_dedup", oracle=DEDUP_ORACLE, tags=("dedup",))
def q40_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup keeping the lowest doc_id per identical text,
    shuffled on the 8-byte xxhash64(text) pre-key (see dedup_exact)."""
    docs = load_catalog(spark, sf_dir).table("documents")
    return dedup_exact(docs, shuffle_partitions(spark)).select(
        "doc_id", "lang", "source", "n_chars"
    )


# ---------------------------------------------------------------------------
# C20 — text statistics per language
# ---------------------------------------------------------------------------

TEXTSTATS_ORACLE = """
SELECT
  lang,
  count(*) AS n_docs,
  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
  round(CAST(sum(len(string_split(text, ' '))) AS DOUBLE) / count(*), 6) AS avg_tokens,
  CAST(sum(length(text)) AS BIGINT) AS total_chars,
  CAST(max(length(text)) AS BIGINT) AS max_chars
FROM documents
GROUP BY lang
"""


@register("q41_text_stats", oracle=TEXTSTATS_ORACLE, tags=("text",))
def q41_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace tokenization + per-language aggregates, all codegen'd
    JVM expressions."""
    docs = load_catalog(spark, sf_dir).table("documents")
    n_tok = F.size(F.split(F.col("text"), " ")).cast("bigint")
    n_chr = F.length("text").cast("bigint")
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(n_tok).cast("bigint").alias("total_tokens"),
        r6(F.sum(n_tok).cast("double") / F.count(F.lit(1))).alias("avg_tokens"),
        F.sum(n_chr).cast("bigint").alias("total_chars"),
        F.max(n_chr).cast("bigint").alias("max_chars"),
    )


# ---------------------------------------------------------------------------
# Token counting — whitespace + BPE-ish subword estimate
# ---------------------------------------------------------------------------

BPE_PATTERN = "[A-Za-z0-9]{1,4}|[^A-Za-z0-9 ]"

TOKENS_ORACLE = f"""
SELECT
  doc_id,
  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens_ws,
  CAST(len(regexp_extract_all(text, '{BPE_PATTERN}')) AS BIGINT) AS n_tokens_bpe,
  CAST(length(text) AS BIGINT) AS n_chars,
  round(CAST(length(text) AS DOUBLE) / len(string_split(text, ' ')), 6) AS chars_per_token
FROM documents
"""


@register("q42_token_count", oracle=TOKENS_ORACLE, tags=("text",))
def q42_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two tokenizers per doc: whitespace words and a BPE-ish greedy
    ≤4-char subword regex (the standard pre-tokenizer shape). Pure
    regexp_extract_all — no UDF."""
    docs = load_catalog(spark, sf_dir).table("documents")
    n_ws = F.size(F.split(F.col("text"), " ")).cast("bigint")
    n_bpe = F.size(F.regexp_extract_all(F.col("text"), F.lit(BPE_PATTERN), 0)).cast("bigint")
    return docs.select(
        "doc_id",
        n_ws.alias("n_tokens_ws"),
        n_bpe.alias("n_tokens_bpe"),
        F.length("text").cast("bigint").alias("n_chars"),
        r6(F.length("text").cast("double") / n_ws).alias("chars_per_token"),
    )


# ---------------------------------------------------------------------------
# Quality scoring — length / punctuation / stopword ratios
# ---------------------------------------------------------------------------

STOPWORD_PATTERN = r"\b(the|a|of|and|to|is|in|it)\b"

QUALITY_ORACLE = rf"""
SELECT
  doc_id,
  n_tokens,
  round(stop_ratio, 6) AS stop_ratio,
  round(punct_ratio, 6) AS punct_ratio,
  round(0.4 * stop_ratio + 0.3 * least(1.0, CAST(n_tokens AS DOUBLE) / 100) + 0.3 * (1 - punct_ratio), 6) AS quality_score
FROM (
  SELECT
    doc_id,
    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
    CAST(len(regexp_extract_all(text, '{STOPWORD_PATTERN}')) AS DOUBLE)
      / len(string_split(text, ' ')) AS stop_ratio,
    CAST(length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS DOUBLE)
      / length(text) AS punct_ratio
  FROM documents
)
"""


@register("q43_quality_score", oracle=QUALITY_ORACLE, tags=("text", "quality"))
def q43_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic doc-quality score: stopword density (fluency proxy),
    length saturation, punctuation noise. Identical scalar expression
    tree on both engines → bit-equal doubles."""
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
    quality = (
        F.lit(0.4) * stop_ratio
        + F.lit(0.3) * F.least(F.lit(1.0), n_tokens.cast("double") / 100)
        + F.lit(0.3) * (F.lit(1) - punct_ratio)
    )
    return docs.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        r6(stop_ratio).alias("stop_ratio"),
        r6(punct_ratio).alias("punct_ratio"),
        r6(quality).alias("quality_score"),
    )


# ---------------------------------------------------------------------------
# Language identification — marker-word n-gram heuristic
# ---------------------------------------------------------------------------

LANG_MARKERS = {
    "en": r"\b(the|and|of|to|is|in|it|that)\b",
    "es": r"\b(el|la|de|que|y|en|los|una)\b",
    "de": r"\b(der|die|das|und|ist|nicht|ein|zu)\b",
    "fr": r"\b(le|les|des|et|un|est|une|dans)\b",
}
CJK_PATTERN = "[一-鿿]"

_SCORE_COLS = ", ".join(
    f"CAST(len(regexp_extract_all(text, '{pat}')) AS BIGINT) AS s_{lang}"
    for lang, pat in LANG_MARKERS.items()
)

LANGID_ORACLE = f"""
SELECT
  doc_id,
  s_en, s_es, s_de, s_fr, s_zh,
  CASE
    WHEN s_zh > 0 THEN 'zh'
    WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en'
    WHEN s_es >= s_de AND s_es >= s_fr THEN 'es'
    WHEN s_de >= s_fr THEN 'de'
    ELSE 'fr'
  END AS predicted_lang
FROM (
  SELECT doc_id, {_SCORE_COLS},
         CAST(len(regexp_extract_all(text, '{CJK_PATTERN}')) AS BIGINT) AS s_zh
  FROM documents
)
"""


@register("q44_lang_id", oracle=LANGID_ORACLE, tags=("text", "langid"))
def q44_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram/marker-word language ID: per-language stopword hit counts
    + CJK codepoint detection, argmax with a fixed preference order.
    (The fixture text is synthetic word-salad, so this classifies the
    *content*, independent of the stored `lang` label.)"""
    docs = load_catalog(spark, sf_dir).table("documents")
    scored = docs.select(
        "doc_id",
        *[
            F.size(F.regexp_extract_all(F.col("text"), F.lit(pat), 0)).cast("bigint").alias(f"s_{lang}")
            for lang, pat in LANG_MARKERS.items()
        ],
        F.size(F.regexp_extract_all(F.col("text"), F.lit(CJK_PATTERN), 0)).cast("bigint").alias("s_zh"),
    )
    predicted = (
        F.when(F.col("s_zh") > 0, "zh")
        .when(
            (F.col("s_en") >= F.col("s_es"))
            & (F.col("s_en") >= F.col("s_de"))
            & (F.col("s_en") >= F.col("s_fr")),
            "en",
        )
        .when((F.col("s_es") >= F.col("s_de")) & (F.col("s_es") >= F.col("s_fr")), "es")
        .when(F.col("s_de") >= F.col("s_fr"), "de")
        .otherwise("fr")
    )
    return scored.select(
        "doc_id", "s_en", "s_es", "s_de", "s_fr", "s_zh", predicted.alias("predicted_lang")
    )


# ---------------------------------------------------------------------------
# Document fingerprint — polynomial rolling hash over tokens
# ---------------------------------------------------------------------------

FP_MOD = 2147483647  # 2^31 - 1 (Mersenne prime); keeps acc*131 < 2^39, exact in int64
FP_MULT = 131

FINGERPRINT_ORACLE = f"""
SELECT
  doc_id,
  CAST(list_reduce(
    list_prepend(CAST(0 AS BIGINT),
      list_transform(string_split(text, ' '),
                     t -> CAST(ascii(t) * 31 + length(t) AS BIGINT))),
    (acc, c) -> (acc * {FP_MULT} + c) % {FP_MOD}
  ) AS BIGINT) AS fingerprint
FROM documents
"""


@register("q45_fingerprint", oracle=FINGERPRINT_ORACLE, tags=("text", "fingerprint"))
def q45_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive rolling hash over the token stream (content
    fingerprint): acc = (acc*131 + code(token)) mod 2^31-1. Pure
    higher-order array functions — expressible in both engines, so it
    is oracle-checked (unlike xxhash-based fingerprints)."""
    docs = load_catalog(spark, sf_dir).table("documents")
    codes = F.transform(
        F.split(F.col("text"), " "),
        lambda t: (F.ascii(t) * 31 + F.length(t)).cast("long"),
    )
    fp = F.aggregate(
        codes,
        F.lit(0).cast("long"),
        lambda acc, c: (acc * FP_MULT + c) % FP_MOD,
    )
    return docs.select("doc_id", fp.cast("bigint").alias("fingerprint"))


# ---------------------------------------------------------------------------
# N-gram Jaccard near-dup candidates (shared-shingle join)
# ---------------------------------------------------------------------------

NGRAM_JACCARD_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
grams AS (
  SELECT doc_id,
         list_distinct(list_transform(generate_series(1, len(t) - 2),
                                      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS gs
  FROM toks
  WHERE len(t) >= 3
),
sizes AS (
  SELECT doc_id, len(gs) AS n_grams FROM grams
),
flat AS (
  SELECT doc_id, g FROM (
    SELECT doc_id, unnest(gs) AS g FROM grams
  )
  QUALIFY count(*) OVER (PARTITION BY g) <= {SHINGLE_DF_CAP}
),
shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
  FROM flat a JOIN flat b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT
  doc_a,
  doc_b,
  n_shared,
  round(CAST(n_shared AS DOUBLE) / (sa.n_grams + sb.n_grams - n_shared), 6) AS jaccard
FROM shared
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE n_shared >= 2
"""


@register("q46_ngram_jaccard", oracle=NGRAM_JACCARD_ORACLE, tags=("dedup", "jaccard"))
def q46_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-3-gram Jaccard similarity for candidate near-dup pairs.
    Candidates come from a shared-shingle equi-join (never O(n²) — the
    join key is the shingle), then Jaccard = |∩| / (|A|+|B|-|∩|).
    Stop-shingle pruning: shingles present in > SHINGLE_DF_CAP docs
    are dropped before the self-join (the join cost is Σ df², so hot
    shingles dominate it — the cap removes 84% of pair comparisons at
    sf0.1; at 100 TB it is the difference between a bounded join and a
    quadratic blowup on boilerplate shingles). True near-dups share
    many RARE shingles, so they survive (planted-dup pytest). The
    DuckDB oracle applies the identical cap; n_grams (the Jaccard
    denominator) still counts ALL shingles."""
    docs = load_catalog(spark, sf_dir).table("documents")
    np = shuffle_partitions(spark)
    # shuffle RAW text first, split after: the one-file fixture scan is
    # a single input partition, so any expression before the exchange
    # runs on one task — with the exchange first, tokenization runs on
    # every core (measured 2× on the tokenize+gram stage). Per-doc gram
    # dedup rides that doc_id exchange; pre-shuffling by the join key
    # lets the self-join's two sides, the stop-shingle window and the
    # sizes aggregate all ride ONE exchange: scan→explode→dedup runs once
    fr = token_ngrams(
        docs.select("doc_id", "text").repartition(np, "doc_id"), 3, distinct=True
    ).repartition(np, "g")
    # n_grams (the Jaccard denominator) counts ALL distinct grams —
    # computed before the DF cap, off the same g-exchange (partial
    # count per partition, then a tiny doc_id shuffle)
    sizes = fr.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_grams"))
    flat = drop_stop_shingles(fr)
    a = flat.alias("a")
    b = flat.alias("b")
    shared = (
        a.join(b.hint("shuffle_hash"), (F.col("a.g") == F.col("b.g")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= 2)
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    return (
        shared.join(F.broadcast(sa), F.col("sa.doc_id") == F.col("doc_a"))
        .join(F.broadcast(sb), F.col("sb.doc_id") == F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            "n_shared",
            r6(
                F.col("n_shared").cast("double")
                / (F.col("sa.n_grams") + F.col("sb.n_grams") - F.col("n_shared"))
            ).alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# MinHash + LSH near-dup candidates (md5-derived universal hashes —
# cross-engine exact since round 10; VERDICT r9 #2)
# ---------------------------------------------------------------------------

MINHASH_K = 16  # signature width
LSH_BANDS = 4  # 4 bands × 4 rows: catches J≈0.6+ pairs w.h.p.
MH_P = 2147483647  # Mersenne prime 2^31-1: a*h+b stays in BIGINT
MH_R = MINHASH_K // LSH_BANDS  # rows per band
MH_B = LSH_BANDS  # alias used by the qx264 exact-verify sibling
MH_SHINGLE = 3  # word-gram width


def _mh_coefs() -> list[tuple[int, int]]:
    """Fixed (a, b) for the K universal-hash permutations
    h_i(x) = (a_i·x + b_i) mod P — compile-time constants shared
    verbatim with the oracles (no RNG, no seed plumbing)."""
    return [(2 * i + 1, i * 12345 + 6789) for i in range(MINHASH_K)]


def md5_bigint(col, chars: int = 15):
    """First `chars` hex chars of md5 as BIGINT — the repo's
    cross-engine hash primitive (DuckDB twin: CAST('0x' ||
    substring(md5(x), 1, chars) AS BIGINT)). 15 chars = 60 clean
    bits, comfortably under 2^63."""
    return F.conv(F.substring(F.md5(col), 1, chars), 16, 10).cast("bigint")


def minhash_signatures(docs: DataFrame, k: int = MINHASH_K) -> DataFrame:
    """doc_id → array<long> of k min-hashes over token-3-gram shingles.

    Round-10 graduation (VERDICT r9 #2): h_i(shingle) =
    (a_i·h31 + b_i) mod 2^31−1 over h31 = the shingle's 60-bit md5
    prefix mod P — the qx264 recipe — replacing seeded xxhash64, which
    has no DuckDB spelling and kept the whole q47 family rows-only
    since round 2. Every consumer (q47's one-shot join, qx159's
    streaming band store) moves in lockstep because they share these
    helpers, and q47 now carries a full value-hash oracle. It is also
    cheaper per shingle: ONE md5 + k integer mul-adds replaces k
    seeded xxhash64 string passes.

    Spelled as flat shingle rows + k codegen'd min()
    aggregates riding one doc_id exchange: the per-doc-array spelling
    (transform lambda + array_min × k) runs in Catalyst's per-element
    interpreter and measured ~2× slower on the same data. min() over
    duplicate shingles equals min() over distinct ones, so no dedup
    is needed. Short docs (< 3 tokens) get one clamped shingle
    (``pad_short``).
    Per-doc state is k longs; scales linearly in corpus size.
    """
    flat = token_ngrams(
        docs.select("doc_id", "text").repartition(
            shuffle_partitions(docs.sparkSession), "doc_id"
        ),
        MH_SHINGLE,
        pad_short=True,
    ).select("doc_id", (md5_bigint(F.col("g")) % MH_P).alias("h31"))
    sigs = flat.groupBy("doc_id").agg(
        *[
            F.min((F.lit(a) * F.col("h31") + F.lit(b)) % MH_P).alias(f"h{i}")
            for i, (a, b) in enumerate(_mh_coefs()[:k])
        ]
    )
    return sigs.select(
        "doc_id", F.array(*[F.col(f"h{i}") for i in range(k)]).alias("signature")
    )


def lsh_bands(sigs: DataFrame) -> DataFrame:
    """Signature frame → one row per (doc_id, band, bucket) with the
    signature carried along: bucket = 60-bit md5 prefix of the band's
    comma-joined signature slice, as BIGINT — keeps the streaming band
    store at 8 bytes/key (vs a 32-char md5 string). A 2^-60 bucket
    collision only adds a spurious LOW-agreement candidate pair (a few
    dozen fleet-wide even at 10^10 docs), and the oracle spells the
    identical bucket so cross-engine parity is unaffected. Shared by
    the one-shot pair join (q47) and the incremental band store
    (streaming/neardup.py)."""
    rows_per_band = MINHASH_K // LSH_BANDS
    return sigs.select(
        "doc_id",
        "signature",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        md5_bigint(
                            F.concat_ws(
                                ",",
                                F.transform(
                                    F.slice(
                                        "signature", b * rows_per_band + 1, rows_per_band
                                    ),
                                    lambda x: x.cast("string"),
                                ),
                            )
                        ).alias("bucket"),
                    )
                    for b in range(LSH_BANDS)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "signature", "bb.band", "bb.bucket")


def est_jaccard_col() -> "F.Column":
    """Signature-agreement Jaccard estimate over (sig_a, sig_b)."""
    agree = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda x, y: x == y),
            lambda eq: eq,
        )
    )
    return r6(agree.cast("double") / MINHASH_K)


def _q47_oracle() -> str:
    """q47's DuckDB twin, including the PADDED short-doc shingles
    (clamp-by-repeat-last-token) the Spark helper applies — qx264's
    oracle FILTERS short docs instead, the one semantic difference
    between the siblings besides est-vs-true Jaccard."""
    mins = ",\n         ".join(
        f"min(({a} * h31 + {b}) % {MH_P}) AS s{i}"
        for i, (a, b) in enumerate(_mh_coefs())
    )
    rpb = MINHASH_K // LSH_BANDS
    band_keys = " UNION ALL ".join(
        "SELECT doc_id, {b} AS band, "
        "CAST('0x' || substring(md5({key}), 1, 15) AS BIGINT) AS bucket FROM sig".format(
            b=b,
            key=" || ',' || ".join(
                f"CAST(s{b * rpb + r} AS VARCHAR)" for r in range(rpb)
            ),
        )
        for b in range(LSH_BANDS)
    )
    agree = " + ".join(
        f"CASE WHEN sa.s{i} = sb.s{i} THEN 1 ELSE 0 END" for i in range(MINHASH_K)
    )
    return f"""
WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w0 FROM documents),
pad AS (
  SELECT doc_id,
         list_concat(w0, [w0[len(w0)], w0[len(w0)]]) AS w,
         greatest(len(w0) - 2, 1) AS m
  FROM tok
),
grams AS (
  SELECT doc_id, array_to_string(w[i:i+2], ' ') AS g
  FROM pad, LATERAL (SELECT unnest(range(1, m + 1)) AS i) ii
),
hashed AS (
  SELECT doc_id, CAST('0x' || substring(md5(g), 1, 15) AS BIGINT) % {MH_P} AS h31
  FROM grams
),
sig AS (
  SELECT doc_id,
         {mins}
  FROM hashed GROUP BY doc_id
),
bands AS ({band_keys}),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
)
SELECT p.doc_a, p.doc_b,
       round(CAST({agree} AS DOUBLE) / {MINHASH_K}.0, 6) AS est_jaccard
FROM pairs p
JOIN sig sa ON sa.doc_id = p.doc_a
JOIN sig sb ON sb.doc_id = p.doc_b
ORDER BY p.doc_a, p.doc_b
"""


@register(
    "q47_minhash_lsh_pairs",
    oracle=_q47_oracle(),
    doc="MinHash-LSH near-dup candidates with signature-agreement Jaccard estimate",
    tags=("dedup", "minhash", "lsh"),
)
def q47_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup candidates: band the K-wide signature into
    LSH_BANDS buckets, equi-join on (band, bucket-hash), then estimate
    Jaccard as the fraction of agreeing signature positions — the
    CHEAP estimator path (its sibling qx264 pays the gram re-join for
    TRUE Jaccard on the same candidates).

    FULL VALUE-HASH ORACLE since round 10 (VERDICT r9 #2, rows-only
    through r9): signatures are md5-derived universal hashes
    (minhash_signatures), band buckets are md5-prefix BIGINTs
    (lsh_bands), and the estimate is an integer agreement count over
    2^4 — every value bit-matches DuckDB. agree/16 is a dyadic
    rational, so even the division is exact in both engines. The
    streaming twin qx159 rides the same helpers and stays bit-equal
    (pytest-gated union equality)."""
    docs = load_catalog(spark, sf_dir).table("documents")
    banded = lsh_bands(minhash_signatures(docs))
    a = banded.alias("a")
    b = banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.signature").alias("sig_a"),
            F.col("b.signature").alias("sig_b"),
        )
        .distinct()
    )
    return pairs.select(
        "doc_a",
        "doc_b",
        est_jaccard_col().alias("est_jaccard"),
    ).orderBy("doc_a", "doc_b")


# ---------------------------------------------------------------------------
# SimHash (60-bit md5 — cross-engine exact since round 10)
# ---------------------------------------------------------------------------

SH64_BITS = 60  # md5 supplies 60 clean bits (15 hex chars)
SH64_BAND_BITS = 15  # 4 bands of 15 bits
SH64_BANDS = SH64_BITS // SH64_BAND_BITS
SH64_MAXHAM = 4  # qx266: report pairs within this Hamming distance

# Shared oracle CTE chain: (doc, token, count) → 60 md5 bits →
# frequency-weighted integer bit votes → signature. q48 SELECTs the
# signature; qx266 appends band slicing + the Hamming pair join.
SH64_SIG_CTES = f"""tok AS (
  SELECT doc_id, w, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
  GROUP BY 1, 2
),
h AS (
  SELECT doc_id, c,
         CAST('0x' || substring(md5(w), 1, 15) AS BIGINT) AS hv
  FROM tok
),
votes AS (
  SELECT doc_id, j.j,
         sum(CASE WHEN (hv >> j.j) & 1 = 1 THEN c ELSE -c END) AS v
  FROM h, (SELECT unnest(range({SH64_BITS})) AS j) j
  GROUP BY 1, 2
),
sig AS (
  SELECT doc_id,
         sum(CASE WHEN v >= 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS s
  FROM votes GROUP BY doc_id
)"""


def sh64_signatures(docs: DataFrame) -> DataFrame:
    """doc_id → 60-bit SimHash signature ``s``: each distinct token
    votes its 60 md5 bits weighted by occurrence count (+c / −c); the
    signature takes the sign of each integer vote (ties → bit set).
    Zero floating point anywhere, so the value bit-matches DuckDB's
    SH64_SIG_CTES. Spark spells the 60 bit-votes as CASE-sum columns
    in a single doc-keyed aggregate — map-side partial aggregation, no
    60-way row blowup. Shared by q48 (per-doc fingerprint) and qx266
    (banded Hamming pair join)."""
    tok = (
        docs.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    hv = F.conv(F.substring(F.md5("w"), 1, 15), 16, 10).cast("bigint")
    h = tok.select("doc_id", "c", hv.alias("hv"))
    votes = h.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("hv"), j).bitwiseAND(F.lit(1)) == 1, F.col("c"))
                .otherwise(-F.col("c"))
            ).alias(f"v{j}")
            for j in range(SH64_BITS)
        ]
    )
    sig_expr = None
    for j in range(SH64_BITS):
        term = F.when(F.col(f"v{j}") >= 0, F.lit(1).cast("bigint") * (1 << j)).otherwise(
            F.lit(0).cast("bigint")
        )
        sig_expr = term if sig_expr is None else sig_expr + term
    return votes.select("doc_id", sig_expr.alias("s"))


SIMHASH_ORACLE = f"""
WITH {SH64_SIG_CTES}
SELECT doc_id, CAST(s AS BIGINT) AS simhash FROM sig ORDER BY doc_id
"""


@register(
    "q48_simhash",
    oracle=SIMHASH_ORACLE,
    doc="per-document SimHash fingerprint (60 md5 bits, frequency-weighted votes)",
    tags=("dedup", "simhash"),
)
def q48_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash fingerprint per document: each token votes its hash's
    bit pattern weighted by occurrence count; the fingerprint takes
    the majority sign per bit. Near-dups then differ in few bits.

    FULL VALUE-HASH ORACLE since round 10 (VERDICT r9 #2, rows-only
    through r9): re-spelled from 64 xxhash64 bits to the 60-bit md5
    machinery shared with qx266 (sh64_signatures) — integer votes,
    ``>= 0`` tie rule, no floating point, so every fingerprint
    bit-matches DuckDB. One doc-keyed aggregate; scales linearly."""
    docs = load_catalog(spark, sf_dir).table("documents")
    return sh64_signatures(docs).select("doc_id", F.col("s").alias("simhash"))


# ---------------------------------------------------------------------------
# Token frequencies — explode / lateral-view shape (C20 companion)
# ---------------------------------------------------------------------------

TOKEN_FREQ_ORACLE = """
SELECT token, n_docs, n_occurrences
FROM (
  SELECT
    token,
    count(DISTINCT doc_id) AS n_docs,
    count(*) AS n_occurrences,
    row_number() OVER (ORDER BY count(*) DESC, token) AS rn
  FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS token
    FROM documents
  )
  GROUP BY token
)
WHERE rn <= 25
"""


@register("q34_token_frequencies", oracle=TOKEN_FREQ_ORACLE, tags=("text", "explode"))
def q34_token_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary profile: explode tokens → document frequency +
    collection frequency, top-25 (deterministic tie-break on token).
    The explode shuffles once on token; counts are partial-aggregated
    map-side so the shuffle carries (token, partial counts), not rows.
    The top-25 is orderBy().limit() — Spark plans TakeOrderedAndProject
    (per-partition heaps, merge 25 rows at the driver), NOT a global
    unpartitioned window, which would sort the whole vocabulary in one
    task."""
    docs = load_catalog(spark, sf_dir).table("documents")
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    counts = toks.groupBy("token").agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.count(F.lit(1)).alias("n_occurrences"),
    )
    return (
        counts.orderBy(F.col("n_occurrences").desc(), F.col("token"))
        .limit(25)
        .select("token", "n_docs", "n_occurrences")
    )


# ---------------------------------------------------------------------------
# Incremental (delta-style) dedup: new batch vs. existing corpus
# ---------------------------------------------------------------------------

INCR_DEDUP_ORACLE = """
WITH corpus AS (
  SELECT text FROM documents WHERE doc_id % 10 < 8
),
inc AS (
  SELECT doc_id, lang, source, n_chars, text,
         row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
  FROM documents WHERE doc_id % 10 >= 8
)
SELECT doc_id, lang, source, n_chars
FROM inc
WHERE rn = 1
  AND NOT EXISTS (SELECT 1 FROM corpus c WHERE c.text = inc.text)
"""


@register("q66_incremental_dedup", oracle=INCR_DEDUP_ORACLE, tags=("dedup", "incremental"))
def q66_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-style incremental dedup: an incoming batch (docs with
    doc_id % 10 >= 8 stand in for today's crawl) is deduped (a) within
    itself and (b) against the existing corpus, via a single left-anti
    join. The corpus side carries only (fingerprint, text) — at 100 TB
    the fingerprint store is the persisted artifact (parquet bucketed
    by fp), so each nightly batch shuffles ONLY the new docs plus an
    8-byte-keyed probe of the store; history is never rescanned. Join
    key is (fp, text): fp short-circuits the comparison, text equality
    makes it collision-proof — semantically identical to a text-only
    anti join since fp = xxhash64(text)."""
    docs = load_catalog(spark, sf_dir).table("documents")
    corpus_fp = (
        docs.filter(F.col("doc_id") % 10 < 8)
        .select(F.xxhash64("text").alias("fp"), "text")
    )
    incoming = dedup_exact(
        docs.filter(F.col("doc_id") % 10 >= 8), shuffle_partitions(spark)
    ).withColumn("fp", F.xxhash64("text"))
    return incoming.join(corpus_fp, ["fp", "text"], "left_anti").select(
        "doc_id", "lang", "source", "n_chars"
    )


# ---------------------------------------------------------------------------
# Bloom-prefiltered incremental dedup — the 100 TB probe-traffic cut
# ---------------------------------------------------------------------------

# Bloom geometry: m bits as m/64 packed longs, k hash functions. At
# sf0.01 (400 corpus docs) 2^17 bits / k=5 gives fpp ~1e-9; at real
# scale size m ≈ 10 bits per stored fingerprint for ~1% fpp — the
# filter DataFrame is always m/64 rows regardless of corpus size.
BLOOM_BITS = 1 << 17
BLOOM_WORDS = BLOOM_BITS // 64
BLOOM_K = 5

BLOOM_LEDGER_ORACLE = """
WITH corpus AS (
  SELECT DISTINCT text FROM documents WHERE doc_id % 10 < 8
),
inc AS (
  SELECT doc_id, text,
         row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
  FROM documents WHERE doc_id % 10 >= 8
)
SELECT doc_id,
       CAST(rn > 1 AS BOOLEAN) AS is_dup_in_batch,
       CAST(EXISTS (SELECT 1 FROM corpus c WHERE c.text = inc.text) AS BOOLEAN)
         AS is_in_corpus,
       CAST(rn = 1 AND NOT EXISTS (SELECT 1 FROM corpus c WHERE c.text = inc.text)
            AS BOOLEAN) AS is_new
FROM inc
"""


def _bloom_positions(fp: "F.Column", seed: int):
    """Bit position i for fingerprint fp: xxhash64(fp, seed) mod m."""
    return F.pmod(F.xxhash64(fp, F.lit(seed)), F.lit(BLOOM_BITS))


def build_bloom(corpus_fp: DataFrame, fp_col: str = "fp") -> DataFrame:
    """Fold a fingerprint column into a Bloom filter DATAFRAME: m/64
    rows of (word_idx, bits int64). Pure bit_or aggregation — built
    distributed (partial agg collapses each scan task to ≤m/64 cells
    before the exchange), never collected to the driver, and broadcast
    to probes because it is at most BLOOM_WORDS rows."""
    pos = corpus_fp.select(
        F.explode(
            F.array(*[_bloom_positions(F.col(fp_col), s) for s in range(BLOOM_K)])
        ).alias("pos")
    )
    return pos.select(
        (F.col("pos") / 64).cast("long").alias("word_idx"),
        F.expr("shiftleft(1L, cast(pos % 64 as int))").alias("bit"),
    ).groupBy("word_idx").agg(F.bit_or("bit").alias("bits"))


def bloom_maybe_contains(probe: DataFrame, bloom: DataFrame, fp_col: str = "fp") -> DataFrame:
    """Append `bloom_maybe` to `probe`: True iff ALL k bit positions of
    fp are set (no false negatives; false positives at the filter's
    fpp). The bloom side is broadcast, so the probe stream is scanned
    once with zero exchange."""
    k_pos = probe.select(
        fp_col,
        F.posexplode(
            F.array(*[_bloom_positions(F.col(fp_col), s) for s in range(BLOOM_K)])
        ).alias("k_i", "pos"),
    ).select(
        fp_col,
        "k_i",
        (F.col("pos") / 64).cast("long").alias("word_idx"),
        F.expr("shiftleft(1L, cast(pos % 64 as int))").alias("bit"),
    )
    hits = (
        k_pos.join(F.broadcast(bloom), "word_idx", "left")
        .withColumn(
            "hit",
            F.coalesce(F.col("bits").bitwiseAND(F.col("bit")) != 0, F.lit(False)),
        )
        .groupBy(fp_col)
        .agg(F.bool_and("hit").alias("bloom_maybe"))
    )
    return probe.join(hits, fp_col)


@register(
    "qx155_bloom_prefilter_dedup",
    oracle=BLOOM_LEDGER_ORACLE,
    doc="Incremental-dedup audit ledger with a distributed Bloom prefilter",
    tags=("dedup", "incremental", "bloom"),
)
def qx155_bloom_prefilter_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup with a Bloom prefilter in front of the exact
    corpus probe — the standard trick for cutting anti-join traffic at
    100 TB. The corpus fingerprint store folds into an m-bit Bloom
    filter represented as a DATAFRAME of m/64 packed-long words (a
    bit_or groupBy — built distributed, broadcast to the wave). Wave
    docs whose k positions are not all set are DEFINITELY new: they
    skip the corpus join entirely. Only bloom-positive docs (true dups
    + fpp false positives) reach the exact (fp, text) join, so for a
    mostly-new crawl the store probe shrinks from |wave| rows to
    ~|dups| + fpp·|wave|. The RESULT is exact regardless of fpp —
    Bloom negatives are guaranteed absent, and positives are settled
    by the exact join — which is why this approximate structure still
    carries a full value-hash oracle. Output is the per-doc audit
    ledger (dup-in-batch / in-corpus / new) rather than q66's
    survivors-only frame."""
    docs = load_catalog(spark, sf_dir).table("documents")
    corpus_fp = (
        docs.filter(F.col("doc_id") % 10 < 8)
        .select(F.xxhash64("text").alias("fp"), "text")
    )
    bloom = build_bloom(corpus_fp)

    w = Window.partitionBy("fp", "text").orderBy("doc_id")
    incoming = (
        docs.filter(F.col("doc_id") % 10 >= 8)
        .withColumn("fp", F.xxhash64("text"))
        .withColumn("is_dup_in_batch", F.row_number().over(w) > 1)
        .select("doc_id", "fp", "text", "is_dup_in_batch")
    )
    flagged = bloom_maybe_contains(incoming, bloom)

    # Exact corpus probe ONLY for bloom-positive rows; bloom-negative
    # rows are in_corpus=False with no join at all.
    maybe = flagged.filter(F.col("bloom_maybe"))
    confirmed = maybe.join(
        corpus_fp.select("fp", "text").distinct(),
        ["fp", "text"],
        "left_semi",
    ).select("doc_id", F.lit(True).alias("in_corpus_exact"))
    # join strategy deliberately left to Catalyst/AQE: `confirmed` is
    # ~|true dups| rows — broadcastable on a mostly-new crawl, but a
    # heavy-dup wave needs the shuffle join AQE will pick instead
    return (
        flagged.join(confirmed, "doc_id", "left")
        .select(
            "doc_id",
            "is_dup_in_batch",
            F.coalesce("in_corpus_exact", F.lit(False)).alias("is_in_corpus"),
            (
                ~F.col("is_dup_in_batch")
                & ~F.coalesce("in_corpus_exact", F.lit(False))
            ).alias("is_new"),
        )
    )


# ---------------------------------------------------------------------------
# Segment-level dedup (CCNet-style): drop repeated spans, keep first
# ---------------------------------------------------------------------------

SEGMENT_WORDS = 10

SEGMENT_DEDUP_ORACLE = f"""
WITH words AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
),
seg AS (
  SELECT doc_id, i AS seg_idx,
         array_to_string(
           list_slice(w, i * {SEGMENT_WORDS} + 1, i * {SEGMENT_WORDS} + {SEGMENT_WORDS}),
           ' ') AS seg
  FROM words,
       unnest(range(CAST(ceil(len(w) / {SEGMENT_WORDS}.0) AS BIGINT))) t(i)
),
marked AS (
  SELECT doc_id, seg_idx, seg,
         row_number() OVER (PARTITION BY seg ORDER BY doc_id, seg_idx) AS rn
  FROM seg
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_segments,
       CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       coalesce(string_agg(CASE WHEN rn = 1 THEN seg END, ' ' ORDER BY seg_idx), '')
         AS kept_text
FROM marked
GROUP BY doc_id
"""


@register(
    "qx157_segment_dedup",
    oracle=SEGMENT_DEDUP_ORACLE,
    doc="CCNet-style segment-level dedup: corpus-wide first occurrence wins",
    tags=("dedup", "text"),
)
def qx157_segment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document dedup in the CCNet mold: each doc is cut into
    fixed 10-word segments, a segment survives only at its corpus-wide
    FIRST occurrence (ordered by doc_id, then position), and each doc
    is reassembled from its surviving segments. This removes boilerplate
    repeated across pages without dropping whole documents. Scale shape:
    the exchange key is the segment string (at 100 TB: xxhash64 of it —
    same plan), so the shuffle carries one row per segment, never doc
    pairs; the keep decision is a row_number inside each segment group
    and reassembly is a per-doc sort of ≤ n_segments surviving rows.
    Reassembly uses sort_array(collect_list(struct(idx, seg))) — the
    struct sort makes the collected order deterministic."""
    docs = load_catalog(spark, sf_dir).table("documents")
    words = docs.select("doc_id", F.split("text", " ").alias("w"))
    n_seg = F.ceil(F.size("w") / SEGMENT_WORDS).cast("int")
    seg = words.select(
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
    return marked.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_segments"),
        F.sum(F.when(F.col("rn") == 1, 1).otherwise(0)).cast("bigint").alias("n_kept"),
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(kept_struct)), lambda s: s["seg"]
            ),
            " ",
        ).alias("kept_text"),
    )


# ---------------------------------------------------------------------------
# qx197 — vocabulary coverage / OOV rate per document
# ---------------------------------------------------------------------------

VOCAB_SIZE = 500  # top-V tokens by collection frequency form the vocabulary

OOV_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token
  FROM documents
),
vocab AS (
  SELECT token FROM (
    SELECT token, row_number() OVER (ORDER BY count(*) DESC, token) AS rn
    FROM toks GROUP BY token
  ) WHERE rn <= {VOCAB_SIZE}
)
SELECT
  t.doc_id,
  CAST(count(*) AS BIGINT) AS n_tokens,
  CAST(count(*) FILTER (WHERE v.token IS NULL) AS BIGINT) AS n_oov,
  round(CAST(count(*) FILTER (WHERE v.token IS NULL) AS DOUBLE) / count(*), 6)
    AS oov_rate
FROM toks t LEFT JOIN vocab v ON t.token = v.token
GROUP BY t.doc_id
"""


@register(
    "qx197_vocab_oov_rate",
    oracle=OOV_ORACLE,
    doc="per-doc out-of-vocabulary rate against the corpus top-V token vocabulary",
    tags=("text", "tokenizer", "quality"),
)
def qx197_vocab_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-fit diagnostic: build the top-VOCAB_SIZE vocabulary
    by collection frequency (q34's counting, deterministic tie-break
    on the token string) and score every document by the fraction of
    its token OCCURRENCES falling outside it — the cheap proxy for
    "how much of this doc will a fixed tokenizer shatter into bytes",
    which drives both corpus-mix debugging and vocab-size selection.

    Plan shape: ONE token explode feeds both legs of the lazy plan —
    the vocab leg partial-aggregates (token, count) and takes the
    top-V via TakeOrderedAndProject (per-partition heaps, never a
    global vocabulary sort); the scoring leg LEFT-joins the V-row
    vocab (broadcast — it is top-V by construction) onto the token
    stream and reduces per doc_id. At 100 TB: two scans of the token
    stream (or one + cache), a V-row broadcast, and one doc_id-keyed
    partial-aggregated exchange; raw text never shuffles."""
    docs = load_catalog(spark, sf_dir).table("documents")
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    vocab = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), "token")
        .limit(VOCAB_SIZE)
        .select("token", F.lit(True).alias("in_vocab"))
    )
    scored = toks.join(F.broadcast(vocab), "token", "left")
    n_oov = F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0))
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        n_oov.cast("bigint").alias("n_oov"),
        r6(n_oov.cast("double") / F.count(F.lit(1))).alias("oov_rate"),
    )


# ---------------------------------------------------------------------------
# qx201 — shingle-containment pairs (doc-inside-doc detection)
# ---------------------------------------------------------------------------

CONTAIN_THRESHOLD = 0.8  # fraction of the SMALLER side's surviving shingles
CONTAIN_MIN_GRAMS = 5  # ignore docs with fewer surviving shingles

CONTAINMENT_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
grams AS (
  SELECT doc_id,
         list_distinct(list_transform(generate_series(1, len(t) - 2),
                                      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS gs
  FROM toks
  WHERE len(t) >= 3
),
flat AS (
  SELECT doc_id, g FROM (
    SELECT doc_id, unnest(gs) AS g FROM grams
  )
  QUALIFY count(*) OVER (PARTITION BY g) <= {SHINGLE_DF_CAP}
),
sizes AS (
  SELECT doc_id, count(*) AS n_surv FROM flat GROUP BY doc_id
),
shared AS (
  SELECT a.doc_id AS contained_id, b.doc_id AS container_id,
         count(*) AS n_shared
  FROM flat a JOIN flat b ON a.g = b.g AND a.doc_id <> b.doc_id
  GROUP BY 1, 2
)
SELECT contained_id, container_id, CAST(n_shared AS BIGINT) AS n_shared,
       round(CAST(n_shared AS DOUBLE) / sa.n_surv, 6) AS containment
FROM shared
JOIN sizes sa ON sa.doc_id = contained_id
WHERE sa.n_surv >= {CONTAIN_MIN_GRAMS}
  AND round(CAST(n_shared AS DOUBLE) / sa.n_surv, 6) >= {CONTAIN_THRESHOLD}
"""


@register(
    "qx201_containment_pairs",
    oracle=CONTAINMENT_ORACLE,
    doc="asymmetric shingle containment: docs mostly contained inside another doc",
    tags=("dedup", "jaccard", "containment"),
)
def qx201_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-dup containment — the case symmetric Jaccard
    (q46) misses by construction: a short document quoted wholesale
    inside a long one has tiny Jaccard (union is dominated by the long
    side) but containment ≈ 1 on the short side. This is the crawl
    reality of quoted articles, syndicated excerpts, and boilerplate
    wrappers, and the standard keep-rule is "drop the contained doc".

    containment(A→B) = |S_A ∩ S_B| / |S_A| over the DF-capped shingle
    sets (denominator = SURVIVING shingles, unlike q46's all-shingle
    denominator: with hot shingles excluded from the numerator by the
    cap, an all-shingle denominator could never reach 1.0 for docs
    containing boilerplate — the capped-set containment is the
    comparable quantity). Ordered pairs (a ≠ b, both directions) from
    the same shared-shingle equi-join as q46 — never O(n²); docs with
    < CONTAIN_MIN_GRAMS surviving shingles are excluded (a 3-shingle
    doc is "contained" in anything). Plan shape matches q46: one g
    exchange serves the DF-cap window, the self-join, and the
    surviving-size aggregate."""
    docs = load_catalog(spark, sf_dir).table("documents")
    np = shuffle_partitions(spark)
    flat = drop_stop_shingles(
        token_ngrams(
            docs.select("doc_id", "text").repartition(np, "doc_id"), 3, distinct=True
        ).repartition(np, "g")
    )
    sizes = flat.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_surv"))
    a, b = flat.alias("a"), flat.alias("b")
    shared = (
        a.join(
            b.hint("shuffle_hash"),
            (F.col("a.g") == F.col("b.g")) & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("contained_id"),
            F.col("b.doc_id").alias("container_id"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
    )
    sa = sizes.alias("sa")
    cont = r6(F.col("n_shared").cast("double") / F.col("sa.n_surv"))
    return (
        shared.join(F.broadcast(sa), F.col("sa.doc_id") == F.col("contained_id"))
        .filter(F.col("sa.n_surv") >= CONTAIN_MIN_GRAMS)
        .select("contained_id", "container_id", "n_shared", cont.alias("containment"))
        .filter(F.col("containment") >= CONTAIN_THRESHOLD)
    )


# ---------------------------------------------------------------------------
# qx206 — feature hashing (the hashing trick) for text
# ---------------------------------------------------------------------------

HASH_DIM = 1024  # feature-space size (power of two, as usual)

FEATURE_HASH_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
),
bucketed AS (
  SELECT doc_id,
         CAST(CAST('0x' || substring(md5(token), 1, 8) AS BIGINT) % {HASH_DIM}
              AS BIGINT) AS bucket
  FROM toks
)
SELECT doc_id, bucket, CAST(count(*) AS BIGINT) AS tf
FROM bucketed
GROUP BY doc_id, bucket
"""


@register(
    "qx206_feature_hashing",
    oracle=FEATURE_HASH_ORACLE,
    doc="hashing-trick sparse features: (doc, md5-bucket, tf) in a fixed 1024-dim space",
    tags=("text", "features", "hashing"),
)
def qx206_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashing trick — fixed-dimensional sparse text features with
    NO vocabulary state: every token maps to bucket = md5-prefix mod
    HASH_DIM, and a document becomes its (bucket, tf) pairs. This is
    what makes featurization embarrassingly parallel at 100 TB: no
    vocabulary build, no broadcast dictionary, no OOV concept — each
    row is featurized from its own bytes (contrast qx197, which
    exists precisely to measure what a FIXED vocabulary misses).
    md5 rather than xxhash because the bucket assignment must be
    engine-portable (the q72 convention); collisions are the accepted
    trade of the trick and are deterministic.

    Plan: one token explode → one (doc_id, bucket) partial-aggregated
    exchange. Output is the sparse COO frame — the join-ready shape
    for a downstream linear model or MinHash over buckets."""
    docs = load_catalog(spark, sf_dir).table("documents")
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    bucket = (
        F.conv(F.substring(F.md5("token"), 1, 8), 16, 10).cast("bigint") % HASH_DIM
    )
    return (
        toks.select("doc_id", bucket.alias("bucket"))
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )


# ---------------------------------------------------------------------------
# qx207 — inverted-index construction (posting lists for rare tokens)
# ---------------------------------------------------------------------------

POSTING_DF_CAP = 50  # tokens in more docs than this are stop-worded out

INVERTED_INDEX_ORACLE = f"""
WITH toks AS (
  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token
  FROM documents
),
df AS (
  SELECT token, count(*) AS doc_freq FROM toks GROUP BY token
)
SELECT t.token,
       CAST(d.doc_freq AS BIGINT) AS doc_freq,
       list(t.doc_id ORDER BY t.doc_id) AS postings
FROM toks t JOIN df d ON d.token = t.token
WHERE d.doc_freq <= {POSTING_DF_CAP}
GROUP BY t.token, d.doc_freq
"""


@register(
    "qx207_inverted_index",
    oracle=INVERTED_INDEX_ORACLE,
    doc="inverted index: sorted posting list per rare token (df-capped)",
    tags=("text", "retrieval", "index"),
)
def qx207_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index construction — the materialized scale path
    qx199's lexical leg and qx148's BM25 promise: (token → sorted
    posting list) for every token at or under POSTING_DF_CAP document
    frequency (hot tokens are stop-words for retrieval purposes and
    their posting lists are the index's storage/skew pathology — the
    same df-cap philosophy as the shingle join's SHINGLE_DF_CAP).

    Plan: one distinct (doc, token) exchange serves both the df count
    and the posting aggregation (same-key re-aggregation, no second
    shuffle of the token stream); sort_array makes the list order
    deterministic rather than collection-order — WRITTEN indexes must
    be byte-stable across reruns or incremental maintenance can't
    diff them. Posting lists are bounded by the cap, so collect_list
    here is bounded fan-in, not a concentration risk."""
    docs = load_catalog(spark, sf_dir).table("documents")
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("token")
    ).distinct()
    w = Window.partitionBy("token")
    return (
        toks.withColumn("doc_freq", F.count(F.lit(1)).over(w))
        .filter(F.col("doc_freq") <= POSTING_DF_CAP)
        .groupBy("token", F.col("doc_freq").cast("bigint").alias("doc_freq"))
        .agg(F.sort_array(F.collect_list("doc_id")).alias("postings"))
    )


# ---------------------------------------------------------------------------
# qx210 — language-ID confusion matrix (classifier eval vs stored labels)
# ---------------------------------------------------------------------------

LANGID_CONFUSION_ORACLE = f"""
WITH pred AS (
  SELECT
    doc_id,
    CASE
      WHEN s_zh > 0 THEN 'zh'
      WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en'
      WHEN s_es >= s_de AND s_es >= s_fr THEN 'es'
      WHEN s_de >= s_fr THEN 'de'
      ELSE 'fr'
    END AS predicted_lang
  FROM (
    SELECT doc_id, {{score_cols}},
           CAST(len(regexp_extract_all(text, '{{cjk}}')) AS BIGINT) AS s_zh
    FROM documents
  )
)
SELECT d.lang AS label_lang,
       p.predicted_lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       round(CAST(count(*) AS DOUBLE)
             / sum(count(*)) OVER (PARTITION BY d.lang), 6) AS row_frac
FROM documents d JOIN pred p ON p.doc_id = d.doc_id
GROUP BY d.lang, p.predicted_lang
"""


def _qx210_oracle() -> str:
    return LANGID_CONFUSION_ORACLE.format(score_cols=_SCORE_COLS, cjk=CJK_PATTERN)


@register(
    "qx210_langid_confusion",
    oracle=_qx210_oracle(),
    doc="confusion matrix of the q44 language-ID heuristic vs stored lang labels",
    tags=("text", "langid", "evaluation"),
)
def qx210_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier evaluation as a first-class operator: cross-tabulate
    q44's content-based language prediction against the stored `lang`
    label — (label, predicted, count, row-normalized fraction). The
    diagonal is per-language recall; off-diagonal mass says WHICH
    languages the n-gram heuristic confuses (the report that decides
    whether a cheap classifier can gate a 100 TB mix, and for which
    languages a better model is worth its cost).

    Plan: q44's scoring is a pure projection (zero exchanges,
    qx156-style), so the whole matrix costs the label join (doc_id
    equi-join, AQE-decided) plus ONE (label, predicted) grouped
    exchange; the row-normalizing window runs over the ≤|langs|²
    aggregate frame, not data."""
    docs = load_catalog(spark, sf_dir).table("documents")
    pred = q44_lang_id(spark, sf_dir).select("doc_id", "predicted_lang")
    joined = docs.select("doc_id", F.col("lang").alias("label_lang")).join(
        pred, "doc_id"
    )
    counts = joined.groupBy("label_lang", "predicted_lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    w = Window.partitionBy("label_lang")
    return counts.select(
        "label_lang",
        "predicted_lang",
        "n_docs",
        r6(F.col("n_docs").cast("double") / F.sum("n_docs").over(w)).alias("row_frac"),
    )


# ---------------------------------------------------------------------------
# qx211 — binaryFile corpus ingestion (file-per-doc scan + provenance)
# ---------------------------------------------------------------------------

BINARYFILE_ORACLE = """
SELECT doc_id,
       CAST(strlen(text) AS BIGINT) AS n_bytes,
       md5(text) AS content_md5
FROM documents
"""


@register(
    "qx211_binaryfile_ingest",
    oracle=BINARYFILE_ORACLE,
    doc="binaryFile scan of a file-per-doc corpus: provenance parse + checksum round-trip",
    tags=("sources", "ingestion", "multimodal"),
)
def qx211_binaryfile_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-per-document ingestion through Spark's ``binaryFile``
    source — the scan a crawl dump or image/audio corpus actually
    starts from (and the source the multimodal family's payloads ride
    in production; here the payloads are the docs' UTF-8 bytes). The
    documents are staged once as ``<doc_id>.txt`` files (executor-side
    mapInPandas writes — scaffolding; production files pre-exist),
    then the OPERATOR is: binaryFile scan → identity parsed FROM THE
    PATH (regexp over the provenance column — the only identity a
    raw file dump has) → byte length + md5 content checksum.

    The oracle computes octet_length + md5 from the parquet TABLE, so
    the value hash proves the file round-trip preserved every byte of
    every document — the q38/q39 layout-oracle pattern applied to a
    SOURCE. At 100 TB binaryFile lists and reads files across
    executors with spark.sql.files.maxPartitionBytes batching many
    small files per task; the md5 runs JVM-side on the binary
    column."""
    from bqfetch_spark.sources.readers import (
        stage_document_files,
        text_file_staging_dir,
    )

    out_dir = stage_document_files(spark, sf_dir, text_file_staging_dir(sf_dir))
    # directory load + pathGlobFilter, NOT a "*.txt" glob path: glob
    # resolution stats every matched file one-by-one on the driver
    # (measured 11 s for 5k files; a listing-time filter is 2 s) — at
    # 100 TB the directory listing also parallelizes across executors
    # past parallelPartitionDiscovery.threshold, a glob does not
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.txt")
        .load(out_dir)
    )
    return files.select(
        F.regexp_extract(F.col("path"), r"(\d+)\.txt$", 1).cast("bigint").alias("doc_id"),
        F.col("length").cast("bigint").alias("n_bytes"),
        F.md5(F.col("content")).alias("content_md5"),
    )


# ---------------------------------------------------------------------------
# qx217: cross-source leakage matrix (which sources share content)
# ---------------------------------------------------------------------------

LEAKAGE_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, source, string_split(text, ' ') AS t FROM documents
),
grams AS (
  SELECT doc_id, source,
         list_distinct(list_transform(generate_series(1, len(t) - 2),
                                      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS gs
  FROM toks
  WHERE len(t) >= 3
),
flat AS (
  SELECT doc_id, source, g FROM (
    SELECT doc_id, source, unnest(gs) AS g FROM grams
  )
  QUALIFY count(*) OVER (PARTITION BY g) <= {SHINGLE_DF_CAP}
),
srcg AS (
  SELECT DISTINCT source, g FROM flat
)
SELECT a.source AS source_a, b.source AS source_b,
       CAST(count(*) AS BIGINT) AS n_shared_shingles
FROM srcg a JOIN srcg b ON a.g = b.g AND a.source < b.source
GROUP BY 1, 2
ORDER BY 1, 2
"""


@register(
    "qx217_source_leakage_matrix",
    oracle=LEAKAGE_ORACLE,
    doc="source-pair shared-shingle counts (cross-source duplication diagnostic)",
    tags=("dedup", "curation", "diagnostics"),
)
def qx217_source_leakage_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source leakage: for every ordered source pair, how many
    distinct rare 3-gram shingles appear in BOTH — the diagnostic that
    tells a curation team which sources mirror each other (and
    therefore where cross-source dedup will bite) before running the
    dedup itself; the same report drives per-pair contamination review
    in qx174-style data cards.

    Scale shape: q46's machinery exactly — per-doc DISTINCT shingles,
    stop-shingle DF cap bounds any shingle's fan-out, then the
    source-level DISTINCT collapses the frame to (source, shingle)
    BEFORE the self-join, so the join input is sources x vocabulary,
    not docs x vocabulary; the matched-pair count reduces straight to
    the <=|sources|^2 matrix. One shingle-keyed exchange family
    end-to-end; text never moves past the explode."""
    docs = load_catalog(spark, sf_dir).table("documents")
    # the per-doc gram dedup rides the g exchange (g is a subset of its
    # keys), as do the stop-shingle window and the source-level DISTINCT
    grams = (
        token_ngrams(docs, 3, keys=("doc_id", "source"))
        .repartition(shuffle_partitions(spark), "g")
        .dropDuplicates(["doc_id", "source", "g"])
    )
    srcg = drop_stop_shingles(grams).select("source", "g").distinct()
    a, b = srcg.alias("a"), srcg.alias("b")
    return (
        a.join(
            b,
            (F.col("a.g") == F.col("b.g"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .select(
            F.col("a.source").alias("source_a"), F.col("b.source").alias("source_b")
        )
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared_shingles"))
        .orderBy("source_a", "source_b")
    )


# ---------------------------------------------------------------------------
# qx221: BPE merge-rule learning (tokenizer training over the corpus)
# ---------------------------------------------------------------------------

BPE_MERGES = 8  # merge rules to learn


def _bpe_sql_ctes() -> str:
    """The unrolled BPE learning chain as DuckDB CTEs (VERDICT r9 #8 —
    the last rows-only family with deterministic SQL-conceivable
    semantics): v0 = the distinct-word symbol table; then per round k,
    p_k counts adjacent pairs weighted by word frequency, b_k takes the
    deterministic argmax (cnt DESC, l, r), and v_k applies the merge as
    a string fold — symbols joined on chr(31), so "append WITHOUT the
    separator" IS the merge, and the leftmost-first non-overlap rule
    falls out exactly as in _bpe_merge_word (a merged symbol can never
    re-match `l` because it strictly contains it). Everything is
    MATERIALIZED: DuckDB inlines plain CTEs, which would re-evaluate
    the chain exponentially (the detmath lesson). 8 rounds ≈ 24 CTEs —
    the style the 504-step Jacobi chain already proved out.

    chr(31) (unit separator) is safe as a symbol delimiter because
    fixture tokens never contain control characters; a corpus that did
    would need a longer sentinel, not a different algorithm."""
    ctes = ["""v0 AS MATERIALIZED (
  SELECT word, string_split(word, '') AS syms, CAST(count(*) AS BIGINT) AS freq
  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
  WHERE word <> '' GROUP BY word
)"""]
    for k in range(1, BPE_MERGES + 1):
        ctes.append(f"""p{k} AS (
  SELECT v.syms[i] AS l, v.syms[i + 1] AS r, CAST(sum(v.freq) AS BIGINT) AS cnt
  FROM v{k - 1} v, LATERAL (SELECT unnest(range(1, len(v.syms))) AS i) ii
  GROUP BY 1, 2
),
b{k} AS MATERIALIZED (
  SELECT l, r, cnt FROM p{k} ORDER BY cnt DESC, l, r LIMIT 1
),
v{k} AS MATERIALIZED (
  SELECT v.word,
         string_split(
           list_reduce(v.syms,
             (acc, sym) -> CASE
               WHEN (acc = b.l OR ends_with(acc, chr(31) || b.l)) AND sym = b.r
               THEN acc || b.r
               ELSE acc || chr(31) || sym END),
           chr(31)) AS syms,
         v.freq
  FROM v{k - 1} v, b{k} b
)""")
    return ",\n".join(ctes)


def _bpe_merges_oracle() -> str:
    steps = "\nUNION ALL\n".join(
        f"SELECT CAST({k} AS BIGINT) AS step, l AS \"left\", r AS \"right\", "
        f"l || r AS merged, cnt AS pair_count FROM b{k}"
        for k in range(1, BPE_MERGES + 1)
    )
    return f"""
WITH {_bpe_sql_ctes()}
SELECT * FROM ({steps}) ORDER BY step
"""


def _bpe_merge_word(a: str, b: str):
    """Column expression applying ONE merge rule (a,b) -> a+b to a
    symbol array, leftmost-first non-overlapping — the classic BPE
    apply step — as a pure ``F.aggregate`` fold: the accumulator is
    (emitted symbols, one pending symbol); a pending `a` followed by
    `b` emits the merged token and clears, anything else flushes the
    pending symbol. JVM-side, no UDF."""

    def step(acc, s):
        return (
            F.when(acc["p"].isNull(), F.struct(acc["out"].alias("out"), s.alias("p")))
            .when(
                (acc["p"] == F.lit(a)) & (s == F.lit(b)),
                F.struct(
                    F.concat(acc["out"], F.array(F.lit(a + b))).alias("out"),
                    F.lit(None).cast("string").alias("p"),
                ),
            )
            .otherwise(
                F.struct(
                    F.concat(acc["out"], F.array(acc["p"])).alias("out"), s.alias("p")
                )
            )
        )

    return F.aggregate(
        "syms",
        F.struct(
            F.array().cast("array<string>").alias("out"),
            F.lit(None).cast("string").alias("p"),
        ),
        step,
        lambda acc: F.when(acc["p"].isNull(), acc["out"]).otherwise(
            F.concat(acc["out"], F.array(acc["p"]))
        ),
    )


@register(
    "qx221_bpe_merges",
    oracle=_bpe_merges_oracle(),
    doc="first 8 BPE merge rules learned from corpus word frequencies",
    tags=("llm-pipeline", "tokenization", "iterative"),
)
def qx221_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-pair-encoding tokenizer training (Sennrich et al. 2016):
    learn the first BPE_MERGES merge rules from corpus word
    frequencies. Deterministic argmax each round — highest weighted
    pair count, ties broken lexicographically on (left, right) — so
    reruns and both the engine and the pytest reference produce the
    identical rule sequence.

    Scale shape: the ONLY corpus-scale stage is the initial token
    count (one exchange keyed by word — the q34 shape); everything
    iterative runs on the DISTINCT-word frequency table, which is
    vocabulary-sized (Heaps' law: ~constant once the corpus is large),
    cached once. Per round: adjacent pairs via a transform over the
    symbol array -> explode -> one vocab-sized exchange -> a 1-row
    argmax collect (the kmeans-centroid pattern), then the merge
    applies as a JVM fold (_bpe_merge_word) with localCheckpoint
    truncating lineage so round N's plan does not embed rounds
    1..N-1. At 100 TB the driver only ever sees K single-row argmax
    results; the vocab frame it iterates on is MBs.

    Scale contract for PRODUCTION merge counts (VERDICT r10 #7): this
    spelling is O(K) Spark jobs — one argmax + one vocab checkpoint
    per rule — which is the right shape at BPE_MERGES = 8 but NOT at
    a production K ≈ 30k (30k scheduler round-trips over a frame that
    fits in one executor). The production spelling batches
    NON-OVERLAPPING merges per round: take the top-B pairs by count
    whose symbols are pairwise disjoint (no pair's left/right appears
    in another chosen pair — disjointness makes the batch
    order-independent, so it learns the same rules as B sequential
    argmaxes whenever counts are distinct across the batch), apply all
    B in one fold, and re-count once — O(K/B) jobs. The known
    divergence (a merge changing a neighbour pair's count mid-batch)
    only reorders rules within a batch, which tokenizer quality
    tolerates but this oracle-bearing fixture does not — hence the
    exact sequential loop here, batching documented for the 30k
    deployment."""
    rules, _final = _bpe_learn(spark, sf_dir)
    return spark.createDataFrame(
        rules, "step bigint, left string, right string, merged string, pair_count bigint"
    ).orderBy("step")


def _bpe_learn(spark: SparkSession, sf_dir: str):
    """Run the BPE_MERGES learning rounds over the corpus word-
    frequency table. Returns ``(rules, final_vocab)`` where rules is
    ``[(step, left, right, merged, pair_count), …]`` and final_vocab
    is the (word, syms, freq) frame AFTER all merges — i.e. the
    word-level encoding table, which is what qx222 joins back to the
    corpus (the vocab-trick: encode each DISTINCT word once, never
    each occurrence)."""
    toks = (
        load_catalog(spark, sf_dir)
        .table("documents")
        .select(F.explode(F.split(F.col("text"), " ")).alias("word"))
        .filter(F.col("word") != "")
    )
    vocab = (
        toks.groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
        .select("word", F.split(F.col("word"), "").alias("syms"), "freq")
        .localCheckpoint(eager=True)
    )

    rules = []
    for step_i in range(1, BPE_MERGES + 1):
        pair_idx = F.sequence(F.lit(0), F.size("syms") - 2)
        pairs = (
            vocab.filter(F.size("syms") >= 2)
            .select(
                F.explode(
                    F.transform(
                        pair_idx,
                        lambda i: F.struct(
                            F.element_at("syms", i + 1).alias("l"),
                            F.element_at("syms", i + 2).alias("r"),
                        ),
                    )
                ).alias("pr"),
                "freq",
            )
            .groupBy(F.col("pr.l").alias("l"), F.col("pr.r").alias("r"))
            .agg(F.sum("freq").alias("cnt"))
        )
        best = pairs.orderBy(F.col("cnt").desc(), "l", "r").limit(1).collect()
        if not best:
            break
        a, b, cnt = best[0].l, best[0].r, best[0].cnt
        rules.append((step_i, a, b, a + b, cnt))
        vocab = vocab.select(
            "word", _bpe_merge_word(a, b).alias("syms"), "freq"
        ).localCheckpoint(eager=True)

    return rules, vocab


def _bpe_encode_oracle() -> str:
    """qx222's twin: the same unrolled merge chain, then the
    vocab-trick encode — the final v{K} frame IS the encoding table,
    joined against per-(source, word) counts. Integer sums; the two
    ratios are single correctly-rounded double divisions."""
    k = BPE_MERGES
    return f"""
WITH {_bpe_sql_ctes()},
enc AS (
  SELECT word, CAST(len(syms) AS BIGINT) AS n_bpe,
         CAST(length(word) AS BIGINT) AS n_chars_w
  FROM v{k}
),
sw AS (
  SELECT source, word, CAST(count(*) AS BIGINT) AS cnt
  FROM (SELECT source, unnest(string_split(text, ' ')) AS word FROM documents)
  WHERE word <> '' GROUP BY 1, 2
),
agg AS (
  SELECT sw.source,
         CAST(sum(sw.cnt) AS BIGINT) AS n_words,
         CAST(sum(sw.cnt * e.n_bpe) AS BIGINT) AS n_bpe_tokens,
         CAST(sum(sw.cnt * e.n_chars_w) AS BIGINT) AS n_chars
  FROM sw JOIN enc e USING (word)
  GROUP BY sw.source
)
SELECT source, n_words, n_bpe_tokens, n_chars,
       round(CAST(n_chars AS DOUBLE) / CAST(n_bpe_tokens AS DOUBLE), 6) AS chars_per_token,
       round(CAST(n_bpe_tokens AS DOUBLE) / CAST(n_words AS DOUBLE), 6) AS tokens_per_word
FROM agg
ORDER BY source
"""


@register(
    "qx222_bpe_encode",
    oracle=_bpe_encode_oracle(),
    doc="apply learned BPE merges: per-source token counts and compression ratio",
    tags=("llm-pipeline", "tokenization"),
)
def qx222_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer APPLICATION at corpus scale — the other half of qx221:
    encode every document with the learned merge rules and report, per
    source, the numbers a pretraining budget is planned with: word
    count, BPE token count, character count, chars-per-token
    (compression) and BPE tokens per word.

    Scale shape (the vocab-trick): merges are applied to each DISTINCT
    word exactly once — the learner's final (word → merged symbols)
    frame IS the encoding table, so encoding the corpus is ONE
    (source, word)-keyed count exchange (vocab×sources-bounded) plus
    an equi-join of that count frame against the vocab-sized encoding
    table, then a groups-sized rollup. Text itself never moves; no
    per-occurrence symbol arrays ever exist. At 100 TB the cost is the
    token-count pass — the same shape as q34 — regardless of how many
    merge rounds were learned."""
    _rules, final_vocab = _bpe_learn(spark, sf_dir)
    enc = final_vocab.select(
        "word",
        F.size("syms").cast("bigint").alias("n_bpe"),
        F.length("word").cast("bigint").alias("n_chars_w"),
    )

    toks = (
        load_catalog(spark, sf_dir)
        .table("documents")
        .select("source", F.explode(F.split(F.col("text"), " ")).alias("word"))
        .filter(F.col("word") != "")
    )
    sw = toks.groupBy("source", "word").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    return (
        sw.join(enc, "word")
        .groupBy("source")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_words"),
            F.sum(F.col("cnt") * F.col("n_bpe")).cast("bigint").alias("n_bpe_tokens"),
            F.sum(F.col("cnt") * F.col("n_chars_w")).cast("bigint").alias("n_chars"),
        )
        .select(
            "source",
            "n_words",
            "n_bpe_tokens",
            "n_chars",
            F.round(
                F.col("n_chars").cast("double") / F.col("n_bpe_tokens"), 6
            ).alias("chars_per_token"),
            F.round(
                F.col("n_bpe_tokens").cast("double") / F.col("n_words"), 6
            ).alias("tokens_per_word"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# qx286: BATCHED BPE merge learning (the production-K spelling)
# ---------------------------------------------------------------------------

BPE_BATCH_ROUNDS = 8  # re-count rounds (each = one Spark argtop + fold)
BPE_BATCH_W = 8  # ranked-pair window examined per round


def _bpe_batch_accept(top_rows) -> list:
    """The batching rule qx221's docstring promised (VERDICT r11 #7),
    made exact and non-recursive so DuckDB can mirror it without a
    recursive CTE: scan the top-W ranked pairs (cnt DESC, l, r) in
    rank order and ACCEPT a pair iff its symbol triple {l, r, l||r}
    is disjoint from the triples of ALL higher-ranked window pairs —
    accepted or not. Disjointness of {l, r} makes the batch
    order-independent inside one fold pass; including the MERGED
    token closes the remaining coupling (a pair whose input is
    another's output, or vice versa, would make the single-pass fold
    diverge from sequential application). A pair blocked this round
    simply competes again next round, after the re-count.

    Returns [(rank, l, r, cnt), ...] in rank order."""
    seen: set = set()
    batch = []
    for rank, row in enumerate(top_rows, start=1):
        tri = {row.l, row.r, row.l + row.r}
        if not (tri & seen):
            batch.append((rank, row.l, row.r, int(row.cnt)))
        seen |= tri
    return batch


def _bpe_merge_batch(rules: list):
    """_bpe_merge_word generalized to a symbol-disjoint rule BATCH:
    one JVM fold applies every rule in a single leftmost-first pass
    (a position can match at most one rule because the batch's symbol
    sets are disjoint by _bpe_batch_accept's construction). The batch
    rides as ONE literal map l -> r (lefts are distinct — disjointness
    again), so each fold step is a single map lookup instead of a
    B-branch CASE chain (higher-order folds evaluate interpreted, so
    per-step work is what matters). A missing key yields NULL,
    NULL == s is NULL, and when() treats NULL as false — exactly the
    no-match branch."""
    mp = F.create_map(*[x for a, b in rules for x in (F.lit(a), F.lit(b))])

    def step(acc, s):
        return (
            F.when(
                acc["p"].isNull(), F.struct(acc["out"].alias("out"), s.alias("p"))
            )
            .when(
                F.element_at(mp, acc["p"]) == s,
                F.struct(
                    F.concat(
                        acc["out"], F.array(F.concat(acc["p"], s))
                    ).alias("out"),
                    F.lit(None).cast("string").alias("p"),
                ),
            )
            .otherwise(
                F.struct(
                    F.concat(acc["out"], F.array(acc["p"])).alias("out"),
                    s.alias("p"),
                )
            )
        )

    return F.aggregate(
        "syms",
        F.struct(
            F.array().cast("array<string>").alias("out"),
            F.lit(None).cast("string").alias("p"),
        ),
        step,
        lambda acc: F.when(acc["p"].isNull(), acc["out"]).otherwise(
            F.concat(acc["out"], F.array(acc["p"]))
        ),
    )


def _bpe_batched_sql_ctes() -> str:
    """The batched learning chain as DuckDB CTEs — qx221's unroll with
    the argmax replaced by the windowed disjoint-batch acceptance
    (t{k} ranked window -> a{k} accepted batch via the 3x3 NOT-EXISTS
    triple check -> bl{k} rule arrays) and the single-rule fold
    replaced by a list_position lookup over the batch arrays. The
    fold's pending symbol is the segment after the last chr(31); after
    a merge it is the merged token, which the acceptance rule
    guarantees matches no rule's left side — exactly the engine fold's
    cleared-pending behavior."""
    pend = "string_split(acc, chr(31))[-1]"
    ctes = ["""w0 AS MATERIALIZED (
  SELECT word, string_split(word, '') AS syms, CAST(count(*) AS BIGINT) AS freq
  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
  WHERE word <> '' GROUP BY word
)"""]
    for k in range(1, BPE_BATCH_ROUNDS + 1):
        ctes.append(f"""t{k} AS MATERIALIZED (
  SELECT l, r, cnt, rn FROM (
    SELECT l, r, cnt, row_number() OVER (ORDER BY cnt DESC, l, r) AS rn
    FROM (
      SELECT v.syms[i] AS l, v.syms[i + 1] AS r, CAST(sum(v.freq) AS BIGINT) AS cnt
      FROM w{k - 1} v, LATERAL (SELECT unnest(range(1, len(v.syms))) AS i) ii
      GROUP BY 1, 2
    )
  ) WHERE rn <= {BPE_BATCH_W}
),
a{k} AS MATERIALIZED (
  SELECT i.l, i.r, i.cnt, i.rn FROM t{k} i
  WHERE NOT EXISTS (
    SELECT 1 FROM t{k} j WHERE j.rn < i.rn AND (
      j.l IN (i.l, i.r, i.l || i.r) OR
      j.r IN (i.l, i.r, i.l || i.r) OR
      (j.l || j.r) IN (i.l, i.r, i.l || i.r)))
),
bl{k} AS MATERIALIZED (
  SELECT list(l ORDER BY rn) AS ls, list(r ORDER BY rn) AS rs FROM a{k}
),
w{k} AS MATERIALIZED (
  SELECT v.word,
         string_split(
           list_reduce(v.syms,
             (acc, sym) -> CASE
               WHEN len(b.ls) > 0
                AND list_position(b.ls, {pend}) > 0
                AND b.rs[list_position(b.ls, {pend})] = sym
               THEN acc || sym
               ELSE acc || chr(31) || sym END),
           chr(31)) AS syms,
         v.freq
  FROM w{k - 1} v, bl{k} b
)""")
    return ",\n".join(ctes)


def _bpe_batched_oracle() -> str:
    steps = "\nUNION ALL\n".join(
        f"SELECT CAST({k} AS BIGINT) AS round, rn, l, r, cnt FROM a{k}"
        for k in range(1, BPE_BATCH_ROUNDS + 1)
    )
    return f"""
WITH {_bpe_batched_sql_ctes()}
SELECT CAST(row_number() OVER (ORDER BY round, rn) AS BIGINT) AS step,
       round, l AS "left", r AS "right", l || r AS merged,
       cnt AS pair_count
FROM ({steps})
ORDER BY step
"""


@register(
    "qx286_bpe_merges_batched",
    oracle=_bpe_batched_oracle(),
    doc="batched BPE merge learning: disjoint top-W batches per re-count round (production-K shape)",
    tags=("llm-pipeline", "tokenization", "iterative"),
)
def qx286_bpe_merges_batched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training in the PRODUCTION batch shape qx221's
    docstring documents (VERDICT r11 #7): instead of one Spark argmax
    round-trip per rule (right at K=8, scheduler-bound at K~30k), each
    of BPE_BATCH_ROUNDS rounds ranks the pair counts once, accepts the
    symbol-disjoint subset of the top-BPE_BATCH_W window
    (_bpe_batch_accept — deterministic and non-recursive, so the
    DuckDB oracle mirrors it exactly), applies the whole batch in ONE
    JVM fold, and re-counts — O(K/B) jobs against the vocabulary-sized
    frequency frame. Blocked pairs compete again next round.

    FULL VALUE-HASH ORACLE: ranking, the windowed triple-disjointness
    acceptance, the batched fold (list_position over the batch arrays)
    and the global step numbering are all mirrored CTE-for-stage in
    _bpe_batched_oracle. qx221/qx222 keep their exact sequential
    spelling and oracles unchanged."""
    toks = (
        load_catalog(spark, sf_dir)
        .table("documents")
        .select(F.explode(F.split(F.col("text"), " ")).alias("word"))
        .filter(F.col("word") != "")
    )
    vocab = (
        toks.groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
        .select("word", F.split(F.col("word"), "").alias("syms"), "freq")
        .localCheckpoint(eager=True)
    )

    out_rows: list = []
    step = 0
    for rnd in range(1, BPE_BATCH_ROUNDS + 1):
        pair_idx = F.sequence(F.lit(0), F.size("syms") - 2)
        pairs = (
            vocab.filter(F.size("syms") >= 2)
            .select(
                F.explode(
                    F.transform(
                        pair_idx,
                        lambda i: F.struct(
                            F.element_at("syms", i + 1).alias("l"),
                            F.element_at("syms", i + 2).alias("r"),
                        ),
                    )
                ).alias("pr"),
                "freq",
            )
            .groupBy(F.col("pr.l").alias("l"), F.col("pr.r").alias("r"))
            .agg(F.sum("freq").alias("cnt"))
        )
        top = pairs.orderBy(F.col("cnt").desc(), "l", "r").limit(BPE_BATCH_W).collect()
        batch = _bpe_batch_accept(top)
        if not batch:
            break
        for _rank, a, b, cnt in batch:
            step += 1
            out_rows.append((step, rnd, a, b, a + b, cnt))
        vocab = vocab.select(
            "word",
            _bpe_merge_batch([(a, b) for _rank, a, b, _cnt in batch]).alias("syms"),
            "freq",
        ).localCheckpoint(eager=True)

    return spark.createDataFrame(
        out_rows,
        "step bigint, round bigint, left string, right string, merged string, "
        "pair_count bigint",
    ).orderBy("step")


# ---------------------------------------------------------------------------
# qx234: prefix-duplicate detection (truncated-crawl artifact)
# ---------------------------------------------------------------------------

PREFIX_ANCHOR = 10  # anchor width in tokens; prefixes shorter than this
# are n-gram-containment territory (qx201), not prefix dups

PREFIX_DUPS_ORACLE = f"""
WITH t AS (
  SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents
),
a AS (
  SELECT doc_id, text,
         CAST(len(toks) AS BIGINT) AS n_tok,
         md5(list_aggregate(toks[1:{PREFIX_ANCHOR}], 'string_agg', ' ')) AS anchor
  FROM t WHERE len(toks) >= {PREFIX_ANCHOR}
)
SELECT p.doc_id AS prefix_doc_id,
       s.doc_id AS superset_doc_id,
       p.n_tok AS n_tokens_prefix,
       s.n_tok AS n_tokens_superset
FROM a p JOIN a s ON p.anchor = s.anchor
WHERE p.n_tok < s.n_tok
  AND starts_with(s.text, p.text || ' ')
ORDER BY prefix_doc_id, superset_doc_id
"""


@register(
    "qx234_prefix_dups",
    oracle=PREFIX_DUPS_ORACLE,
    doc="detect docs that are exact token-prefixes of longer docs (truncation dups)",
    tags=("dedup", "llm-pipeline", "quality"),
)
def qx234_prefix_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-duplicate detection — the truncated-crawl artifact class
    (re-fetches cut off mid-document, pagination tails, feed
    summaries) that EXACT dedup misses (different hashes) and near-dup
    under-ranks (Jaccard shrinks as the superset grows): doc A is a
    dup of B when B's first len(A) tokens ARE A. Candidates must share
    the first-{PREFIX_ANCHOR}-token anchor hash, so no pairwise
    structure forms.

    Plan shape (text never shuffles): stage 1 joins NARROW profiles
    (doc_id, n_tok, anchor, md5(text)) on the anchor — candidate pairs
    carry only ids, lengths, and the prefix side's full-text md5;
    stage 2 ships those narrow candidates BACK to the superset side's
    token arrays (an equi-join on doc_id against the corpus-partitioned
    frame) and verifies md5(first n_tok_prefix tokens of B) ==
    md5(A.text) — an exact token-boundary prefix test without ever
    moving a text column through an exchange. The oracle spells the
    same predicate as starts_with over the anchor join."""
    docs = load_catalog(spark, sf_dir).table("documents")
    t = F.split(F.col("text"), " ")
    prof = (
        docs.select("doc_id", t.alias("toks"), "text")
        .filter(F.size("toks") >= PREFIX_ANCHOR)
        .select(
            "doc_id",
            F.size("toks").cast("bigint").alias("n_tok"),
            F.md5(F.concat_ws(" ", F.slice("toks", 1, PREFIX_ANCHOR))).alias("anchor"),
            F.md5("text").alias("full_md5"),
        )
    )
    p = prof.select(
        F.col("doc_id").alias("prefix_doc_id"),
        F.col("n_tok").alias("n_tokens_prefix"),
        "anchor",
        F.col("full_md5").alias("prefix_md5"),
    )
    s = prof.select(
        F.col("doc_id").alias("superset_doc_id"),
        F.col("n_tok").alias("n_tokens_superset"),
        "anchor",
    )
    cand = p.join(s, "anchor").filter(
        F.col("n_tokens_prefix") < F.col("n_tokens_superset")
    )
    sup_toks = docs.select(
        F.col("doc_id").alias("superset_doc_id"), t.alias("sup_toks")
    )
    verified = (
        cand.join(sup_toks, "superset_doc_id")
        .filter(
            F.md5(
                F.concat_ws(
                    " ", F.slice("sup_toks", 1, F.col("n_tokens_prefix").cast("int"))
                )
            )
            == F.col("prefix_md5")
        )
    )
    return verified.select(
        "prefix_doc_id",
        "superset_doc_id",
        "n_tokens_prefix",
        "n_tokens_superset",
    ).orderBy("prefix_doc_id", "superset_doc_id")


# ---------------------------------------------------------------------------
# qx236: WITHIN-doc repeated-segment collapse (degenerate-text cleanup)
# ---------------------------------------------------------------------------

INTRA_COLLAPSE_ORACLE = f"""
WITH words AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
),
seg AS (
  SELECT doc_id, i AS seg_idx,
         array_to_string(
           list_slice(w, i * {SEGMENT_WORDS} + 1, i * {SEGMENT_WORDS} + {SEGMENT_WORDS}),
           ' ') AS seg
  FROM words,
       unnest(range(CAST(ceil(len(w) / {SEGMENT_WORDS}.0) AS BIGINT))) t(i)
),
marked AS (
  SELECT doc_id, seg_idx, seg,
         row_number() OVER (PARTITION BY doc_id, seg ORDER BY seg_idx) AS rn
  FROM seg
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_segments,
       CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       md5(coalesce(string_agg(CASE WHEN rn = 1 THEN seg END, ' ' ORDER BY seg_idx),
                    '')) AS collapsed_md5
FROM marked GROUP BY doc_id ORDER BY doc_id
"""


@register(
    "qx236_intra_doc_collapse",
    oracle=INTRA_COLLAPSE_ORACLE,
    doc="collapse repeated segments WITHIN each doc (keep first occurrence)",
    tags=("quality", "dedup", "llm-pipeline"),
)
def qx236_intra_doc_collapse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repeated-segment collapse — the degenerate-text
    cleanup for looping generations, copy-paste spam, and template
    stutter: each repeated {SEGMENT_WORDS}-word segment keeps only its
    FIRST occurrence inside the doc (qx157 removes segments repeated
    ACROSS docs — this is the intra-doc leg; the two compose, and a
    synthetic-data pipeline runs this one on model outputs before any
    cross-doc pass). Emits per-doc segment counts and the md5 of the
    collapsed reconstruction, so the oracle pins exact ordering.

    Plan shape: segmentation is a row-local transform+explode (the
    qx157 spelling); the keep decision is a window partitioned by
    (doc_id, seg) ordered by position — doc-local, parallel across
    docs, never a corpus-wide key; the rebuild is a doc-local
    array_sort. ONE doc_id-family exchange total."""
    docs = load_catalog(spark, sf_dir).table("documents")
    w = F.split(F.col("text"), " ")
    n_seg = F.ceil(F.size("w") / float(SEGMENT_WORDS)).cast("int")
    seg = (
        docs.select("doc_id", w.alias("w"))
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), n_seg - 1),
                    lambda i: F.struct(
                        i.alias("seg_idx"),
                        F.concat_ws(
                            " ",
                            F.slice(
                                "w",
                                (i * SEGMENT_WORDS + 1).cast("int"),
                                SEGMENT_WORDS,
                            ),
                        ).alias("seg"),
                    ),
                )
            ).alias("z"),
        )
        .select("doc_id", F.col("z.seg_idx").alias("seg_idx"), F.col("z.seg").alias("seg"))
    )
    keep = Window.partitionBy("doc_id", "seg").orderBy("seg_idx")
    marked = seg.withColumn("rn", F.row_number().over(keep))
    return (
        marked.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_segments"),
            F.sum(F.when(F.col("rn") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_kept"),
            F.md5(
                F.concat_ws(
                    " ",
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.when(
                                    F.col("rn") == 1,
                                    F.struct("seg_idx", "seg"),
                                )
                            )
                        ),
                        lambda s: s["seg"],
                    ),
                )
            ).alias("collapsed_md5"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# qx239: retrieval context stitching (segment hit ± neighbors)
# ---------------------------------------------------------------------------

CONTEXT_STITCH_ORACLE = f"""
WITH words AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
),
seg AS (
  SELECT doc_id, i AS seg_idx,
         array_to_string(
           list_slice(w, i * {SEGMENT_WORDS} + 1, i * {SEGMENT_WORDS} + {SEGMENT_WORDS}),
           ' ') AS seg
  FROM words,
       unnest(range(CAST(ceil(len(w) / {SEGMENT_WORDS}.0) AS BIGINT))) t(i)
),
tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
tfq AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY doc_id, token),
dfr AS (SELECT token, count(*) AS df FROM tfq GROUP BY token),
qterms AS (
  SELECT token FROM (
    SELECT token, row_number() OVER (ORDER BY df DESC, token) AS rn FROM dfr
  ) WHERE rn BETWEEN 10 AND 14
),
ctx AS (
  SELECT doc_id, seg_idx, seg,
         lag(seg) OVER (PARTITION BY doc_id ORDER BY seg_idx) AS prev_seg,
         lead(seg) OVER (PARTITION BY doc_id ORDER BY seg_idx) AS next_seg
  FROM seg
),
ql AS (SELECT list(token) AS qs FROM qterms),
hits AS (
  SELECT c.doc_id, c.seg_idx,
         CAST(len(list_intersect(string_split(c.seg, ' '), ql.qs)) AS BIGINT)
           AS n_terms_matched,
         md5(concat_ws(' ', coalesce(c.prev_seg, ''), c.seg,
                       coalesce(c.next_seg, ''))) AS context_md5
  FROM ctx c CROSS JOIN ql
  WHERE len(list_intersect(string_split(c.seg, ' '), ql.qs)) > 0
)
SELECT doc_id, CAST(seg_idx AS BIGINT) AS seg_idx, n_terms_matched, context_md5
FROM hits ORDER BY doc_id, seg_idx
"""


@register(
    "qx239_context_stitching",
    oracle=CONTEXT_STITCH_ORACLE,
    doc="stitch matched retrieval segments with their neighbors into RAG contexts",
    tags=("text", "retrieval", "llm-pipeline"),
)
def qx239_context_stitching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context assembly — the step between "a chunk matched" (qx148/
    qx199/qx207 decide that) and "hand the LLM a context window": a
    matched {SEGMENT_WORDS}-word segment alone usually cuts the answer
    mid-sentence, so every hit is STITCHED with its previous and next
    segments. Hits = segments containing any of the df-ranked-10..14
    query terms (the qx148 query convention); the oracle pins the
    exact stitched text via md5.

    Plan shape: segmentation is the qx157 row-local transform+explode;
    neighbor access is lag/lead over a window PARTITIONED BY doc_id —
    the stitch never joins, so there is exactly ONE doc-keyed exchange
    regardless of corpus size; the 5-term query set folds as a literal
    array_intersect (terms are collected once, the kmeans-centroid
    pattern). Non-matching segments are filtered AFTER the window but
    never leave their task."""
    docs = load_catalog(spark, sf_dir).table("documents")
    tok = docs.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    tfq = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    dfr = tfq.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    from pyspark.sql.window import Window as W

    head = (
        dfr.orderBy(F.col("df").desc(), "token")
        .limit(14)
        .withColumn("rn", F.row_number().over(W.orderBy(F.col("df").desc(), "token")))
        .filter(F.col("rn") >= 10)
    )
    terms = [r.token for r in head.collect()]

    w = F.split(F.col("text"), " ")
    n_seg = F.ceil(F.size("w") / float(SEGMENT_WORDS)).cast("int")
    seg = (
        docs.select("doc_id", w.alias("w"))
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), n_seg - 1),
                    lambda i: F.struct(
                        i.cast("long").alias("seg_idx"),
                        F.concat_ws(
                            " ",
                            F.slice("w", (i * SEGMENT_WORDS + 1).cast("int"), SEGMENT_WORDS),
                        ).alias("seg"),
                    ),
                )
            ).alias("z"),
        )
        .select("doc_id", F.col("z.seg_idx").alias("seg_idx"), F.col("z.seg").alias("seg"))
    )
    wd = W.partitionBy("doc_id").orderBy("seg_idx")
    ctx = seg.select(
        "doc_id",
        "seg_idx",
        "seg",
        F.lag("seg").over(wd).alias("prev_seg"),
        F.lead("seg").over(wd).alias("next_seg"),
    )
    matched = F.size(
        F.array_intersect(
            F.split("seg", " "), F.array(*[F.lit(t) for t in terms])
        )
    ).cast("bigint")
    return (
        ctx.withColumn("n_terms_matched", matched)
        .filter(F.col("n_terms_matched") > 0)
        .select(
            "doc_id",
            "seg_idx",
            "n_terms_matched",
            F.md5(
                F.concat_ws(
                    " ",
                    F.coalesce("prev_seg", F.lit("")),
                    F.col("seg"),
                    F.coalesce("next_seg", F.lit("")),
                )
            ).alias("context_md5"),
        )
        .orderBy("doc_id", "seg_idx")
    )


# ---------------------------------------------------------------------------
# qx259: benchmark contamination (exact n-gram collision detection)
# ---------------------------------------------------------------------------

CONTAM_MOD = 7  # doc_id % CONTAM_MOD == 0 plays the "benchmark" set

CONTAM_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
),
sh AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(w) - {CONTAM_N} + 2),
                i -> array_to_string(w[i:i+{CONTAM_N}-1], ' '))) AS g
  FROM tok WHERE len(w) >= {CONTAM_N}
),
bench AS (
  SELECT DISTINCT g FROM sh WHERE doc_id % {CONTAM_MOD} = 0
)
SELECT s.doc_id,
       CAST(count(DISTINCT s.g) AS BIGINT) AS n_shared_ngrams
FROM sh s JOIN bench b USING (g)
WHERE s.doc_id % {CONTAM_MOD} <> 0
GROUP BY s.doc_id
ORDER BY s.doc_id
"""


def contam_shingles(docs: DataFrame) -> DataFrame:
    """(doc_id, g, h) CONTAM_N-gram shingles with their xxhash64
    bucket key — shared by the one-shot scan (qx259) and the streaming
    decontamination waves (streaming/decontam.py)."""
    return token_ngrams(docs, CONTAM_N).withColumn("h", F.xxhash64("g"))


@register(
    "qx259_benchmark_contamination",
    oracle=CONTAM_ORACLE,
    doc="training docs sharing exact n-grams with a benchmark set (decontamination scan)",
    tags=("text", "dedup", "contamination"),
)
def qx259_benchmark_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Test-set decontamination — the scan every serious pretraining
    pipeline runs before training: find training documents that share
    an exact CONTAM_N-gram with any benchmark document (here the
    deterministic doc_id % CONTAM_MOD == 0 subset plays the benchmark;
    a real run points this at the eval suites). The GPT-3/PaLM-style
    n-gram collision rule: one shared n-gram flags the doc.

    Scale shape: training-side shingles join the benchmark shingle set
    on a 64-bit xxhash64 BUCKET key with the gram string re-checked
    inside the join (the q40 collision-safe pattern) — full gram text
    never drives the exchange alone, and the benchmark side of a real
    run is tiny (eval suites) → broadcast. Counting distinct shared
    GRAMS (not hashes) keeps the output hash-collision-proof and lets
    DuckDB spell the identical semantics."""
    docs = load_catalog(spark, sf_dir).table("documents")
    sh = contam_shingles(docs)
    bench = (
        sh.filter(F.col("doc_id") % CONTAM_MOD == 0)
        .select("h", F.col("g").alias("bg"))
        .distinct()
    )
    train = sh.filter(F.col("doc_id") % CONTAM_MOD != 0)
    return (
        train.join(bench, (train["h"] == bench["h"]) & (train["g"] == bench["bg"]))
        .groupBy("doc_id")
        .agg(F.count_distinct("g").cast("bigint").alias("n_shared_ngrams"))
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# qx264: cross-engine-exact MinHash-LSH (the oracle-bearing LSH sibling)
# ---------------------------------------------------------------------------

# MH_P / MH_R / MH_B / MH_SHINGLE and _mh_coefs live in the q47
# section since round 10 — q47 and this exact-verify sibling share the
# identical signature machinery (q47 estimates Jaccard from signature
# agreement; qx264 re-joins grams for the TRUE Jaccard).


def _mh_oracle() -> str:
    mins = ",\n         ".join(
        f"min(({a} * h31 + {b}) % {MH_P}) AS s{i}"
        for i, (a, b) in enumerate(_mh_coefs())
    )
    band_keys = " UNION ALL ".join(
        "SELECT doc_id, {b} AS band, md5({key}) AS key FROM sig".format(
            b=b,
            key=" || ',' || ".join(
                f"CAST(s{b * MH_R + r} AS VARCHAR)" for r in range(MH_R)
            ),
        )
        for b in range(MH_B)
    )
    return f"""
WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
grams AS (
  SELECT DISTINCT doc_id,
         array_to_string(w[i:i+{MH_SHINGLE - 1}], ' ') AS g
  FROM tok, LATERAL (SELECT unnest(range(1, len(w) - {MH_SHINGLE} + 2)) AS i) ii
  WHERE len(w) >= {MH_SHINGLE}
),
hashed AS (
  SELECT doc_id, g,
         CAST('0x' || substring(md5(g), 1, 15) AS BIGINT) % {MH_P} AS h31
  FROM grams
),
sig AS (
  SELECT doc_id,
         {mins}
  FROM hashed GROUP BY doc_id
),
bands AS ({band_keys}),
cand AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(count(DISTINCT a.band) AS BIGINT) AS n_shared_bands
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM grams GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, CAST(count(*) AS BIGINT) AS ninter
  FROM cand c
  JOIN grams ga ON ga.doc_id = c.doc_a
  JOIN grams gb ON gb.doc_id = c.doc_b AND gb.g = ga.g
  GROUP BY 1, 2
)
SELECT c.doc_a, c.doc_b, c.n_shared_bands,
       round(CAST(coalesce(i.ninter, 0) AS DOUBLE)
             / CAST(sa.n + sb.n - coalesce(i.ninter, 0) AS DOUBLE), 6) AS jaccard
FROM cand c
JOIN sizes sa ON sa.doc_id = c.doc_a
JOIN sizes sb ON sb.doc_id = c.doc_b
LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
ORDER BY c.doc_a, c.doc_b
"""


@register(
    "qx264_minhash_lsh_exact",
    oracle=_mh_oracle(),
    doc="MinHash-LSH candidate pairs with md5-derived universal hashes (full value-hash oracle)",
    tags=("dedup", "lsh", "text"),
)
def qx264_minhash_lsh_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH whose ENTIRE pipeline is cross-engine exact — the
    oracle-bearing sibling of q47 (rows-only since round 2 because
    xxhash64 has no DuckDB spelling): the shingle hash is the first 15
    hex chars of md5 (identical string function in both engines), the
    K=16 signature permutations are fixed-constant universal hashes
    (a·h+b mod 2^31−1 — pure BIGINT arithmetic, products bounded by
    2^62), the band keys are md5 over the comma-joined signature
    quartets, and the verify step is true Jaccard on distinct gram
    STRINGS (integer counts, one final rounded division). Every row is
    therefore value-hash-checkable — no planted-dup proxy needed.

    Scale shape: one doc-keyed exchange builds the 16-way min
    signature (map-side partial min); band buckets are the q47 join
    geometry (tiny buckets, never all-pairs); the Jaccard verify joins
    grams only for CANDIDATE pairs, so the expensive step is
    output-bounded. md5 costs ~3x xxhash64 per gram — the price of an
    exact oracle, paid once per gram, still JVM-side."""
    docs = load_catalog(spark, sf_dir).table("documents")
    grams = token_ngrams(docs, MH_SHINGLE, distinct=True)
    hashed = grams.withColumn("h31", md5_bigint(F.col("g")) % MH_P)
    sig = hashed.groupBy("doc_id").agg(
        *[
            F.min((F.lit(a) * F.col("h31") + F.lit(b)) % MH_P).alias(f"s{i}")
            for i, (a, b) in enumerate(_mh_coefs())
        ]
    )
    # One explode over the MH_B per-band keys instead of an MH_B-way
    # union of projections of `sig`: the union spelling re-derived the
    # whole signature subtree (scan -> gram explode -> distinct -> 16-min
    # aggregate) once PER BAND and again per self-join side - 20 parquet
    # scans of `documents` in the physical plan. Same rows (band keys are
    # per-doc values; downstream is a join + groupBy, row order free).
    bands = sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.md5(
                            F.concat_ws(
                                ",",
                                *[
                                    F.col(f"s{b * MH_R + r}").cast("string")
                                    for r in range(MH_R)
                                ],
                            )
                        ).alias("key"),
                    )
                    for b in range(MH_B)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    ba, bb = bands.alias("ba"), bands.alias("bb")
    cand = (
        ba.join(
            bb,
            (F.col("ba.band") == F.col("bb.band"))
            & (F.col("ba.key") == F.col("bb.key"))
            & (F.col("ba.doc_id") < F.col("bb.doc_id")),
        )
        .groupBy(
            F.col("ba.doc_id").alias("doc_a"), F.col("bb.doc_id").alias("doc_b")
        )
        .agg(F.count_distinct("ba.band").cast("bigint").alias("n_shared_bands"))
    )
    sizes = grams.groupBy("doc_id").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    ga, gb = grams.alias("ga"), grams.alias("gb")
    inter = (
        cand.join(ga, F.col("ga.doc_id") == F.col("doc_a"))
        .join(gb, (F.col("gb.doc_id") == F.col("doc_b")) & (F.col("gb.g") == F.col("ga.g")))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("ninter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .join(inter, ["doc_a", "doc_b"], "left")
        .select(
            "doc_a",
            "doc_b",
            "n_shared_bands",
            r6(
                F.coalesce(F.col("ninter"), F.lit(0)).cast("double")
                / (F.col("na") + F.col("nb") - F.coalesce(F.col("ninter"), F.lit(0))).cast("double")
            ).alias("jaccard"),
        )
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# qx266: cross-engine-exact SimHash near-dup pairs (q48's oracle sibling)
# ---------------------------------------------------------------------------

# SH64_* constants, sh64_signatures, and SH64_SIG_CTES live in the q48
# section since round 10 — q48 (per-doc fingerprint) and this pair join
# share the identical signature machinery.

SIMHASH_EXACT_ORACLE = f"""
WITH {SH64_SIG_CTES},
bands AS (
  SELECT doc_id, b.b, (s >> (b.b * {SH64_BAND_BITS})) & {(1 << SH64_BAND_BITS) - 1} AS key, s
  FROM sig, (SELECT unnest(range({SH64_BANDS})) AS b) b
),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(bit_count(CAST(xor(a.s, b.s) AS BIT)) AS BIGINT) AS hamming
  FROM bands a JOIN bands b
    ON a.b = b.b AND a.key = b.key AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, hamming
FROM pairs WHERE hamming <= {SH64_MAXHAM}
ORDER BY doc_a, doc_b
"""


@register(
    "qx266_simhash_exact",
    oracle=SIMHASH_EXACT_ORACLE,
    doc="SimHash near-dup pairs with md5-derived bits (full value-hash oracle)",
    tags=("dedup", "simhash", "text"),
)
def qx266_simhash_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash whose whole pipeline is cross-engine exact — q48's
    oracle-bearing sibling, completing the qx264 program for the
    second hash-dedup family: token hashes are 60 md5 bits (identical
    string function both engines), the signature is the sign of
    frequency-weighted INTEGER bit votes, banding is plain bit
    slicing, and the pair metric is bit_count(xor) — not one
    floating-point operation anywhere, so every candidate pair
    value-hash-matches DuckDB.

    Scale shape: votes are one doc-keyed aggregate over the (doc,
    token, count) frame (Spark spells the 60 bit-votes as 60 CASE-sum
    columns in a single groupBy — no 60-way row blowup; the oracle's
    unnest spelling sums the same integers); band buckets are the q47
    join geometry; the Hamming verify is output-bounded. At a real
    corpus's vocabulary the signature join dominates and stays
    bucket-local.

    Band-saturation policy (measured by scripts/scale_check.py
    qx266_simhash_exact, r10): unlike
    qx264's 2^60 md5 band keys, a FIXED 15-bit key space saturates as
    the corpus grows — candidate mass measured 234× at 100× docs
    (mildly super-linear; degenerate all-pairs would be ~10,000×),
    because frequency-dominated bit votes cluster signatures into hot
    buckets. At larger corpora, read the qx261-style (band, key)
    occupancy histogram BEFORE paying the join, and widen
    SH64_BAND_BITS (more bits per band, fewer bands, or a second hash
    folded into the key) to hold per-bucket occupancy fixed — the
    same cells-∝-N stance as q69's IVF."""
    docs = load_catalog(spark, sf_dir).table("documents")
    # Eager DISK_ONLY checkpoint of the signature frame (round 14,
    # VERDICT r13 #8; guide §3.3 plan truncation — the qx278 device):
    # both self-join sides derive from sig, and the static plan
    # re-derives the whole token-explode + 60-vote aggregate subtree
    # per side (the broadcast side's copy is NOT covered by AQE
    # exchange reuse — measured 3.0 → 2.5 s isolated at sf0.1 with no
    # other change). The checkpointed frame is one skinny row per doc
    # (doc_id + 60-bit sig ≈ 16 B) — strictly smaller than the banded
    # frame the join shuffles anyway; DISK_ONLY for the same
    # corpus-scale-cache reason as qx278's gram frame.
    from pyspark import StorageLevel

    sig = sh64_signatures(docs).localCheckpoint(
        eager=True, storageLevel=StorageLevel.DISK_ONLY
    )
    mask = (1 << SH64_BAND_BITS) - 1
    bands = sig.select(
        "doc_id",
        "s",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("b"),
                        F.shiftright(F.col("s"), b * SH64_BAND_BITS)
                        .bitwiseAND(F.lit(mask))
                        .alias("key"),
                    )
                    for b in range(SH64_BANDS)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "s", F.col("bk.b").alias("b"), F.col("bk.key").alias("key"))
    ba, bb = bands.alias("ba"), bands.alias("bb")
    return (
        ba.join(
            bb,
            (F.col("ba.b") == F.col("bb.b"))
            & (F.col("ba.key") == F.col("bb.key"))
            & (F.col("ba.doc_id") < F.col("bb.doc_id")),
        )
        .select(
            F.col("ba.doc_id").alias("doc_a"),
            F.col("bb.doc_id").alias("doc_b"),
            F.bit_count(F.col("ba.s").bitwiseXOR(F.col("bb.s")))
            .cast("bigint")
            .alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= SH64_MAXHAM)
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# qx282: decontamination span mask (mask the overlap, keep the document)
# ---------------------------------------------------------------------------

SPAN_MASK_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
),
sh AS (
  SELECT doc_id, i, array_to_string(w[i:i+{CONTAM_N}-1], ' ') AS g
  FROM tok, LATERAL (SELECT unnest(range(1, len(w) - {CONTAM_N} + 2)) AS i) ii
  WHERE len(w) >= {CONTAM_N}
),
bench AS (
  SELECT DISTINCT g FROM sh WHERE doc_id % {CONTAM_MOD} = 0
),
hits AS (
  SELECT s.doc_id, s.i FROM sh s JOIN bench USING (g)
  WHERE s.doc_id % {CONTAM_MOD} <> 0
),
marks AS (
  SELECT doc_id, i,
         CASE WHEN i > coalesce(max(i + {CONTAM_N}) OVER (
                    PARTITION BY doc_id ORDER BY i
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
              THEN 1 ELSE 0 END AS new_island
  FROM hits
),
isl AS (
  SELECT doc_id, i,
         sum(new_island) OVER (
           PARTITION BY doc_id ORDER BY i
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM marks
)
SELECT doc_id,
       CAST(min(i) AS BIGINT) AS span_start,
       CAST(max(i) + {CONTAM_N} AS BIGINT) AS span_end,
       CAST(max(i) + {CONTAM_N} - min(i) AS BIGINT) AS span_tokens
FROM isl
GROUP BY doc_id, island
ORDER BY doc_id, span_start
"""


@register(
    "qx282_decontam_span_mask",
    oracle=SPAN_MASK_ORACLE,
    doc="merged token-span loss-mask intervals for benchmark-contaminated n-gram hits",
    tags=("text", "contamination", "loss-mask"),
)
def qx282_decontam_span_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level decontamination — the modern alternative to dropping
    whole documents (qx259 flags them; q77 drops them): locate every
    CONTAM_N-gram a training doc shares with the benchmark set and emit
    MERGED token intervals [span_start, span_end) to zero out of the
    loss, gaps-and-islands style (the q58 SCD2 trick on token
    positions). A doc that quotes one benchmark sentence keeps its
    other 10k tokens. Positions are 1-based token indices; overlapping
    and touching spans merge (their loss-mask coverage is contiguous
    either way), so the output is the MINIMAL interval set.

    Exactness: pure integer interval logic end-to-end — positions from
    the same 1-based sequence in both engines, the island rule
    (start > running max end) and the running sums are
    integer-deterministic under the per-doc total order by start.

    Scale shape: positional shingles are map-side; the hit detection
    is a semi-join against the benchmark gram set (REAL benchmarks are
    thousands of docs — broadcast; the fixture's doc_id%{CONTAM_MOD}
    stand-in rides a shuffled semi-join, same plan family as qx259);
    the island merge windows partition by doc_id over the HITS frame
    only — contamination is sparse, so that exchange carries a tiny
    fraction of corpus rows. Reference parity: extends the
    drop-based screen cited at bqfetch/bqfetch.py:457-502's fetch
    filtering toward loss-mask curation."""
    docs = load_catalog(spark, sf_dir).table("documents")
    sh = positional_contam_shingles(docs)
    bench = sh.filter(F.col("doc_id") % CONTAM_MOD == 0).select("g").distinct()
    hits = (
        sh.filter(F.col("doc_id") % CONTAM_MOD != 0)
        .join(bench, "g", "leftsemi")
        .select("doc_id", "i")
    )
    return merge_hit_spans(hits)


def positional_contam_shingles(docs: DataFrame) -> DataFrame:
    """(doc_id, i, g): every CONTAM_N-gram with its 1-based token
    position — qx282's positional sibling of contam_shingles, shared
    with the streaming span-mask waves (streaming/spanmask.py)."""
    return token_ngrams(docs, CONTAM_N, positional=True)


def merge_hit_spans(hits: DataFrame) -> DataFrame:
    """Gaps-and-islands merge of (doc_id, i) n-gram hits into minimal
    [span_start, span_end) intervals — integer-deterministic under the
    per-doc total order by start position."""
    w_prev = (
        Window.partitionBy("doc_id").orderBy("i").rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("doc_id")
        .orderBy("i")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    marks = hits.withColumn(
        "new_island",
        F.when(
            F.col("i")
            > F.coalesce(F.max(F.col("i") + CONTAM_N).over(w_prev), F.lit(-1)),
            1,
        ).otherwise(0),
    )
    isl = marks.withColumn("island", F.sum("new_island").over(w_run))
    return (
        isl.groupBy("doc_id", "island")
        .agg(
            F.min("i").cast("bigint").alias("span_start"),
            (F.max("i") + CONTAM_N).cast("bigint").alias("span_end"),
            (F.max("i") + CONTAM_N - F.min("i")).cast("bigint").alias("span_tokens"),
        )
        .select("doc_id", "span_start", "span_end", "span_tokens")
        .orderBy("doc_id", "span_start")
    )


# ---------------------------------------------------------------------------
# qx283: boilerplate gram mining (what header/footer text floods the corpus)
# ---------------------------------------------------------------------------

BP_N = 4  # boilerplate gram width (shorter than CONTAM_N: boilerplate repeats)
BP_TOPK = 20

BOILERPLATE_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
),
sh AS (
  SELECT DISTINCT doc_id,
         array_to_string(w[i:i+{BP_N}-1], ' ') AS g
  FROM tok, LATERAL (SELECT unnest(range(1, len(w) - {BP_N} + 2)) AS i) ii
  WHERE len(w) >= {BP_N}
),
df AS (
  SELECT g, CAST(count(*) AS BIGINT) AS doc_freq FROM sh GROUP BY g
),
ranked AS (
  SELECT g, doc_freq,
         row_number() OVER (ORDER BY doc_freq DESC, g) AS rn
  FROM df
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents)
SELECT rn AS rank, g AS gram, doc_freq,
       round(CAST(doc_freq AS DOUBLE) / CAST(t.n_docs AS DOUBLE), 6) AS doc_share
FROM ranked, tot t
WHERE rn <= {BP_TOPK}
ORDER BY rn
"""


@register(
    "qx283_boilerplate_grams",
    oracle=BOILERPLATE_ORACLE,
    doc="top document-frequency n-grams: the boilerplate mining report",
    tags=("text", "quality", "boilerplate"),
)
def qx283_boilerplate_grams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate mining, the C4-style precursor to line filtering:
    which BP_N-grams appear in the MOST DISTINCT documents (cookie
    banners, nav bars, license footers)? The report a curation team
    reads before writing removal rules — at 100 TB you mine once, eye
    the top of the list, and the rules become cheap map-side filters.
    Ranking is total-ordered (doc_freq DESC, gram ASC), so the top-k
    is deterministic in both engines.

    Scale shape: per-doc DISTINCT grams are doc-local (the dedup's
    exchange key contains doc_id, so hash partitioning on that one
    exchange covers it), then ONE gram-keyed count exchange with
    map-side partials; the top-k runs on the df frame (vocab-sized)
    and the doc-count denominator rides the same plan as a 1-row
    broadcast — one job, no second action (the qx258 lesson)."""
    docs = load_catalog(spark, sf_dir).table("documents")
    sh = token_ngrams(docs, BP_N, distinct=True)
    df = sh.groupBy("g").agg(F.count(F.lit(1)).cast("bigint").alias("doc_freq"))
    # Distributed top-k (TakeOrderedAndProject — per-partition heads,
    # never a single-partition window over the vocab-sized df frame);
    # the rank number is then a window over the K-row result only.
    top = df.orderBy(F.col("doc_freq").desc(), F.col("g")).limit(BP_TOPK)
    ranked = top.withColumn(
        "rn", F.row_number().over(Window.orderBy(F.col("doc_freq").desc(), F.col("g")))
    )
    tot = docs.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    return (
        ranked.crossJoin(F.broadcast(tot))
        .select(
            F.col("rn").cast("bigint").alias("rank"),
            F.col("g").alias("gram"),
            "doc_freq",
            r6(F.col("doc_freq").cast("double") / F.col("n_docs").cast("double")).alias(
                "doc_share"
            ),
        )
        .orderBy("rank")
    )
