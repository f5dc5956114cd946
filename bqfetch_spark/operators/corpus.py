"""Corpus-curation operators: the steps between "deduped documents"
and "training shards" in a large-scale data pipeline — stratified
domain mixing, token-budget shard packing, and near-dup cluster
resolution.

Scale stance (100 TB of documents):
- Stratified sampling is a broadcast join against a tiny rate table
  plus a deterministic hash filter — one scan, no shuffle, and the
  same doc is kept or dropped on every run (md5 keys, not rand()).
- Shard packing needs a global running sum of token counts; the
  naive spelling is an unpartitioned window (single-task sort of the
  corpus). We use the one-pass deterministic-bucket form
  (plans/ranks.py:with_global_cumsum) — exact, one corpus shuffle,
  and no task touches more than one bucket's rows.
- Cluster resolution is iterative hash-min label propagation over the
  near-dup pair graph: per iteration one equi-join + one groupBy-min,
  converging in O(cluster diameter) rounds (near-dup clusters are
  shallow — a handful of rounds). Lineage is truncated with
  localCheckpoint each round so the plan does not grow with the
  iteration count.
"""

from __future__ import annotations

import functools
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from bqfetch_spark.catalog import load_catalog
from bqfetch_spark.functions.text import token_ngrams
from bqfetch_spark.operators.llm_pipeline import NGRAM_JACCARD_ORACLE, q46_ngram_jaccard
from bqfetch_spark.operators.relational import r6
from bqfetch_spark.plans.ranks import with_global_cumsum, with_global_rank
from bqfetch_spark.registry import register
from bqfetch_spark.session import shuffle_partitions

# ---------------------------------------------------------------------------
# Stratified sampling (domain mixing)
# ---------------------------------------------------------------------------

# language -> keep rate: downsample the head language, keep the tail
SAMPLE_RATES = {"en": 0.25, "de": 0.5, "es": 0.5, "fr": 1.0, "zh": 1.0}


def _hex_threshold(rate: float) -> str:
    """4-hex-digit keep threshold for substring(md5(key),1,4) < t.

    rate >= 1.0 maps to 'zzzz', which every hex string sorts below —
    the keep-everything sentinel works identically in any engine that
    compares strings lexicographically. Rates just under 1.0 whose
    rounded value reaches 65536 (>= 0.9999924) would format as the
    5-char '10000' — lexicographically BELOW most 4-hex strings, a
    silent ~94% drop — so they take the sentinel too."""
    if round(rate * 65536) >= 65536:
        return "zzzz"
    return format(max(0, round(rate * 65536)), "04x")


def stratified_sample(df: DataFrame, rates: dict[str, float], key_col: str, strat_col: str) -> DataFrame:
    """Deterministic per-stratum sampling: keep a row iff the first 4
    hex chars of md5(key) sort below the stratum's rate threshold.

    Unlike ``df.sampleBy`` (seeded RNG over a partition-order-dependent
    stream), the decision is a pure function of the key, so reruns,
    retries, and speculative tasks all agree — the property that
    matters when a 100 TB sample job has to be resumable. The rate
    table is a handful of rows, joined broadcast: no shuffle at all.
    """
    spark = df.sparkSession
    rate_rows = [(s, _hex_threshold(r)) for s, r in rates.items()]
    rate_df = spark.createDataFrame(rate_rows, f"{strat_col} string, __thresh string")
    return (
        df.join(F.broadcast(rate_df), strat_col)
        .filter(F.substring(F.md5(F.col(key_col).cast("string")), 1, 4) < F.col("__thresh"))
        .drop("__thresh")
    )


def _rates_values_sql() -> str:
    return ", ".join(f"('{lang}', '{_hex_threshold(r)}')" for lang, r in SAMPLE_RATES.items())


STRATIFIED_ORACLE = f"""
WITH rates(lang, thresh) AS (VALUES {_rates_values_sql()})
SELECT d.doc_id, d.lang, d.source, d.n_chars
FROM documents d
JOIN rates r ON d.lang = r.lang
WHERE substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 4) < r.thresh
"""


@register("q72_stratified_sample", oracle=STRATIFIED_ORACLE, tags=("sampling",))
def q72_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain mixing: language-stratified deterministic sample of
    `documents` (md5-threshold keep rule, broadcast rate table)."""
    docs = load_catalog(spark, sf_dir).table("documents")
    return stratified_sample(docs, SAMPLE_RATES, "doc_id", "lang").select(
        "doc_id", "lang", "source", "n_chars"
    )


# ---------------------------------------------------------------------------
# Token-budget shard packing
# ---------------------------------------------------------------------------

PACK_BUDGET = 2048  # tokens per shard


PACK_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents
),
cum AS (
  SELECT doc_id, n_tokens,
         sum(n_tokens) OVER (ORDER BY doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
  FROM toks
)
SELECT
  CAST((c - n_tokens) // {PACK_BUDGET} AS BIGINT) AS shard_id,
  count(*) AS n_docs,
  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
  min(doc_id) AS first_doc,
  max(doc_id) AS last_doc
FROM cum
GROUP BY 1
"""


@register("q73_pack_shards", oracle=PACK_ORACLE, tags=("sampling", "packing"))
def q73_pack_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack documents (in doc_id order) into ~PACK_BUDGET-token
    training shards: a doc's shard is its preceding cumulative token
    count integer-divided by the budget, so shard boundaries fall at
    fixed token offsets regardless of partitioning.

    The running sum uses the scalable one-pass deterministic-bucket
    form — the SQL-window spelling in the oracle would be a
    single-task sort of the whole corpus at scale."""
    docs = load_catalog(spark, sf_dir).table("documents")
    toks = docs.select(
        "doc_id", F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n_tokens")
    )
    cum = with_global_cumsum(toks, ["doc_id"], "n_tokens", shuffle_partitions(spark), "c")
    return (
        cum.withColumn("shard_id", F.expr(f"(c - n_tokens) div {PACK_BUDGET}"))
        .groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


# ---------------------------------------------------------------------------
# Near-dup cluster resolution (connected components, hash-min)
# ---------------------------------------------------------------------------

CLUSTER_JACCARD = 0.2  # pair threshold feeding the cluster graph
MAX_CC_ITERS = 20  # safety cap; real convergence is O(cluster diameter)
# Driver-side union-find fast path bound (round 14, guide §1.2/§5):
# below this many edges the whole graph fits the driver comfortably
# (2 longs/edge ≈ 16 B → ≤ ~8 MB at the cap, far under
# spark.driver.maxResultSize) and a single union-find pass replaces
# O(log diameter) shuffle-join rounds whose fixed per-round scheduler
# cost dominates at small edge counts (measured: qx191's CC tail
# ~1.9 s of per-round joins for a ~3k-edge graph). The bound is on
# EDGES — data, not a local[32] tunable — so a 100 TB corpus whose
# dedup graph exceeds it takes the distributed hash-min loop below,
# same as before.
CC_DRIVER_MAX_EDGES = 500_000


def _driver_union_find(edges: list[tuple[int, int]]) -> dict[int, int]:
    """Min-label union-find over a bounded edge list: parent pointers
    with path compression + attach-larger-root-under-smaller, so every
    node's root IS the min node id of its component (the same label
    hash-min propagation converges to)."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:  # path compression
            parent[x], x = root, parent[x]
        return root

    nodes: set[int] = set()
    for a, b in edges:
        nodes.add(a)
        nodes.add(b)
        ra, rb = find(a), find(b)
        if ra != rb:
            if ra < rb:
                parent[rb] = ra
            else:
                parent[ra] = rb
    return {n: find(n) for n in nodes}


def connected_components(
    pairs: DataFrame,
    a_col: str,
    b_col: str,
    max_iters: int = MAX_CC_ITERS,
    driver_max_edges: int = CC_DRIVER_MAX_EDGES,
) -> DataFrame:
    """(node, cluster_id) for every node in ``pairs``, cluster_id =
    min node id in the connected component — iterative hash-min label
    propagation (the standard large-graph CC algorithm; GraphFrames
    does the same under the hood).

    Per round: join labels to the symmetric edge list, take the min
    neighbor label per node, and stop when the global label sum stops
    decreasing (labels only ever decrease, so an unchanged sum IS the
    fixpoint). Each round is one shuffle join + one groupBy — no
    driver-side data beyond the 1-row convergence aggregate — and
    localCheckpoint truncates lineage so round N's plan doesn't
    replay rounds 1..N-1."""
    # materialize the PAIRS once, then the edge list once: every
    # iteration joins against edges, and without the barriers each
    # round would replay the (expensive) upstream pair-generation plan;
    # worse, the symmetrizing union evaluates its input twice, so an
    # un-checkpointed pairs plan (q46's shingle join, qx139's all-pairs
    # cosine) would run double even in the single edge materialization
    p = pairs.select(
        F.col(a_col).alias("src"), F.col(b_col).alias("dst")
    ).localCheckpoint(eager=True)
    # size the ITERATION parallelism to the materialized edge count,
    # not the session default: each round is 2 joins + a checkpoint +
    # a 1-row agg, so a few-hundred-edge dedup graph at 32 shuffle
    # partitions pays ~100 near-empty tasks per round in pure
    # scheduler overhead (measured: the fixed cost dominates qx139/
    # qx191/q74 wall at fixture scale). ~50k edges per partition keeps
    # the big-graph case at full width — n_parts grows with the data,
    # so 1e12 edges still fan out to ~20k tasks on a real cluster.
    n_edges = p.count()
    spark = pairs.sparkSession
    # Small-graph fast path (round 14): the edge list is already
    # materialized and counted; when it is driver-bounded, one
    # union-find pass on the driver replaces the whole iteration loop
    # (each round = 2 shuffle joins + checkpoint + a collect — pure
    # fixed cost at this size). Gated on max_iters >= MAX_CC_ITERS so
    # callers exercising the iteration cap (tests) still reach the
    # loop; result is identical — min node id per component, which is
    # exactly the hash-min fixpoint and the recursive-CTE oracle.
    if max_iters >= MAX_CC_ITERS and n_edges <= driver_max_edges:
        labels_map = _driver_union_find(
            [(int(r["src"]), int(r["dst"])) for r in p.collect()]
        )
        return spark.createDataFrame(
            sorted(labels_map.items()), "node long, cluster_id long"
        )
    iter_parts = max(2, min(shuffle_partitions(spark), 1 + n_edges // 50_000))
    # pin the SESSION shuffle width to iter_parts for the loop (round
    # 13, guide §2.2/§1.2): every per-round join/groupBy exchange
    # otherwise plans at the session default (32 here, thousands on a
    # cluster) and AQE coalesces at runtime — but the planning and
    # stage-bookkeeping overhead of the wide exchanges is the dominant
    # per-round cost on a small graph (measured: qx191's loop 4.0 →
    # 3.0 s with no other change). iter_parts already scales with the
    # edge count, so a 1e12-edge graph still fans out; restored in the
    # finally (same pattern as streaming/windows.run_to_memory).
    # SINGLE-THREADED-SESSION assumption (ADVICE r13): the pin mutates
    # the session-global conf, so any query planned CONCURRENTLY on
    # this SparkSession would silently plan at the narrowed width.
    # Fine for this harness (one driver thread per session, like
    # run_to_memory's state-partition pin); a concurrent deployment
    # must scope it via a cloned session / per-query SQLConf instead.
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", str(iter_parts))
        p = p.repartition(iter_parts).localCheckpoint(eager=True)
        edges = p.union(p.select(F.col("dst"), F.col("src"))).localCheckpoint(eager=True)
        labels = (
            edges.select(F.col("src").alias("node"))
            .distinct()
            .withColumn("label", F.col("node"))
            .localCheckpoint(eager=True)
        )
        prev_sum = labels.agg(F.sum("label")).first()[0]
        for _ in range(max_iters):
            nbr_min = (
                edges.join(labels, edges.dst == labels.node)
                .groupBy("src")
                .agg(F.min("label").alias("nbr_label"))
            )
            stepped = labels.join(nbr_min, labels.node == nbr_min.src, "left").select(
                "node",
                F.least(F.col("label"), F.coalesce("nbr_label", "label")).alias("label"),
            )
            # pointer jump (path compression): follow each label to ITS
            # label — every label is itself a node, so the hop is a self
            # equi-join. Plain hash-min needs O(diameter) rounds (a chain
            # component converges one hop per round — measured 11 rounds on
            # the sf0.1 cosine graph); the jump makes label depth halve per
            # round, so convergence is O(log diameter) — the difference
            # between ~40 and ~6 rounds on a 1e12-edge graph's long chains.
            x, p = stepped.alias("x"), stepped.alias("p")
            labels = (
                x.join(p, F.col("x.label") == F.col("p.node"), "left")
                .select(
                    F.col("x.node").alias("node"),
                    F.least(
                        F.col("x.label"), F.coalesce(F.col("p.label"), F.col("x.label"))
                    ).alias("label"),
                )
                .localCheckpoint(eager=True)
            )
            cur_sum = labels.agg(F.sum("label")).first()[0]
            if cur_sum == prev_sum:
                break
            prev_sum = cur_sum
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return labels.select("node", F.col("label").alias("cluster_id"))


CLUSTERS_ORACLE = f"""
WITH RECURSIVE pairs AS (
  SELECT doc_a, doc_b FROM ({NGRAM_JACCARD_ORACLE}) q
  WHERE jaccard >= {CLUSTER_JACCARD}
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
),
reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
)
SELECT
  src AS doc_id,
  least(src, min(dst)) AS cluster_id,
  CAST(src = least(src, min(dst)) AS INTEGER) AS is_canonical
FROM reach
GROUP BY src
"""


@register("q74_dedup_clusters", oracle=CLUSTERS_ORACLE, tags=("dedup", "clustering"))
def q74_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resolve near-dup PAIRS (q46 shingle-Jaccard >= CLUSTER_JACCARD)
    into CLUSTERS via hash-min connected components, and mark the
    canonical keeper (min doc_id) per cluster — the step that turns
    pairwise dedup output into "keep one copy per duplicate group".

    The oracle computes the same components by recursive-CTE
    transitive closure — exact but O(component²) rows, fine for the
    sf0.01 check; the engine's label propagation is the shape that
    scales (state is one (node,label) row per doc)."""
    pairs = q46_ngram_jaccard(spark, sf_dir).filter(
        F.col("jaccard") >= CLUSTER_JACCARD
    )
    cc = connected_components(pairs, "doc_a", "doc_b")
    return cc.select(
        F.col("node").alias("doc_id"),
        "cluster_id",
        (F.col("node") == F.col("cluster_id")).cast("int").alias("is_canonical"),
    )


# ---------------------------------------------------------------------------
# Canonical corpus materialization (clusters -> cleaned corpus)
# ---------------------------------------------------------------------------

CANONICAL_ORACLE = f"""
WITH losers AS (
  SELECT doc_id FROM ({CLUSTERS_ORACLE}) c WHERE is_canonical = 0
)
SELECT d.doc_id, d.lang, d.source, d.n_chars
FROM documents d
WHERE d.doc_id NOT IN (SELECT doc_id FROM losers)
"""


@register("q86_canonical_corpus", oracle=CANONICAL_ORACLE, tags=("dedup", "clustering"))
def q86_canonical_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The final step of the near-dup dedup story: drop every cluster
    member except its canonical keeper and emit the cleaned corpus
    (pairs -> clusters -> one survivor per duplicate group).

    One LEFT ANTI join of the corpus against the (tiny relative to the
    corpus) non-canonical id set — docs in no cluster pass through
    untouched, so the corpus is scanned once and never shuffled on
    text. At 100 TB the loser list is the only thing exchanged."""
    docs = load_catalog(spark, sf_dir).table("documents")
    losers = q74_dedup_clusters(spark, sf_dir).filter(F.col("is_canonical") == 0).select("doc_id")
    return docs.join(losers, "doc_id", "left_anti").select(
        "doc_id", "lang", "source", "n_chars"
    )


SOURCE_CAP = 50  # max docs admitted per source
CAP_SALT_BUCKETS = 16

SOURCE_CAP_ORACLE = f"""
WITH ranked AS (
  SELECT doc_id, source,
         row_number() OVER (
           PARTITION BY source
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
         ) AS rn
  FROM documents
)
SELECT doc_id, source, CAST(rn AS BIGINT) AS rn
FROM ranked WHERE rn <= {SOURCE_CAP}
"""


@register("q103_source_cap_sample", oracle=SOURCE_CAP_ORACLE, tags=("sampling", "curation"))
def q103_source_cap_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document cap — the "no single domain dominates" rule
    every web-corpus curation applies: keep a deterministic uniform
    sample of exactly SOURCE_CAP docs per source (the docs with the
    smallest md5(doc_id), so reruns/retries agree like q72's keep
    rule, and the oracle is one SQL window).

    Scale shape: a plain per-source row_number sorts EVERY doc of a
    source in one task — the single-task-sort trap (plans/ranks.py)
    when one domain holds terabytes. The cap is therefore salted
    two-phase: phase 1 takes the local top-CAP inside each
    (source, salt) slice — CAP_SALT_BUCKETS-way parallel per source —
    and phase 2's exact window ranks only the ≤ CAP×SALT_BUCKETS
    survivors per source. Identical output (a per-slice top-CAP is a
    superset of the global top-CAP), bounded task size at any skew."""
    from pyspark.sql.window import Window

    docs = load_catalog(spark, sf_dir).table("documents")
    key = F.md5(F.col("doc_id").cast("string"))
    local_w = Window.partitionBy("source", "salt").orderBy("key", "doc_id")
    final_w = Window.partitionBy("source").orderBy("key", "doc_id")
    return (
        docs.select("doc_id", "source", key.alias("key"))
        .withColumn(
            "salt", F.pmod(F.xxhash64("doc_id"), F.lit(CAP_SALT_BUCKETS)).cast("int")
        )
        .withColumn("lrn", F.row_number().over(local_w))
        .filter(F.col("lrn") <= SOURCE_CAP)
        .withColumn("rn", F.row_number().over(final_w).cast("bigint"))
        .filter(F.col("rn") <= SOURCE_CAP)
        .select("doc_id", "source", "rn")
    )


# ---------------------------------------------------------------------------
# qx161 — concat-and-chunk sequence packing (GPT-style pretraining)
# ---------------------------------------------------------------------------

SEQ_LEN = 512  # tokens per training sequence

SEQPACK_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents
),
cum AS (
  SELECT doc_id, n_tokens,
         sum(n_tokens) OVER (ORDER BY doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
  FROM toks
)
SELECT doc_id, n_tokens,
       CAST((c - n_tokens) // {SEQ_LEN} AS BIGINT) AS start_seq,
       CAST((c - n_tokens) % {SEQ_LEN} AS BIGINT) AS start_offset,
       CAST((c - 1) // {SEQ_LEN} - (c - n_tokens) // {SEQ_LEN} + 1 AS BIGINT)
         AS n_seqs
FROM cum
"""


@register(
    "qx161_sequence_packing",
    oracle=SEQPACK_ORACLE,
    doc="Concat-and-chunk packing: global token cumsum -> sequence id/offset per doc",
    tags=("packing", "llm", "sampling"),
)
def qx161_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The packing step of a GPT-style pretraining pipeline: the corpus
    is one continuous token stream (docs in doc_id order) chopped into
    fixed SEQ_LEN-token training sequences, documents spanning sequence
    boundaries — each doc gets its starting sequence id, its offset
    within that sequence, and how many sequences it spans. Everything
    derives from ONE exact global token cumsum, computed with the
    one-pass bucket exchange (plans/ranks.with_global_cumsum) — the
    oracle's SQL window would single-task-sort the corpus at 100 TB,
    the bucket exchange never sorts more than one bucket per task.
    Downstream, a writer groups by sequence id to emit packed training
    shards; this frame IS the doc→sequence index that makes that write
    embarrassingly parallel. Complements q73 (shard-level packing:
    docs never split) with the token-exact split semantics."""
    docs = load_catalog(spark, sf_dir).table("documents")
    toks = docs.select(
        "doc_id", F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n_tokens")
    )
    cum = with_global_cumsum(toks, ["doc_id"], "n_tokens", shuffle_partitions(spark), "c")
    before = F.col("c") - F.col("n_tokens")
    return cum.select(
        "doc_id",
        "n_tokens",
        F.expr(f"(c - n_tokens) div {SEQ_LEN}").cast("bigint").alias("start_seq"),
        (before % SEQ_LEN).cast("bigint").alias("start_offset"),
        (
            F.expr(f"(c - 1) div {SEQ_LEN}") - F.expr(f"(c - n_tokens) div {SEQ_LEN}") + 1
        ).cast("bigint").alias("n_seqs"),
    )


# ---------------------------------------------------------------------------
# qx174 — per-source data card (corpus release report)
# ---------------------------------------------------------------------------

DATACARD_ORACLE = """
WITH base AS (
  SELECT source, lang, text, doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
  FROM documents
),
lang_counts AS (
  SELECT source, lang, count(*) AS c FROM base GROUP BY 1, 2
),
lang_entropy AS (
  SELECT source,
         round(-sum((CAST(c AS DOUBLE) / t) * ln(CAST(c AS DOUBLE) / t)), 6) AS h
  FROM (SELECT source, c, sum(c) OVER (PARTITION BY source) AS t FROM lang_counts)
  GROUP BY source
)
SELECT b.source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_dups,
       round(CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6)
         AS dup_rate,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       round(CAST(sum(n_tokens) AS DOUBLE) / count(*), 6) AS avg_tokens,
       CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
       any_value(e.h) AS lang_entropy
FROM base b JOIN lang_entropy e ON e.source = b.source
GROUP BY b.source
"""


@register(
    "qx174_source_data_card",
    oracle=DATACARD_ORACLE,
    doc="Per-source corpus data card: volume, dup rate, token stats, language entropy",
    tags=("quality", "reporting", "dedup"),
)
def qx174_source_data_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-source 'data card' a corpus release ships: volume, exact
    duplicate rate (corpus-wide first occurrence is the original —
    consistent with q40's keeper rule), token totals, and language-mix
    entropy. One dup-marking pass (the q40 window) feeds the per-source
    rollup; language entropy re-aggregates the tiny (source, lang)
    frame — the heavy scan happens once and every report column rides
    it. At 100 TB this replaces N per-metric jobs with one."""
    docs = load_catalog(spark, sf_dir).table("documents")
    w = Window.partitionBy("text").orderBy("doc_id")
    base = docs.select(
        "source",
        "lang",
        F.size(F.split("text", " ")).cast("bigint").alias("n_tokens"),
        (F.row_number().over(w) > 1).cast("int").alias("is_dup"),
    )
    lang_counts = base.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("c"))
    t = Window.partitionBy("source")
    ratio = F.col("c").cast("double") / F.sum("c").over(t)
    lang_entropy = (
        lang_counts.select("source", (-ratio * F.log(ratio)).alias("term"))
        .groupBy("source")
        .agg(r6(F.sum("term")).alias("lang_entropy"))
    )
    card = base.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("is_dup").cast("bigint").alias("n_exact_dups"),
        r6(F.sum("is_dup").cast("double") / F.count(F.lit(1))).alias("dup_rate"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        r6(F.sum("n_tokens").cast("double") / F.count(F.lit(1))).alias("avg_tokens"),
        F.countDistinct("lang").cast("bigint").alias("n_langs"),
    )
    return card.join(F.broadcast(lang_entropy), "source")


# ---------------------------------------------------------------------------
# qx175 — n-gram novelty score (memorization-risk metric)
# ---------------------------------------------------------------------------

NOVELTY_ORACLE = """
WITH grams AS (
  SELECT doc_id,
         list_distinct(list_transform(generate_series(1, len(t) - 2),
                                      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS gs
  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
  WHERE len(t) >= 3
),
flat AS (SELECT doc_id, unnest(gs) AS g FROM grams),
df AS (SELECT g, count(DISTINCT doc_id) AS d FROM flat GROUP BY g)
SELECT f.doc_id,
       CAST(count(*) AS BIGINT) AS n_grams,
       CAST(sum(CASE WHEN df.d = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
       round(CAST(sum(CASE WHEN df.d = 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6)
         AS novelty
FROM flat f JOIN df ON df.g = f.g
GROUP BY f.doc_id
"""


@register(
    "qx175_ngram_novelty",
    oracle=NOVELTY_ORACLE,
    doc="Per-doc fraction of 3-grams appearing nowhere else in the corpus",
    tags=("text", "dedup", "quality"),
)
def qx175_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty: the fraction of its distinct 3-gram
    shingles that occur in NO other document — high novelty marks
    original content, low novelty marks boilerplate/template text
    (and, inverted, memorization risk when screening generations
    against training data). Same shingles as q46: per-doc distinct
    grams riding the doc_id exchange, df as a re-agg of the gram frame,
    then one gram-keyed join back — the gram stream is touched twice,
    the documents once. The df frame is vocabulary-bounded, never
    doc²."""
    docs = load_catalog(spark, sf_dir).table("documents")
    flat = token_ngrams(
        docs.select("doc_id", "text").repartition(shuffle_partitions(spark), "doc_id"),
        3,
        distinct=True,
    )
    df_counts = flat.groupBy("g").agg(F.countDistinct("doc_id").alias("d"))
    return (
        flat.join(df_counts.hint("shuffle_hash"), "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_grams"),
            F.sum(F.when(F.col("d") == 1, 1).otherwise(0)).cast("bigint").alias("n_unique"),
            r6(
                F.sum(F.when(F.col("d") == 1, 1).otherwise(0)).cast("double")
                / F.count(F.lit(1))
            ).alias("novelty"),
        )
    )


# ---------------------------------------------------------------------------
# qx176 — deterministic contrastive negative sampling
# ---------------------------------------------------------------------------

NEG_K = 4  # negatives per anchor
NEG_MULT = 31  # index mix multipliers (any fixed ints work; shared w/ oracle)
NEG_STEP = 17

NEGSAMPLE_ORACLE = f"""
WITH idx AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY doc_id) - 1 AS i,
         count(*) OVER () AS n
  FROM documents
),
pairs AS (
  SELECT a.doc_id AS anchor_id, j.j AS neg_rank,
         (a.i * {NEG_MULT} + j.j * {NEG_STEP} + 7) % a.n AS raw, a.i, a.n
  FROM idx a, unnest(generate_series(1, {NEG_K})) j(j)
),
resolved AS (
  SELECT anchor_id, neg_rank,
         CASE WHEN raw = i THEN (raw + 1) % n ELSE raw END AS neg_i
  FROM pairs
)
SELECT r.anchor_id, CAST(r.neg_rank AS BIGINT) AS neg_rank, b.doc_id AS negative_id
FROM resolved r JOIN idx b ON b.i = r.neg_i
"""


@register(
    "qx176_negative_sampling",
    oracle=NEGSAMPLE_ORACLE,
    doc="Deterministic contrastive negatives: k pseudo-random non-self docs per anchor",
    tags=("sampling", "llm", "training"),
)
def qx176_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Negative sampling for contrastive training: each anchor doc gets
    NEG_K pseudo-random OTHER documents, chosen by modular index
    arithmetic over a dense corpus index — fully deterministic (reruns
    and both engines pick identical negatives; no RNG, no seed
    plumbing), self-pairs skipped by a +1 shift. The dense index is
    the bucket-exchange global rank (plans/ranks — no single-task
    sort); the resolve step is one equi-join of the k·N pair frame
    against the N-row index map, shuffled on the dense index. At
    100 TB: k·N rows of three longs, no text or embeddings move."""
    docs = load_catalog(spark, sf_dir).table("documents")
    idx = with_global_rank(
        docs.select("doc_id"), ["doc_id"], shuffle_partitions(spark), "r", "n"
    ).select("doc_id", (F.col("r") - 1).alias("i"), "n")
    pairs = idx.select(
        F.col("doc_id").alias("anchor_id"),
        "i",
        "n",
        F.explode(F.sequence(F.lit(1), F.lit(NEG_K))).alias("neg_rank"),
    ).select(
        "anchor_id",
        F.col("neg_rank").cast("bigint").alias("neg_rank"),
        F.when(
            (F.col("i") * NEG_MULT + F.col("neg_rank") * NEG_STEP + 7) % F.col("n")
            == F.col("i"),
            ((F.col("i") * NEG_MULT + F.col("neg_rank") * NEG_STEP + 7) % F.col("n") + 1)
            % F.col("n"),
        )
        .otherwise(
            (F.col("i") * NEG_MULT + F.col("neg_rank") * NEG_STEP + 7) % F.col("n")
        )
        .alias("neg_i"),
    )
    lookup = idx.select(F.col("i").alias("neg_i"), F.col("doc_id").alias("negative_id"))
    return pairs.join(lookup, "neg_i").select("anchor_id", "neg_rank", "negative_id")


# ---------------------------------------------------------------------------
# qx195 — length-bucketed batch assembly (padding-minimizing batching)
# ---------------------------------------------------------------------------

BATCH_SIZE = 32  # docs per training batch

LENGTH_BATCH_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents
),
ranked AS (
  SELECT doc_id, n_tokens,
         row_number() OVER (ORDER BY n_tokens, doc_id) - 1 AS rk
  FROM toks
)
SELECT
  CAST(rk // {BATCH_SIZE} AS BIGINT) AS batch_id,
  CAST(count(*) AS BIGINT) AS n_docs,
  max(n_tokens) AS max_tokens,
  CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
  CAST(count(*) * max(n_tokens) - sum(n_tokens) AS BIGINT) AS padding_slots,
  round(CAST(sum(n_tokens) AS DOUBLE) / (count(*) * max(n_tokens)), 6)
    AS utilization
FROM ranked
GROUP BY rk // {BATCH_SIZE}
"""


@register(
    "qx195_length_bucketed_batches",
    oracle=LENGTH_BATCH_ORACLE,
    doc="padding-minimizing training batches: docs length-sorted into fixed-size batches",
    tags=("corpus", "curation", "batching"),
)
def qx195_length_bucketed_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batch assembly — the padded-batching companion
    to qx161's concat-and-chunk packing: when sequences must stay
    document-aligned (SFT, reward modeling, eval), each batch is
    padded to its LONGEST member, so batching similar lengths together
    is what controls the padding bill. Docs are totally ordered by
    (whitespace token count, doc_id) — q42's tokenizer leg, same
    split semantics as the oracle — and sliced into BATCH_SIZE-doc
    batches; per batch: size, padded width (max), content tokens, and
    wasted padding slots / utilization.

    Plan shape: the total order is plans/ranks.with_global_rank — a
    bucket exchange + per-bucket offsets, NEVER a single-task global
    sort — then one partial-aggregated groupBy(batch_id). Batch ids
    are contiguous rank slices, so each output row aggregates
    BATCH_SIZE adjacent rows of the bucket exchange: at 100 TB this is
    one scan + one range shuffle of (doc_id, n_tokens) pairs — text
    never moves. The padding-reduction claim vs arrival-order
    batching is pytest-asserted, not assumed
    (tests/test_corpus.py)."""
    from bqfetch_spark.plans.ranks import with_global_rank
    from bqfetch_spark.session import shuffle_partitions

    docs = load_catalog(spark, sf_dir).table("documents").select(
        "doc_id", F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n_tokens")
    )
    ranked = with_global_rank(
        docs, ["n_tokens", "doc_id"], shuffle_partitions(spark), rank_col="__rank"
    ).withColumn("batch_id", ((F.col("__rank") - 1) / BATCH_SIZE).cast("bigint"))
    return ranked.groupBy("batch_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.max("n_tokens").alias("max_tokens"),
        F.sum("n_tokens").alias("sum_tokens"),
        (F.count(F.lit(1)) * F.max("n_tokens") - F.sum("n_tokens"))
        .cast("bigint")
        .alias("padding_slots"),
        r6(
            F.sum("n_tokens").cast("double")
            / (F.count(F.lit(1)) * F.max("n_tokens"))
        ).alias("utilization"),
    )


# ---------------------------------------------------------------------------
# qx198 — privacy-preserving release: suppression + deterministic Laplace
# ---------------------------------------------------------------------------

DP_EPSILON = 1.0  # Laplace scale = sensitivity/epsilon = 1.0
DP_SUPPRESS_K = 5  # groups smaller than K are suppressed outright

DP_RELEASE_ORACLE = f"""
WITH g AS (
  SELECT lang, source, count(*) AS n
  FROM documents
  GROUP BY lang, source
),
noised AS (
  SELECT lang, source, n,
         (CAST(CAST('0x' || substring(md5(lang || '|' || source), 1, 8) AS BIGINT)
               AS DOUBLE) + 0.5) / 4294967296.0 AS u
  FROM g
  WHERE n >= {DP_SUPPRESS_K}
)
SELECT lang, source,
       CAST(n AS BIGINT) AS true_count,
       round(n + (-1.0 * sign(u - 0.5) * ln(1.0 - 2.0 * abs(u - 0.5))
                  / {DP_EPSILON:.1f}), 6) AS noisy_count
FROM noised
"""


@register(
    "qx198_dp_noisy_release",
    oracle=DP_RELEASE_ORACLE,
    doc="privacy-style release of (lang, source) counts: k-suppression + hash-seeded Laplace noise",
    tags=("corpus", "privacy", "release"),
)
def qx198_dp_noisy_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy-preserving aggregate release — the data-card publishing
    step: per-(lang, source) document counts with (a) outright
    SUPPRESSION of groups under DP_SUPPRESS_K members and (b)
    Laplace(1/ε) noise on the survivors, inverse-CDF-sampled from a
    uniform DERIVED BY HASH of the group key (the q72 md5 convention):
    reruns, retries and both engines draw the identical noise, so the
    release is reproducible AND value-hash oracle-able — which real
    DP's fresh randomness by definition is not (documented: hash-seeded
    noise gives DP's calibrated-error SHAPE for release tooling, not
    its formal adversarial guarantee, since the seed is key-derived).

    Plan shape: one partial-aggregated groupBy over the scan; noise is
    a row-local expression on the |langs|×|sources| group frame —
    nothing after the aggregate touches data size. True count kept
    alongside so the pytest can bound |noise| without re-deriving the
    uniform."""
    docs = load_catalog(spark, sf_dir).table("documents")
    g = docs.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("n")).filter(
        F.col("n") >= DP_SUPPRESS_K
    )
    u = (
        F.conv(
            F.substring(F.md5(F.concat(F.col("lang"), F.lit("|"), F.col("source"))), 1, 8),
            16,
            10,
        ).cast("double")
        + F.lit(0.5)
    ) / F.lit(4294967296.0)
    noise = (
        F.lit(-1.0)
        * F.signum(u - 0.5)
        * F.log(F.lit(1.0) - F.lit(2.0) * F.abs(u - 0.5))
        / F.lit(DP_EPSILON)
    )
    return g.select(
        "lang",
        "source",
        F.col("n").cast("bigint").alias("true_count"),
        F.round(F.col("n") + noise, 6).alias("noisy_count"),
    )


# ---------------------------------------------------------------------------
# qx213: DSIR-style importance resampling (data selection toward a
# target distribution)
# ---------------------------------------------------------------------------

DSIR_TOP_K = 25

DSIR_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, lang, source,
         unnest(string_split(text, ' ')) AS token
  FROM documents
),
cnt AS (
  SELECT token,
         sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS c_t,
         sum(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) AS c_s
  FROM tok GROUP BY 1
),
tot AS (
  SELECT sum(c_t) AS n_t, sum(c_s) AS n_s,
         count(*) AS v
  FROM cnt
),
scored AS (
  SELECT t.doc_id,
         CAST(count(*) AS BIGINT) AS n_tokens,
         round(sum(
           ln((CAST(c.c_t AS DOUBLE) + 1) / (tot.n_t + tot.v))
           - ln((CAST(c.c_s AS DOUBLE) + 1) / (tot.n_s + tot.v))
         ), 6) AS dsir_score
  FROM tok t JOIN cnt c ON t.token = c.token CROSS JOIN tot
  WHERE t.lang <> 'en'
  GROUP BY t.doc_id
)
SELECT s.doc_id, d.lang, d.source, s.n_tokens, s.dsir_score
FROM scored s JOIN documents d ON s.doc_id = d.doc_id
ORDER BY s.dsir_score DESC, s.doc_id
LIMIT {DSIR_TOP_K}
"""


@register("qx213_dsir_selection", oracle=DSIR_ORACLE, tags=("curation", "lm"))
def qx213_dsir_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style data selection (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every RAW-pool
    document by how much more likely its tokens are under a TARGET
    unigram model than under the raw-pool model, and keep the top-k.
    Target distribution = the lang='en' slice; raw pool = everything
    else; both unigram models use add-1 smoothing over the SHARED
    vocabulary so every token has a defined probability on both sides.
    score(doc) = sum over token positions of
    ln p_target(w) - ln p_raw(w).

    Plan shape for 100 TB: ONE token-keyed exchange builds both count
    tables simultaneously (conditional aggregation — no second corpus
    scan for the second model); the totals (n_t, n_s, |V|) reduce the
    vocabulary-bounded count frame to one broadcast row; the scoring
    join rides the same token-keyed exchange (shuffle_hash) and
    reduces straight to per-doc sums. Raw text never shuffles — only
    (doc_id, token) pairs. Top-k is TakeOrderedAndProject on the
    per-doc score frame."""
    docs = load_catalog(spark, sf_dir).table("documents")
    np_ = shuffle_partitions(spark)
    tok = (
        docs.select("doc_id", "lang", "text")
        .repartition(np_, "doc_id")
        .select(
            "doc_id",
            "lang",
            F.explode(F.split("text", " ")).alias("token"),
        )
        .repartition(np_, "token")
    )
    is_t = F.col("lang") == "en"
    cnt = tok.groupBy("token").agg(
        F.sum(F.when(is_t, 1).otherwise(0)).alias("c_t"),
        F.sum(F.when(~is_t, 1).otherwise(0)).alias("c_s"),
    )
    tot = cnt.agg(
        F.sum("c_t").alias("n_t"),
        F.sum("c_s").alias("n_s"),
        F.count(F.lit(1)).alias("v"),
    )
    contrib = F.log((F.col("c_t").cast("double") + 1) / (F.col("n_t") + F.col("v"))) - F.log(
        (F.col("c_s").cast("double") + 1) / (F.col("n_s") + F.col("v"))
    )
    scored = (
        tok.filter(~is_t)
        .join(cnt.hint("shuffle_hash"), "token")
        .join(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            r6(F.sum(contrib)).alias("dsir_score"),
        )
    )
    # top-k BEFORE the metadata enrich: the k-row winner frame is the
    # broadcast side; the corpus-sized scored frame never re-shuffles
    top = scored.orderBy(F.col("dsir_score").desc(), "doc_id").limit(DSIR_TOP_K)
    return (
        docs.select("doc_id", "lang", "source")
        .join(F.broadcast(top), "doc_id")
        .select("doc_id", "lang", "source", "n_tokens", "dsir_score")
        .orderBy(F.col("dsir_score").desc(), "doc_id")
    )


# ---------------------------------------------------------------------------
# qx215: reproducible per-epoch training-order shuffle
# ---------------------------------------------------------------------------

SHUFFLE_EPOCHS = (0, 1)
SHUFFLE_HEAD = 10

EPOCH_SHUFFLE_ORACLE = f"""
WITH e0 AS (
  SELECT 0 AS epoch, doc_id,
         md5('epoch0:' || CAST(doc_id AS VARCHAR)) AS k
  FROM documents ORDER BY k, doc_id LIMIT {SHUFFLE_HEAD}
),
e1 AS (
  SELECT 1 AS epoch, doc_id,
         md5('epoch1:' || CAST(doc_id AS VARCHAR)) AS k
  FROM documents ORDER BY k, doc_id LIMIT {SHUFFLE_HEAD}
),
u AS (SELECT * FROM e0 UNION ALL SELECT * FROM e1)
SELECT epoch,
       CAST(row_number() OVER (PARTITION BY epoch ORDER BY k, doc_id)
            AS BIGINT) AS position,
       doc_id
FROM u
ORDER BY epoch, position
"""


@register(
    "qx215_epoch_shuffle",
    oracle=EPOCH_SHUFFLE_ORACLE,
    doc="head of the reproducible per-epoch training order (seeded md5 shuffle)",
    tags=("curation", "ordering"),
)
def qx215_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible training-order shuffle: every epoch orders the
    corpus by md5(seed:doc_id) — a different but DETERMINISTIC
    permutation per epoch, the property a training data loader needs
    for resumable, re-runnable epochs (no rand(), so a re-run or a
    partially-failed job sees the identical order). The query emits
    the head of each epoch's stream as the auditable evidence; the
    per-epoch permutations demonstrably differ (pytest) yet each is
    bit-stable across runs.

    Scale shape: the HEAD of a seeded order is a top-k, not a sort —
    each epoch is one TakeOrderedAndProject (per-partition heap of k,
    O(k) merge at the driver), never a global bucket-exchange sort of
    the corpus. Materializing a FULL epoch order would instead use
    with_global_rank (plans/ranks.py) over the same key — the
    one-pass bucket-partition rank with no single-task sort."""
    docs = load_catalog(spark, sf_dir).table("documents")
    heads = []
    for e in SHUFFLE_EPOCHS:
        key = F.md5(F.concat(F.lit(f"epoch{e}:"), F.col("doc_id").cast("string")))
        heads.append(
            docs.select(
                F.lit(e).alias("epoch"), "doc_id", key.alias("k")
            ).orderBy("k", "doc_id").limit(SHUFFLE_HEAD)
        )
    u = functools.reduce(lambda a, b: a.unionByName(b), heads)
    w = Window.partitionBy("epoch").orderBy("k", "doc_id")
    return (
        u.withColumn("position", F.row_number().over(w).cast("bigint"))
        .select("epoch", "position", "doc_id")
        .orderBy("epoch", "position")
    )


# ---------------------------------------------------------------------------
# qx216: rendezvous-hash sharding (resharding-stable shard assignment)
# ---------------------------------------------------------------------------

RDV_SHARDS_A = 8
RDV_SHARDS_B = 9

RENDEZVOUS_ORACLE = f"""
WITH cand AS (
  SELECT d.doc_id, CAST(s.s AS INTEGER) AS s,
         md5(CAST(d.doc_id AS VARCHAR) || ':' || CAST(s.s AS VARCHAR)) AS h
  FROM documents d, (SELECT unnest(range({RDV_SHARDS_B})) AS s) s
),
a AS (
  SELECT doc_id, arg_max(s, h) AS shard_a
  FROM cand WHERE s < {RDV_SHARDS_A} GROUP BY doc_id
),
b AS (
  SELECT doc_id, arg_max(s, h) AS shard_b FROM cand GROUP BY doc_id
)
SELECT a.shard_a, b.shard_b, CAST(count(*) AS BIGINT) AS n_docs
FROM a JOIN b ON a.doc_id = b.doc_id
GROUP BY 1, 2
ORDER BY 1, 2
"""


@register(
    "qx216_rendezvous_sharding",
    oracle=RENDEZVOUS_ORACLE,
    doc="rendezvous-hash shard transition matrix for an 8 -> 9 reshard",
    tags=("curation", "sharding"),
)
def qx216_rendezvous_sharding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rendezvous (highest-random-weight) sharding: a document's shard
    is argmax over shards s of md5(doc_id:s) — the consistent-hashing
    scheme (Thaler & Ravishankar 1998) where growing the shard count
    from N to N+1 moves only the ~1/(N+1) of documents whose NEW
    shard wins the rendezvous, instead of the ~all-but-1/N a modulo
    reshard moves. The output is the 8->9 shard transition matrix;
    off-diagonal mass lands ONLY in the new shard's column (s=8) —
    rendezvous never moves a doc between two old shards — and is
    ~1/9 of the corpus (both properties pytest-pinned).

    Scale shape: the per-doc double argmax is a PURE PROJECTION —
    array_max over the 9-slot struct array built row-locally (no
    explode, no per-doc shuffle); the only exchange is the final
    <=72-row histogram aggregate. At 100 TB the assignment is a
    zero-shuffle map over the corpus, which is what makes rendezvous
    re-sharding an in-place metadata pass rather than a data move for
    the ~8/9 that stay."""
    docs = load_catalog(spark, sf_dir).table("documents")

    def winner(n: int) -> F.Column:
        slots = F.transform(
            F.sequence(F.lit(0), F.lit(n - 1)),
            lambda s: F.struct(
                F.md5(
                    F.concat(
                        F.col("doc_id").cast("string"), F.lit(":"), s.cast("string")
                    )
                ).alias("h"),
                s.cast("int").alias("s"),
            ),
        )
        return F.array_max(slots).getField("s")

    return (
        docs.select(
            winner(RDV_SHARDS_A).alias("shard_a"),
            winner(RDV_SHARDS_B).alias("shard_b"),
        )
        .groupBy("shard_a", "shard_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
        .orderBy("shard_a", "shard_b")
    )


# ---------------------------------------------------------------------------
# qx220: cross-source quantile normalization of per-doc quality scores
# ---------------------------------------------------------------------------

QNORM_ORACLE = """
WITH t AS (
  SELECT doc_id, source,
         round(CAST(n_chars AS DOUBLE) / len(string_split(text, ' ')), 6) AS score
  FROM documents
),
r AS (
  SELECT doc_id, source, score,
         row_number() OVER (PARTITION BY source ORDER BY score, doc_id) AS rs,
         count(*) OVER (PARTITION BY source) AS ns
  FROM t
),
g AS (
  SELECT score AS gscore, row_number() OVER (ORDER BY score, doc_id) AS rg
  FROM t
),
n AS (SELECT count(*) AS nt FROM t)
SELECT r.doc_id, r.source, r.score AS raw_score, g.gscore AS norm_score
FROM r CROSS JOIN n
JOIN g ON g.rg = ((2 * r.rs - 1) * n.nt + 2 * r.ns - 1) // (2 * r.ns)
ORDER BY r.doc_id
"""


@register(
    "qx220_quantile_normalize",
    oracle=QNORM_ORACLE,
    doc="map each doc's within-source score rank onto the global score distribution",
    tags=("llm-pipeline", "curation", "statistics"),
)
def qx220_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source quantile normalization — the batch-effect
    correction a mixing pipeline needs when per-source quality scores
    come from heterogeneous scorers (different classifiers, different
    calibration): a raw threshold would over-prune strict-scored
    sources and under-prune lenient ones. Each doc's WITHIN-SOURCE
    quantile position r = (rank−0.5)/n_source is mapped onto the
    GLOBAL score distribution by taking the score at global rank
    ceil(r·N) — after which "top 10% of every source" means the same
    thing everywhere (the microarray quantile-normalization trick
    applied to corpus curation).

    Scale shape: both total orders are plans/ranks.with_global_rank
    (bucket exchange + tiny offset broadcast — no single-task sort of
    the corpus). Per-source ranks derive from the (source, score, id)
    global order by subtracting each source's min rank (a
    groups-sized broadcast agg), so a source holding 40% of a 100 TB
    corpus never lands in one window task. The target-rank formula is
    exact integer arithmetic — ((2·rs−1)·N + 2·ns−1) div (2·ns) — so
    both engines pick the identical global row (no float-ceil
    boundary risk), and the final lookup is a plain equi-join on the
    computed rank."""
    docs = load_catalog(spark, sf_dir).table("documents")
    scored = docs.select(
        "doc_id",
        "source",
        F.round(
            F.col("n_chars").cast("double") / F.size(F.split(F.col("text"), " ")),
            6,
        ).alias("score"),
    )
    nparts = shuffle_partitions(spark)

    per_src = with_global_rank(
        scored, ["source", "score", "doc_id"], nparts, "rsg", "nt"
    )
    # each source's min global rank is 1 + the cumulative count of all
    # earlier sources — a groups-sized agg + metadata window, NOT a
    # second execution of the rank subplan (a min("rsg") spelling would
    # re-execute the rank subplan's corpus exchange)
    src_counts = scored.groupBy("source").agg(F.count(F.lit(1)).alias("ns"))
    prior = Window.orderBy("source").rowsBetween(Window.unboundedPreceding, -1)
    src_stats = src_counts.select(
        "source",
        "ns",
        (F.coalesce(F.sum("ns").over(prior), F.lit(0)) + F.lit(1)).alias("r0"),
    )
    per = (
        per_src.join(F.broadcast(src_stats), "source")
        .withColumn("rs", (F.col("rsg") - F.col("r0") + F.lit(1)).cast("bigint"))
        .withColumn(
            "g",
            F.expr("((2 * rs - 1) * nt + 2 * ns - 1) div (2 * ns)").cast("bigint"),
        )
    )

    glob = with_global_rank(
        scored.select("score", "doc_id"), ["score", "doc_id"], nparts, "rg", "__nt2"
    ).select(F.col("rg").cast("bigint").alias("rg"), F.col("score").alias("norm_score"))

    return (
        per.join(glob, per.g == glob.rg)
        .select(
            "doc_id",
            "source",
            F.col("score").alias("raw_score"),
            "norm_score",
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# qx227: cluster-aware holdout split (dup groups never straddle)
# ---------------------------------------------------------------------------

GROUP_TEST_HEX = ("0", "1")  # md5(rep) first hex in {0,1} => test (~12.5%)

GROUP_HOLDOUT_ORACLE = f"""
WITH cl AS (
  SELECT doc_id, source, md5(text) AS ck FROM documents
),
reps AS (
  SELECT ck, min(doc_id) AS rep FROM cl GROUP BY ck
),
lab AS (
  SELECT cl.doc_id, cl.source, cl.ck,
         substring(md5(CAST(r.rep AS VARCHAR)), 1, 1) IN ('0','1') AS is_test
  FROM cl JOIN reps r ON cl.ck = r.ck
)
SELECT source,
       CAST(sum(CASE WHEN is_test THEN 1 ELSE 0 END) AS BIGINT) AS n_test_docs,
       CAST(sum(CASE WHEN is_test THEN 0 ELSE 1 END) AS BIGINT) AS n_train_docs,
       CAST(count(DISTINCT CASE WHEN is_test THEN ck END) AS BIGINT) AS n_test_clusters,
       CAST(count(DISTINCT CASE WHEN NOT is_test THEN ck END) AS BIGINT) AS n_train_clusters
FROM lab GROUP BY source ORDER BY source
"""


@register(
    "qx227_group_holdout",
    oracle=GROUP_HOLDOUT_ORACLE,
    doc="holdout split decided per dup-cluster, so duplicate docs never straddle train/test",
    tags=("curation", "holdout", "dedup", "llm-pipeline"),
)
def qx227_group_holdout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-aware holdout (GroupKFold's split rule applied to corpus
    curation): the train/test decision is a pure function of the
    DUPLICATE CLUSTER's representative, not the document — so two
    copies of the same text can never land on opposite sides of the
    split (the eval-leakage mode a doc-keyed rule like q82's permits,
    and the reason GroupKFold exists). Clusters here are exact-dup
    groups (q40's md5(text) key); swapping in q74's near-dup
    components is the same join. Deterministic: rep = min(doc_id) per
    cluster, test iff md5(rep) starts with a hex digit in {0,1}
    (~12.5%, rerun-stable).

    Plan shape: the cluster key is computed row-local (md5 of text —
    text itself never shuffles); ONE ck-keyed exchange derives the
    rep per cluster and joins it back; the per-source rollup is
    groups-sized. The leakage property (no straddling cluster) is
    structural — pytest-asserted, not just emitted."""
    docs = load_catalog(spark, sf_dir).table("documents")
    cl = docs.select("doc_id", "source", F.md5("text").alias("ck"))
    reps = cl.groupBy("ck").agg(F.min("doc_id").alias("rep"))
    lab = cl.join(reps, "ck").withColumn(
        "is_test",
        F.substring(F.md5(F.col("rep").cast("string")), 1, 1).isin(*GROUP_TEST_HEX),
    )
    return (
        lab.groupBy("source")
        .agg(
            F.sum(F.when(F.col("is_test"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_test_docs"),
            F.sum(F.when(F.col("is_test"), 0).otherwise(1))
            .cast("bigint")
            .alias("n_train_docs"),
            F.count_distinct(F.when(F.col("is_test"), F.col("ck")))
            .cast("bigint")
            .alias("n_test_clusters"),
            F.count_distinct(F.when(~F.col("is_test"), F.col("ck")))
            .cast("bigint")
            .alias("n_train_clusters"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# qx228: duplication-aware sampling weights (1 / cluster size)
# ---------------------------------------------------------------------------

DUP_WEIGHT_ORACLE = """
WITH cl AS (
  SELECT doc_id, source, md5(text) AS ck FROM documents
),
sz AS (SELECT ck, count(*) AS cluster_size FROM cl GROUP BY ck)
SELECT cl.doc_id, cl.source,
       CAST(sz.cluster_size AS BIGINT) AS cluster_size,
       round(1.0 / sz.cluster_size, 6) AS weight
FROM cl JOIN sz ON cl.ck = sz.ck
ORDER BY cl.doc_id
"""


@register(
    "qx228_dup_weights",
    oracle=DUP_WEIGHT_ORACLE,
    doc="per-doc sampling weight 1/duplicate-cluster-size (soft dedup)",
    tags=("curation", "dedup", "sampling", "llm-pipeline"),
)
def qx228_dup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft deduplication: instead of DROPPING duplicates (q40), keep
    every copy but weight it 1/cluster_size so the cluster contributes
    exactly one document's worth of gradient — the loss-weighting /
    sampling-probability spelling of dedup that preserves shard
    locality and lets the loader trade repetition for freshness
    (duplicates-hurt results in Lee et al. 2022 motivate both forms).
    Σ weights = number of distinct texts, by construction.

    Plan: row-local md5 cluster key, ONE ck-keyed count exchange,
    join back — text never shuffles, output is corpus-sized but
    column-narrow (the loader-manifest shape, like qx215)."""
    docs = load_catalog(spark, sf_dir).table("documents")
    cl = docs.select("doc_id", "source", F.md5("text").alias("ck"))
    sz = cl.groupBy("ck").agg(F.count(F.lit(1)).cast("bigint").alias("cluster_size"))
    return (
        cl.join(sz, "ck")
        .select(
            "doc_id",
            "source",
            "cluster_size",
            F.round(F.lit(1.0) / F.col("cluster_size"), 6).alias("weight"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# qx237: effective sample size per source under duplication weights
# ---------------------------------------------------------------------------

ESS_ORACLE = """
WITH cl AS (
  SELECT doc_id, source, md5(text) AS ck FROM documents
),
sz AS (SELECT ck, count(*) AS n FROM cl GROUP BY ck),
w AS (
  SELECT cl.source, 1.0 / sz.n AS wt
  FROM cl JOIN sz ON cl.ck = sz.ck
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       round(sum(wt), 6) AS sum_w,
       round(sum(wt) * sum(wt) / sum(wt * wt), 6) AS ess,
       round((sum(wt) * sum(wt) / sum(wt * wt)) / count(*), 6) AS ess_ratio
FROM w GROUP BY source ORDER BY source
"""


@register(
    "qx237_effective_sample_size",
    oracle=ESS_ORACLE,
    doc="Kish effective sample size per source under 1/cluster-size dup weights",
    tags=("curation", "sampling", "stats", "llm-pipeline"),
)
def qx237_effective_sample_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How much INDEPENDENT data each source really contributes:
    Kish's effective sample size (Σw)²/Σw² over qx228's 1/cluster-size
    duplication weights — the number mixture design should budget
    against instead of raw doc counts (a source that is 50% mirrored
    copies has far fewer effective docs than its row count claims, and
    temperature mixing over raw counts over-weights it). ess_ratio =
    ESS/n_docs is the per-source independence score: 1.0 means no
    duplication, lower means redundancy.

    Plan: qx228's row-local md5 cluster key + ONE ck-keyed count
    exchange, weights join back, then a groups-sized rollup of three
    weight moments. Float sums enter at the final per-source
    reduction only, rounded 6dp."""
    docs = load_catalog(spark, sf_dir).table("documents")
    cl = docs.select("doc_id", "source", F.md5("text").alias("ck"))
    sz = cl.groupBy("ck").agg(F.count(F.lit(1)).alias("n"))
    w = cl.join(sz, "ck").select(
        "source", (F.lit(1.0) / F.col("n")).alias("wt")
    )
    sw = F.sum("wt")
    sw2 = F.sum(F.col("wt") * F.col("wt"))
    return (
        w.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.round(sw, 6).alias("sum_w"),
            F.round(sw * sw / sw2, 6).alias("ess"),
            F.round((sw * sw / sw2) / F.count(F.lit(1)), 6).alias("ess_ratio"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# qx243: mixture apportionment (largest-remainder token quotas + admission)
# ---------------------------------------------------------------------------

MIX_BUDGET_PCT = 6  # global token budget = 60% of the corpus (integer 6/10)

MIX_APPORTION_ORACLE = f"""
WITH toks AS (
  SELECT source, doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents
),
budget AS (
  SELECT CAST({MIX_BUDGET_PCT} * sum(n_tokens) // 10 AS BIGINT) AS b FROM toks
),
srcs AS (
  SELECT source,
         CAST(row_number() OVER (ORDER BY source) AS BIGINT) AS w
  FROM (SELECT DISTINCT source FROM toks)
),
s AS (SELECT CAST(sum(w) AS BIGINT) AS s FROM srcs),
fl AS (
  SELECT srcs.source, srcs.w,
         CAST(budget.b * srcs.w // s.s AS BIGINT) AS fl,
         CAST(budget.b * srcs.w % s.s AS BIGINT) AS rem
  FROM srcs, budget, s
),
leftover AS (
  SELECT (SELECT b FROM budget) - sum(fl) AS k FROM fl
),
quota AS (
  SELECT source, w,
         fl + CASE WHEN row_number() OVER (ORDER BY rem DESC, source)
                        <= (SELECT k FROM leftover)
                   THEN 1 ELSE 0 END AS quota_tokens
  FROM fl
),
adm AS (
  SELECT t.source, t.n_tokens,
         sum(t.n_tokens) OVER (
           PARTITION BY t.source
           ORDER BY md5(CAST(t.doc_id AS VARCHAR)), t.doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM toks t
),
kept AS (
  SELECT a.source,
         CAST(count(*) AS BIGINT) AS n_docs_admitted,
         CAST(sum(a.n_tokens) AS BIGINT) AS tokens_admitted
  FROM adm a JOIN quota q ON a.source = q.source
  WHERE a.cum <= q.quota_tokens
  GROUP BY a.source
)
SELECT q.source,
       CAST(q.w AS BIGINT) AS target_weight,
       CAST(q.quota_tokens AS BIGINT) AS quota_tokens,
       CAST(coalesce(k.n_docs_admitted, 0) AS BIGINT) AS n_docs_admitted,
       CAST(coalesce(k.tokens_admitted, 0) AS BIGINT) AS tokens_admitted
FROM quota q LEFT JOIN kept k ON q.source = k.source
ORDER BY q.source
"""


@register(
    "qx243_mixture_apportionment",
    oracle=MIX_APPORTION_ORACLE,
    doc="largest-remainder token quotas per source + deterministic admission under quota",
    tags=("curation", "sampling", "mixture", "llm-pipeline"),
)
def qx243_mixture_apportionment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-mixture apportionment — the step that turns "train on
    60% of the corpus with source weights w" into per-source integer
    token quotas and an auditable admitted set. Quotas use the
    LARGEST-REMAINDER method (Hamilton apportionment): floor(B·w/Σw)
    per source, then the leftover B−Σfloors tokens go one each to the
    largest remainders — quotas sum to B EXACTLY, no float rounding
    drift (the property proportional-float quotas lack). Admission per
    source is the md5(doc_id)-ordered prefix whose running token sum
    fits the quota — rerun-stable (pure function of keys), and the
    prefix rule means a retry admits the identical docs.

    Scale shape: quota math happens on the sources frame (≤ dozens of
    rows, broadcast); admission is ONE source-partitioned cumsum
    window (each source's docs sort within its partition — per-source
    data parallelism, no global sort) + a broadcast quota join. All
    arithmetic is BIGINT — the oracle matches bit-for-bit."""
    docs = load_catalog(spark, sf_dir).table("documents")
    toks = docs.select(
        "source",
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n_tokens"),
    )
    # Quota math rides ENTIRELY on the sources-sized frame: the corpus
    # token total, the weight total, and the leftover were previously
    # three driver .first() actions (the first of which re-ran the
    # corpus scan before the main job ran it again — the qx263 class);
    # they are now window-sums over the per-source aggregate (dozens of
    # rows — the recorded cheap single-partition shape), so the build
    # is fully lazy and the corpus is scanned exactly once per job.
    w_all = Window.partitionBy()
    per_s = (
        toks.groupBy("source")
        .agg(F.sum("n_tokens").cast("bigint").alias("src_tokens"))
        .withColumn("w", F.row_number().over(Window.orderBy("source")).cast("bigint"))
        .withColumn(
            "budget",
            # `div` is Spark's integral division over BIGINT — NOT `/`,
            # which is floating-point Divide and can round a .9999…
            # quotient up (and loses exactness past 2^53). Matches
            # DuckDB `//`.
            F.expr(
                f"(CAST({MIX_BUDGET_PCT} AS BIGINT) * (sum(src_tokens) over ()))"
                " div 10"
            ).cast("bigint"),
        )
        .withColumn("s_total", F.sum("w").over(w_all).cast("bigint"))
    )
    fl = per_s.select(
        "source",
        "w",
        "budget",
        F.expr("(budget * w) div s_total").cast("bigint").alias("fl"),
        (F.col("budget") * F.col("w") % F.col("s_total")).alias("rem"),
    )
    quota = (
        fl.withColumn("leftover", F.col("budget") - F.sum("fl").over(w_all))
        .withColumn(
            "quota_tokens",
            (
                F.col("fl")
                + F.when(
                    F.row_number().over(Window.orderBy(F.desc("rem"), "source"))
                    <= F.col("leftover"),
                    1,
                ).otherwise(0)
            ).cast("bigint"),
        )
        .select("source", "w", "quota_tokens")
    )

    adm_w = (
        Window.partitionBy("source")
        .orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    kept = (
        toks.withColumn("cum", F.sum("n_tokens").over(adm_w))
        .join(F.broadcast(quota.select("source", "quota_tokens")), "source")
        .filter(F.col("cum") <= F.col("quota_tokens"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs_admitted"),
            F.sum("n_tokens").cast("bigint").alias("tokens_admitted"),
        )
    )
    return (
        quota.join(kept, "source", "left")
        .select(
            "source",
            F.col("w").alias("target_weight"),
            "quota_tokens",
            F.coalesce("n_docs_admitted", F.lit(0)).cast("bigint").alias("n_docs_admitted"),
            F.coalesce("tokens_admitted", F.lit(0)).cast("bigint").alias("tokens_admitted"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# qx244: packed-shard writer (q73's downstream write, audited round-trip)
# ---------------------------------------------------------------------------

SHARD_WRITER_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, text,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents
),
cum AS (
  SELECT doc_id, text, n_tokens,
         sum(n_tokens) OVER (ORDER BY doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
  FROM toks
),
assigned AS (
  SELECT CAST((c - n_tokens) // {PACK_BUDGET} AS BIGINT) AS shard_id,
         doc_id, text, n_tokens
  FROM cum
)
SELECT shard_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       CAST(sum(CAST(CAST('0x' || substring(
             md5(CAST(doc_id AS VARCHAR) || '|' || text), 1, 15) AS BIGINT)
           AS DECIMAL(38,0))) AS VARCHAR) AS content_fp
FROM assigned
GROUP BY shard_id
ORDER BY shard_id
"""


def shard_store_dir(sf_dir: str) -> str:
    """uid-scoped scratch dir for qx244's shard store (path policy of
    layout_dir_for; content is rewritten per run — the write IS the
    operator under audit)."""
    import hashlib
    import tempfile

    norm = os.path.normpath(os.path.abspath(sf_dir))
    key = hashlib.sha1(norm.encode()).hexdigest()[:16]
    parent = os.path.join(tempfile.gettempdir(), f"bqfs_shards_u{os.getuid()}")
    os.makedirs(parent, mode=0o700, exist_ok=True)
    return os.path.join(parent, key)


@register(
    "qx244_packed_shard_writer",
    oracle=SHARD_WRITER_ORACLE,
    doc="write q73's packed shards to disk and audit the read-back content per shard",
    tags=("packing", "sink", "llm-pipeline", "audit"),
)
def qx244_packed_shard_writer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WRITE half q73 promises: assign every document its packed
    training shard (the same preceding-cumsum // PACK_BUDGET rule),
    materialize the corpus as a shard_id-partitioned parquet store —
    the on-disk layout a training loader consumes shard-by-shard —
    then READ THE STORE BACK and emit per-shard doc counts, token
    totals, and an order-invariant content fingerprint (qx230's
    md5-prefix row-hash sum). The oracle computes the same three
    numbers from the source table, so the driver's value hash proves
    the persisted layout holds exactly the assigned docs, bytes
    intact — an end-to-end writer audit, not a plan-only claim.

    Scale shape: the assignment is the one-pass bucket-exchange
    cumsum; the write clusters on shard_id before partitionBy (one
    file per shard per salt — no small-file debris, the q39 stance);
    the audit is a scan + per-shard partial aggregate of the store."""
    docs = load_catalog(spark, sf_dir).table("documents")
    toks = docs.select(
        "doc_id",
        "text",
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n_tokens"),
    )
    cum = with_global_cumsum(toks, ["doc_id"], "n_tokens", shuffle_partitions(spark), "c")
    assigned = cum.select(
        F.expr(f"(c - n_tokens) div {PACK_BUDGET}").cast("bigint").alias("shard_id"),
        "doc_id",
        "text",
        "n_tokens",
    )
    store = shard_store_dir(sf_dir)
    (
        assigned.repartition(F.col("shard_id"))
        .write.mode("overwrite")
        .partitionBy("shard_id")
        .parquet(store)
    )
    back = spark.read.parquet(store)
    h = F.conv(
        F.substring(F.md5(F.concat_ws("|", F.col("doc_id").cast("string"), "text")), 1, 15),
        16,
        10,
    ).cast("bigint")
    return (
        back.groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            F.sum(h.cast("decimal(38,0)")).cast("string").alias("content_fp"),
        )
        .select(F.col("shard_id").cast("bigint").alias("shard_id"), "n_docs", "total_tokens", "content_fp")
        .orderBy("shard_id")
    )


# ---------------------------------------------------------------------------
# qx258: deterministic train/val/test split assignment
# ---------------------------------------------------------------------------

SPLIT_BUCKETS = 10  # md5 bucket space: 0-7 train, 8 val, 9 test

SPLIT_ORACLE = f"""
WITH assigned AS (
  SELECT doc_id,
         len(string_split(text, ' ')) AS n_tokens,
         CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
           % {SPLIT_BUCKETS} AS b
  FROM documents
),
labeled AS (
  SELECT CASE WHEN b <= 7 THEN 'train' WHEN b = 8 THEN 'val' ELSE 'test' END AS split,
         n_tokens
  FROM assigned
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM labeled)
SELECT split,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       round(CAST(count(*) AS DOUBLE) / (SELECT CAST(n AS DOUBLE) FROM tot), 6) AS doc_frac
FROM labeled
GROUP BY split
ORDER BY split
"""


@register(
    "qx258_split_assignment",
    oracle=SPLIT_ORACLE,
    doc="deterministic md5-hash train/val/test split with per-split token budgets",
    tags=("curation", "corpus", "splitting"),
)
def qx258_split_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test assignment for a training corpus — the step every
    pipeline needs between curation and sharding, and the one that must
    NEVER be random: the split is a pure function of the document key
    (md5 bucket 0-7 train / 8 val / 9 test), so reruns, retries, and
    incremental ingests route every document to the same split, and
    leakage checks can recompute membership from keys alone (the same
    rerun-stable keep-rule stance as q72's stratified sampler).

    Scale shape: ONE scan (VERDICT r9 #6 — the doc_frac denominator
    used to cost a second corpus action; it is derivable from the
    3-row aggregate itself), a map-only hash + CASE projection, one
    3-group aggregate, then an unpartitioned window-sum over the
    ≤3-row result for the denominator — a single-partition final over
    a reduced frame, the recorded-plan-audit category, never the
    corpus. 100 TB corpus → identical plan."""
    from pyspark.sql import Window

    docs = load_catalog(spark, sf_dir).table("documents")
    b = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint") % SPLIT_BUCKETS
    )
    labeled = docs.select(
        F.when(b <= 7, "train").when(b == 8, "val").otherwise("test").alias("split"),
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n_tokens"),
    )
    return (
        labeled.groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        )
        .select(
            "split",
            "n_docs",
            "n_tokens",
            r6(
                F.col("n_docs").cast("double")
                / F.sum("n_docs").over(Window.partitionBy()).cast("double")
            ).alias("doc_frac"),
        )
        .orderBy("split")
    )


# ---------------------------------------------------------------------------
# qx260: sequence packing (concat-and-chunk into fixed token windows)
# ---------------------------------------------------------------------------

PACK_WINDOW = 2048  # tokens per training sequence window

PACK_ORACLE = f"""
WITH toks AS (
  SELECT doc_id,
         md5(CAST(doc_id AS VARCHAR)) AS ord_key,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents
),
cum AS (
  SELECT doc_id, n_tokens,
         CAST(sum(n_tokens) OVER (ORDER BY ord_key, doc_id
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_incl
  FROM toks
),
placed AS (
  SELECT doc_id, n_tokens, cum_incl,
         (cum_incl - n_tokens) // {PACK_WINDOW} AS window_id,
         CASE WHEN (cum_incl - n_tokens) // {PACK_WINDOW}
                   <> (cum_incl - 1) // {PACK_WINDOW} THEN 1 ELSE 0 END AS spans
  FROM cum
)
SELECT CAST(window_id AS BIGINT) AS window_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       CAST(sum(spans) AS BIGINT) AS n_spanning
FROM placed
GROUP BY window_id
ORDER BY window_id
"""


@register(
    "qx260_sequence_packing",
    oracle=PACK_ORACLE,
    doc="concat-and-chunk sequence packing into fixed token windows (one-pass global cumsum)",
    tags=("curation", "corpus", "packing", "rank-machinery"),
)
def qx260_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing — the GPT-style pretraining step that
    concatenates documents in a deterministic order and slices the
    token stream into fixed windows (PACK_WINDOW tokens): each
    document's window is floor(exclusive-cumsum / W), and a document
    whose span crosses a boundary is flagged (its loss mask straddles
    two sequences). Order is (md5(doc_id), doc_id) — rerun-stable
    shuffling without rand().

    Scale shape: the global running sum rides
    plans/ranks.with_global_cumsum — ONE deterministic-bucket corpus
    exchange, no single-task sort of the token stream (the naive
    unpartitioned window is the first OOM at 100x; cf.
    q73_shard_packing). Everything downstream of the cumsum is
    integer arithmetic, so the oracle matches bit-for-bit."""
    docs = load_catalog(spark, sf_dir).table("documents")
    toks = docs.select(
        "doc_id",
        F.md5(F.col("doc_id").cast("string")).alias("ord_key"),
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n_tokens"),
    )
    cum = with_global_cumsum(
        toks, ["ord_key", "doc_id"], "n_tokens", shuffle_partitions(spark), "cum_incl"
    )
    placed = cum.select(
        "n_tokens",
        F.expr(f"(cum_incl - n_tokens) div {PACK_WINDOW}").alias("window_id"),
        F.when(
            F.expr(f"(cum_incl - n_tokens) div {PACK_WINDOW}")
            != F.expr(f"(cum_incl - 1) div {PACK_WINDOW}"),
            1,
        )
        .otherwise(0)
        .alias("spans"),
    )
    return (
        placed.groupBy("window_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
            F.sum("spans").cast("bigint").alias("n_spanning"),
        )
        .select(F.col("window_id").cast("bigint").alias("window_id"), "n_docs", "n_tokens", "n_spanning")
        .orderBy("window_id")
    )


# ---------------------------------------------------------------------------
# qx262: packing manifest (per-window loss-mask segments)
# ---------------------------------------------------------------------------

PACK_MANIFEST_ORACLE = f"""
WITH toks AS (
  SELECT doc_id,
         md5(CAST(doc_id AS VARCHAR)) AS ord_key,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents
),
cum AS (
  SELECT doc_id, n_tokens,
         CAST(sum(n_tokens) OVER (ORDER BY ord_key, doc_id
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_incl
  FROM toks
),
spans AS (
  SELECT doc_id, n_tokens, cum_incl - n_tokens AS lo, cum_incl AS hi
  FROM cum
)
SELECT CAST(w AS BIGINT) AS window_id,
       doc_id,
       CAST(greatest(lo - w * {PACK_WINDOW}, 0) AS BIGINT) AS seg_start,
       CAST(least(hi, (w + 1) * {PACK_WINDOW}) - greatest(lo, w * {PACK_WINDOW}) AS BIGINT) AS seg_len
FROM spans,
     LATERAL (SELECT unnest(generate_series(lo // {PACK_WINDOW}, (hi - 1) // {PACK_WINDOW})) AS w) ws
ORDER BY window_id, seg_start
"""


@register(
    "qx262_packing_manifest",
    oracle=PACK_MANIFEST_ORACLE,
    doc="per-window loss-mask segments for the packed token stream (doc, start, len)",
    tags=("curation", "corpus", "packing", "rank-machinery"),
)
def qx262_packing_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The loss-mask manifest a training loader consumes for qx260's
    packed windows: every (window, document) SEGMENT with its in-window
    start offset and length — a document spanning m windows emits m
    segments, and each window's segments tile [0, PACK_WINDOW) exactly
    (pytest-asserted), so attention/loss masks can be built without
    re-tokenizing. This is the artifact that makes concat-and-chunk
    packing actually usable, not just counted (qx260 reports the
    histogram; this emits the layout).

    Scale shape: the only corpus-sized coordination is the SAME
    one-pass global cumsum qx260 rides; the window fan-out is a
    row-local sequence explode (a doc touches ⌈len/W⌉ windows), and
    every output column is BIGINT arithmetic — bit-exact oracle."""
    docs = load_catalog(spark, sf_dir).table("documents")
    toks = docs.select(
        "doc_id",
        F.md5(F.col("doc_id").cast("string")).alias("ord_key"),
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n_tokens"),
    )
    cum = with_global_cumsum(
        toks, ["ord_key", "doc_id"], "n_tokens", shuffle_partitions(spark), "cum_incl"
    )
    spans = cum.select(
        "doc_id",
        (F.col("cum_incl") - F.col("n_tokens")).alias("lo"),
        F.col("cum_incl").alias("hi"),
    )
    w = F.col("w")
    return (
        spans.select(
            "doc_id",
            "lo",
            "hi",
            F.explode(
                F.sequence(
                    F.expr(f"lo div {PACK_WINDOW}"), F.expr(f"(hi - 1) div {PACK_WINDOW}")
                )
            ).alias("w"),
        )
        .select(
            w.cast("bigint").alias("window_id"),
            "doc_id",
            F.greatest(F.col("lo") - w * PACK_WINDOW, F.lit(0)).cast("bigint").alias("seg_start"),
            (
                F.least(F.col("hi"), (w + 1) * PACK_WINDOW)
                - F.greatest(F.col("lo"), w * PACK_WINDOW)
            ).cast("bigint").alias("seg_len"),
        )
        .orderBy("window_id", "seg_start")
    )


# ---------------------------------------------------------------------------
# qx263: per-source unigram drift (integer-exact total variation distance)
# ---------------------------------------------------------------------------

TVD_ORACLE = """
WITH tok AS (
  SELECT source, unnest(string_split(text, ' ')) AS w FROM documents
),
per_sw AS (
  SELECT source, w, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY 1, 2
),
per_s AS (SELECT source, CAST(sum(c) AS BIGINT) AS ts FROM per_sw GROUP BY 1),
per_w AS (SELECT w, CAST(sum(c) AS BIGINT) AS cw FROM per_sw GROUP BY 1),
tot AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM per_sw),
grid AS (
  SELECT s.source, s.ts, v.w, v.cw, coalesce(p.c, 0) AS c, tot.t
  FROM per_s s CROSS JOIN per_w v
  LEFT JOIN per_sw p ON p.source = s.source AND p.w = v.w
  CROSS JOIN tot
)
SELECT source,
       CAST(max(ts) AS BIGINT) AS n_tokens,
       round(CAST(sum(abs(CAST(c AS HUGEINT) * CAST(t AS HUGEINT)
                          - CAST(cw AS HUGEINT) * CAST(ts AS HUGEINT))) AS DOUBLE)
             / (2.0 * CAST(max(ts) AS DOUBLE) * CAST(max(t) AS DOUBLE)), 6) AS tvd
FROM grid
GROUP BY source
ORDER BY source
"""


@register(
    "qx263_source_unigram_drift",
    oracle=TVD_ORACLE,
    doc="per-source total-variation distance between its unigram mix and the corpus mix",
    tags=("curation", "text", "mixing", "statistics"),
)
def qx263_source_unigram_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixing drift monitor: for each source, the total-variation
    distance between its unigram distribution and the corpus-wide one —
    the quantity a mixture tuner watches to spot a crawl slice whose
    vocabulary departed from the blend (KL needs smoothing and a log;
    TVD is the assumption-free half-L1 and, on counts, EXACT).

    Exactness: TVD = Σ_w |c_sw·T − C_w·T_s| / (2·T_s·T) — the numerator
    multiplies decimal(19,0) OPERANDS (Spark) / HUGEINT operands (DuckDB)
    so the T²-magnitude products never pass through int64 (which wraps
    silently past ~3e9 corpus tokens), and the sum of |integer| terms is
    accumulated exactly, so both engines hold the identical integer
    before ONE final double division
    (same expression, same rounding). No per-term float sum order to
    worry about. Scale shape: two token-keyed aggregates (map-side
    partial) + a (source × vocab) grid join — vocab-bounded, the qx221
    vocab-trick stance; sources are dozens, vocab is the distinct-token
    set, never the corpus."""
    docs = load_catalog(spark, sf_dir).table("documents")
    tok = docs.select(
        "source", F.explode(F.split(F.col("text"), " ")).alias("w")
    )
    per_sw = tok.groupBy("source", "w").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    # Corpus total T rides as a window-sum over the SOURCES-sized frame —
    # the qx258/qx280 single-scan recipe.  The previous spelling collected
    # T with a separate driver action on the uncached shuffled per_sw
    # aggregate, re-running the token explode + group before the main job
    # ran the identical lineage again (two corpus scans for one result).
    # The unpartitioned window is over |sources| rows (dozens), not the
    # corpus, so the single-partition final is the recorded cheap shape.
    per_s = (
        per_sw.groupBy("source")
        .agg(F.sum("c").cast("bigint").alias("ts"))
        .withColumn("t", F.sum("ts").over(Window.partitionBy()).cast("bigint"))
    )
    per_w = per_sw.groupBy("w").agg(F.sum("c").cast("bigint").alias("cw"))
    grid = (
        per_s.crossJoin(per_w)
        .join(per_sw, ["source", "w"], "left")
        .select(
            "source",
            "ts",
            "t",
            "cw",
            F.coalesce(F.col("c"), F.lit(0)).alias("c"),
        )
    )
    return (
        grid.groupBy("source")
        .agg(
            F.max("ts").cast("bigint").alias("n_tokens"),
            F.max("t").cast("bigint").alias("t_tot"),
            F.sum(
                # Operands (not the product) go decimal: c·T and C_w·T_s
                # approach T² and overflow int64 past ~3e9 corpus tokens —
                # non-ANSI Spark would wrap silently.  decimal(19,0)
                # operands multiply into decimal(38,0), exact to 1e38;
                # the oracle mirrors this with HUGEINT (int128) operands.
                F.abs(
                    F.col("c").cast("decimal(19,0)") * F.col("t").cast("decimal(19,0)")
                    - F.col("cw").cast("decimal(19,0)")
                    * F.col("ts").cast("decimal(19,0)")
                )
            ).alias("num"),
        )
        .select(
            "source",
            "n_tokens",
            r6(
                F.col("num").cast("double")
                / (
                    F.lit(2.0)
                    * F.col("n_tokens").cast("double")
                    * F.col("t_tot").cast("double")
                )
            ).alias("tvd"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# qx267: packing-efficiency planner (pad-vs-pack waste per window size)
# ---------------------------------------------------------------------------

PACK_EFF_WINDOWS = (512, 1024, 2048, 4096)

PACK_EFF_ORACLE = f"""
WITH toks AS (
  SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n FROM documents
),
grid AS (
  SELECT w.w, t.n FROM toks t,
       (SELECT unnest([{", ".join(str(w) for w in PACK_EFF_WINDOWS)}]) AS w) w
),
agg AS (
  SELECT CAST(w AS BIGINT) AS "window",
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n) AS BIGINT) AS n_tokens,
         CAST(sum(((n + w - 1) // w) * w) AS BIGINT) AS pad_tokens
  FROM grid GROUP BY w
)
SELECT "window", n_docs, n_tokens, pad_tokens,
       round(CAST(pad_tokens - n_tokens AS DOUBLE) / CAST(pad_tokens AS DOUBLE), 6)
         AS pad_waste_frac,
       round(CAST(((n_tokens + "window" - 1) // "window") * "window" - n_tokens AS DOUBLE)
             / CAST(((n_tokens + "window" - 1) // "window") * "window" AS DOUBLE), 6)
         AS pack_waste_frac
FROM agg
ORDER BY "window"
"""


@register(
    "qx267_packing_efficiency",
    oracle=PACK_EFF_ORACLE,
    doc="pad-vs-pack token waste per candidate training window size",
    tags=("curation", "corpus", "packing", "planning"),
)
def qx267_packing_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The planning query run BEFORE qx260: for each candidate training
    window size, how many tokens does pad-to-window burn versus
    concat-and-chunk packing? pad_tokens = Σ ceil(len/W)·W (every doc
    padded to its own window multiple — the naive loader); the packing
    alternative wastes only the final window's slack, derivable from
    the same aggregate. The waste-fraction gap across W is the number
    that justifies the packing pipeline's complexity to a training
    team — and it shifts with the corpus length distribution, so it
    must be measured per corpus, not assumed.

    Scale shape: ONE corpus scan, a 4-literal explode (rows ×4, all
    map-side), one 4-group aggregate with partial aggregation —
    integer arithmetic end-to-end, two final rounded divisions.
    100 TB corpus → identical plan; output is always 4 rows."""
    docs = load_catalog(spark, sf_dir).table("documents")
    toks = docs.select(F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n"))
    grid = toks.select(
        "n", F.explode(F.array(*[F.lit(w).cast("bigint") for w in PACK_EFF_WINDOWS])).alias("w")
    )
    agg = grid.groupBy("w").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n").cast("bigint").alias("n_tokens"),
        F.sum(
            F.expr("((n + w - 1) div w) * w")
        ).cast("bigint").alias("pad_tokens"),
    )
    pack_padded = F.expr("((n_tokens + window - 1) div window) * window")
    return (
        agg.select(
            F.col("w").alias("window"),
            "n_docs",
            "n_tokens",
            "pad_tokens",
        )
        .select(
            "window",
            "n_docs",
            "n_tokens",
            "pad_tokens",
            r6(
                (F.col("pad_tokens") - F.col("n_tokens")).cast("double")
                / F.col("pad_tokens").cast("double")
            ).alias("pad_waste_frac"),
            r6(
                (pack_padded - F.col("n_tokens")).cast("double")
                / pack_padded.cast("double")
            ).alias("pack_waste_frac"),
        )
        .orderBy("window")
    )


# ---------------------------------------------------------------------------
# qx270: exact-LSH cluster resolution (end-to-end exact dedup groups)
# ---------------------------------------------------------------------------

MH_CLUSTER_JACCARD = 0.8


def _mh_clusters_oracle() -> str:
    from bqfetch_spark.operators.llm_pipeline import _mh_oracle

    return f"""
WITH RECURSIVE pairs AS MATERIALIZED (
  SELECT doc_a, doc_b FROM ({_mh_oracle()}) q
  WHERE jaccard >= {MH_CLUSTER_JACCARD}
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
),
reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
)
SELECT
  src AS doc_id,
  least(src, min(dst)) AS cluster_id,
  CAST(src = least(src, min(dst)) AS INTEGER) AS is_canonical
FROM reach
GROUP BY src
"""


@register(
    "qx270_lsh_clusters_exact",
    oracle=_mh_clusters_oracle(),
    doc="connected-component dedup clusters over the exact MinHash-LSH pairs",
    tags=("dedup", "clustering", "lsh"),
)
def qx270_lsh_clusters_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END exact near-dup resolution: qx264's cross-engine-exact
    MinHash-LSH candidates, thresholded at true Jaccard ≥
    MH_CLUSTER_JACCARD, resolved into keep-one-copy clusters by the
    same hash-min connected components as q74 — the full production
    dedup chain (shingle → LSH → verify → cluster → canonical flag)
    where EVERY stage now carries a value-hash oracle (q74's chain
    rests on q46's shared-shingle join, which is quadratic in hot
    shingles; this one rests on the banded join that scales).

    Scale shape: qx264's band-bucket join (100×-certified linear),
    then label propagation whose state is one (node, label) row per
    clustered doc — never the corpus. The oracle resolves the same
    components by recursive-CTE transitive closure (O(component²),
    fine at fixture scale)."""
    from bqfetch_spark.operators.llm_pipeline import qx264_minhash_lsh_exact

    pairs = qx264_minhash_lsh_exact(spark, sf_dir).filter(
        F.col("jaccard") >= MH_CLUSTER_JACCARD
    )
    cc = connected_components(pairs, "doc_a", "doc_b")
    return cc.select(
        F.col("node").alias("doc_id"),
        "cluster_id",
        (F.col("node") == F.col("cluster_id")).cast("int").alias("is_canonical"),
    )


# ---------------------------------------------------------------------------
# qx271: dedup savings report (what the cluster chain buys, per source)
# ---------------------------------------------------------------------------


def _dedup_savings_oracle() -> str:
    return f"""
WITH clusters AS MATERIALIZED ({_mh_clusters_oracle()}),
toks AS (
  SELECT doc_id, source,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents
),
flagged AS (
  SELECT t.source, t.n_tokens,
         CASE WHEN c.doc_id IS NOT NULL AND c.is_canonical = 0 THEN 1 ELSE 0 END AS dropped
  FROM toks t LEFT JOIN clusters c ON c.doc_id = t.doc_id
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       CAST(sum(dropped) AS BIGINT) AS docs_dropped,
       CAST(sum(CASE WHEN dropped = 1 THEN n_tokens ELSE 0 END) AS BIGINT) AS tokens_dropped,
       round(CAST(sum(CASE WHEN dropped = 1 THEN n_tokens ELSE 0 END) AS DOUBLE)
             / CAST(sum(n_tokens) AS DOUBLE), 6) AS savings_frac
FROM flagged
GROUP BY source
ORDER BY source
"""


@register(
    "qx271_dedup_savings",
    oracle=_dedup_savings_oracle(),
    doc="per-source token savings from dropping non-canonical near-dup cluster members",
    tags=("dedup", "curation", "reporting"),
)
def qx271_dedup_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The number a curation team actually reports: per source, how
    many documents and tokens the exact-LSH dedup chain (qx264 pairs →
    qx270 clusters, keep the canonical min-doc_id member) removes, and
    the savings fraction. This is where dedup decisions get made —
    a source with 30% near-dup mass gets a different mixture weight
    (or a crawl fix) — so it belongs in the engine, not a notebook.

    Scale shape: qx270's cluster frame is clustered-docs-sized (tiny
    vs corpus) and LEFT-joins the one-scan (doc, source, n_tokens)
    projection — broadcast at any realistic dup rate; then a
    sources-sized rollup. Text never moves."""
    docs = load_catalog(spark, sf_dir).table("documents")
    toks = docs.select(
        "doc_id", "source", F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n_tokens")
    )
    clusters = qx270_lsh_clusters_exact(spark, sf_dir).select(
        "doc_id", "is_canonical"
    )
    flagged = toks.join(F.broadcast(clusters), "doc_id", "left").select(
        "source",
        "n_tokens",
        F.when(
            F.col("is_canonical").isNotNull() & (F.col("is_canonical") == 0), 1
        )
        .otherwise(0)
        .alias("dropped"),
    )
    return (
        flagged.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
            F.sum("dropped").cast("bigint").alias("docs_dropped"),
            F.sum(F.when(F.col("dropped") == 1, F.col("n_tokens")).otherwise(0))
            .cast("bigint")
            .alias("tokens_dropped"),
        )
        .select(
            "source",
            "n_docs",
            "n_tokens",
            "docs_dropped",
            "tokens_dropped",
            r6(
                F.col("tokens_dropped").cast("double") / F.col("n_tokens").cast("double")
            ).alias("savings_frac"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# qx269: vocabulary growth curve (Heaps' law, measured not assumed)
# ---------------------------------------------------------------------------

# Deterministic corpus prefixes: a doc is in the p-fraction sample iff
# its 60-bit md5 value < floor(p·2^60). Thresholds are Python-computed
# integer literals, so neither engine does any floating arithmetic to
# decide membership — and the prefixes are NESTED (p1 ⊂ p2 ⊂ …), which
# is what makes this a growth CURVE, not four unrelated samples.
VOCAB_FRACS = (0.01, 0.1, 0.5, 1.0)
_VOCAB_THRS = tuple(int(p * (1 << 60)) for p in VOCAB_FRACS)

VOCAB_GROWTH_ORACLE = f"""
WITH d AS (
  SELECT doc_id,
         CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS hv,
         string_split(text, ' ') AS t
  FROM documents
),
tok AS (SELECT doc_id, hv, unnest(t) AS w FROM d),
fr AS (
  SELECT * FROM (VALUES {", ".join(f"({p}, CAST({t} AS BIGINT))" for p, t in zip(VOCAB_FRACS, _VOCAB_THRS))})
       AS v(frac, thr)
),
doc_stats AS (
  SELECT f.frac,
         CAST(count(DISTINCT tok.doc_id) AS BIGINT) AS n_docs,
         CAST(count(*) AS BIGINT) AS n_tokens
  FROM tok JOIN fr f ON tok.hv < f.thr
  GROUP BY f.frac
),
wmin AS (SELECT w, CAST(min(hv) AS BIGINT) AS hmin FROM tok GROUP BY w),
voc AS (
  SELECT f.frac, CAST(count(*) AS BIGINT) AS vocab
  FROM wmin JOIN fr f ON wmin.hmin < f.thr
  GROUP BY f.frac
)
SELECT d.frac, d.n_docs, d.n_tokens, v.vocab,
       round(CAST(v.vocab AS DOUBLE) / CAST(d.n_tokens AS DOUBLE), 6) AS type_token_ratio
FROM doc_stats d JOIN voc v ON v.frac = d.frac
ORDER BY d.frac
"""


@register(
    "qx269_vocab_growth",
    oracle=VOCAB_GROWTH_ORACLE,
    doc="vocabulary growth over nested deterministic corpus prefixes (Heaps' law curve)",
    tags=("curation", "text", "statistics"),
)
def qx269_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law measurement: distinct-token vocabulary at nested
    deterministic corpus prefixes (1%, 10%, 50%, 100% by md5 order) —
    the curve that tells a pipeline owner whether "vocab-bounded"
    stages (the qx221 BPE vocab trick, qx263's grids, dictionary
    encodings) will hold their size promise at 100× the corpus, and
    whether a source is saturating (TTR falling) or still contributing
    novel text. The engine CLAIMS Heaps' law in a dozen docstrings;
    this query measures it on the actual corpus.

    Exactness: membership is an integer compare against Python-
    computed literal thresholds; every output but the final rounded
    ratio is an integer count. Scale shape: one scan → token explode;
    vocab rides ONE word-keyed exchange (min(hv) per word — the
    hmin trick turns four nested distinct-counts into one aggregate +
    a 4-row broadcast join); doc stats partial-aggregate map-side.
    Output is always len(VOCAB_FRACS) rows."""
    docs = load_catalog(spark, sf_dir).table("documents")
    hv = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10).cast(
        "bigint"
    )
    tok = docs.select(
        "doc_id", hv.alias("hv"), F.explode(F.split(F.col("text"), " ")).alias("w")
    )
    fr = docs.sparkSession.createDataFrame(
        [(p, t) for p, t in zip(VOCAB_FRACS, _VOCAB_THRS)], "frac double, thr bigint"
    )
    # doc stats at DOC grain (round 13, guide §2.3): the old spelling
    # consumed the token explode a second time and joined each TOKEN
    # row against the thresholds (×|fracs| expansion + two-phase
    # count_distinct). The prefix test depends only on the doc hash and
    # the token count is size(split(text)) — same integers, one
    # docs-sized projection, and the corpus explode now has a single
    # consumer (wmin). isNotNull mirrors explode-of-null dropping.
    doc_stats = (
        docs.filter(F.col("text").isNotNull())
        .select(
            hv.alias("hv"),
            F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n_toks"),
        )
        .join(F.broadcast(fr), F.col("hv") < F.col("thr"))
        .groupBy("frac")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_toks").cast("bigint").alias("n_tokens"),
        )
    )
    wmin = tok.groupBy("w").agg(F.min("hv").alias("hmin"))
    voc = (
        wmin.join(F.broadcast(fr), F.col("hmin") < F.col("thr"))
        .groupBy("frac")
        .agg(F.count(F.lit(1)).cast("bigint").alias("vocab"))
    )
    return (
        doc_stats.join(voc, "frac")
        .select(
            "frac",
            "n_docs",
            "n_tokens",
            "vocab",
            r6(F.col("vocab").cast("double") / F.col("n_tokens").cast("double")).alias(
                "type_token_ratio"
            ),
        )
        .orderBy("frac")
    )


# ---------------------------------------------------------------------------
# qx277: dedup threshold sweep (pick the Jaccard cutoff BEFORE the rewrite)
# ---------------------------------------------------------------------------

# The sweep grid is shared verbatim by the Spark expression and the
# oracle. The cross-engine invariant is NOT double-exactness (0.6 etc.
# are not exact doubles, and DuckDB parses the VALUES literals as
# DECIMAL(2,1) before casting): it is that Python float(), Spark's
# literal, and DuckDB's decimal→double cast all land on the SAME
# nearest double, and qx264's jaccard column is round(·, 6) in both
# engines — so `jaccard >= thr` compares identical doubles either way.
SWEEP_THRESHOLDS = (0.5, 0.6, 0.7, 0.8, 0.9)


def _dedup_sweep_oracle() -> str:
    from bqfetch_spark.operators.llm_pipeline import _mh_oracle

    values = ", ".join(f"({t})" for t in SWEEP_THRESHOLDS)
    return f"""
WITH pairs AS MATERIALIZED ({_mh_oracle()}),
thr AS (SELECT * FROM (VALUES {values}) v(thr)),
hit AS (
  SELECT t.thr, p.doc_a, p.doc_b
  FROM pairs p JOIN thr t ON p.jaccard >= t.thr
),
pair_stats AS (
  SELECT thr, CAST(count(*) AS BIGINT) AS n_pairs FROM hit GROUP BY thr
),
doc_stats AS (
  SELECT thr, CAST(count(DISTINCT d) AS BIGINT) AS n_docs_affected
  FROM (
    SELECT thr, doc_a AS d FROM hit
    UNION ALL
    SELECT thr, doc_b FROM hit
  ) u
  GROUP BY thr
)
SELECT t.thr,
       coalesce(p.n_pairs, 0) AS n_pairs,
       coalesce(d.n_docs_affected, 0) AS n_docs_affected
FROM thr t
LEFT JOIN pair_stats p ON p.thr = t.thr
LEFT JOIN doc_stats d ON d.thr = t.thr
ORDER BY t.thr
"""


@register(
    "qx277_dedup_threshold_sweep",
    oracle=_dedup_sweep_oracle(),
    doc="near-dup pair/doc counts at a grid of Jaccard cutoffs over the exact-LSH pairs",
    tags=("dedup", "lsh", "reporting"),
)
def qx277_dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold-sensitivity report for the near-dup chain: at each
    Jaccard cutoff in SWEEP_THRESHOLDS, how many verified pairs survive
    and how many distinct documents sit in at least one such pair. This
    is the table a curation team reads BEFORE running qx270/qx271 at a
    chosen cutoff — on 100 TB you sweep once, pick the knee, and only
    then pay for cluster resolution and the rewrite (reference analog:
    the fetch-plan "dry run" posture of bqfetch/bqfetch.py:430-455,
    which sizes work before executing it).

    Scale shape: qx264's verified-pair frame is output-bounded
    (100x-certified ≈linear in corpus size, scripts/scale_check.py
    qx264_minhash_lsh_exact)
    and the sweep grid is a 5-row broadcast — the threshold join
    multiplies pairs by at most |grid| before two pairs-sized
    aggregations. The corpus text is never touched again."""
    from bqfetch_spark.operators.llm_pipeline import qx264_minhash_lsh_exact

    # The sweep has THREE consumers of the pairs frame (pair counts,
    # two doc-side projections); without truncation each re-runs the
    # whole LSH pipeline (measured 60 parquet scans in the final plan).
    # The verified-pair frame is output-bounded (100x-certified
    # ≈linear and tiny in absolute terms), so materializing it is the
    # correct 100-TB trade — same convention as qx270's CC rounds.
    pairs = (
        qx264_minhash_lsh_exact(spark, sf_dir)
        .select("doc_a", "doc_b", "jaccard")
        .localCheckpoint(eager=True)
    )
    thr = spark.createDataFrame(
        [(float(t),) for t in SWEEP_THRESHOLDS], "thr double"
    )
    hit = pairs.join(F.broadcast(thr), F.col("jaccard") >= F.col("thr")).select(
        "thr", "doc_a", "doc_b"
    )
    pair_stats = hit.groupBy("thr").agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
    docs = hit.select("thr", F.col("doc_a").alias("d")).unionAll(
        hit.select("thr", F.col("doc_b").alias("d"))
    )
    doc_stats = docs.groupBy("thr").agg(
        F.countDistinct("d").cast("bigint").alias("n_docs_affected")
    )
    return (
        thr.join(pair_stats, "thr", "left")
        .join(doc_stats, "thr", "left")
        .select(
            "thr",
            F.coalesce(F.col("n_pairs"), F.lit(0)).cast("bigint").alias("n_pairs"),
            F.coalesce(F.col("n_docs_affected"), F.lit(0))
            .cast("bigint")
            .alias("n_docs_affected"),
        )
        .orderBy("thr")
    )


# ---------------------------------------------------------------------------
# qx280: mixture water-filling (fill a token budget under per-source caps)
# ---------------------------------------------------------------------------

# Budget = 60% of the corpus's total tokens (floor division — exact
# BIGINT in both engines). Target weights are derived per source from
# md5 (1..9), so the query needs no hardcoded source list; in
# production they'd come from a DoReMi-style fit.
WF_BUDGET_NUM, WF_BUDGET_DEN = 6, 10
# lcm(1..9): cap * (2520 / w) is an EXACT integer ratio key, so the
# water-filling order never touches floating point.
WF_LCM = 2520

MIXTURE_WATERFILL_ORACLE = f"""
WITH caps AS (
  SELECT source,
         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS cap_tokens,
         CAST(1 + CAST('0x' || substring(md5(source), 1, 15) AS BIGINT) % 9
              AS BIGINT) AS weight
  FROM documents GROUP BY source
),
tot AS (
  SELECT CAST(sum(cap_tokens) AS BIGINT) AS total_cap,
         CAST(sum(weight) AS BIGINT) AS total_w,
         CAST(sum(cap_tokens) * {WF_BUDGET_NUM} // {WF_BUDGET_DEN} AS BIGINT)
           AS budget
  FROM caps
),
ordered AS (
  SELECT c.*, t.total_w, t.budget,
         cap_tokens * ({WF_LCM} // weight) AS ratio_key,
         coalesce(sum(cap_tokens) OVER (
           ORDER BY cap_tokens * ({WF_LCM} // weight), source
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumcap,
         coalesce(sum(weight) OVER (
           ORDER BY cap_tokens * ({WF_LCM} // weight), source
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumw
  FROM caps c, tot t
),
flagged AS (
  SELECT *,
         CASE WHEN CAST(cap_tokens AS HUGEINT) * (total_w - cumw)
                   <= CAST(budget - cumcap AS HUGEINT) * weight
              THEN 1 ELSE 0 END AS sat_raw
  FROM ordered
),
sat AS (
  SELECT *,
         min(sat_raw) OVER (
           ORDER BY ratio_key, source
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS saturated
  FROM flagged
),
level AS (
  SELECT *,
         sum(CASE WHEN saturated = 1 THEN cap_tokens ELSE 0 END) OVER () AS satcap,
         sum(CASE WHEN saturated = 1 THEN weight ELSE 0 END) OVER () AS satw
  FROM sat
)
SELECT source, weight, cap_tokens,
       CAST(saturated AS INTEGER) AS saturated,
       round(CASE WHEN saturated = 1 THEN CAST(cap_tokens AS DOUBLE)
                  ELSE CAST(weight AS DOUBLE)
                       * (CAST(budget - satcap AS DOUBLE)
                          / CAST(total_w - satw AS DOUBLE)) END, 6) AS take_tokens,
       round(CASE WHEN saturated = 1 THEN CAST(1.0 AS DOUBLE)
                  ELSE CAST(weight AS DOUBLE)
                       * (CAST(budget - satcap AS DOUBLE)
                          / CAST(total_w - satw AS DOUBLE))
                       / CAST(cap_tokens AS DOUBLE) END, 6) AS fill_frac
FROM level
ORDER BY source
"""


@register(
    "qx280_mixture_waterfill",
    oracle=MIXTURE_WATERFILL_ORACLE,
    doc="water-filling token allocation: fill a budget at target weights under per-source caps",
    tags=("curation", "mixing", "planning"),
)
def qx280_mixture_waterfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mixture question every pretraining run answers first: given
    target source weights and the tokens each source actually HAS,
    which sources saturate and how many tokens does everyone else
    contribute when a fixed budget is filled at renormalized
    proportions? Classic water-filling — sources sorted by cap/weight;
    a prefix saturates (takes all its tokens), the rest split the
    remaining budget proportionally (reference analog: the chunk
    quota arithmetic of bqfetch/bqfetch.py:430-455, lifted to mixture
    planning).

    Exactness: the sort key is cap·(2520/w) — 2520 = lcm(1..9) makes
    the ratio an EXACT BIGINT, so ordering never touches floats. The
    saturation test cross-multiplies decimal(19,0) operands (HUGEINT in
    the oracle): cap_i·(W − Σw_sat) ≤ (B − Σcap_sat)·w_i — products
    reach budget×weight-mass magnitude, past int64 at 100 TB. The
    saturated set is a prefix in ratio order (standard water-filling
    result), enforced by a running-AND window so engine tie-handling
    can't diverge. Only the final take/fill division is floating — one
    identical expression, rounded once.

    Scale shape: ONE source-keyed token count (map-side partial over
    the corpus scan — the text never shuffles), then every window runs
    over the SOURCES frame (tens of rows at any corpus size). The plan
    is a corpus aggregate plus driver-free tiny-frame analytics."""
    docs = load_catalog(spark, sf_dir).table("documents")
    caps = docs.groupBy("source").agg(
        F.sum(F.size(F.split(F.col("text"), " "))).cast("bigint").alias("cap_tokens"),
    )
    return waterfill_from_caps(caps)


def waterfill_from_caps(caps: DataFrame) -> DataFrame:
    """Water-filling analytics over a (source, cap_tokens) frame —
    shared by the one-shot qx280 and the streaming-store qx281 (whose
    store-merged integer caps are bit-equal, so both carry the SAME
    oracle). Weights derive from md5(source) so no source list is
    hardcoded; every window below runs over the sources-sized frame."""
    from bqfetch_spark.operators.llm_pipeline import md5_bigint

    caps = caps.select(
        "source",
        "cap_tokens",
        (F.lit(1) + F.pmod(md5_bigint(F.col("source")), F.lit(9))).cast("bigint").alias("weight"),
    )
    w_order = Window.orderBy("ratio_key", "source")
    w_prev = w_order.rowsBetween(Window.unboundedPreceding, -1)
    w_run = w_order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_all = Window.partitionBy()
    # Totals/budget as windows over the SAME sources-sized frame — a
    # separate agg + crossJoin was a second consumer of caps, which
    # doubled the corpus scan feeding it (the qx258 lesson).
    ordered = (
        caps.withColumn("ratio_key", F.col("cap_tokens") * F.expr(f"{WF_LCM} div weight"))
        .withColumn("total_w", F.sum("weight").over(w_all).cast("bigint"))
        .withColumn(
            "budget",
            F.expr(
                f"cast((sum(cap_tokens) over ()) * {WF_BUDGET_NUM}"
                f" div {WF_BUDGET_DEN} as bigint)"
            ),
        )
        .withColumn("cumcap", F.coalesce(F.sum("cap_tokens").over(w_prev), F.lit(0)))
        .withColumn("cumw", F.coalesce(F.sum("weight").over(w_prev), F.lit(0)))
    )
    flagged = ordered.withColumn(
        "sat_raw",
        F.when(
            F.col("cap_tokens").cast("decimal(19,0)")
            * (F.col("total_w") - F.col("cumw")).cast("decimal(19,0)")
            <= (F.col("budget") - F.col("cumcap")).cast("decimal(19,0)")
            * F.col("weight").cast("decimal(19,0)"),
            1,
        ).otherwise(0),
    )
    sat = flagged.withColumn("saturated", F.min("sat_raw").over(w_run))
    level = sat.withColumn(
        "satcap",
        F.sum(F.when(F.col("saturated") == 1, F.col("cap_tokens")).otherwise(0)).over(w_all),
    ).withColumn(
        "satw",
        F.sum(F.when(F.col("saturated") == 1, F.col("weight")).otherwise(0)).over(w_all),
    )
    # Guard the water level: with the 60% budget the last source can never
    # saturate, but this helper is shared — a caller handing it a budget
    # >= the total cap saturates EVERY row, making total_w == satw and the
    # unguarded division produce Inf/NaN into the (unused) otherwise()
    # branch.  The guarded form returns 0.0 there, keeping the expression
    # well-defined for any budget.
    s_level = F.when(
        F.col("total_w") != F.col("satw"),
        (F.col("budget") - F.col("satcap")).cast("double")
        / (F.col("total_w") - F.col("satw")).cast("double"),
    ).otherwise(F.lit(0.0))
    return level.select(
        "source",
        "weight",
        "cap_tokens",
        F.col("saturated").cast("int").alias("saturated"),
        r6(
            F.when(F.col("saturated") == 1, F.col("cap_tokens").cast("double")).otherwise(
                F.col("weight").cast("double") * s_level
            )
        ).alias("take_tokens"),
        r6(
            F.when(F.col("saturated") == 1, F.lit(1.0)).otherwise(
                F.col("weight").cast("double") * s_level / F.col("cap_tokens").cast("double")
            )
        ).alias("fill_frac"),
    ).orderBy("source")


@register(
    "qx281_streaming_waterfill",
    oracle=MIXTURE_WATERFILL_ORACLE,
    doc="water-filling mixture plan read off the incrementally-maintained source-mix store",
    tags=("streaming", "incremental", "curation", "mixing"),
)
def qx281_streaming_waterfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """qx280's mixture plan computed from the STREAMING source-mix
    store (streaming/drift.py): 60% of the corpus backfills per-source
    token partials, two foreachBatch waves append theirs, and the plan
    reads the store-merged caps. Integer token counts are additive, so
    the merged caps are BIT-EQUAL to qx280's one-shot corpus aggregate
    under any ingest slicing — which is why this streaming query
    carries qx280's oracle VERBATIM (the qx200/qx273 store property,
    applied to mixture planning). This is the production posture: the
    planner re-runs after every ingest wave against a sources-sized
    store, never re-scanning corpus history.

    Scale shape: O(wave) appends (each wave exchanges a sources-sized
    partial), then the water-filling windows over the tiny store
    rollup — corpus text is touched exactly once, at ingest."""
    import os

    from bqfetch_spark.streaming.drift import build_mix_store
    from bqfetch_spark.workcache import session_workdir

    # Memoized per (sf_dir, session): repeated registry invocations reuse
    # the already-ingested mix store instead of re-running the backfill +
    # two streaming waves into a fresh temp dir each time.
    work = session_workdir(
        "wfill", sf_dir, lambda w: build_mix_store(spark, sf_dir, w)
    )
    store = spark.read.parquet(os.path.join(work, "mix"))
    caps = store.groupBy("source").agg(
        F.sum("n_tokens").cast("bigint").alias("cap_tokens")
    )
    return waterfill_from_caps(caps)


# ---------------------------------------------------------------------------
# qx284: quality-aware canonical choice (keep the BEST copy, not the first)
# ---------------------------------------------------------------------------


def _best_canonical_oracle() -> str:
    from bqfetch_spark.operators.llm_pipeline import QUALITY_ORACLE

    return f"""
WITH clusters AS MATERIALIZED ({_mh_clusters_oracle()}),
q AS ({QUALITY_ORACLE}),
joined AS (
  SELECT c.doc_id, c.cluster_id, c.is_canonical, q.quality_score
  FROM clusters c JOIN q ON q.doc_id = c.doc_id
),
ranked AS (
  SELECT *,
         row_number() OVER (PARTITION BY cluster_id
                            ORDER BY quality_score DESC, doc_id) AS rn
  FROM joined
)
SELECT doc_id, cluster_id, quality_score,
       CAST(CASE WHEN rn = 1 THEN 1 ELSE 0 END AS INTEGER) AS keep,
       CAST(CASE WHEN rn = 1 AND is_canonical = 0 THEN 1 ELSE 0 END AS INTEGER)
         AS switched
FROM ranked
ORDER BY cluster_id, doc_id
"""


@register(
    "qx284_cluster_best_canonical",
    oracle=_best_canonical_oracle(),
    doc="quality-aware canonical per near-dup cluster (argmax quality, not min doc_id)",
    tags=("dedup", "curation", "quality"),
)
def qx284_cluster_best_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What production dedup actually keeps: the HIGHEST-QUALITY member
    of each near-dup cluster, not the lowest doc_id (a crawl's first
    copy is often the truncated or boilerplate-wrapped one). Joins
    qx270's clusters to q43's per-doc quality scores and arg-maxes per
    cluster on the (quality_score DESC, doc_id) total order; `switched`
    marks clusters where the quality policy disagrees with the min-id
    policy — the rows a reviewer spot-checks before a 100-TB rewrite.

    Exactness: q43's score is an identical rounded scalar expression
    tree in both engines, and the tie-break is the doc_id, so the
    per-cluster argmax is total-ordered. Scale shape: the cluster frame
    joins the one-scan score projection on doc_id (AQE broadcasts it
    at benign dup rates; at web-scale dup rates — clusters can cover
    20-40% of documents — it degrades to the shuffled hash join that
    shape requires); the window partitions BY CLUSTER — corpus text
    never shuffles."""
    from bqfetch_spark.operators.llm_pipeline import q43_quality_score

    clusters = qx270_lsh_clusters_exact(spark, sf_dir)
    scores = q43_quality_score(spark, sf_dir).select("doc_id", "quality_score")
    # No broadcast hint: at benign dup rates AQE broadcasts the small
    # cluster frame on its own; at web-scale dup rates (clusters can
    # cover 20-40% of documents) the correct shape is the shuffled
    # hash join on doc_id this degrades to — a forced broadcast there
    # would be a driver OOM, not an optimization.
    joined = scores.join(clusters, "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("quality_score").desc(), F.col("doc_id")
    )
    ranked = joined.withColumn("rn", F.row_number().over(w))
    return ranked.select(
        "doc_id",
        "cluster_id",
        "quality_score",
        F.when(F.col("rn") == 1, 1).otherwise(0).cast("int").alias("keep"),
        F.when((F.col("rn") == 1) & (F.col("is_canonical") == 0), 1)
        .otherwise(0)
        .cast("int")
        .alias("switched"),
    ).orderBy("cluster_id", "doc_id")
