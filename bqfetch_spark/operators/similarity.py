"""Similarity search over the `embeddings` table (SURVEY.md §2.C C19).

Brute-force exact cosine top-k as the verified baseline; IVF-style
partitioned search as the 100 TB scale path (candidate set shrinks from
N to N/n_cells × n_probe). Per-vector math is JVM array expressions
(functions/vectors.py); the two hot paths are numpy kernels shared by
every query: `score_pairs` (over `cosine_tiles`) scores candidate
pairs, and `assign_cells` ranks centroids for IVF assignment. Each
query only spells its candidate generator.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from bqfetch_spark.catalog import load_catalog
from bqfetch_spark.functions.vectors import as_double, cosine, dot, norm2
from bqfetch_spark.operators.relational import r6
from bqfetch_spark.registry import register
from bqfetch_spark.session import shuffle_partitions
from bqfetch_spark.workcache import artifact

TOPK_ORACLE = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT vec_id, v FROM e WHERE vec_id < 5),
pairs AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         round(list_cosine_similarity(q.v, c.v), 6) AS cosine
  FROM q JOIN e c ON c.vec_id <> q.vec_id
)
SELECT query_id, neighbor_id, cosine, rn AS rank
FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rn
  FROM pairs
)
WHERE rn <= 10
"""


@register("q50_cosine_topk", oracle=TOPK_ORACLE, tags=("similarity", "ann"))
def q50_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-10 for 5 query vectors. The query
    side is broadcast, so the corpus is scanned once with no shuffle;
    ranking uses the *rounded* similarity so cross-engine float noise
    cannot reorder the cut."""
    emb = load_catalog(spark, sf_dir).table("embeddings").select(
        "vec_id", as_double(F.col("embedding")).alias("v")
    )
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    pairs = (
        emb.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            r6(cosine(F.col("qv"), F.col("v"))).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        pairs.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= 10)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


NEARDUP_ORACLE = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       round(list_cosine_similarity(a.v, b.v), 6) AS cosine
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.35
"""


# All-pairs work is O(n²): past this many vectors the exact baseline is
# a scale-killer by construction (100k vectors ≈ 5e9 cosine folds) and
# the caller must use the bucketed path (q69_embedding_neardup_ivf).
# The guard probes with a bounded limit-scan — O(cap) rows read, never
# a full count, so the guard itself is cheap at any table size.
NEARDUP_MAX_VECTORS = 100_000

# Block count for q51's blocked all-pairs scoring: each unordered pair
# of blocks is one scoring group, so work per group is (n/B)²·dim and
# every vector is replicated B times. 8 gives 36 groups — enough to
# fill the 32 local slots. INPUT vectors per group are small (2×12.5k
# × 64 doubles ≈ 12 MB at the 100k cap) but the pairwise SCORE matrix
# is (n/B)² cells — 1.25 GB of float64 per 12.5k×12.5k group — so the
# shared kernel cosine_tiles tiles its y side to SCORE_TILE_CELLS live
# cells: peak per task stays ~3 matrices × 32 MB whatever the block
# population.
NEARDUP_BLOCKS = 8
SCORE_TILE_CELLS = 4_000_000  # ≈32 MB float64 per live pair matrix
# Python-side pre-cut of score_pairs: it only drops pairs that can never
# round (r6, half-up at 0.3499995) to ≥ 0.35; every caller applies the
# authoritative threshold JVM-side on the rounded value.
SCORE_PRE_CUT = 0.349
PAIR_SCHEMA = "vec_a bigint, vec_b bigint, cosine double"
_PAIR_DTYPES = {"vec_a": "int64", "vec_b": "int64", "cosine": "float64"}


def vectors(col: pd.Series) -> np.ndarray:
    """An Arrow array column as a 2-D matrix; the dtype (int64 for the
    IVF_Q grid, float64 otherwise) selects cosine_tiles' mode."""
    return np.array(col.tolist())


def cosine_tiles(x: np.ndarray, norms_x: np.ndarray, y: np.ndarray, norms_y: np.ndarray):
    """Yield (start, cos): the cosine matrix of x against the y tile
    starting at row `start`, cos = dot / outer(norms_x, norms_y). The y
    side is tiled to SCORE_TILE_CELLS // len(x) rows, so at most
    SCORE_TILE_CELLS pair cells are live at once.

    The accumulation mode follows the input dtype, and both modes give
    each pair the bits the JVM/DuckDB spellings give it, whatever the
    tiling:
    - integer vectors (the IVF_Q grid: |q| ≤ 1e6, 64 dims) are cast to
      float64 and multiplied with matmul. Every partial sum is an
      integer below 64·1e12 < 2^53, so it is exact in any accumulation
      order — bit-equal to the int64 fold;
    - float vectors fold dimension by dimension, one vectorized
      outer-product add per dim: the JVM aggregate's left-to-right
      IEEE add order for every pair.
    Norms are precomputed per vector, and multiplication commutes, so
    the orientation of a pair cannot change its value either."""
    if np.issubdtype(x.dtype, np.integer):
        xf, yf = x.astype(np.float64), y.astype(np.float64)

        def dot(lo: int, hi: int) -> np.ndarray:
            return xf @ yf[lo:hi].T

    else:

        def dot(lo: int, hi: int) -> np.ndarray:
            acc = np.zeros((len(x), hi - lo))
            for d in range(x.shape[1]):  # dim by dim: the fold's add order
                acc += np.outer(x[:, d], y[lo:hi, d])
            return acc

    step = max(1, SCORE_TILE_CELLS // max(1, len(x)))
    for lo in range(0, len(y), step):
        hi = min(lo + step, len(y))
        yield lo, dot(lo, hi) / np.outer(norms_x, norms_y[lo:hi])


def score_pairs(
    ids_x: np.ndarray,
    x: np.ndarray,
    norms_x: np.ndarray,
    ids_y: np.ndarray,
    y: np.ndarray,
    norms_y: np.ndarray,
) -> pd.DataFrame:
    """Near-duplicate candidates of x × y: the pairs with cosine ≥
    SCORE_PRE_CUT as a PAIR_SCHEMA frame oriented (min id, max id).

    Pairs are unordered. When an x id also sits on the y side (self
    pairs, or q69's y side that holds every member of x's cell), the
    generator scores that pair from both ends, so only id_a < id_b is
    kept; disjoint sides (q51's cross-block groups) keep every pair.
    An empty side gives the typed empty frame."""
    if not len(ids_x) or not len(ids_y):
        return pd.DataFrame({c: [] for c in _PAIR_DTYPES}).astype(_PAIR_DTYPES)
    x_on_y = np.isin(ids_x, ids_y)
    out_a, out_b, out_c = [], [], []
    for lo, cos in cosine_tiles(x, norms_x, y, norms_y):
        ii, jj = np.nonzero(cos >= SCORE_PRE_CUT)
        a, b = ids_x[ii], ids_y[lo + jj]
        keep = (a < b) | ~x_on_y[ii]
        out_a.append(np.minimum(a, b)[keep])
        out_b.append(np.maximum(a, b)[keep])
        out_c.append(cos[ii, jj][keep])
    return pd.DataFrame(
        {
            "vec_a": np.concatenate(out_a),
            "vec_b": np.concatenate(out_b),
            "cosine": np.concatenate(out_c),
        }
    )


@register("q51_embedding_neardup", oracle=NEARDUP_ORACLE, tags=("similarity", "dedup"))
def q51_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (threshold on the rounded
    value so both engines make identical keep/drop decisions).
    All-pairs is exact — the BASELINE spelling only, fine to sf0.1
    (2k vectors = 2M pairs) and REFUSED above NEARDUP_MAX_VECTORS;
    the scale path with the same semantics is
    q69_embedding_neardup_ivf (similarity.py:~213): IVF-bucketed
    candidate generation, recall-gated ≥0.9 against this baseline."""
    emb = load_catalog(spark, sf_dir).table("embeddings").select(
        "vec_id", as_double(F.col("embedding")).alias("v")
    )
    probe = emb.select("vec_id").limit(NEARDUP_MAX_VECTORS + 1).count()
    if probe > NEARDUP_MAX_VECTORS:
        raise ValueError(
            f"q51_embedding_neardup is the exact all-pairs baseline and refuses "
            f"inputs above {NEARDUP_MAX_VECTORS} vectors (O(n²) pairs); use "
            "q69_embedding_neardup_ivf — bucketed candidate generation, same "
            "cosine threshold, recall-gated ≥0.9"
        )
    # precompute norms once per vector (not once per pair): cosine =
    # dot/(na*nb) — same formula/order as list_cosine_similarity
    with_n = emb.select("vec_id", "v", norm2(F.col("v")).alias("n"))

    # BLOCKED all-pairs (round 13; guide §4.2/§8): vectors are hashed
    # into NEARDUP_BLOCKS blocks, and each unordered pair of blocks
    # (i ≤ j) is one applyInPandas group holding block i ∪ block j, so
    # every vector moves NEARDUP_BLOCKS times and every vector PAIR
    # lands in exactly one group. score_pairs scores the group's block
    # i against block j; embeddings are arbitrary doubles, so it takes
    # the dim-by-dim fold that reproduces the JVM add order. Norms stay
    # JVM-side (one fold per vector). Still O(n²) work — the ≤100k cap
    # and q69's IVF spelling remain the scale path.
    blocks = F.pmod(F.xxhash64("vec_id"), F.lit(NEARDUP_BLOCKS)).cast("int")
    others = F.sequence(F.lit(0), F.lit(NEARDUP_BLOCKS - 1))
    rows = (
        with_n.withColumn("blk", blocks)
        .select(
            "vec_id",
            "v",
            "n",
            "blk",
            F.explode(others).alias("oth"),
        )
        .select(
            "vec_id",
            "v",
            "n",
            "blk",
            F.least("blk", "oth").alias("g1"),
            F.greatest("blk", "oth").alias("g2"),
        )
        # (vec_id, g1, g2) is already unique: oth == blk collapses to
        # the diagonal group once, every other oth to a distinct pair
    )

    def _score_blocks(pdf: pd.DataFrame) -> pd.DataFrame:
        ids, m, n = pdf["vec_id"].to_numpy(), vectors(pdf["v"]), pdf["n"].to_numpy()
        blk = pdf["blk"].to_numpy()
        x, y = blk == pdf["g1"].iloc[0], blk == pdf["g2"].iloc[0]
        return score_pairs(ids[x], m[x], n[x], ids[y], m[y], n[y])

    return (
        rows.groupBy("g1", "g2")
        .applyInPandas(_score_blocks, PAIR_SCHEMA)
        .withColumn("cosine", r6(F.col("cosine")))
        .filter(F.col("cosine") >= 0.35)
        .select("vec_a", "vec_b", "cosine")
    )


NORMS_ORACLE = """
SELECT
  vec_id,
  label,
  CAST(len(embedding) AS BIGINT) AS dim,
  round(sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x))), 6) AS l2_norm,
  round(list_sum(CAST(embedding AS DOUBLE[])) / len(embedding), 6) AS mean_component
FROM embeddings
"""


@register("q52_embedding_norms", oracle=NORMS_ORACLE, tags=("similarity", "stats"))
def q52_embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector norm/mean diagnostics — the sanity profile run before
    any ANN indexing job."""
    emb = load_catalog(spark, sf_dir).table("embeddings")
    v = as_double(F.col("embedding"))
    total = F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x)
    return emb.select(
        "vec_id",
        "label",
        F.size("embedding").cast("bigint").alias("dim"),
        r6(norm2(v)).alias("l2_norm"),
        r6(total / F.size("embedding")).alias("mean_component"),
    )


# ---------------------------------------------------------------------------
# IVF-style ANN (scale path) — integer-quantized, FULL oracle since r10
# ---------------------------------------------------------------------------

IVF_CELLS = 8
IVF_PROBE = 2
IVF_N_QUERIES = 5
IVF_TOPK = 10
# Quantization scale for the exact-oracle similarity (VERDICT r9 #3,
# the qx261 integer trick): qv = round(v·1e6) keeps every dot product
# |Σ qa·qb| ≤ 64·1e12 < 2^53, so dots and squared norms are EXACT
# BIGINTs that convert to double losslessly in both engines — the
# similarity dot/(sqrt(nv)·sqrt(nc)) is then a fixed-order chain of
# correctly-rounded IEEE ops, bit-identical across Spark and DuckDB
# (the detmath argument). 1e9 (PCA_Q) would overflow the 2^53 window
# for dot products; 1e6 keeps quantization error ~1e-6, invisible at
# the 6dp output rounding and irrelevant to the recall gate.
IVF_Q = 1_000_000


def _ivf_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embeddings → (vec_id, qv array<bigint>, nv squared-norm)."""
    emb = load_catalog(spark, sf_dir).table("embeddings").select(
        "vec_id", as_double(F.col("embedding")).alias("v")
    )
    qv = F.transform("v", lambda x: F.round(x * F.lit(float(IVF_Q))).cast("bigint"))
    out = emb.select("vec_id", qv.alias("qv"))
    nv = F.aggregate(
        F.zip_with("qv", "qv", lambda a, b: a * b),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    return out.select("vec_id", "qv", nv.alias("nv"))


def _ivf_sim(dot: F.Column, na: F.Column, nb: F.Column) -> F.Column:
    """dot/(sqrt(na)·sqrt(nb)) in the EXACT op order the oracle spells:
    every input is an integer < 2^53 (lossless double), every op is a
    single correctly-rounded IEEE operation — bit-identical engines."""
    return dot.cast("double") / (F.sqrt(na.cast("double")) * F.sqrt(nb.cast("double")))


def _ivf_side(pdf: pd.DataFrame) -> tuple:
    """(ids, qv matrix, norms) of IVF_Q-grid rows (vec_id, qv, nv) — one
    side of score_pairs; norms are sqrt(nv), _ivf_sim's factors."""
    return (
        pdf["vec_id"].to_numpy(),
        vectors(pdf["qv"]),
        np.sqrt(pdf["nv"].to_numpy().astype(np.float64)),
    )


# ---------------------------------------------------------------------------
# Fixed-point Lloyd's — the qx221 unroll recipe applied to KMeans
# (VERDICT r10 #2: graduate the trained-KMeans ANN legs).
#
# Every quantity is integer-exact so a DuckDB CTE chain mirrors the
# training bit-for-bit:
# - vectors live on the IVF_Q grid (qv = round(v·1e6), the q53 trick);
# - the EXACT centroid state is the rational (s, n) — component sums
#   and member count — held DRIVER-SIDE between rounds (k×64 Python
#   ints: the kmeans-centroid/BPE-argmax [iter] pattern, exact by
#   construction, no engine rounding involved at all);
# - each round ASSIGNS against the quantized centroid
#   cq_i = floor((2·s_i + n) / (2·n)) — round-half-up of the mean back
#   onto the IVF_Q grid, computed with Python integer floordiv and
#   mirrored in SQL by the exact pmod spelling
#   (a − ((a % b) + b) % b) // b, which floors for every sign and
#   divides exactly (so truncate-vs-floor `//` semantics can't leak);
# - distances are then PURE BIGINT folds over literal arrays:
#   d = Σ_i (x_i − cq_i)² ≤ 64·(2.4e6)² ≈ 3.7e14 — inside int64 at ANY
#   corpus size, whole-stage-codegen-friendly, ties break on cell_id
#   in both engines. (The round-10 spelling kept rationals in the hot
#   loop — decimal A div n² per (row, cell) — which evaluated
#   interpreted and measured ~6× slower at sf0.1.)
#
# Scale shape: per round, ONE job — a map-only literal-fold argmin
# over the checkpointed quantized corpus feeding a map-side-partial
# aggregate that collects k rows × 64 sums to the driver. R rounds =
# R jobs + the seed collect; assignment/search afterwards is map-only
# (no corpus×k shuffle anywhere).
# ---------------------------------------------------------------------------

KM_ROUNDS = 4
KM_DIM = 64


def _km_quantize(s: list, n: int) -> list:
    """cq_i = floor((2·s_i + n) / (2·n)) — round-half-up(s_i/n), exact
    Python ints; the SQL mirror is the pmod floordiv in _km_cte_sql."""
    return [(2 * int(si) + n) // (2 * n) for si in s]


def km_quantized(state: list) -> list:
    """[(cell_id, s, n)] → [(cell_id, cq)] for assignment/probing."""
    return [(cid, _km_quantize(s, n)) for cid, s, n in state]


# Cell assignment (round 14, guide §4.1/§4.2): one numpy pass per Arrow
# batch builds a key matrix (rows × cells, smaller ranks first), keeps
# each row's `probe` best cells by a stable argsort and emits one row
# per (vector, cell). Centroid columns are in cell_id order and the
# stable sort keeps equal keys in column order, so ties break toward
# the smaller cell_id — the oracles' ORDER BY key, cell_id; at probe=1
# that is argmin's first minimum.


def assign_batch(pdf: pd.DataFrame, cells: np.ndarray, keys, probe: int) -> pd.DataFrame:
    """pdf + cell_id: each row repeated once per each of its `probe`
    smallest-key cells, in rank order."""
    order = np.argsort(keys(pdf), axis=1, kind="stable")[:, :probe]
    out = pdf.iloc[np.repeat(np.arange(len(pdf)), order.shape[1])].copy()
    out["cell_id"] = cells[order.reshape(-1)].astype("int32")
    return out


def assign_cells(frame: DataFrame, cells: np.ndarray, keys, probe: int) -> DataFrame:
    """assign_batch over every Arrow batch of frame (map-only)."""
    from pyspark.sql.types import IntegerType, StructField, StructType

    schema = StructType(frame.schema.fields + [StructField("cell_id", IntegerType())])

    def _assign(it):
        for pdf in it:
            if len(pdf):
                yield assign_batch(pdf, cells, keys, probe)

    return frame.mapInPandas(_assign, schema)


def km_keys(cq_state: list):
    """(cells, keys) ranking by the BIGINT squared distance to each
    quantized centroid [(cell_id, cq)], via the exact expansion
    d = Σx² + Σc² − 2·x·c: pure int64, magnitudes ≤ 64·(2.4e6)² ≈
    3.7e14, so the regrouping rounds nothing."""
    state = sorted((int(cid), [int(v) for v in cq]) for cid, cq in cq_state)
    cells = np.array([cid for cid, _ in state], dtype=np.int64)
    cmat = np.array([cq for _, cq in state], dtype=np.int64)
    cc = (cmat * cmat).sum(axis=1)

    def keys(pdf: pd.DataFrame) -> np.ndarray:
        q = np.array(list(pdf["qv"]), dtype=np.int64)
        return (q * q).sum(axis=1)[:, None] + cc[None, :] - 2 * (q @ cmat.T)

    return cells, keys


def seeded_keys(crows: list):
    """(cells, keys) ranking by −s against SEEDED centroid rows
    [(cell_id, qc, nc)], s = dot/(sqrt(nv)·sqrt(nc)): integer dots are
    exact in int64 and below 2^53 (a lossless cast to double, like the
    JVM's), then _ivf_sim's three correctly-rounded IEEE ops in its
    order."""
    rows = sorted(crows, key=lambda r: int(r["cell_id"]))
    cells = np.array([int(r["cell_id"]) for r in rows], dtype=np.int64)
    cmat = np.array([[int(x) for x in r["qc"]] for r in rows], dtype=np.int64)
    sq_nc = np.sqrt(np.array([int(r["nc"]) for r in rows], dtype=np.float64))

    def keys(pdf: pd.DataFrame) -> np.ndarray:
        qm = np.array(list(pdf["qv"]), dtype=np.int64)
        sq_nv = np.sqrt(pdf["nv"].to_numpy().astype(np.float64))
        return -((qm @ cmat.T).astype(np.float64) / (sq_nv[:, None] * sq_nc[None, :]))

    return cells, keys


def km_multi_assign(e: DataFrame, cq_state: list, probe: int) -> DataFrame:
    """+ cell_id: each vector's `probe` nearest quantized centroids,
    ranked by (d, cell_id), one output row per (vec, cell)."""
    return assign_cells(e, *km_keys(cq_state), probe)


def km_assign(e: DataFrame, cq_state: list) -> DataFrame:
    """+ cell_id: the nearest quantized centroid (ties → smaller
    cell_id)."""
    return km_multi_assign(e, cq_state, 1)


def ivf_seeded_assign(frame: DataFrame, crows: list, probe: int) -> DataFrame:
    """+ cell_id: each vector's `probe` best SEEDED cells ranked by
    (s desc, cell_id asc), one row per (vec, cell), input columns
    passed through."""
    return assign_cells(frame, *seeded_keys(crows), probe)


# Per-session artifacts (the frozen-index stance applied to the
# fixture path; workcache.artifact): the trained state is a pure
# function of (sf_dir, k, rounds) and the quantized corpus checkpoint
# of sf_dir — production trains ONCE and serves many, so repeated
# registry invocations (bench best-of-3, rotation sweeps, qx139→q69
# chains) reuse the artifacts instead of re-running the fit.
def _ivf_quantized_ckpt(spark: SparkSession, sf_dir: str) -> DataFrame:
    return artifact(
        spark,
        "ivf-quantized",
        sf_dir,
        lambda: _ivf_quantized(spark, sf_dir).localCheckpoint(eager=True),
    )


def fixed_point_kmeans_cached(
    spark: SparkSession, sf_dir: str, k: int, rounds: int = KM_ROUNDS
) -> tuple[DataFrame, list]:
    """(checkpointed quantized corpus, trained exact state) with both
    memoized per session — the deterministic fit makes the memo safe."""
    e = _ivf_quantized_ckpt(spark, sf_dir)
    return e, artifact(
        spark, "kmeans", (sf_dir, k, rounds), lambda: fixed_point_kmeans(e, k, rounds)
    )


def fixed_point_kmeans(e: DataFrame, k: int, rounds: int = KM_ROUNDS) -> list:
    """Seeded deterministic Lloyd's over the quantized frame e
    (vec_id, qv, ...): init from the k SMALLEST vec_ids in the frame
    (the q53 seeding — identical to ``vec_id < k`` when ids are dense
    from 0, and well-defined on id-sliced training frames like q57's
    60% build slice, where ``vec_id < k`` would under-seed), `rounds`
    exact update rounds, empty cells keep their previous centroid.
    Cell ids ARE the seed vec_ids. Returns the exact driver-side
    state [(cell_id, s, n)] — pass through km_quantized for
    assignment."""
    seeds = sorted(
        e.select("vec_id", "qv").orderBy("vec_id").limit(k).collect(),
        key=lambda r: int(r["vec_id"]),
    )
    state = [(int(r["vec_id"]), [int(x) for x in r["qv"]], 1) for r in seeds]
    for _ in range(rounds):
        # per-round assignment: one Arrow pass of the shared
        # assignment kernel (exact int64 distances, cell_id tie-breaks)
        stats = (
            km_assign(e.select("qv"), km_quantized(state))
            .select("qv", "cell_id")
            .groupBy("cell_id")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n"),
                *[
                    F.sum(F.col("qv")[i]).cast("bigint").alias(f"s{i}")
                    for i in range(KM_DIM)
                ],
            )
            .collect()
        )
        got = {
            int(r["cell_id"]): (
                [int(r[f"s{i}"]) for i in range(KM_DIM)],
                int(r["n"]),
            )
            for r in stats
        }
        state = [
            (cid,) + got.get(cid, (s, n))
            for cid, s, n in state
        ]
    return state


# exact BIGINT distance between row `e` and a cq-bearing centroid row
# `c` over `dims d` — shared by the training unroll and callers' probe
# CTEs (requires e/c/d table aliases)
KM_DIST_SQL = (
    "CAST(sum((e.qv[d.i] - c.cq[d.i]) * (e.qv[d.i] - c.cq[d.i])) AS BIGINT)"
)

# SQL mirror of _km_quantize: floor((2s+n)/(2n)) via the exact pmod
# spelling (floors for every sign; remainder removed, so the division
# is exact and `//` truncate-vs-floor semantics cannot differ)
_KM_CQ_SQL = (
    "list_transform(range(1, {dim} + 1), i -> "
    "(2*s[i] + n - (((2*s[i] + n) % (2*n)) + 2*n) % (2*n)) // (2*n))"
)


def _km_cte_sql(k: int, rounds: int = KM_ROUNDS) -> str:
    """DuckDB CTE chain mirroring fixed_point_kmeans bit-for-bit:
    defines e (IVF_Q-quantized vectors), dims, qn (squared norms),
    c0..c{rounds} (exact rational centroids), cqF (the final quantized
    centroids), and afin (final assignment of every vector to its
    nearest cqF centroid, with the BIGINT distance d). Callers append
    search/report CTEs joining against cqF with KM_DIST_SQL."""
    cq_expr = _KM_CQ_SQL.format(dim=KM_DIM)

    def quantize(name: str, cents: str) -> str:
        return f"""{name} AS MATERIALIZED (
  SELECT cell_id, {cq_expr} AS cq FROM {cents}
)"""

    def assign(name: str, cq: str) -> str:
        return f"""{name} AS MATERIALIZED (
  SELECT vec_id, cell_id, d FROM (
    SELECT vec_id, cell_id, d,
           row_number() OVER (PARTITION BY vec_id ORDER BY d, cell_id) AS rn
    FROM (
      SELECT e.vec_id, c.cell_id, {KM_DIST_SQL} AS d
      FROM e, {cq} c, dims d
      GROUP BY e.vec_id, c.cell_id
    )
  ) WHERE rn = 1
)"""

    def update(name: str, prev: str, a: str) -> str:
        return f"""{name} AS MATERIALIZED (
  SELECT p.cell_id, COALESCE(u.s, p.s) AS s, COALESCE(u.n, p.n) AS n
  FROM {prev} p LEFT JOIN (
    SELECT cell_id, list(sx ORDER BY i) AS s, CAST(max(cnt) AS BIGINT) AS n
    FROM (
      SELECT a.cell_id, d.i, CAST(sum(e.qv[d.i]) AS BIGINT) AS sx,
             count(*) AS cnt
      FROM {a} a JOIN e USING (vec_id), dims d
      GROUP BY a.cell_id, d.i
    ) GROUP BY cell_id
  ) u USING (cell_id)
)"""

    parts = [
        f"""e AS MATERIALIZED (
  SELECT vec_id,
         list_transform(CAST(embedding AS DOUBLE[]),
                        x -> CAST(round(x * {IVF_Q}.0) AS BIGINT)) AS qv
  FROM embeddings
)""",
        f"dims AS (SELECT unnest(range(1, {KM_DIM} + 1)) AS i)",
        """qn AS MATERIALIZED (
  SELECT vec_id, CAST(sum(qv[i] * qv[i]) AS BIGINT) AS nv
  FROM e, dims GROUP BY vec_id
)""",
        f"""c0 AS MATERIALIZED (
  SELECT CAST(vec_id AS INT) AS cell_id, qv AS s, CAST(1 AS BIGINT) AS n
  FROM e WHERE vec_id < {k}
)""",
    ]
    for r in range(1, rounds + 1):
        parts.append(quantize(f"cq{r - 1}", f"c{r - 1}"))
        parts.append(assign(f"a{r}", f"cq{r - 1}"))
        parts.append(update(f"c{r}", f"c{r - 1}", f"a{r}"))
    parts.append(quantize("cqF", f"c{rounds}"))
    parts.append(assign("afin", "cqF"))
    return ",\n".join(parts)


def _q53_oracle() -> str:
    return f"""
WITH e AS (
  SELECT vec_id,
         list_transform(CAST(embedding AS DOUBLE[]),
                        x -> CAST(round(x * {IVF_Q}.0) AS BIGINT)) AS qv
  FROM embeddings
),
dims AS (SELECT unnest(range(1, 65)) AS i),
qn AS (
  SELECT vec_id, CAST(sum(qv[i] * qv[i]) AS BIGINT) AS nv
  FROM e, dims GROUP BY vec_id
),
cent AS (SELECT vec_id AS cell_id, qv AS qc FROM e WHERE vec_id < {IVF_CELLS}),
adot AS (
  SELECT e.vec_id, c.cell_id, CAST(sum(e.qv[i] * c.qc[i]) AS BIGINT) AS dot
  FROM e, cent c, dims
  GROUP BY 1, 2
),
asim AS (
  SELECT a.vec_id, a.cell_id,
         CAST(a.dot AS DOUBLE)
           / (sqrt(CAST(nv.nv AS DOUBLE)) * sqrt(CAST(nc.nv AS DOUBLE))) AS s
  FROM adot a
  JOIN qn nv ON nv.vec_id = a.vec_id
  JOIN qn nc ON nc.vec_id = a.cell_id
),
assigned AS (
  SELECT vec_id, cell_id FROM (
    SELECT vec_id, cell_id,
           row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cell_id) AS rn
    FROM asim
  ) WHERE rn = 1
),
probes AS (
  SELECT vec_id AS query_id, cell_id FROM (
    SELECT vec_id, cell_id,
           row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cell_id) AS rn
    FROM asim WHERE vec_id < {IVF_N_QUERIES}
  ) WHERE rn <= {IVF_PROBE}
),
cand AS (
  SELECT p.query_id, a.vec_id AS neighbor_id
  FROM probes p JOIN assigned a ON a.cell_id = p.cell_id
  WHERE a.vec_id <> p.query_id
),
cdot AS (
  SELECT c.query_id, c.neighbor_id,
         CAST(sum(eq.qv[i] * en.qv[i]) AS BIGINT) AS dot
  FROM cand c
  JOIN e eq ON eq.vec_id = c.query_id
  JOIN e en ON en.vec_id = c.neighbor_id, dims
  GROUP BY 1, 2
),
scored AS (
  SELECT d.query_id, d.neighbor_id,
         round(CAST(d.dot AS DOUBLE)
               / (sqrt(CAST(nq.nv AS DOUBLE)) * sqrt(CAST(nn.nv AS DOUBLE))), 6)
           + 0.0 AS cosine
  FROM cdot d
  JOIN qn nq ON nq.vec_id = d.query_id
  JOIN qn nn ON nn.vec_id = d.neighbor_id
)
SELECT query_id, neighbor_id, cosine, rank FROM (
  SELECT query_id, neighbor_id, cosine,
         CAST(row_number() OVER (
           PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
         ) AS BIGINT) AS rank
  FROM scored
) WHERE rank <= {IVF_TOPK}
ORDER BY query_id, rank
"""


@register(
    "q53_ann_ivf",
    oracle=_q53_oracle(),
    doc="IVF-flat ANN over seeded deterministic cells (integer-quantized full oracle)",
    tags=("similarity", "ann", "ivf"),
)
def q53_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat ANN: the first IVF_CELLS vectors act as (deterministic)
    centroids; every vector is assigned to its nearest centroid; a query
    probes only the IVF_PROBE nearest cells, shrinking the candidate set
    by ~n_cells/n_probe. On a cluster the assignment is one broadcast
    join (centroids are tiny) and search touches only probed partitions.

    FULL VALUE-HASH ORACLE since round 10 (VERDICT r9 #3, rows-only
    through r9): components quantize to BIGINT at IVF_Q (the qx261
    integer trick), so dots and squared norms are exact integers under
    2^53 and the similarity is a fixed-order chain of correctly-rounded
    IEEE double ops — bit-identical to the DuckDB spelling. The argmax
    assignment is map-shaped (no corpus×8-row window shuffle since r10)
    and since round 14 runs as ONE vectorized numpy pass per Arrow
    batch instead of 8 interpreted zip_with folds per row — identical
    doubles, identical ties-toward-smaller-cell (assign_cells,
    seeded_keys). Recall-vs-brute-force stays pytest-asserted (quantization
    shifts cosines by ~1e-6 — invisible at 6dp and to recall)."""
    q = _ivf_quantized(spark, sf_dir)
    centroids = q.filter(F.col("vec_id") < IVF_CELLS).select(
        F.col("vec_id").alias("cell_id"), F.col("qv").alias("qc"), F.col("nv").alias("nc")
    )
    crows = sorted(centroids.collect(), key=lambda r: r["cell_id"])  # 8 rows

    assigned = ivf_seeded_assign(q, crows, probe=1)
    queries = assigned.filter(F.col("vec_id") < IVF_N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("qv").alias("q_qv"),
        F.col("nv").alias("q_nv"),
    )
    # probe: the IVF_PROBE best cells per query (IVF_N_QUERIES×8 rows)
    probe_w = Window.partitionBy("query_id").orderBy(F.col("qsim").desc(), F.col("cell_id"))
    probes = (
        queries.crossJoin(F.broadcast(centroids))
        .select(
            "query_id",
            "q_qv",
            "q_nv",
            "cell_id",
            _ivf_sim(
                F.aggregate(
                    F.zip_with("q_qv", "qc", lambda a, b: a * b),
                    F.lit(0).cast("bigint"),
                    lambda acc, x: acc + x,
                ),
                F.col("q_nv"),
                F.col("nc"),
            ).alias("qsim"),
        )
        .withColumn("prn", F.row_number().over(probe_w))
        .filter(F.col("prn") <= IVF_PROBE)
        .select("query_id", "q_qv", "q_nv", "cell_id")
    )
    rank_w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    pair_dot = F.aggregate(
        F.zip_with("q_qv", "qv", lambda a, b: a * b),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    return (
        probes.join(assigned, "cell_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            (r6(_ivf_sim(pair_dot, F.col("q_nv"), F.col("nv"))) + F.lit(0.0)).alias(
                "cosine"
            ),
        )
        .withColumn("rank", F.row_number().over(rank_w).cast("bigint"))
        .filter(F.col("rank") <= IVF_TOPK)
    )


NEARDUP_IVF_CELLS = 16
# One more probe than the MLlib-cell era (3): fixed-point Lloyd's
# first-k seeding yields slightly worse cell geometry than k-means||
# (measured at sf0.01, probe 3: 0.867 recall vs 0.956 with MLlib cells;
# more rounds don't close it — 8 rounds: 0.856 — and md5-spread seeding
# only reaches 0.882). Probe 4 measures 0.970 against the 0.9 gate.
# The (4/3)² ≈ 1.8× candidate growth is the price of the full
# value-hash oracle; at scale k ∝ √N amortizes it identically.
NEARDUP_IVF_PROBE = 4
# Clustering probes one extra cell: a missed pair costs pairwise dedup
# one duplicate, but costs clustering a whole SPLIT COMPONENT (every
# co-member pair across the split counts as disagreement).
NEARDUP_CLUSTER_PROBE = 5
NEARDUP_THRESHOLD = 0.35
NEARDUP_SALT = 4  # sub-cell buckets for the within-cell self-join


def _q69_oracle(probe: int = NEARDUP_IVF_PROBE) -> str:
    """Full CTE-unrolled oracle for the trained-cell near-dup chain:
    fixed-point Lloyd's (k=NEARDUP_IVF_CELLS), top-`probe`
    multi-assignment, cell-sharing candidate pairs, IVF_Q-exact
    cosines against the threshold. Parameterized on probe so qx191's
    cluster chain (probe+1) reuses it verbatim."""
    return f"""
WITH {_km_cte_sql(NEARDUP_IVF_CELLS)},
md AS (
  SELECT e.vec_id, c.cell_id, {KM_DIST_SQL} AS d
  FROM e, cqF c, dims d
  GROUP BY e.vec_id, c.cell_id
),
ma AS MATERIALIZED (
  SELECT vec_id, cell_id FROM (
    SELECT vec_id, cell_id,
           row_number() OVER (PARTITION BY vec_id ORDER BY d, cell_id) AS rn
    FROM md
  ) WHERE rn <= {probe}
),
cp AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM ma a JOIN ma b ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id
),
pdot AS (
  SELECT c.vec_a, c.vec_b, CAST(sum(ea.qv[i] * eb.qv[i]) AS BIGINT) AS dot
  FROM cp c
  JOIN e ea ON ea.vec_id = c.vec_a
  JOIN e eb ON eb.vec_id = c.vec_b, dims
  GROUP BY 1, 2
),
scored AS (
  SELECT p.vec_a, p.vec_b,
         round(CAST(p.dot AS DOUBLE)
               / (sqrt(CAST(na.nv AS DOUBLE)) * sqrt(CAST(nb.nv AS DOUBLE))), 6)
           + 0.0 AS cosine
  FROM pdot p
  JOIN qn na ON na.vec_id = p.vec_a
  JOIN qn nb ON nb.vec_id = p.vec_b
)
SELECT vec_a, vec_b, cosine FROM scored
WHERE cosine >= {NEARDUP_THRESHOLD}
ORDER BY vec_a, vec_b
"""


@register(
    "q69_embedding_neardup_ivf",
    oracle=_q69_oracle(),
    doc="IVF-bucketed embedding near-dup over trained cells (full CTE-unrolled oracle)",
    tags=("similarity", "dedup", "ivf", "iterative"),
)
def q69_embedding_neardup_ivf(
    spark: SparkSession, sf_dir: str, probe: int | None = None
) -> DataFrame:
    """Embedding near-dup at scale: the bucketed replacement for q51's
    all-pairs spelling. Seeded fixed-point Lloyd's (fixed_point_kmeans,
    the qx221 unroll recipe — FULL value-hash oracle since round 11,
    rows-only through r10 as an MLlib fit) learns NEARDUP_IVF_CELLS
    centroids; every vector is MULTI-ASSIGNED to its NEARDUP_IVF_PROBE
    nearest cells by the same truncated integer distance (map-only:
    one assign_cells ranking per Arrow batch); candidate pairs share at
    least one cell (equi-join on cell_id — never an unbounded cross
    join); the exact IVF_Q-quantized cosine (bit-identical to the
    DuckDB spelling) re-checks candidates against the same 0.35
    threshold as q51.

    Cost/plan shape:
    - Candidate fraction ≈ probe²/k of all pairs (recall 0.96 vs
      q51's exact pairs at k=16 on the fixture — pytest-gated ≥0.9,
      and the exact re-check means zero false positives). At 100 TB
      set k ∝ √N so the per-cell join stays bounded; multi-assignment
      keeps boundary pairs (the failure mode of single-assignment IVF
      dedup).
    - The self-join is SALTED into (cell, sub-bucket) combos: k cells
      alone under-parallelize when k < task slots, and AQE coalesces
      this shuffle to almost nothing because its BYTES are tiny while
      its join OUTPUT is the expensive part — the explicit
      repartition on (cell, salt) pins k×NEARDUP_SALT balanced tasks.
    - Pairs are scored inside each (cell, sub-bucket) group by
      score_pairs, with squared norms precomputed per VECTOR.
    - Training runs KM_ROUNDS exact integer Lloyd rounds: centroid
      quality for bucketing saturates in a few iterations, and at
      100 TB the fit runs on a ~0.1% sample anyway.
    Hyperplane SimHash banding was rejected for this operator: at
    cosine 0.35 (≈70°) hyperplane bits are near-coin-flips, so band
    recall collapses or candidates explode."""
    e, state = fixed_point_kmeans_cached(spark, sf_dir, NEARDUP_IVF_CELLS)
    cq = km_quantized(state)
    n_parts = shuffle_partitions(spark)
    assigned = km_multi_assign(
        e.select("vec_id", "qv"),
        cq,
        NEARDUP_IVF_PROBE if probe is None else probe,
    ).select("vec_id", F.col("cell_id").cast("int").alias("cell_id"))
    # Verify PER (cell, sub-bucket) GROUP in one applyInPandas (round
    # 13; guide §8 "move heavy bytes once"): joining candidate ids and
    # re-attaching both vectors per PAIR made the per-pair transfer the
    # dominant cost. Each group scores its probe side (the cell's
    # members in this sub-bucket) against the whole cell, so every
    # vector moves (1 + NEARDUP_SALT) times per cell and the salted
    # split keeps the groups balanced. score_pairs keeps each pair at
    # its smaller id's sub-bucket; a pair sharing several cells is
    # scored once per cell with identical bytes, and dropDuplicates
    # keeps one copy.
    nv = e.select("vec_id", "qv", "nv")
    aset = assigned.join(nv, "vec_id")
    a_rows = aset.select(
        "vec_id",
        "qv",
        "nv",
        "cell_id",
        F.pmod(F.xxhash64("vec_id"), F.lit(NEARDUP_SALT)).cast("int").alias("salt"),
        F.lit(1).alias("probe_side"),
    )
    b_rows = aset.select(
        "vec_id",
        "qv",
        "nv",
        "cell_id",
        F.explode(F.sequence(F.lit(0), F.lit(NEARDUP_SALT - 1))).alias("salt"),
        F.lit(0).alias("probe_side"),
    )

    def _score_group(pdf: pd.DataFrame) -> pd.DataFrame:
        probe_side = pdf["probe_side"] == 1
        return score_pairs(*_ivf_side(pdf[probe_side]), *_ivf_side(pdf[~probe_side]))

    return (
        a_rows.unionByName(b_rows)
        .repartition(n_parts, "cell_id", "salt")
        .groupBy("cell_id", "salt")
        .applyInPandas(_score_group, PAIR_SCHEMA)
        .select("vec_a", "vec_b", (r6(F.col("cosine")) + F.lit(0.0)).alias("cosine"))
        .filter(F.col("cosine") >= NEARDUP_THRESHOLD)
        .dropDuplicates(["vec_a", "vec_b"])
    )


def _q55_oracle() -> str:
    return f"""
WITH {_km_cte_sql(IVF_CELLS)},
pd AS (
  SELECT e.vec_id, c.cell_id, {KM_DIST_SQL} AS d
  FROM e, cqF c, dims d
  WHERE e.vec_id < {IVF_N_QUERIES}
  GROUP BY e.vec_id, c.cell_id
),
probes AS (
  SELECT vec_id AS query_id, cell_id FROM (
    SELECT vec_id, cell_id,
           row_number() OVER (PARTITION BY vec_id ORDER BY d, cell_id) AS rn
    FROM pd
  ) WHERE rn <= {IVF_PROBE}
),
cand AS (
  SELECT p.query_id, a.vec_id AS neighbor_id
  FROM probes p JOIN afin a ON a.cell_id = p.cell_id
  WHERE a.vec_id <> p.query_id
),
cdot AS (
  SELECT c.query_id, c.neighbor_id,
         CAST(sum(eq.qv[i] * en.qv[i]) AS BIGINT) AS dot
  FROM cand c
  JOIN e eq ON eq.vec_id = c.query_id
  JOIN e en ON en.vec_id = c.neighbor_id, dims
  GROUP BY 1, 2
),
scored AS (
  SELECT d.query_id, d.neighbor_id,
         round(CAST(d.dot AS DOUBLE)
               / (sqrt(CAST(nq.nv AS DOUBLE)) * sqrt(CAST(nn.nv AS DOUBLE))), 6)
           + 0.0 AS cosine
  FROM cdot d
  JOIN qn nq ON nq.vec_id = d.query_id
  JOIN qn nn ON nn.vec_id = d.neighbor_id
)
SELECT query_id, neighbor_id, cosine, rank FROM (
  SELECT query_id, neighbor_id, cosine,
         CAST(row_number() OVER (
           PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
         ) AS BIGINT) AS rank
  FROM scored
) WHERE rank <= {IVF_TOPK}
ORDER BY query_id, rank
"""


@register(
    "q55_ann_ivf_kmeans",
    oracle=_q55_oracle(),
    doc="IVF ANN over fixed-point-Lloyd's-trained cells (full CTE-unrolled oracle)",
    tags=("similarity", "ann", "ivf", "iterative"),
)
def q55_ann_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat ANN with TRAINED centroids: seeded fixed-point Lloyd's
    (fixed_point_kmeans above — KM_ROUNDS exact integer rounds on the
    IVF_Q grid) learns IVF_CELLS centroids, every vector is assigned to
    its nearest one by the same truncated integer distance, and a query
    probes the IVF_PROBE nearest cells. Trained cells balance cell
    SIZES (q53's arbitrary-seed cells skew, so its probes can sweep
    half the corpus — cheap recall, expensive scan): at equal probe
    count the kmeans index scans a predictable ~probe/k fraction, which
    is the property that matters when a cell is 10 TB. At 100 TB: train
    on a ~0.1% sample (Lloyd's cost is per-point; centroid quality
    saturates fast), persist the k-row (s, n) state, and assignment is
    a broadcast of k×64 longs — map-only, the corpus is touched exactly
    once.

    FULL VALUE-HASH ORACLE since round 11 (VERDICT r10 #2, rows-only
    through r10 as an MLlib fit): training is the qx221 fixed-point
    unroll — every Lloyd round is integer-exact (rational (s, n)
    centroids, truncated integer distances, cell_id tie-breaks), so
    the DuckDB MATERIALIZED-CTE chain reproduces centroids,
    assignments, probes, and the IVF_Q-exact cosines bit-for-bit.
    Recall@10 vs q50 brute force stays pytest-asserted (the gate is
    unchanged — determinism is about the oracle, not the quality
    bar). MLlib KMeans coverage remains on q49/q54/q57's index
    family; this operator's contract is the ORACLE-BEARING trained
    index."""
    e, state = fixed_point_kmeans_cached(spark, sf_dir, IVF_CELLS)
    cq = km_quantized(state)
    assigned = km_assign(e.select("vec_id", "qv"), cq)
    # probe = top-IVF_PROBE cells by the same BIGINT distance, ranked
    # map-only by (d, cell_id) == the oracle's ORDER BY — no per-query
    # window
    probes = km_multi_assign(
        e.filter(F.col("vec_id") < IVF_N_QUERIES).select(
            F.col("vec_id").alias("query_id"),
            F.col("qv").alias("q_qv"),
            F.col("nv").alias("q_nv"),
        ).withColumnRenamed("q_qv", "qv"),
        cq,
        IVF_PROBE,
    ).withColumnRenamed("qv", "q_qv")
    nvs = e.select(F.col("vec_id").alias("nb_id"), F.col("nv").alias("nb_nv"))
    rank_w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    pair_dot = F.aggregate(
        F.zip_with("q_qv", "qv", lambda a, b: a * b),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    return (
        probes.join(assigned, "cell_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .join(nvs, F.col("nb_id") == F.col("vec_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            (r6(_ivf_sim(pair_dot, F.col("q_nv"), F.col("nb_nv"))) + F.lit(0.0)).alias(
                "cosine"
            ),
        )
        .withColumn("rank", F.row_number().over(rank_w).cast("bigint"))
        .filter(F.col("rank") <= IVF_TOPK)
    )

# ---------------------------------------------------------------------------
# qx132 — per-label embedding centroids (class prototypes)
# ---------------------------------------------------------------------------

CENTROID_ORACLE = """
SELECT
  CAST(label AS INT) AS label,
  CAST(pos AS INT) AS pos,
  CAST(count(*) AS BIGINT) AS n_vectors,
  round(avg(comp), 6) AS centroid_val
FROM (
  SELECT label, v[i] AS comp, i - 1 AS pos
  FROM (SELECT label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       unnest(range(1, len(v) + 1)) AS t(i)
)
GROUP BY label, pos
"""


@register(
    "qx132_embedding_centroid",
    oracle=CENTROID_ORACLE,
    doc="per-label mean embedding (class prototype vectors), componentwise",
    tags=("similarity", "vectors", "stats"),
)
def qx132_embedding_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class prototypes: the componentwise mean embedding per label —
    the building block of nearest-centroid classifiers, IVF coarse
    quantizers (q53/q55 train these iteratively) and drift monitors
    (centroid movement over time). posexplode unrolls vectors to
    (label, pos, component) — a narrow map, no Python — and ONE
    partial-aggregated groupBy on (label, pos) reduces to
    |labels|×dim rows: componentwise partial sums are exactly how a
    100 TB centroid job should shuffle (dim doubles per label per map
    task, not vectors). Components are float32 exact in double; the
    ~500-term avg carries sub-ulp add-order drift, orders below the
    round-6 surface."""
    emb = load_catalog(spark, sf_dir).table("embeddings").select(
        "label", F.posexplode(as_double(F.col("embedding"))).alias("pos", "comp")
    )
    return emb.groupBy(
        F.col("label").cast("int").alias("label"),
        F.col("pos").cast("int").alias("pos"),
    ).agg(
        F.count("*").cast("bigint").alias("n_vectors"),
        r6(F.avg("comp")).alias("centroid_val"),
    )


# ---------------------------------------------------------------------------
# qx133 — k-NN majority-vote classification
# ---------------------------------------------------------------------------

KNN_K = 5

KNN_ORACLE = f"""
WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT vec_id, label, v FROM e WHERE vec_id % 20 = 0),
pairs AS (
  SELECT
    q.vec_id AS query_id,
    q.label AS true_label,
    c.label AS neighbor_label,
    round(list_cosine_similarity(q.v, c.v), 6) AS cosine,
    c.vec_id AS neighbor_id
  FROM q JOIN e c ON c.vec_id % 20 <> 0
),
topk AS (
  SELECT query_id, true_label, neighbor_label
  FROM (
    SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
    ) AS rn
    FROM pairs
  )
  WHERE rn <= {KNN_K}
),
votes AS (
  SELECT query_id, true_label, neighbor_label, count(*) AS n_votes
  FROM topk GROUP BY query_id, true_label, neighbor_label
)
SELECT
  query_id,
  CAST(true_label AS INT) AS true_label,
  CAST(neighbor_label AS INT) AS predicted_label,
  CAST(n_votes AS BIGINT) AS n_votes
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY n_votes DESC, neighbor_label
  ) AS vr
  FROM votes
)
WHERE vr = 1
"""


@register(
    "qx133_knn_classify",
    oracle=KNN_ORACLE,
    doc="k-NN majority-vote label prediction over held-out query vectors",
    tags=("similarity", "ann", "classification"),
)
def qx133_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN classification end-to-end: every 20th vector is held out
    as a query, its 5 (KNN_K) nearest corpus neighbors by cosine vote on its
    label, majority wins (ties break to the smaller label — a total
    order, mirrored in the oracle). The labeling workhorse of
    weak-supervision pipelines: propagate labels from a small labeled
    set to an unlabeled corpus. Queries are BROADCAST so the corpus
    streams through once with no shuffle (q50's brute-force shape);
    ranking uses the ROUNDED cosine + neighbor_id so float noise can't
    reorder the cut, and the vote reduce touches |queries|×|labels|
    rows. At real scale the same vote runs over q53/q55/qx240's
    IVF/PQ candidate sets instead of the exact scan — the top-k
    contract is identical."""
    emb = load_catalog(spark, sf_dir).table("embeddings").select(
        "vec_id", "label", as_double(F.col("embedding")).alias("v")
    )
    is_query = F.col("vec_id") % 20 == 0

    # Queries × corpus scored per corpus BLOCK in one applyInPandas
    # (round 13; guide §4.2 — the interpreted-HOF-fold trap): the corpus
    # is hashed into NEARDUP_BLOCKS groups and moves ONCE; the small
    # query side is replicated to every group (the broadcast analog — a
    # label-propagation audit samples its queries, so that side stays
    # small by contract). The vote needs every pair with its labels, so
    # this query reads cosine_tiles directly — no pre-cut, no pair
    # orientation; its norms fold dim by dim like norm2's aggregate.
    # 6dp rounding and the top-k window stay JVM-side.
    qrows = emb.where(is_query).select(
        F.col("vec_id").alias("rid"),
        "label",
        "v",
        F.explode(F.sequence(F.lit(0), F.lit(NEARDUP_BLOCKS - 1))).alias("blk"),
        F.lit(1).alias("is_q"),
    )
    crows = emb.where(~is_query).select(
        F.col("vec_id").alias("rid"),
        "label",
        "v",
        F.pmod(F.xxhash64("vec_id"), F.lit(NEARDUP_BLOCKS)).cast("int").alias("blk"),
        F.lit(0).alias("is_q"),
    )

    _knn_schema = (
        "query_id bigint, true_label int, neighbor_label int, "
        "cosine double, neighbor_id bigint"
    )

    def _fold_norms(m: np.ndarray) -> np.ndarray:
        # sum() folds left to right from 0: norm2's JVM add order
        return np.sqrt(sum(m[:, d] * m[:, d] for d in range(m.shape[1])))

    def _score_knn(pdf: pd.DataFrame) -> pd.DataFrame:
        qs = pdf[pdf["is_q"] == 1]
        cs = pdf[pdf["is_q"] == 0]
        if qs.empty or cs.empty:
            return pd.DataFrame(
                columns=["query_id", "true_label", "neighbor_label", "cosine", "neighbor_id"]
            ).astype(
                {
                    "query_id": "int64",
                    "true_label": "int32",
                    "neighbor_label": "int32",
                    "cosine": "float64",
                    "neighbor_id": "int64",
                }
            )
        mq, mc = vectors(qs["v"]), vectors(cs["v"])
        frames = []
        for lo, cos in cosine_tiles(mq, _fold_norms(mq), mc, _fold_norms(mc)):
            qi, ci = (a.ravel() for a in np.indices(cos.shape))
            ci = ci + lo
            frames.append(
                pd.DataFrame(
                    {
                        "query_id": qs["rid"].to_numpy()[qi],
                        "true_label": qs["label"].to_numpy()[qi],
                        "neighbor_label": cs["label"].to_numpy()[ci],
                        "cosine": cos.ravel(),
                        "neighbor_id": cs["rid"].to_numpy()[ci],
                    }
                )
            )
        return pd.concat(frames, ignore_index=True)

    pairs = (
        qrows.unionByName(crows)
        .groupBy("blk")
        .applyInPandas(_score_knn, _knn_schema)
        .withColumn("cosine", r6(F.col("cosine")))
    )
    nn = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), "neighbor_id"
    )
    votes = (
        pairs.withColumn("rn", F.row_number().over(nn))
        .where(F.col("rn") <= KNN_K)
        .groupBy("query_id", "true_label", "neighbor_label")
        .agg(F.count("*").cast("bigint").alias("n_votes"))
    )
    win = Window.partitionBy("query_id").orderBy(
        F.col("n_votes").desc(), "neighbor_label"
    )
    return (
        votes.withColumn("vr", F.row_number().over(win))
        .where(F.col("vr") == 1)
        .select(
            "query_id",
            F.col("true_label").cast("int").alias("true_label"),
            F.col("neighbor_label").cast("int").alias("predicted_label"),
            "n_votes",
        )
    )


# ---------------------------------------------------------------------------
# qx139 — cosine-threshold graph clustering (embedding communities)
# ---------------------------------------------------------------------------

EMB_CLUSTERS_ORACLE = f"""
WITH RECURSIVE e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
pairs AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM e a JOIN e b ON a.vec_id < b.vec_id
  WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.35
),
edges AS (
  SELECT vec_a AS src, vec_b AS dst FROM pairs
  UNION
  SELECT vec_b, vec_a FROM pairs
),
reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, g.dst FROM reach r JOIN edges g ON r.dst = g.src
),
labels AS (
  SELECT src AS vec_id, least(src, min(dst)) AS cluster_id
  FROM reach GROUP BY src
),
all_labels AS (
  SELECT e.vec_id, coalesce(l.cluster_id, e.vec_id) AS cluster_id
  FROM e LEFT JOIN labels l ON e.vec_id = l.vec_id
)
SELECT
  vec_id,
  cluster_id,
  CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size
FROM all_labels
"""


def _clusters_from_pairs(spark: SparkSession, sf_dir: str, pairs: DataFrame) -> DataFrame:
    """Shared clustering tail: near-dup pairs → connected components →
    singleton fill → per-cluster sizes. The singleton fill is a left
    join against the id projection (no vectors move), and cluster
    sizes come from a window over cluster_id — component-bounded
    partitions, never a global sort."""
    from bqfetch_spark.operators.corpus import connected_components

    cc = connected_components(pairs, "vec_a", "vec_b")
    ids = load_catalog(spark, sf_dir).table("embeddings").select("vec_id")
    labeled = ids.join(cc, ids.vec_id == cc.node, "left").select(
        "vec_id", F.coalesce("cluster_id", "vec_id").alias("cluster_id")
    )
    size = Window.partitionBy("cluster_id")
    return labeled.select(
        "vec_id",
        "cluster_id",
        F.count("*").over(size).cast("bigint").alias("cluster_size"),
    )


@register(
    "qx139_embedding_clusters",
    oracle=EMB_CLUSTERS_ORACLE,
    doc="cosine-threshold graph clustering of embeddings (connected components)",
    tags=("similarity", "clustering", "graph"),
)
def qx139_embedding_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity-graph communities: vectors whose pairwise cosine
    clears q51's near-dup threshold form edges; connected components
    resolve them into clusters and every isolated vector keeps itself
    as a singleton cluster — the grouping step that turns pairwise
    similarity into "these N embeddings are the same thing" (the
    vector twin of q74's text dedup clusters, sharing its hash-min
    label propagation).

    Pair generation DEGRADES GRACEFULLY with input size (round-7
    change — the old spelling inherited q51's >100k refusal): at or
    below NEARDUP_MAX_VECTORS it is q51's exact all-pairs baseline
    (the oracle anchor — the recursive-CTE closure below matches it
    bit-for-bit); above, it switches to q69's IVF-bucketed candidate
    pairs — same rounded-cosine threshold, recall-gated ≥0.9, with
    pairwise co-clustering agreement ≥0.9 (and zero invented merges)
    pytest-gated against the exact path at fixture scale
    (tests/test_ann_recall.py). Oracle:
    recursive-CTE transitive closure over the identical pair set
    (exact but O(component²), fine at oracle scale)."""
    n = (
        load_catalog(spark, sf_dir)
        .table("embeddings")
        .select("vec_id")
        .limit(NEARDUP_MAX_VECTORS + 1)
        .count()
    )
    if n <= NEARDUP_MAX_VECTORS:
        pairs = q51_embedding_neardup(spark, sf_dir)
    else:
        pairs = q69_embedding_neardup_ivf(spark, sf_dir, probe=NEARDUP_CLUSTER_PROBE)
    return _clusters_from_pairs(spark, sf_dir, pairs)


@register(
    "qx191_embedding_clusters_scale",
    oracle=f"""
WITH RECURSIVE pairs AS MATERIALIZED (
  SELECT vec_a, vec_b FROM ({_q69_oracle(NEARDUP_CLUSTER_PROBE)}) q
),
edges AS (
  SELECT vec_a AS src, vec_b AS dst FROM pairs
  UNION
  SELECT vec_b, vec_a FROM pairs
),
reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
),
cc AS (
  SELECT src AS vec_id, least(src, min(dst)) AS cluster_id
  FROM reach GROUP BY src
),
lab AS (
  SELECT a.vec_id, COALESCE(c.cluster_id, a.vec_id) AS cluster_id
  FROM (SELECT vec_id FROM embeddings) a LEFT JOIN cc c USING (vec_id)
)
SELECT vec_id, cluster_id,
       CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size
FROM lab ORDER BY vec_id
""",
    doc="qx139's clustering over q69's IVF-bucketed pairs (the >100k path, forced)",
    tags=("similarity", "clustering", "graph", "ann", "iterative"),
)
def qx191_embedding_clusters_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """qx139's above-threshold path, FORCED at any scale so the
    bucketed composition is driver-visible and benchable at fixture
    size: q69's IVF-bucketed candidate pairs (recall-gated ≥0.9, exact
    cosine re-check, salted cell equi-join — never all-pairs) through
    the identical clustering tail.

    FULL VALUE-HASH ORACLE since round 11 (rows-only through r10):
    q69's trained cells are now the fixed-point Lloyd's unroll, so the
    entire chain — training, multi-probe assignment, candidate pairs,
    exact cosines, hash-min connected components, singleton fill,
    cluster sizes — is reproduced by one recursive-CTE oracle (the
    qx270 closure over the _q69_oracle pair set at probe
    NEARDUP_CLUSTER_PROBE). Pairwise co-clustering agreement vs the
    exact qx139 labels stays pytest-gated ≥0.9 with zero invented
    merges. Probes NEARDUP_CLUSTER_PROBE (one extra) cells: clustering
    pays a split component per missed bridge edge, so it buys
    connectivity pairwise dedup doesn't need."""
    return _clusters_from_pairs(
        spark, sf_dir, q69_embedding_neardup_ivf(spark, sf_dir, probe=NEARDUP_CLUSTER_PROBE)
    )


# ---------------------------------------------------------------------------
# SQ8 — scalar-quantized (int8) similarity search, fully oracled
# ---------------------------------------------------------------------------

SQ8_TOPK = 10
SQ8_LEVELS = 127

SQ8_ORACLE = f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
s AS (
  SELECT max(list_max(list_transform(v, x -> abs(x)))) AS scale FROM e
),
q8 AS (
  SELECT vec_id,
         list_transform(v, x -> CAST(floor(x / s.scale * {SQ8_LEVELS}.0 + 0.5) AS BIGINT)) AS qv
  FROM e, s
),
queries AS (SELECT vec_id, qv FROM q8 WHERE vec_id < 5),
pairs AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         CAST(list_dot_product(q.qv, c.qv) AS BIGINT) AS score
  FROM queries q JOIN q8 c ON c.vec_id <> q.vec_id
)
SELECT query_id, neighbor_id, score, rn AS rank
FROM (
  SELECT *, CAST(row_number() OVER (
           PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS BIGINT) AS rn
  FROM pairs
)
WHERE rn <= {SQ8_TOPK}
"""


@register(
    "q101_ann_sq8",
    oracle=SQ8_ORACLE,
    doc="int8 scalar-quantized top-k similarity with exact integer scoring",
    tags=("similarity", "ann", "quantization"),
)
def q101_ann_sq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar quantization (SQ8) — the FAISS/Milvus memory-cut that
    stores each dimension as one int8 instead of a float32 (4× smaller
    scan, integer dot products). Unlike the PQ legs (q56/qx240), SQ8's
    pipeline is fully deterministic end-to-end: the corpus-wide scale
    s = max|x| is an exact double aggregate, quantization is
    floor(x/s*127 + 0.5) — the identical IEEE expression in both
    engines — and scores are integer dot products (≤ 64·127², exact in
    any numeric type), so this approximate-ANN leg carries a FULL
    value-hash oracle with no recall gate. Plan shape mirrors
    q50_cosine_topk: the 1-row scale and the 5-row query side are both
    broadcast, the quantized corpus is scanned once, no shuffle before
    the per-query top-k. At 100 TB the quantized corpus is the
    persisted artifact (int8 parquet, 4× fewer scan bytes) and the
    same per-dimension scale is computed once per index build."""
    emb = load_catalog(spark, sf_dir).table("embeddings").select(
        "vec_id", as_double(F.col("embedding")).alias("v")
    )
    scale = emb.select(
        F.max(
            F.array_max(F.transform("v", lambda x: F.abs(x)))
        ).alias("scale")
    )
    q8 = emb.crossJoin(F.broadcast(scale)).select(
        "vec_id",
        F.transform(
            "v",
            lambda x: F.floor(x / F.col("scale") * SQ8_LEVELS + 0.5).cast("long"),
        ).alias("qv"),
    )
    queries = q8.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("qv").alias("q_qv")
    )
    score = F.aggregate(
        F.zip_with("q_qv", "qv", lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    pairs = (
        q8.crossJoin(F.broadcast(queries))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            score.alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("neighbor_id"))
    return (
        pairs.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= SQ8_TOPK)
        .select("query_id", "neighbor_id", "score", "rank")
    )


# ---------------------------------------------------------------------------
# PCA — covariance sufficient statistics (full oracle) + projection
# ---------------------------------------------------------------------------

PCA_K = 8  # projected dimensionality (fixture dim 64)

PCA_DIM = 64  # fixture embedding width
PCA_Q = 1e9  # fixed-point scale for the sufficient-statistic sums
PCA_ROW_BUCKET = 100_000_000  # phase-1 bucket capacity (long-overflow bound)

# upper-triangle slot order shared by the Spark array layout, the
# driver decode, and the oracle's (i, j) grouping
_TRI_INDEX = [(i, j) for i in range(PCA_DIM) for j in range(i, PCA_DIM)]

COVARIANCE_ORACLE = f"""
WITH e AS (
  SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
n AS (SELECT count(*) AS n FROM e),
idx AS (SELECT unnest(generate_series(1, {PCA_DIM})) AS p),
moments AS (
  SELECT ii.p - 1 AS i, jj.p - 1 AS j,
         sum(CAST(round(e.v[ii.p] * e.v[jj.p] * {PCA_Q:.1f}) AS BIGINT)) AS q
  FROM e, idx ii, idx jj
  WHERE ii.p <= jj.p
  GROUP BY ii.p, jj.p
),
means AS (
  SELECT ii.p - 1 AS i,
         sum(CAST(round(e.v[ii.p] * {PCA_Q:.1f}) AS BIGINT)) AS q
  FROM e, idx ii
  GROUP BY ii.p
)
SELECT m.i, m.j,
       round(
         (n.n * (CAST(m.q AS DOUBLE) / {PCA_Q:.1f})
          - (CAST(mi.q AS DOUBLE) / {PCA_Q:.1f})
            * (CAST(mj.q AS DOUBLE) / {PCA_Q:.1f}))
         / (CAST(n.n AS DOUBLE) * n.n),
         6
       ) AS cov
FROM moments m
JOIN means mi ON mi.i = m.i
JOIN means mj ON mj.i = m.j
CROSS JOIN n
"""


def _round_half_up_exact(v):
    """Vectorized replica of Spark's F.round(double) / DuckDB round():
    nearest integer, exact .5 ties away from zero. Spark rounds the
    double's SHORTEST decimal repr (BigDecimal.valueOf) with HALF_UP —
    for |v| < 2^52 that equals nearest-integer of the binary value for
    non-ties (a shortest repr of exactly "k.5" round-trips only to the
    binary k.5, which is dyadic and exactly representable, so the two
    notions of tie coincide) and away-from-zero on binary ties, which
    is what this computes: np.rint for the non-ties (rint's half-even
    branch is unreachable there), floor/floor+1 by sign on the ties."""
    fl = np.floor(v)
    # exact half-integer test: v*2 is lossless (power-of-two scale),
    # so "2v integral and v not" has no false positives — unlike
    # (v - floor(v)) == 0.5, whose subtraction ROUNDS near-ties like
    # -0.49999999999999994 onto exactly 0.5
    v2 = v * 2.0
    tie = (v2 == np.floor(v2)) & (v != fl)
    r = np.rint(v)
    if tie.any():
        r = np.where(tie, np.where(v >= 0.0, fl + 1.0, fl), r)
    return r


def pca_stats_phase1(emb: DataFrame) -> DataFrame:
    """Phase-1 long sums (pos, bkt, q1) of the PCA sufficient
    statistics for ANY (vec_id, v) frame. pos < PCA_DIM are the
    fixed-point per-dim sums; the rest index _TRI_INDEX cross-moments.
    PERFECTLY ADDITIVE across disjoint inputs (exact integer sums),
    which is what makes the streaming store (streaming/pca_stats.py)
    bit-equal the one-shot statistics however ingest is sliced. The
    n-rows count rides as the bucket's vector count on every pos row —
    no separate tally needed.

    Arrow-vectorized spelling (round 14, guide §4.2): the previous
    transform-of-transform + posexplode built PCA_DIM+2080 = 2144
    interpreted higher-order-function products PER ROW and hash-agged
    the 2144×n exploded stream — measured 1.55 s at sf0.1's 2000-row
    table, pure expression-interpreter cost. One numpy pass per Arrow
    batch computes the same upper-triangle products ((v_i·v_j) then
    ·PCA_Q, the identical IEEE op order), rounds with the bit-exact
    F.round replica above, and emits ONE partial (pos, bkt) frame per
    task (≤2144 rows/bucket); the groupBy then merges a few thousand
    rows instead of millions. Integer partials keep every overflow and
    additivity argument of the old spelling (a task's rows are a
    subset of its buckets' rows). Old-vs-new frames are asserted
    bit-equal in tests/test_statistics.py."""
    def _partials(it):
        iu = np.triu_indices(PCA_DIM)
        acc: dict = {}  # bkt -> [q int64[2144], n]
        for pdf in it:
            if not len(pdf):
                continue
            bkt = (pdf["vec_id"].to_numpy(np.int64) // PCA_ROW_BUCKET).astype(
                np.int64
            )
            x = np.array(pdf["v"].tolist(), dtype=np.float64)
            # chunk to bound the n×2144 product matrix (~17 MB/chunk)
            for lo in range(0, len(x), 1024):
                hi = min(lo + 1024, len(x))
                xc = x[lo:hi]
                stats = np.concatenate(
                    [xc, xc[:, iu[0]] * xc[:, iu[1]]], axis=1
                )
                q = _round_half_up_exact(stats * PCA_Q).astype(np.int64)
                for b in np.unique(bkt[lo:hi]):
                    rows = q[bkt[lo:hi] == b]
                    ent = acc.setdefault(int(b), [np.zeros(q.shape[1], np.int64), 0])
                    ent[0] += rows.sum(axis=0, dtype=np.int64)
                    ent[1] += rows.shape[0]
        if acc:
            npos = PCA_DIM + PCA_DIM * (PCA_DIM + 1) // 2
            yield pd.DataFrame(
                {
                    "pos": np.tile(np.arange(npos, dtype=np.int32), len(acc)),
                    "bkt": np.repeat(
                        np.array(sorted(acc), dtype=np.int64), npos
                    ),
                    "q1": np.concatenate([acc[b][0] for b in sorted(acc)]),
                    "n_rows": np.repeat(
                        np.array([acc[b][1] for b in sorted(acc)], dtype=np.int64),
                        npos,
                    ),
                }
            )

    partials = emb.select("vec_id", "v").mapInPandas(
        _partials, "pos int, bkt bigint, q1 long, n_rows long"
    )
    return partials.groupBy("pos", "bkt").agg(
        F.sum("q1").alias("q1"), F.sum("n_rows").alias("n_rows")
    )


def _embedding_sufficient_stats(spark: SparkSession, sf_dir: str):
    """(n, per-dim sums, upper-triangle cross-moments) in ONE scan of
    the embeddings table: each row contributes the 64 + 2080-slot array
    concat(v, upper-triangle(v⊗v)); posexplode + groupBy pos
    partial-aggregates map-side, so the shuffle carries ~2144 rows PER
    TASK no matter how many vectors feed it — the shape that makes
    second-moment statistics a non-event at 100 TB (the fleet-wide
    Gram trick; compare qx152's k-column spelling).

    Exactness/determinism: every term is quantized to a LONG at scale
    PCA_Q=1e9 (round(x·1e9) — both engines compute the identical IEEE
    double then the identical half-away rounding), and integer sums
    are order-exact, so the totals — and everything derived from them,
    eigenvectors included — are bit-stable across partitionings,
    reruns, and engines. The induced covariance error is ≤ ~1/PCA_Q
    INDEPENDENT of n (the n's cancel in (n·Sxy − SxSy)/n²), invisible
    at the 6dp output rounding. DECIMAL(38,18) sums were exact too but
    benchmarked 7× slower (Decimal128 aggregation: 14.4 s vs 2.0 s for
    the same explode at sf0.1).

    Long-overflow safety: phase 1 sums within (pos, ⌊vec_id/1e8⌋)
    buckets — ≤1e8 rows/bucket (vec_id is a key) × max |q| ≈ 2.5e10
    stays under 2^63 — and phase 2 merges the per-bucket longs as
    DECIMAL(38,0), a few-thousand-row frame at any scale. Integer
    addition is associative, so the oracle's one-level HUGEINT sum is
    bit-identical.

    Memoized per (session, sf_dir, embeddings-file mtime): qx192/
    qx193/qx208 all start from these sums, so within a session the
    stats pass runs once for the family (VERDICT r9 #4). The mtime in
    the key means a rewritten corpus at the same path can never serve
    stale sums; the values are plain Python ints, safe to share."""
    import os

    try:
        mtime = os.path.getmtime(os.path.join(sf_dir, "embeddings.parquet"))
    except OSError:
        mtime = None

    def build():
        emb = load_catalog(spark, sf_dir).table("embeddings").select(
            "vec_id", as_double(F.col("embedding")).alias("v")
        )
        phase1 = pca_stats_phase1(emb)
        sums = phase1.groupBy("pos").agg(
            F.sum(F.col("q1").cast("decimal(38,0)")).alias("q")
        )
        rows = sums.collect()  # 2144 rows — driver-side by design
        n = emb.count()
        return (n, *decode_stat_sums(rows, n))

    return artifact(spark, "pca-stats", (sf_dir, mtime), build)


@register(
    "qx192_embedding_covariance",
    oracle=COVARIANCE_ORACLE,
    doc="exact 64x64 embedding covariance from one-pass sufficient statistics",
    tags=("similarity", "statistics", "pca"),
)
def qx192_embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upper-triangle covariance of the embedding dimensions — the
    sufficient-statistics half of PCA (qx193 consumes it), and a
    drift/collapse monitor in its own right (an embedding pipeline
    whose covariance rank collapses is broken upstream). One scan,
    one ~2144-key partial-aggregated exchange, then the combine runs
    on the collected 2080-entry frame — the whole combine
    (n·Sxy − Sx·Sy)/n² mirrors the oracle's double expression
    verbatim over bit-identical integer sums, rounded 6dp. (Python
    round vs SQL half-away can only differ on an exact decimal half,
    which is not representable in binary at the 1e-7 scale.)"""
    n, sx, sxy = _embedding_sufficient_stats(spark, sf_dir)
    return spark.createDataFrame(
        covariance_rows(n, sx, sxy), "i int, j int, cov double"
    )


def covariance_rows(n: int, sx: list, sxy: dict) -> list:
    """(i, j, cov) combine shared by the one-shot (qx192) and the
    streaming-store (qx200) paths — identical arithmetic over
    identical integer-exact sums is what makes the two bit-equal."""
    return [
        (i, j, round((n * sxy[(i, j)] - sx[i] * sx[j]) / (float(n) * n), 6))
        for (i, j) in sorted(sxy)
    ]


def decode_stat_sums(rows, n: int):
    """(pos → decimal sum) rows back to (sx list, sxy dict) doubles —
    the inverse of pca_stats_phase1's layout, shared with the
    streaming store reader."""
    sx = [None] * PCA_DIM
    sxy = {}
    for r in rows:
        if r.pos < PCA_DIM:
            sx[r.pos] = float(r.q) / PCA_Q
        else:
            sxy[_TRI_INDEX[r.pos - PCA_DIM]] = float(r.q) / PCA_Q
    return sx, sxy


def _pca_eig(spark: SparkSession, sf_dir: str):
    """(n, mu list, eigenvalues, flat eigenvectors) of the embedding
    covariance. Mean and covariance are UNROUNDED doubles in the exact
    expression the oracle spells — verified bit-identical across
    engines (2080/2080 covariance entries, 64/64 means at sf0.01): both
    sides hold the same integer sums (qx192's fixed-point trick), and
    decimal→double conversion plus the combine arithmetic are
    correctly-rounded IEEE ops in both CPython and DuckDB. qx193 and
    qx208 share one decomposition per session, keyed by the matrix
    content, so a changed corpus never serves a stale one."""
    from bqfetch_spark.functions.detmath import jacobi_eigh_flat

    n, sx, sxy = _embedding_sufficient_stats(spark, sf_dir)
    cov_flat = [0.0] * (PCA_DIM * PCA_DIM)
    for (i, j), s in sxy.items():
        c = (n * s - sx[i] * sx[j]) / (float(n) * n)
        cov_flat[i * PCA_DIM + j] = c
        cov_flat[j * PCA_DIM + i] = c
    mu = [sx[i] / float(n) for i in range(PCA_DIM)]
    lam, vflat = artifact(
        spark, "pca-eig", tuple(cov_flat), lambda: jacobi_eigh_flat(cov_flat, PCA_DIM)
    )
    return n, mu, lam, vflat


def _pca_shared_oracle_ctes() -> str:
    """The oracle CTE chain shared by qx193/qx208: quantized moments →
    unrounded covariance grid → flat matrix + mean vector → the
    deterministic Jacobi eigensolver (functions/detmath.py — bit-equal
    to the driver spelling). Requires WITH RECURSIVE."""
    from bqfetch_spark.functions.detmath import jacobi_sql_ctes

    d = PCA_DIM
    return f"""e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
nn AS (SELECT count(*) AS n FROM e),
idx AS (SELECT unnest(generate_series(1, {d})) AS p),
moments AS (
  SELECT ii.p AS i, jj.p AS j,
         sum(CAST(round(e.v[ii.p] * e.v[jj.p] * {PCA_Q:.1f}) AS BIGINT)) AS q
  FROM e, idx ii, idx jj WHERE ii.p <= jj.p GROUP BY ii.p, jj.p
),
means AS (
  SELECT ii.p AS i, sum(CAST(round(e.v[ii.p] * {PCA_Q:.1f}) AS BIGINT)) AS q
  FROM e, idx ii GROUP BY ii.p
),
covful AS (
  SELECT gi.p AS i, gj.p AS j,
         (nn.n * (CAST(m.q AS DOUBLE) / {PCA_Q:.1f})
          - (CAST(mi.q AS DOUBLE) / {PCA_Q:.1f})
            * (CAST(mj.q AS DOUBLE) / {PCA_Q:.1f}))
         / (CAST(nn.n AS DOUBLE) * nn.n) AS cov
  FROM idx gi
  CROSS JOIN idx gj
  JOIN moments m ON m.i = least(gi.p, gj.p) AND m.j = greatest(gi.p, gj.p)
  JOIN means mi ON mi.i = gi.p
  JOIN means mj ON mj.i = gj.p
  CROSS JOIN nn
),
a0(a) AS MATERIALIZED (SELECT list(cov ORDER BY i, j) FROM covful),
mu0(mu) AS MATERIALIZED (
  SELECT list((CAST(q AS DOUBLE) / {PCA_Q:.1f}) / CAST(nn.n AS DOUBLE) ORDER BY i)
  FROM means, nn
),
{jacobi_sql_ctes("a0", d)}"""


def _pca_oracle() -> str:
    from bqfetch_spark.functions.detmath import _d, seq_dot_sql, sign_pin_sql

    d = PCA_DIM
    center_terms = f"list_transform(range(1,{d}+1), k -> (e.v[k] - mu[k]) * c.w[k])"
    pc = f"round({seq_dot_sql(center_terms)}, 6) + {_d(0.0)}"
    pivot = ",\n  ".join(
        f"max(CASE WHEN rk = {k + 1} THEN pc END) AS pc{k + 1}"
        for k in range(PCA_K)
    )
    return f"""
WITH RECURSIVE {_pca_shared_oracle_ctes()},
comps AS MATERIALIZED (
  SELECT rk, {sign_pin_sql('w0')} AS w
  FROM (
    SELECT row_number() OVER (ORDER BY lam[ii.p] DESC, ii.p) AS rk,
           list_transform(range(1,{d}+1), r -> vm[(r-1)*{d} + ii.p]) AS w0
    FROM jfin, idx ii
  ) WHERE rk <= {PCA_K}
),
proj AS (
  SELECT e.vec_id, c.rk, {pc} AS pc
  FROM e, comps c, mu0
)
SELECT vec_id, {pivot}
FROM proj GROUP BY vec_id
"""


@register(
    "qx193_embedding_pca",
    oracle=_pca_oracle(),
    doc="PCA projection of embeddings to PCA_K dims (deterministic Jacobi over qx192's stats)",
    tags=("similarity", "pca", "dimensionality"),
)
def qx193_embedding_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA dimensionality reduction 64 → PCA_K: the standard
    pre-compression step before ANN indexing / whitening in embedding
    pipelines. The covariance comes from qx192's one-pass exact
    sufficient statistics (4160-key exchange, never a vector pair);
    the 64×64 eigendecomposition is DRIVER-side (microseconds-scale
    matrix — distributing it would be theater); the projection back
    over the table is a broadcast of k×64 literal doubles folded per
    row with zip_with/aggregate — all JVM, no Python in the per-vector
    path, no second shuffle. At 100 TB: the stats pass reads the
    corpus once, the projection is a map-only rewrite.

    FULL VALUE-HASH ORACLE (VERDICT r8 #2 — this was rows-only through
    r8): the eigensolver is functions/detmath.py's fixed-schedule
    parallel Jacobi, spelled once in driver Python and once in the
    oracle's WITH-RECURSIVE SQL with every FP op in the same order, so
    eigenvalues/eigenvectors are BIT-IDENTICAL across engines (the
    near-isotropic fixture spectrum, λk/λk+1 ≈ 1.01, makes any
    tolerance-based comparison meaningless — exactness is the only
    honest check). Signs pinned largest-|w|-positive, order pinned
    (λ desc, index asc); ``+ 0.0`` folds -0.0 so both engines render
    zero identically. numpy-parity, variance-ordering, and
    orthonormality remain pytest-gated (tests/test_ann_recall.py)."""
    from bqfetch_spark.functions.detmath import top_components

    n, mu, lam, vflat = _pca_eig(spark, sf_dir)
    comps = top_components(lam, vflat, PCA_DIM, PCA_K)

    emb = load_catalog(spark, sf_dir).table("embeddings").select(
        "vec_id", as_double(F.col("embedding")).alias("v")
    )
    # Projection as one vectorized Arrow pass with the fold's exact
    # left-to-right IEEE accumulation (see qx208 — bit-identical to the
    # zip_with/aggregate spelling, which evaluated interpreted); the
    # 6dp HALF_UP rounding stays JVM-side.
    import numpy as _np
    import pandas as _pd

    mu_arr = _np.array([float(m) for m in mu], dtype=_np.float64)
    comp_mat = _np.array(
        [[float(w) for w in comps[k]] for k in range(PCA_K)], dtype=_np.float64
    )

    def _project(batches):
        for pdf in batches:
            v = _np.array(pdf["v"].tolist(), dtype=_np.float64)
            vc = v - mu_arr
            out = {"vec_id": pdf["vec_id"]}
            for k in range(PCA_K):
                acc = _np.zeros(len(vc), dtype=_np.float64)
                for j in range(PCA_DIM):
                    acc = acc + vc[:, j] * comp_mat[k, j]
                out[f"p{k}"] = acc
            yield _pd.DataFrame(out)

    schema = "vec_id bigint, " + ", ".join(f"p{k} double" for k in range(PCA_K))
    raw = emb.mapInPandas(_project, schema)
    return raw.select(
        "vec_id",
        *[
            (r6(F.col(f"p{k}")) + F.lit(0.0)).alias(f"pc{k + 1}")
            for k in range(PCA_K)
        ],
    )


# ---------------------------------------------------------------------------
# MMR — maximal-marginal-relevance diversified re-ranking
# ---------------------------------------------------------------------------

MMR_LAMBDA = 0.7
MMR_POOL = 30  # candidate pool per query (the ANN stage's output)
MMR_K = 10  # diversified picks per query

MMR_ORACLE = f"""
WITH RECURSIVE e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT vec_id, v FROM e WHERE vec_id < 5),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, c.v AS v,
         round(list_cosine_similarity(q.v, c.v), 6) AS rel
  FROM q JOIN e c ON c.vec_id <> q.vec_id
),
cand AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY rel DESC, neighbor_id
    ) AS rn FROM scored
  ) WHERE rn <= {MMR_POOL}
),
sel(query_id, step, sel_ids, picked, score) AS (
  SELECT query_id, 1, [neighbor_id], neighbor_id, round({MMR_LAMBDA} * rel, 7)
  FROM cand WHERE rn = 1
  UNION ALL
  SELECT s.query_id, s.step + 1,
         list_append(s.sel_ids, c.neighbor_id), c.neighbor_id,
         round({MMR_LAMBDA} * c.rel - {1 - MMR_LAMBDA} * (
           SELECT max(round(list_cosine_similarity(c.v, c2.v), 6))
           FROM cand c2
           WHERE c2.query_id = c.query_id
             AND list_contains(s.sel_ids, c2.neighbor_id)
         ), 7)
  FROM sel s
  JOIN cand c ON c.query_id = s.query_id
    AND NOT list_contains(s.sel_ids, c.neighbor_id)
  WHERE s.step < {MMR_K}
    AND NOT EXISTS (
      SELECT 1 FROM cand c3
      WHERE c3.query_id = s.query_id
        AND NOT list_contains(s.sel_ids, c3.neighbor_id)
        AND (
          ({MMR_LAMBDA} * c3.rel - {1 - MMR_LAMBDA} * (
             SELECT max(round(list_cosine_similarity(c3.v, c4.v), 6))
             FROM cand c4
             WHERE c4.query_id = c3.query_id
               AND list_contains(s.sel_ids, c4.neighbor_id)
          )) > ({MMR_LAMBDA} * c.rel - {1 - MMR_LAMBDA} * (
             SELECT max(round(list_cosine_similarity(c.v, c5.v), 6))
             FROM cand c5
             WHERE c5.query_id = c.query_id
               AND list_contains(s.sel_ids, c5.neighbor_id)
          ))
          OR (
            ({MMR_LAMBDA} * c3.rel - {1 - MMR_LAMBDA} * (
               SELECT max(round(list_cosine_similarity(c3.v, c6.v), 6))
               FROM cand c6
               WHERE c6.query_id = c3.query_id
                 AND list_contains(s.sel_ids, c6.neighbor_id)
            )) = ({MMR_LAMBDA} * c.rel - {1 - MMR_LAMBDA} * (
               SELECT max(round(list_cosine_similarity(c.v, c7.v), 6))
               FROM cand c7
               WHERE c7.query_id = c.query_id
                 AND list_contains(s.sel_ids, c7.neighbor_id)
            ))
            AND c3.neighbor_id < c.neighbor_id
          )
        )
    )
)
SELECT query_id, neighbor_id, CAST(mmr_rank AS BIGINT) AS mmr_rank, mmr_score
FROM (
  SELECT query_id, picked AS neighbor_id, step AS mmr_rank, score AS mmr_score
  FROM sel
)
"""


@register(
    "qx194_mmr_rerank",
    oracle=MMR_ORACLE,
    doc="maximal-marginal-relevance diversified top-10 over a top-30 candidate pool",
    tags=("similarity", "retrieval", "pandas-udf"),
)
def qx194_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diversified retrieval: greedily pick MMR_K of the MMR_POOL
    most-relevant candidates, each step maximizing
    λ·rel − (1−λ)·max_sim_to_already_selected — the standard re-rank
    that stops a result page (or a RAG context window) from being ten
    near-copies of the same document.

    Plan shape: candidate generation is q50's broadcast scan (top-POOL
    per query on the ROUNDED cosine — swap in any ANN leg at scale);
    the greedy loop is inherently sequential PER QUERY but independent
    ACROSS queries, so it runs as applyInPandas over query_id groups —
    each group moves only its POOL candidate vectors (30×64 doubles),
    never the corpus, which is exactly the shape that scales to
    millions of queries. Inside the kernel every pairwise similarity
    is a LEFT-TO-RIGHT float fold rounded to 6dp — the same
    evaluation order as the JVM fold and DuckDB's loop — and the
    objective uses only those rounded values with neighbor_id
    tie-breaks, so the greedy trajectory is bit-reproducible across
    engines (the oracle replays it as a recursive CTE with
    NOT EXISTS argmax; float ties would otherwise fork the whole
    selection tail)."""
    emb = load_catalog(spark, sf_dir).table("embeddings").select(
        "vec_id", as_double(F.col("embedding")).alias("v")
    )
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("rel").desc(), F.col("neighbor_id"))
    cand = (
        emb.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            "v",
            r6(cosine(F.col("qv"), F.col("v"))).alias("rel"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= MMR_POOL)
        .drop("rn")
    )

    def mmr_group(pdf: pd.DataFrame) -> pd.DataFrame:
        def dot_lr(a, b):  # left-to-right fold: JVM/DuckDB order
            acc = 0.0
            for x, y in zip(a, b):
                acc += x * y
            return acc

        def cos6(a, b):
            return round(dot_lr(a, b) / (dot_lr(a, a) ** 0.5 * dot_lr(b, b) ** 0.5), 6)

        pdf = pdf.sort_values("neighbor_id").reset_index(drop=True)
        ids = pdf["neighbor_id"].tolist()
        vecs = pdf["v"].tolist()
        rel = pdf["rel"].tolist()
        remaining = set(range(len(ids)))
        picked: list[tuple[int, float]] = []
        sel_idx: list[int] = []
        for _ in range(min(MMR_K, len(ids))):
            best = None
            for i in sorted(remaining):
                if sel_idx:
                    maxsim = max(cos6(vecs[i], vecs[j]) for j in sel_idx)
                    obj = MMR_LAMBDA * rel[i] - (1 - MMR_LAMBDA) * maxsim
                else:
                    obj = MMR_LAMBDA * rel[i]
                if best is None or obj > best[1]:  # ids ascending → ties keep lower id
                    best = (i, obj)
            sel_idx.append(best[0])
            remaining.discard(best[0])
            # 7dp emission: the objective's true decimal value sits on a
            # 1e-7 grid (0.7·k·1e-6 − 0.3·m·1e-6), so 6dp rounding hits
            # exact decimal halves where Python (banker's) and SQL
            # (half-away) disagree; at 7dp halves cannot occur. The
            # ARGMAX compares RAW doubles — identical IEEE expressions
            # in both engines — never rounded values.
            picked.append((ids[best[0]], round(best[1], 7)))
        return pd.DataFrame(
            {
                "query_id": pdf["query_id"].iloc[0],
                "neighbor_id": [p[0] for p in picked],
                "mmr_rank": range(1, len(picked) + 1),
                "mmr_score": [p[1] for p in picked],
            }
        )

    return cand.groupBy("query_id").applyInPandas(
        mmr_group,
        "query_id bigint, neighbor_id bigint, mmr_rank bigint, mmr_score double",
    )


# ---------------------------------------------------------------------------
# qx199 — hybrid retrieval: lexical (IDF-overlap) + vector, RRF-fused
# ---------------------------------------------------------------------------

RRF_K = 60  # the standard reciprocal-rank-fusion damping constant
RRF_POOL = 20  # per-leg candidate depth
RRF_TOPK = 10

HYBRID_RRF_ORACLE = f"""
WITH docs AS (SELECT doc_id, text FROM documents),
n AS (SELECT count(*) AS n_total FROM docs),
toks AS (
  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token FROM docs
),
idf AS (
  SELECT t.token,
         CAST(round(ln(CAST(n.n_total AS DOUBLE) / count(DISTINCT t.doc_id)) * 1e6)
              AS BIGINT) AS idf_micro
  FROM toks t CROSS JOIN n
  GROUP BY t.token, n.n_total
),
qtok AS (SELECT doc_id AS query_id, token FROM toks WHERE doc_id < 5),
lex_scores AS (
  SELECT q.query_id, t.doc_id, CAST(sum(i.idf_micro) AS BIGINT) AS s
  FROM qtok q
  JOIN toks t ON t.token = q.token AND t.doc_id <> q.query_id
  JOIN idf i ON i.token = q.token
  GROUP BY q.query_id, t.doc_id
),
lex AS (
  SELECT query_id, doc_id,
         row_number() OVER (PARTITION BY query_id ORDER BY s DESC, doc_id) AS r
  FROM lex_scores
),
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
vq AS (SELECT vec_id, v FROM e WHERE vec_id < 5),
vec AS (
  SELECT query_id, doc_id, row_number() OVER (
    PARTITION BY query_id ORDER BY cosine DESC, doc_id
  ) AS r
  FROM (
    SELECT vq.vec_id AS query_id, c.vec_id AS doc_id,
           round(list_cosine_similarity(vq.v, c.v), 6) AS cosine
    FROM vq JOIN e c ON c.vec_id <> vq.vec_id
  )
),
fused AS (
  SELECT query_id, doc_id, round(sum(1.0 / ({RRF_K} + r)), 6) AS rrf
  FROM (
    SELECT * FROM lex WHERE r <= {RRF_POOL}
    UNION ALL
    SELECT * FROM vec WHERE r <= {RRF_POOL}
  )
  GROUP BY query_id, doc_id
)
SELECT query_id, doc_id, rrf, CAST(rk AS BIGINT) AS rank
FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY rrf DESC, doc_id) AS rk
  FROM fused
)
WHERE rk <= {RRF_TOPK}
"""


@register(
    "qx199_hybrid_retrieval_rrf",
    oracle=HYBRID_RRF_ORACLE,
    doc="hybrid lexical+vector retrieval fused by reciprocal-rank fusion",
    tags=("similarity", "retrieval", "text"),
)
def qx199_hybrid_retrieval_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval — the RAG-standard two-tower fusion: for each
    of 5 query documents, a LEXICAL leg ranks the corpus by summed
    IDF of shared distinct tokens (q80's ln(N/df) rarity, integer-
    scaled to micro-IDF longs so the per-pair sum is order-exact) and
    a VECTOR leg ranks by embedding cosine (q50's spelling; doc_id and
    vec_id share the fixture key domain); reciprocal-rank fusion
    (Σ 1/(60+rank), the parameter-free fusion that needs no score
    calibration between BM25-world and cosine-world) merges the two
    top-RRF_POOL lists into a final top-10.

    Plan shape: the lexical leg shuffles (token, partial counts) for
    df, broadcasts the 5-query token set onto the corpus token stream,
    and reduces per (query, doc) — text never moves; the vector leg is
    a broadcast scan. Ranks use exact integers / rounded cosines with
    id tie-breaks, and the RRF sum is ≤2 IEEE-commutative terms, so
    fusion is bit-stable cross-engine. At scale each leg swaps for its
    indexed form (inverted index / ANN) — the fusion contract is
    rank-based, so the plan downstream of the two rank columns is
    unchanged."""
    docs = load_catalog(spark, sf_dir).table("documents").select("doc_id", "text")
    # Corpus size N rides as a broadcast 1-ROW aggregate instead of a
    # build-time docs.count() action (the qx263/action-audit laziness
    # contract): the count leg is a zero-column parquet scan that now
    # runs inside the same job as everything else, and the builder
    # triggers no driver action.
    n_frame = docs.agg(F.count(F.lit(1)).cast("double").alias("n_total"))
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("token")
    ).distinct()
    idf = (
        toks.groupBy("token")
        .agg(F.countDistinct("doc_id").alias("df"))
        .crossJoin(F.broadcast(n_frame))
        .select(
            "token",
            F.round(F.log(F.col("n_total") / F.col("df")) * F.lit(1e6))
            .cast("bigint")
            .alias("idf_micro"),
        )
    )
    qtok = toks.filter(F.col("doc_id") < 5).select(
        F.col("doc_id").alias("query_id"), "token"
    )
    lex_w = Window.partitionBy("query_id").orderBy(F.col("s").desc(), "doc_id")
    lex = (
        qtok.join(toks, "token")
        .filter(F.col("doc_id") != F.col("query_id"))
        .join(idf, "token")
        .groupBy("query_id", "doc_id")
        .agg(F.sum("idf_micro").cast("bigint").alias("s"))
        .withColumn("r", F.row_number().over(lex_w))
        .filter(F.col("r") <= RRF_POOL)
        .select("query_id", "doc_id", "r")
    )

    emb = load_catalog(spark, sf_dir).table("embeddings").select(
        "vec_id", as_double(F.col("embedding")).alias("v")
    )
    vq = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    vec_w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), "doc_id")
    vec = (
        emb.crossJoin(F.broadcast(vq))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("doc_id"),
            r6(cosine(F.col("qv"), F.col("v"))).alias("cosine"),
        )
        .withColumn("r", F.row_number().over(vec_w))
        .filter(F.col("r") <= RRF_POOL)
        .select("query_id", "doc_id", "r")
    )

    fused_w = Window.partitionBy("query_id").orderBy(F.col("rrf").desc(), "doc_id")
    return (
        lex.unionByName(vec)
        .groupBy("query_id", "doc_id")
        .agg(F.round(F.sum(F.lit(1.0) / (F.lit(RRF_K) + F.col("r"))), 6).alias("rrf"))
        .withColumn("rank", F.row_number().over(fused_w).cast("bigint"))
        .filter(F.col("rank") <= RRF_TOPK)
    )


# ---------------------------------------------------------------------------
# qx208 — ZCA whitening (covariance → identity, minimal rotation)
# ---------------------------------------------------------------------------

ZCA_EPS = 1e-5  # eigenvalue floor: don't amplify near-null directions


def _zca_oracle() -> str:
    from bqfetch_spark.functions.detmath import _d, seq_dot_sql

    d = PCA_DIM
    # W[i][j] = Σ_k V[i][k]·g[k]·V[j][k], reduce-from-first (matches
    # detmath.whitening_flat — NOT the 0.0-prepended output sums)
    w_terms = (
        f"list_transform(range(1,{d}+1), k -> "
        f"vm[((x-1)//{d})*{d} + k] * g[k] * vm[((x-1)%{d})*{d} + k])"
    )
    out_terms = f"list_transform(range(1,{d}+1), k -> (e.v[k] - mu[k]) * w[(r-1)*{d} + k])"
    return f"""
WITH RECURSIVE {_pca_shared_oracle_ctes()},
gl(g) AS MATERIALIZED (
  SELECT list_transform(lam, l -> {_d(1.0)} / sqrt(greatest(l, {_d(0.0)}) + {_d(ZCA_EPS)}))
  FROM jfin
),
wm(w) AS MATERIALIZED (
  SELECT list_transform(range(1,{d * d}+1), x ->
           list_reduce({w_terms}, (xx, yy) -> xx + yy))
  FROM jfin, gl
)
SELECT e.vec_id,
       list_transform(range(1,{d}+1), r ->
         round({seq_dot_sql(out_terms)}, 6) + {_d(0.0)}) AS whitened
FROM e, wm, mu0
"""


@register(
    "qx208_embedding_whitening",
    oracle=_zca_oracle(),
    doc="ZCA-whitened embeddings: W = U diag(1/sqrt(l+eps)) U^T over qx192's stats",
    tags=("similarity", "pca", "whitening"),
)
def qx208_embedding_whitening(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ZCA whitening — the preprocessing that makes cosine behave on
    anisotropic embedding spaces (dominant directions stop swamping
    the similarity; the standard fix for the 'all embeddings are
    similar' pathology before dedup/ANN): x ↦ U diag(1/√(λ+ε)) Uᵀ
    (x − μ), the unique whitener CLOSEST to the identity, so whitened
    vectors stay interpretable. Same execution shape as qx193: exact
    one-pass sufficient statistics (qx192's fixed-point sums →
    bit-stable eigendecomposition), driver-side 64×64 eigensolve, then
    the 64×64 whitening matrix folds per row as broadcast-literal
    zip_with/aggregate expressions — map-only, JVM-side, no second
    shuffle. ε floors near-null eigenvalues so noise directions are
    not amplified 1/√λ → ∞.

    FULL VALUE-HASH ORACLE (VERDICT r8 #2 — rows-only through r8): the
    eigensolver and the whitener assembly are functions/detmath.py's
    deterministic spellings (fixed-schedule parallel Jacobi +
    natural-order Gram assembly), bit-identical between the driver and
    the oracle's WITH-RECURSIVE SQL; the whitened-covariance≈I pytest
    gate (tests/test_ann_recall.py) keeps pinning the semantics."""
    from bqfetch_spark.functions.detmath import whitening_flat

    n, mu, lam, vflat = _pca_eig(spark, sf_dir)
    wmat_flat = whitening_flat(lam, vflat, PCA_DIM, ZCA_EPS)

    emb = load_catalog(spark, sf_dir).table("embeddings").select(
        "vec_id", as_double(F.col("embedding")).alias("v")
    )
    # The 64x64 whitener application is one vectorized Arrow pass
    # (mapInPandas) replicating the fold's EXACT left-to-right IEEE
    # accumulation: acc starts at 0.0 and adds one (vc_k * w_k) product
    # per step, each a single correctly-rounded double op in numpy
    # exactly as in the JVM fold — so the output is bit-identical to
    # the previous zip_with/aggregate spelling (the oracle hash gates
    # this). The literal-fold spelling evaluated the 4096
    # higher-order-lambda terms per row INTERPRETED (hof exprs skip
    # whole-stage codegen — the ivfpq_int_encode lesson), measured
    # 5.3 s at sf0.1 vs ~1 s for the Arrow pass. Rounding stays
    # JVM-side (F.round is HALF_UP; numpy rounds half-even).
    import numpy as _np
    import pandas as _pd

    mu_arr = _np.array([float(m) for m in mu], dtype=_np.float64)
    w_mat = _np.array(
        [float(w) for w in wmat_flat], dtype=_np.float64
    ).reshape(PCA_DIM, PCA_DIM)

    def _whiten(batches):
        for pdf in batches:
            v = _np.array(pdf["v"].tolist(), dtype=_np.float64)
            vc = v - mu_arr
            out = _np.empty((len(vc), PCA_DIM), dtype=_np.float64)
            for r_i in range(PCA_DIM):
                acc = _np.zeros(len(vc), dtype=_np.float64)
                for k in range(PCA_DIM):
                    acc = acc + vc[:, k] * w_mat[r_i, k]
                out[:, r_i] = acc
            yield _pd.DataFrame(
                {"vec_id": pdf["vec_id"], "w": [row.tolist() for row in out]}
            )

    raw = emb.mapInPandas(_whiten, "vec_id bigint, w array<double>")
    return raw.select(
        "vec_id",
        F.transform("w", lambda x: r6(x) + F.lit(0.0)).alias("whitened"),
    )


# ---------------------------------------------------------------------------
# qx218: Johnson-Lindenstrauss signed random projection (hash-derived)
# ---------------------------------------------------------------------------

JL_K = 16  # projected width
JL_SAMPLE = 50  # vec_ids emitted as the auditable sample


def jl_sign(i: int, j: int) -> int:
    """+1/-1 from the parity of the first hex char of md5('jl:i:j') —
    the SAME expression the oracle evaluates in SQL, so the sign
    matrix is a pure deterministic function shared by both engines
    (no RNG, no seed plumbing, rerun-stable like every keep-rule in
    the curation family)."""
    import hashlib

    return 1 if hashlib.md5(f"jl:{i}:{j}".encode()).hexdigest()[0] in "02468ace" else -1


JL_ORACLE = f"""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1e9) AS BIGINT)) AS qv
  FROM embeddings WHERE vec_id < {JL_SAMPLE}
),
sgn AS (
  SELECT i.i, j.j,
         CASE WHEN substring(md5('jl:' || CAST(i.i AS VARCHAR) || ':' || CAST(j.j AS VARCHAR)), 1, 1)
                   IN ('0','2','4','6','8','a','c','e')
              THEN 1 ELSE -1 END AS s
  FROM (SELECT unnest(range(64)) AS i) i, (SELECT unnest(range({JL_K})) AS j) j
),
comp AS (
  SELECT q.vec_id, e.i, e.x FROM q,
         LATERAL (SELECT unnest(qv) AS x, generate_subscripts(qv, 1) - 1 AS i) e
),
y AS (
  SELECT c.vec_id, s.j, sum(s.s * c.x) AS yj
  FROM comp c JOIN sgn s ON c.i = s.i
  GROUP BY 1, 2
),
ny AS (
  SELECT vec_id, sum(CAST(yj AS DECIMAL(38,0)) * CAST(yj AS DECIMAL(38,0))) AS n2
  FROM y GROUP BY 1
),
nx AS (
  SELECT vec_id,
         list_sum(list_transform(qv, x -> CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0)))) AS n2
  FROM q
)
SELECT ny.vec_id,
       round((CAST(ny.n2 AS DOUBLE) / {JL_K}) / CAST(nx.n2 AS DOUBLE), 6) AS jl_ratio
FROM ny JOIN nx ON ny.vec_id = nx.vec_id
ORDER BY ny.vec_id
"""


@register(
    "qx218_jl_projection",
    oracle=JL_ORACLE,
    doc="JL signed random projection 64 -> 16: per-vector norm-preservation ratios",
    tags=("similarity", "dimensionality"),
)
def qx218_jl_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss signed random projection 64 -> JL_K: the
    vocabulary-free cheap alternative to the PCA family (qx192/qx193)
    when a pipeline needs distance-preserving compression WITHOUT a
    training pass — y_j = sum_i s(i,j) * x_i with hash-derived +-1
    signs (Achlioptas 2003: database-friendly random projections).
    Emitted evidence: per-vector norm-preservation ratio
    (||y||^2 / k) / ||x||^2, whose expectation is 1 under the JL
    distribution; the sample rows are the oracle surface and the
    full-corpus concentration is pytest-gated.

    Scale shape: the sign matrix is a 64 x JL_K literal baked into the
    plan (computed once driver-side from the shared md5 rule, like the
    PQ codebook broadcasts); the projection + both norms are ROW-LOCAL
    integer folds (PCA_Q fixed-point, exact at any fold order — the
    qx192 exactness trick applied per row), so the operator is a
    zero-shuffle map at any corpus size. DECIMAL(38,0) squares bound
    overflow (|y_j| <= 64 * |q| ~ 2^37 -> y_j^2 ~ 2^74 > int64)."""
    emb = load_catalog(spark, sf_dir).table("embeddings").filter(
        F.col("vec_id") < JL_SAMPLE
    )
    qv = F.transform(
        as_double(F.col("embedding")),
        lambda x: F.round(x * F.lit(PCA_Q)).cast("long"),
    )
    signs = [[jl_sign(i, j) for i in range(PCA_DIM)] for j in range(JL_K)]
    s_lit = F.lit(signs)  # array<array<int>> literal: the frozen projection
    yj = lambda j: F.aggregate(  # noqa: E731
        F.zip_with(
            F.element_at(s_lit, j + 1),
            F.col("qv"),
            lambda s, x: s.cast("long") * x,
        ),
        F.lit(0).cast("long"),
        lambda acc, t: acc + t,
    )
    ny = F.aggregate(
        F.array(*[yj(j) for j in range(JL_K)]),
        F.lit(0).cast("decimal(38,0)"),
        lambda acc, y: acc + y.cast("decimal(38,0)") * y.cast("decimal(38,0)"),
    )
    nx = F.aggregate(
        F.col("qv"),
        F.lit(0).cast("decimal(38,0)"),
        lambda acc, x: acc + x.cast("decimal(38,0)") * x.cast("decimal(38,0)"),
    )
    return (
        emb.select("vec_id", qv.alias("qv"))
        .select(
            "vec_id",
            F.round(
                (ny.cast("double") / F.lit(float(JL_K))) / nx.cast("double"), 6
            ).alias("jl_ratio"),
        )
        .orderBy("vec_id")
    )


# ---------------------------------------------------------------------------
# qx219: embedding distribution distance matrix (diagonal-covariance Fréchet)
# ---------------------------------------------------------------------------

FRECHET_ORACLE = f"""
WITH e AS (SELECT label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
comp AS (
  SELECT label, generate_subscripts(v, 1) AS p, unnest(v) AS x FROM e
),
st AS (
  SELECT label, p,
         count(*) AS n,
         sum(CAST(round(x * {PCA_Q:.1f}) AS BIGINT)) AS sx,
         sum(CAST(round(x * x * {PCA_Q:.1f}) AS BIGINT)) AS sq
  FROM comp GROUP BY 1, 2
),
m AS (
  SELECT label, p,
         (CAST(sx AS DOUBLE) / {PCA_Q:.1f}) / n AS mu,
         (CAST(sq AS DOUBLE) / {PCA_Q:.1f}) / n
           - ((CAST(sx AS DOUBLE) / {PCA_Q:.1f}) / n)
             * ((CAST(sx AS DOUBLE) / {PCA_Q:.1f}) / n) AS var
  FROM st
),
pr AS (
  SELECT a.label AS label_a, b.label AS label_b,
         sum((a.mu - b.mu) * (a.mu - b.mu)) AS mterm,
         sum(a.var + b.var - 2 * sqrt(greatest(a.var * b.var, 0))) AS vterm
  FROM m a JOIN m b ON a.p = b.p AND a.label < b.label
  GROUP BY 1, 2
)
SELECT label_a, label_b, round(mterm + vterm, 4) AS fid2
FROM pr ORDER BY label_a, label_b
"""


@register(
    "qx219_embedding_frechet",
    oracle=FRECHET_ORACLE,
    doc="pairwise diagonal-covariance Frechet distance between label-group embedding distributions",
    tags=("similarity", "statistics", "llm-pipeline"),
)
def qx219_embedding_frechet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise distribution distance between the embedding clouds of
    the 10 label groups — the diagonal-covariance Fréchet distance
    d²(a,b) = Σ_d (μ_ad − μ_bd)² + Σ_d (σ²_ad + σ²_bd − 2√(σ²_ad σ²_bd))
    (the FID formula with diagonal Σ, the standard cheap spelling when
    full Σ^{1/2} is overkill). This is the drift/QA primitive a
    training-data pipeline runs to ask "does source/shard/label X look
    like Y in embedding space?" — e.g. synthetic-vs-real data checks,
    per-snapshot drift alarms, and mixture re-weighting diagnostics.

    Scale shape: ONE exchange keyed by label (10 groups) computing 129
    codegen'd aggregates — count plus per-dimension fixed-point Σx and
    Σx² (PCA_Q bigint sums, the qx192 exactness trick: bit-stable under
    any partitioning / fold order, so both engines aggregate identical
    integers). No posexplode: the per-dim sums index the array in
    place, so nothing is multiplied by 64 before the shuffle. The
    10-row stats frame then self-joins under broadcast (45 pairs) and
    the distance folds as zip_with/aggregate array expressions —
    map-side, JVM codegen. At 100 TB the plan is a single pass over
    the vectors + an O(groups²) driver-scale join.

    Mean/variance leave fixed point as doubles from IDENTICAL integer
    sums in both engines; the 64-term double folds match DuckDB's
    group sums to well past the round(·,4) output precision
    (population variance, /n, matching the oracle)."""
    emb = load_catalog(spark, sf_dir).table("embeddings").select(
        "label", as_double(F.col("embedding")).alias("v")
    )
    qx = F.transform("v", lambda x: F.round(x * F.lit(PCA_Q)).cast("long"))
    qq = F.transform("v", lambda x: F.round(x * x * F.lit(PCA_Q)).cast("long"))
    stats = (
        emb.select("label", qx.alias("qx"), qq.alias("qq"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            *[F.sum(F.col("qx")[d]).alias(f"sx{d}") for d in range(PCA_DIM)],
            *[F.sum(F.col("qq")[d]).alias(f"sq{d}") for d in range(PCA_DIM)],
        )
        .select(
            "label",
            "n",
            F.array(*[F.col(f"sx{d}") for d in range(PCA_DIM)]).alias("sx"),
            F.array(*[F.col(f"sq{d}") for d in range(PCA_DIM)]).alias("sq"),
        )
        # materialize the groups-sized stats ONCE: without this the
        # self-join below re-executes the corpus moments pass on both
        # sides (two full scans at 100 TB for identical 10-row input)
        .localCheckpoint(eager=True)
    )

    def moments(n, sx, sq):
        mu = F.transform(sx, lambda t: t.cast("double") / F.lit(PCA_Q) / n)
        var = F.zip_with(
            sq,
            sx,
            lambda q, s: q.cast("double") / F.lit(PCA_Q) / n
            - (s.cast("double") / F.lit(PCA_Q) / n)
            * (s.cast("double") / F.lit(PCA_Q) / n),
        )
        return mu, var

    a = stats.select(
        F.col("label").alias("label_a"),
        F.col("n").alias("na"),
        F.col("sx").alias("sxa"),
        F.col("sq").alias("sqa"),
    )
    b = stats.select(
        F.col("label").alias("label_b"),
        F.col("n").alias("nb"),
        F.col("sx").alias("sxb"),
        F.col("sq").alias("sqb"),
    )
    pairs = a.join(F.broadcast(b), F.col("label_a") < F.col("label_b"))
    mua, vara = moments(F.col("na"), F.col("sxa"), F.col("sqa"))
    mub, varb = moments(F.col("nb"), F.col("sxb"), F.col("sqb"))
    add = lambda acc, t: acc + t  # noqa: E731
    mterm = F.aggregate(
        F.zip_with(mua, mub, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        add,
    )
    vterm = F.aggregate(
        F.zip_with(
            vara,
            varb,
            lambda x, y: x + y - 2 * F.sqrt(F.greatest(x * y, F.lit(0.0))),
        ),
        F.lit(0.0),
        add,
    )
    return pairs.select(
        "label_a", "label_b", F.round(mterm + vterm, 4).alias("fid2")
    ).orderBy("label_a", "label_b")


# ---------------------------------------------------------------------------
# qx261: embedding SimHash bands (sign-sketch near-dup candidate buckets)
# ---------------------------------------------------------------------------

SH_BITS = 16  # sign bits per vector
SH_BANDS = 4  # LSH bands (4 bits each): near-dups collide in >=1 band
SH_BAND_W = SH_BITS // SH_BANDS


def sh_sign(j: int, k: int) -> int:
    """+1/-1 from the parity of the first hex char of md5('sh:j:k') —
    the qx218 jl_sign construction under its own namespace, shared
    verbatim with the oracle so the hyperplane matrix is a pure
    deterministic function in both engines."""
    import hashlib

    return 1 if hashlib.md5(f"sh:{j}:{k}".encode()).hexdigest()[0] in "02468ace" else -1


SIMHASH_BANDS_ORACLE = f"""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(round(CAST(x AS DOUBLE) * {PCA_Q:.1f}) AS BIGINT)) AS qv
  FROM embeddings
),
sgn AS (
  SELECT j.j, k.k,
         CASE WHEN substring(md5('sh:' || CAST(j.j AS VARCHAR) || ':' || CAST(k.k AS VARCHAR)), 1, 1)
                   IN ('0','2','4','6','8','a','c','e')
              THEN 1 ELSE -1 END AS s
  FROM (SELECT unnest(range({SH_BITS})) AS j) j,
       (SELECT unnest(range({PCA_DIM})) AS k) k
),
comp AS (
  SELECT q.vec_id, e.k, e.x
  FROM q, LATERAL (SELECT unnest(qv) AS x, generate_subscripts(qv, 1) - 1 AS k) e
),
bits AS (
  SELECT c.vec_id, s.j,
         CASE WHEN sum(s.s * c.x) >= 0 THEN 1 ELSE 0 END AS bit
  FROM comp c JOIN sgn s ON c.k = s.k
  GROUP BY 1, 2
),
keys AS (
  SELECT vec_id, j // {SH_BAND_W} AS band_id,
         CAST(sum(bit * (1 << (j % {SH_BAND_W}))) AS BIGINT) AS band_key
  FROM bits GROUP BY 1, 2
),
buckets AS (
  SELECT band_id, band_key, count(*) AS c
  FROM keys GROUP BY 1, 2
)
SELECT CAST(band_id AS BIGINT) AS band_id,
       CAST(count(*) AS BIGINT) AS n_buckets,
       CAST(sum(c * (c - 1) // 2) AS BIGINT) AS n_candidate_pairs
FROM buckets
GROUP BY band_id
ORDER BY band_id
"""


@register(
    "qx261_embedding_simhash_bands",
    oracle=SIMHASH_BANDS_ORACLE,
    doc="sign-sketch (SimHash) banding over embeddings: bucket histogram + candidate-pair mass",
    tags=("similarity", "dedup", "lsh"),
)
def qx261_embedding_simhash_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash over EMBEDDINGS (the text SimHash q48's vector sibling):
    each vector gets SH_BITS sign bits against deterministic md5-derived
    hyperplanes, the bits split into SH_BANDS bands, and near-duplicates
    collide in at least one band — the candidate structure an
    embedding-dedup pass probes instead of an all-pairs cosine. Output
    is the per-band bucket count and candidate-pair mass (Σ C(c,2) over
    buckets) — the quantities that decide whether the banding is usable
    at scale (pair mass ≈ linear) before any expensive verify join.

    Exactness: components quantize to BIGINT at PCA_Q (the qx192
    trick), hyperplane entries are ±1, so every bit is the sign of an
    INTEGER sum — no FP parity surface at all, and the oracle matches
    bit-for-bit. Scale shape: bits are map-only JVM expressions
    (broadcast ±1 literals folded with zip_with/aggregate), then one
    groupBy over (band, 4-bit key) — bucket count is bounded by
    SH_BANDS·2^SH_BAND_W, so the histogram is metadata-sized at any
    corpus size; the verify join (not materialized here) would probe
    only within buckets, the q47 band-join shape."""
    emb = load_catalog(spark, sf_dir).table("embeddings").select(
        "vec_id",
        F.transform(
            as_double(F.col("embedding")),
            lambda x: F.round(x * F.lit(float(PCA_Q))).cast("long"),
        ).alias("qv"),
    )
    bit_cols = []
    for j in range(SH_BITS):
        signs = F.array(*[F.lit(sh_sign(j, k)) for k in range(PCA_DIM)])
        acc = F.aggregate(
            F.zip_with("qv", signs, lambda x, y: x * y),
            F.lit(0).cast("long"),
            lambda a, x: a + x,
        )
        bit_cols.append(F.when(acc >= 0, 1).otherwise(0).alias(f"b{j}"))
    bits = emb.select("vec_id", *bit_cols)
    keyed = bits.select(
        "vec_id",
        *[
            sum(
                (F.col(f"b{b * SH_BAND_W + w}") * F.lit(1 << w))
                for w in range(SH_BAND_W)
            )
            .cast("bigint")
            .alias(f"key{b}")
            for b in range(SH_BANDS)
        ],
    )
    # One explode over the SH_BANDS per-vector keys instead of a
    # per-band union of aggregates: the union spelling re-derived the
    # whole corpus-scale sign-fold (scan -> quantize -> SH_BITS
    # zip_with/aggregate folds) once PER BAND. Same integer arithmetic:
    # count per (band, key) bucket, then the per-band histogram row.
    melted = keyed.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).cast("bigint").alias("band_id"),
                        F.col(f"key{b}").alias("band_key"),
                    )
                    for b in range(SH_BANDS)
                ]
            )
        ).alias("bk")
    ).select("bk.band_id", "bk.band_key")
    buckets = melted.groupBy("band_id", "band_key").agg(
        F.count(F.lit(1)).alias("c")
    )
    return (
        buckets.groupBy("band_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
            F.sum(F.expr("c * (c - 1) div 2")).cast("bigint").alias("n_candidate_pairs"),
        )
        .orderBy("band_id")
    )


# ---------------------------------------------------------------------------
# qx272: ANN recall report — the quality gate as a first-class query
# ---------------------------------------------------------------------------


def _q53_recall_oracle() -> str:
    return f"""
WITH e AS (
  SELECT vec_id,
         list_transform(CAST(embedding AS DOUBLE[]),
                        x -> CAST(round(x * {IVF_Q}.0) AS BIGINT)) AS qv
  FROM embeddings
),
dims AS (SELECT unnest(range(1, 65)) AS i),
qn AS (
  SELECT vec_id, CAST(sum(qv[i] * qv[i]) AS BIGINT) AS nv
  FROM e, dims GROUP BY vec_id
),
bdot AS (
  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
         CAST(sum(q.qv[i] * n.qv[i]) AS BIGINT) AS dot
  FROM e q JOIN e n ON n.vec_id <> q.vec_id, dims
  WHERE q.vec_id < {IVF_N_QUERIES}
  GROUP BY 1, 2
),
brute AS (
  SELECT query_id, neighbor_id FROM (
    SELECT d.query_id, d.neighbor_id,
           row_number() OVER (
             PARTITION BY d.query_id
             ORDER BY CAST(d.dot AS DOUBLE)
                      / (sqrt(CAST(nq.nv AS DOUBLE)) * sqrt(CAST(nn.nv AS DOUBLE))) DESC,
                      d.neighbor_id
           ) AS rk
    FROM bdot d
    JOIN qn nq ON nq.vec_id = d.query_id
    JOIN qn nn ON nn.vec_id = d.neighbor_id
  ) WHERE rk <= {IVF_TOPK}
),
approx AS (SELECT query_id, neighbor_id FROM ({_q53_oracle()}) q53)
SELECT b.query_id,
       CAST(count(*) AS BIGINT) AS n_exact,
       CAST(count(a.neighbor_id) AS BIGINT) AS n_hit,
       round(CAST(count(a.neighbor_id) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
         AS recall
FROM brute b
LEFT JOIN approx a
  ON a.query_id = b.query_id AND a.neighbor_id = b.neighbor_id
GROUP BY b.query_id
ORDER BY b.query_id
"""


@register(
    "qx272_ann_recall_report",
    oracle=_q53_recall_oracle(),
    doc="recall@10 of the IVF index vs exact brute force, per query (full oracle)",
    tags=("similarity", "ann", "ivf", "quality-gate"),
)
def qx272_ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ANN quality gate as a first-class query: recall@{IVF_TOPK}
    of q53's probed IVF search against the exact brute-force top-k,
    per query — the number an index owner monitors after every
    retrain/re-shard (tests/test_ann_recall.py asserts a floor once;
    this makes the measurement reproducible inside the engine, on any
    corpus, with a full value-hash oracle — both legs ride the same
    IVF_Q integer-quantized similarity, so there is no FP ambiguity
    in either ranking).

    Scale shape: the brute leg is queries×corpus with broadcast
    queries — IVF_N_QUERIES is small by definition (a recall AUDIT
    samples queries; it never brute-forces the corpus against itself),
    so this is a map-only scored scan + per-query top-k. The approx
    leg is q53's probed search. The join is (queries × k)-sized."""
    q = _ivf_quantized(spark, sf_dir)
    queries = q.filter(F.col("vec_id") < IVF_N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("qv").alias("q_qv"),
        F.col("nv").alias("q_nv"),
    )
    # brute leg left on the JVM fold DELIBERATELY (round 13): at
    # IVF_N_QUERIES = 5 it is ~10k pairs — a blocked applyInPandas
    # spelling (the qx133 rewrite) was measured SLOWER here (3.3 s vs
    # 2.6 s isolated) because the added exchange + Python boundary
    # outweigh 10k interpreted folds; the dominant cost of this query
    # is the q53 approx leg it audits.
    pair_dot = F.aggregate(
        F.zip_with("q_qv", "qv", lambda a, b: a * b),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    rank_w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    brute = (
        q.crossJoin(F.broadcast(queries))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            _ivf_sim(pair_dot, F.col("q_nv"), F.col("nv")).alias("sim"),
        )
        .withColumn("rk", F.row_number().over(rank_w))
        .filter(F.col("rk") <= IVF_TOPK)
        .select("query_id", "neighbor_id")
    )
    approx = q53_ann_ivf(spark, sf_dir).select(
        "query_id", "neighbor_id", F.lit(1).alias("hit")
    )
    return (
        brute.join(approx, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_exact"),
            F.count("hit").cast("bigint").alias("n_hit"),
        )
        .select(
            "query_id",
            "n_exact",
            "n_hit",
            r6(F.col("n_hit").cast("double") / F.col("n_exact").cast("double")).alias(
                "recall"
            ),
        )
        .orderBy("query_id")
    )


# ---------------------------------------------------------------------------
# qx275: seeded-cell IVF near-dup — q69's oracle-bearing sibling
# ---------------------------------------------------------------------------

ND_EXACT_CELLS = 16
ND_EXACT_PROBE = 3


def _qx275_oracle() -> str:
    # list_dot_product on integer-valued doubles is EXACT here: every
    # component is round(x*1e6) <= ~1e6, products <= 1e12, 64-term sums
    # <= 6.4e13 < 2^53 — so any summation order yields the same integer
    return f"""
WITH e AS (
  SELECT vec_id,
         list_transform(CAST(embedding AS DOUBLE[]),
                        x -> round(x * {IVF_Q}.0)) AS qv
  FROM embeddings
),
qn AS (
  SELECT vec_id, CAST(list_dot_product(qv, qv) AS BIGINT) AS nv FROM e
),
cent AS (SELECT vec_id AS cell_id, qv AS qc FROM e WHERE vec_id < {ND_EXACT_CELLS}),
asim AS (
  SELECT v.vec_id, c.cell_id,
         CAST(CAST(list_dot_product(v.qv, c.qc) AS BIGINT) AS DOUBLE)
           / (sqrt(CAST(nv.nv AS DOUBLE)) * sqrt(CAST(nc.nv AS DOUBLE))) AS s
  FROM e v
  JOIN qn nv ON nv.vec_id = v.vec_id
  JOIN cent c ON true
  JOIN qn nc ON nc.vec_id = c.cell_id
),
assigned AS (
  SELECT vec_id, cell_id FROM (
    SELECT vec_id, cell_id,
           row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cell_id) AS rn
    FROM asim
  ) WHERE rn <= {ND_EXACT_PROBE}
),
cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM assigned a JOIN assigned b
    ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id
),
scored AS (
  SELECT c.vec_a, c.vec_b,
         round(CAST(CAST(list_dot_product(ea.qv, eb.qv) AS BIGINT) AS DOUBLE)
               / (sqrt(CAST(na.nv AS DOUBLE)) * sqrt(CAST(nb.nv AS DOUBLE))), 6)
           AS cosine
  FROM cand c
  JOIN e ea ON ea.vec_id = c.vec_a
  JOIN e eb ON eb.vec_id = c.vec_b
  JOIN qn na ON na.vec_id = c.vec_a
  JOIN qn nb ON nb.vec_id = c.vec_b
)
SELECT vec_a, vec_b, cosine FROM scored
WHERE cosine >= {NEARDUP_THRESHOLD}
ORDER BY vec_a, vec_b
"""


@register(
    "qx275_neardup_ivf_exact",
    oracle=_qx275_oracle(),
    doc="embedding near-dup over seeded deterministic IVF cells (full oracle)",
    tags=("similarity", "dedup", "ivf"),
)
def qx275_neardup_ivf_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup through SEEDED deterministic IVF cells —
    q69's oracle-bearing sibling, completing the family symmetry the
    ANN side already has (q51 exact-all-pairs : qx275 seeded-cells :
    q69 trained-KMeans = q50 : q53 : q55): the first ND_EXACT_CELLS
    vectors act as centroids, every vector multi-assigns to its
    ND_EXACT_PROBE nearest cells on the IVF_Q integer-quantized
    similarity (the q53 recipe — exact BIGINT dots under 2^53, one
    fixed-order double chain, zero FP ambiguity), candidate pairs
    share a cell, and the exact rounded cosine gates the output at
    NEARDUP_THRESHOLD. The oracle's list_dot_product is exact for the
    same reason any summation order is: integer-valued doubles below
    2^53.

    Scale shape: assignment is map-only (one assign_cells ranking per
    Arrow batch — no corpus window); the candidate join is cell-bucketed
    (never all-pairs; q69's salted variant is the skew-hardened
    spelling, 100×-certified); the verify cosine runs only on
    candidates. Trained cells (q69) buy recall; seeded cells buy a
    value-hash oracle — both belong in the registry."""
    q = _ivf_quantized(spark, sf_dir)
    centroids = q.filter(F.col("vec_id") < ND_EXACT_CELLS).select(
        F.col("vec_id").alias("cell_id"), F.col("qv").alias("qc"), F.col("nv").alias("nc")
    )
    crows = sorted(centroids.collect(), key=lambda r: r["cell_id"])

    # Only the skinny (vec_id, qv, nv, cell_id) rows flow into the
    # per-cell groups (scoring before dedup measured 3.6× slower at
    # sf0.1 in the JVM-fold spelling).
    assigned = ivf_seeded_assign(q, crows, probe=ND_EXACT_PROBE)

    # Verify PER CELL inside one applyInPandas (round 13; guide §8
    # "move heavy bytes once"): shipping ~1M candidate pairs × 2 arrays
    # through Arrow WAS the cost (6.5 s isolated at sf0.1). Each cell
    # scores its members against themselves, so every vector moves
    # ND_EXACT_PROBE times; a pair sharing several cells is re-scored
    # with identical bytes (~0 under a matmul), and dropDuplicates is a
    # pure dedup. A hot cell concentrates one group in one task — q69's
    # salted spelling is the skew-hardened path at real scale.
    def _score_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        side = _ivf_side(pdf)
        return score_pairs(*side, *side)

    return (
        assigned.groupBy("cell_id")
        .applyInPandas(_score_cell, PAIR_SCHEMA)
        .withColumn("cosine", r6(F.col("cosine")))
        .filter(F.col("cosine") >= NEARDUP_THRESHOLD)
        .dropDuplicates(["vec_a", "vec_b"])
        .orderBy("vec_a", "vec_b")
    )
