"""Product-quantization (PQ) ANN: the compressed-index scale path for
embedding search (complements IVF q53/q55/q69 — IVF prunes WHICH
vectors to score, PQ shrinks WHAT is scored).

A 64-dim float32 vector is 256 bytes; its PQ code here is M=8 bytes
(one uint8 per 8-dim subspace, k=32 centroids each) — 32× smaller.
At 100 TB of embeddings the codes fit in a fraction of cluster memory,
so candidate scoring is a linear scan over codes plus per-query lookup
tables, and only the top candidates touch the full vectors (exact
re-rank). That two-tier layout (codes hot, vectors cold) is the
standard billion-scale serving shape (FAISS IVFPQ's PQ half).

Spark-first construction:
- TRAIN: on a BOUNDED DETERMINISTIC SAMPLE (hash-ordered top-k, a
  ``TakeOrderedAndProject`` — never a full scan collect), fit with
  seeded numpy Lloyd's driver-side. This is the FAISS shape: the
  training input of a trillion-vector index is a sample by design
  (``PQ_FIT_SAMPLE`` rows ≈ 8 MB), the artifacts are KB-sized and
  broadcast to every later stage. Distributing Lloyd's over a
  16k-row sample is per-task overhead, not scale — measured 4.5 s
  of job overhead at sf0.1 vs <0.2 s driver-side for identical
  centroids.
- ENCODE: codebooks broadcast as a literal array; nearest-centroid
  per subspace via one vectorized ``mapInPandas`` pass (Arrow
  batches, no per-row Python).
- SEARCH (ADC — asymmetric distance): per query, a M×k distance
  table; each code's approximate distance is M table lookups, done
  JVM-side with an array-literal lookup expression — the scan over
  codes never touches Python or the full vectors.
- RE-RANK: exact rounded cosine on the top ``RERANK`` candidates
  only (broadcast join back to the vectors by id).

Rows-only check (approximation has no SQL oracle); recall@10 vs the
exact q50 baseline is pytest-gated, and encode/decode reconstruction
error is bounded in tests.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from bqfetch_spark.catalog import load_catalog
from bqfetch_spark.functions.vectors import as_double, cosine
from bqfetch_spark.operators.relational import r6
from bqfetch_spark.registry import register
from bqfetch_spark.workcache import artifact

PQ_M = 8  # subspaces → 8-byte codes (32× smaller than 256-byte vectors)
PQ_K = 32  # centroids per subspace (one uint8 per subspace)
PQ_ITERS = 10
PQ_RERANK = 100  # exact re-rank depth per query (constant in N)
PQ_SEED = 42


def _lloyd(sub: np.ndarray, k: int, iters: int, seed: int) -> np.ndarray:
    """Seeded numpy Lloyd's — deterministic, runs inside one task per
    subspace. FP64 accumulation; empty clusters re-seeded from the
    farthest points (k << n here, so this converges in a few rounds)."""
    rng = np.random.RandomState(seed)
    centroids = sub[rng.choice(len(sub), size=k, replace=False)].astype(np.float64)
    for _ in range(iters):
        d2 = ((sub[:, None, :] - centroids[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        empties = []
        for c in range(k):
            members = sub[assign == c]
            if len(members):
                centroids[c] = members.mean(axis=0)
            else:
                empties.append(c)
        if empties:
            # reseed AFTER this round's mean updates, against fresh
            # distances, giving the i-th empty cluster the i-th farthest
            # point — the old spelling reused one stale farthest point
            # for every empty cluster in the round, collapsing them onto
            # a single centroid (round-4 advice, quality-only)
            d2_new = ((sub[:, None, :] - centroids[None, :, :]) ** 2).sum(axis=2)
            order = np.argsort(d2_new.min(axis=1))[::-1]
            for i, c in enumerate(empties):
                centroids[c] = sub[order[i % len(order)]]
    return centroids


PQ_FIT_SAMPLE = 16_384  # training-sample cap (~8 MB at dim 64)


def fit_sample(emb: DataFrame, cap: int = PQ_FIT_SAMPLE) -> np.ndarray:
    """Bounded DETERMINISTIC training sample as a driver-side matrix:
    the ``cap`` rows with the smallest ``xxhash64(vec_id)`` — a
    hash-ordered top-k, which Spark plans as TakeOrderedAndProject
    (per-partition heaps, no global sort, no full collect). At any
    corpus size the result is the same ≤cap×dim matrix, so training
    cost is O(cap), independent of N."""
    rows = (
        emb.select("vec_id", "v")
        .orderBy(F.xxhash64("vec_id"), "vec_id")
        .limit(cap)
        .collect()
    )
    return np.array([r["v"] for r in rows])


def train_codebooks(sample: np.ndarray, dim: int) -> np.ndarray:
    """All M sub-codebooks from the bounded fit sample → ndarray
    (M, K, dim//M): seeded numpy Lloyd's per subspace, driver-side
    (see module docstring — the sample IS the scale contract; the
    artifacts are tiny: M*K*d/M floats, the broadcast side of every
    later encode/search stage)."""
    sub_d = dim // PQ_M
    books = np.zeros((PQ_M, PQ_K, sub_d))
    for s in range(PQ_M):
        books[s] = _lloyd(
            sample[:, s * sub_d : (s + 1) * sub_d], PQ_K, PQ_ITERS, PQ_SEED + s
        )
    return books


def encode(emb: DataFrame, books: np.ndarray, extra: tuple = ()) -> DataFrame:
    """(vec_id, v[, *extra]) → (vec_id[, *extra], code array<int> of
    length M): nearest sub-centroid per subspace, vectorized numpy over
    Arrow batches. ``extra`` columns pass through untouched (IVF-PQ
    keeps the coarse cell_id alongside the residual code)."""
    m, k, sub_d = books.shape

    def _enc(batches):
        for pdf in batches:
            vecs = np.vstack(pdf["v"].to_numpy())
            codes = np.empty((len(vecs), m), dtype=np.int32)
            for s in range(m):
                sub = vecs[:, s * sub_d : (s + 1) * sub_d]
                d2 = ((sub[:, None, :] - books[s][None, :, :]) ** 2).sum(axis=2)
                codes[:, s] = d2.argmin(axis=1)
            out = {"vec_id": pdf["vec_id"]}
            for c in extra:
                out[c] = pdf[c]
            out["code"] = [c.tolist() for c in codes]
            yield pd.DataFrame(out)

    extra_schema = "".join(f", {c} int" for c in extra)
    return emb.mapInPandas(_enc, f"vec_id bigint{extra_schema}, code array<int>")


def unit_normalized(emb: DataFrame) -> DataFrame:
    """(vec_id, v) with v scaled to unit L2 norm — JVM-side fold. On
    the unit sphere L2 order == cosine order (||a-b||² = 2-2cos), so
    squared-L2 PQ/IVF machinery ranks by the exact baseline's metric."""
    norm = F.sqrt(
        F.aggregate(F.transform("v", lambda x: x * x), F.lit(0.0), lambda a, x: a + x)
    )
    return emb.select("vec_id", F.transform("v", lambda x: x / norm).alias("v"))


# ---------------------------------------------------------------------------
# Integer fixed-point PQ — the qx221/q55 unroll recipe applied to the
# codebooks (round 11): every training/encode/ADC quantity is an exact
# integer, so qx240 carries a full CTE-unrolled DuckDB oracle.
#
# - Vectors quantize TWICE: qv0 = round(v·1e6) (the q53 grid — also
#   feeds the exact re-rank cosine), then the UNIT-NORMALIZED grid
#   qn_i = round(qv0_i·1e6 / sqrt(Σqv0²)) — the sqrt argument is an
#   exact integer, the multiply and divide are single correctly-
#   rounded IEEE ops, and round() is half-away-from-zero in BOTH
#   engines, so the integer grids agree bit-for-bit (PQ must index
#   the unit sphere: un-normalized training measured recall 0.32).
# - Training is seeded Lloyd's per 8-dim subspace over int64 numpy
#   (exact integer arithmetic — no float means, no pairwise-summation
#   order): seeds are the subvectors of vec_id 0..K-1 (the q53
#   seeding), centroids re-quantize to the grid each round via
#   floor((2s+n)/(2n)) (round-half-up of the mean; numpy // floors
#   like Python and like the oracle's pmod floordiv), empty cells
#   keep their previous centroid, argmin ties break on the lowest
#   centroid id (np.argmin first-occurrence == ORDER BY d, cent).
# - Magnitudes: |qn| ≲ 1.1e6 → per-subspace d ≤ 8·(2.2e6)² ≈ 3.9e13,
#   ADC sums ≤ 3.2e14 — BIGINT everywhere at any corpus size.
# - Scale contract: the trainer consumes fit_sample (hash-capped at
#   PQ_FIT_SAMPLE); at oracle scales N ≤ cap so the sample is the
#   whole table and the oracle's "train on e" matches exactly. Seeds
#   come from the K smallest vec_ids IN the sample, which at oracle
#   scales is vec_id 0..K-1.
# ---------------------------------------------------------------------------

PQI_ITERS = 6  # int-Lloyd rounds (recall plateaus; bounds the CTE unroll)
PQI_SUB_D = 8  # 64 // PQ_M


def pq_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, qv0, nv, qn, nqn): the raw IVF_Q grid (+ exact squared
    norm, for the re-rank cosine) and the unit-normalized grid the
    codebooks index."""
    emb = load_catalog(spark, sf_dir).table("embeddings").select(
        "vec_id", as_double(F.col("embedding")).alias("v")
    )
    qv0 = F.transform("v", lambda x: F.round(x * F.lit(1e6)).cast("bigint"))
    t = emb.select("vec_id", qv0.alias("qv0"))
    nv = F.aggregate(
        F.zip_with("qv0", "qv0", lambda a, b: a * b),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    t = t.select("vec_id", "qv0", nv.alias("nv"))
    qn = F.transform(
        "qv0",
        lambda x: F.round(
            x.cast("double") * F.lit(1e6) / F.sqrt(F.col("nv").cast("double"))
        ).cast("bigint"),
    )
    t = t.select("vec_id", "qv0", "nv", qn.alias("qn"))
    nqn = F.aggregate(
        F.zip_with("qn", "qn", lambda a, b: a * b),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    return t.select("vec_id", "qv0", "nv", "qn", nqn.alias("nqn"))


def int_train_codebooks(qsample: list) -> list:
    """Exact integer Lloyd's per subspace over [(vec_id, qn), ...]:
    returns books[s][c] = quantized centroid (list of PQI_SUB_D ints).
    int64 numpy throughout — bit-reproducible, mirrored row-for-row by
    the _pqi_cte_sql unroll."""
    qsample = sorted(qsample, key=lambda r: r[0])
    mat = np.array([qn for _, qn in qsample], dtype=np.int64)
    books = []
    for s in range(PQ_M):
        sub = mat[:, s * PQI_SUB_D : (s + 1) * PQI_SUB_D]
        seeds = sub[:PQ_K].copy()  # K smallest vec_ids in the sample
        state_s = seeds.astype(np.int64)  # component sums
        state_n = np.ones(PQ_K, dtype=np.int64)
        for _ in range(PQI_ITERS):
            cq = (2 * state_s + state_n[:, None]) // (2 * state_n[:, None])
            d2 = ((sub[:, None, :] - cq[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)  # first occurrence = lowest cent
            for c in range(PQ_K):
                members = sub[assign == c]
                if len(members):
                    state_s[c] = members.sum(axis=0)
                    state_n[c] = len(members)
                # else: empty cell keeps its previous (s, n)
        cq = (2 * state_s + state_n[:, None]) // (2 * state_n[:, None])
        books.append([[int(x) for x in row] for row in cq])
    return books


# per-session artifacts (train-once-serve-many, the q55 artifact
# stance; workcache.artifact): the quantized frame + its bounded
# training sample are shared by qx240 (qn-grid books) and q56 (coarse
# cells + residual books).
def pq_frame_and_sample(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, list]:
    """(localCheckpointed quantized frame, [(vec_id, qn), ...] sample)
    memoized per session — ONE checkpoint + ONE bounded collect feeds
    every integer-PQ trainer."""

    def build():
        q = pq_quantized(spark, sf_dir).localCheckpoint(eager=True)
        sample = [
            (int(r["vec_id"]), [int(x) for x in r["qn"]])
            for r in q.select("vec_id", "qn")
            .orderBy(F.xxhash64("vec_id"), "vec_id")
            .limit(PQ_FIT_SAMPLE)
            .collect()
        ]
        return q, sample

    return artifact(spark, "pq-frame", sf_dir, build)


def pqi_artifacts(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, list]:
    """(quantized frame, qn-grid integer codebooks), memoized."""
    q, sample = pq_frame_and_sample(spark, sf_dir)
    return q, artifact(spark, "qx240-books", sf_dir, lambda: int_train_codebooks(sample))


def _pqi_codes_np(mat: "np.ndarray", books_arr: "np.ndarray") -> "np.ndarray":
    """PQ codes for an int64 row matrix against int64 codebooks —
    exact integer arithmetic (magnitudes ≲ 3.9e13 per subspace, far
    under 2^63) with numpy argmin first-occurrence reproducing the
    oracle's ``ORDER BY d, cent`` tie-break. Shared by the raw-grid
    encode (qx240) and the residual encode (q56/q57)."""
    m, _k, sub_d = books_arr.shape
    codes = np.empty((len(mat), m), dtype=np.int32)
    for s in range(m):
        sub = mat[:, s * sub_d : (s + 1) * sub_d]
        dd = ((sub[:, None, :] - books_arr[s][None, :, :]) ** 2).sum(axis=2)
        codes[:, s] = dd.argmin(axis=1)
    return codes


def pqi_int_codes(frame: DataFrame, books: list) -> DataFrame:
    """(vec_id, qn) -> (vec_id, code): qn-grid PQ codes with frozen
    integer codebooks, one vectorized Arrow pass (mapInPandas). The
    earlier JVM spelling nested the whole codebook as one literal
    expression tree — Catalyst dropped it from whole-stage codegen
    into interpreted per-row evaluation (see ivfpq_int_encode's
    measurement); the numpy pass is bit-identical (_pqi_codes_np)."""
    books_arr = np.array(books, dtype=np.int64)

    def _enc(batches):
        for pdf in batches:
            mat = np.array(pdf["qn"].tolist(), dtype=np.int64)
            codes = _pqi_codes_np(mat, books_arr)
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"], "code": [c.tolist() for c in codes]}
            )

    return frame.select("vec_id", "qn").mapInPandas(
        _enc, "vec_id bigint, code array<int>"
    )


def _pqi_base_sql() -> list:
    """Shared CTE prefix: e0/dims/dj/subs/nv0/e — the double-quantized
    grids every integer-PQ oracle starts from."""
    return [
        """e0 AS MATERIALIZED (
  SELECT vec_id,
         list_transform(CAST(embedding AS DOUBLE[]),
                        x -> CAST(round(x * 1000000.0) AS BIGINT)) AS qv0
  FROM embeddings
)""",
        "dims AS (SELECT unnest(range(1, 65)) AS i)",
        f"dj AS (SELECT unnest(range(1, {PQI_SUB_D} + 1)) AS j)",
        f"subs AS (SELECT unnest(range(0, {PQ_M})) AS s_id)",
        """nv0 AS MATERIALIZED (
  SELECT vec_id, CAST(sum(qv0[i] * qv0[i]) AS BIGINT) AS nv
  FROM e0, dims GROUP BY vec_id
)""",
        """e AS MATERIALIZED (
  SELECT e0.vec_id, e0.qv0, nv0.nv,
         list_transform(e0.qv0, x ->
           CAST(round(CAST(x AS DOUBLE) * 1000000.0
                      / sqrt(CAST(nv0.nv AS DOUBLE))) AS BIGINT)) AS qn
  FROM e0 JOIN nv0 USING (vec_id)
)""",
    ]


def _pqi_books_sql(
    src: str, col: str, iters: int = PQI_ITERS, train_where: str | None = None
) -> list:
    """Per-subspace integer Lloyd chain over {src}(vec_id, {col}):
    defines sv (subvectors), b0..b{iters}, books (final quantized
    codebooks, keyed (s_id, cent)) and codes (vec_id, s_id, cent) —
    the SQL mirror of int_train_codebooks + _pqi_codes_np.

    ``train_where`` (a vec_id predicate) restricts TRAINING to a
    subset ``svt`` of the subvectors while ``codes`` still encodes ALL
    of sv with the frozen final books — the q57 streaming contract
    (artifacts trained on the initial ingest slice, every later wave
    encoded against them). Seeds are then the PQ_K smallest vec_ids IN
    THE SUBSET with POSITIONAL cent ids, mirroring
    int_train_codebooks' ``sub[:PQ_K]`` row order (for the full-table
    case the old ``cent = vec_id WHERE vec_id < PQ_K`` text is kept:
    ids are dense from 0, so the two spellings are identical)."""
    cq_expr = (
        f"list_transform(range(1, {PQI_SUB_D} + 1), j -> "
        "(2*s[j] + n - (((2*s[j] + n) % (2*n)) + 2*n) % (2*n)) // (2*n))"
    )
    dist = (
        "CAST(sum((sv.sub[dj.j] - c.cq[dj.j]) * (sv.sub[dj.j] - c.cq[dj.j]))"
        " AS BIGINT)"
    )

    def quantize(name: str, cents: str) -> str:
        return f"""{name} AS MATERIALIZED (
  SELECT s_id, cent, {cq_expr} AS cq FROM {cents}
)"""

    def assign(name: str, cq: str, sv_src: str = "sv") -> str:
        sv_clause = "sv" if sv_src == "sv" else f"{sv_src} sv"
        return f"""{name} AS MATERIALIZED (
  SELECT vec_id, s_id, cent FROM (
    SELECT sv.vec_id, sv.s_id, c.cent, {dist} AS d,
           row_number() OVER (PARTITION BY sv.vec_id, sv.s_id
                              ORDER BY {dist}, c.cent) AS rn
    FROM {sv_clause}, {cq} c, dj
    WHERE c.s_id = sv.s_id
    GROUP BY sv.vec_id, sv.s_id, c.cent
  ) WHERE rn = 1
)"""

    def update(name: str, prev: str, a: str, sv_src: str = "sv") -> str:
        sv_clause = "sv" if sv_src == "sv" else f"{sv_src} sv"
        return f"""{name} AS MATERIALIZED (
  SELECT p.s_id, p.cent, COALESCE(u.s, p.s) AS s, COALESCE(u.n, p.n) AS n
  FROM {prev} p LEFT JOIN (
    SELECT s_id, cent, list(sx ORDER BY j) AS s, CAST(max(cnt) AS BIGINT) AS n
    FROM (
      SELECT a.s_id, a.cent, dj.j, CAST(sum(sv.sub[dj.j]) AS BIGINT) AS sx,
             count(*) AS cnt
      FROM {a} a
      JOIN {sv_clause} ON sv.vec_id = a.vec_id AND sv.s_id = a.s_id, dj
      GROUP BY a.s_id, a.cent, dj.j
    ) GROUP BY s_id, cent
  ) u ON u.s_id = p.s_id AND u.cent = p.cent
)"""

    parts = [
        f"""sv AS MATERIALIZED (
  SELECT vec_id, s_id,
         list_transform(range(1, {PQI_SUB_D} + 1),
                        j -> {col}[s_id * {PQI_SUB_D} + j]) AS sub
  FROM {src}, subs
)""",
    ]
    if train_where is None:
        tsv = "sv"
        parts.append(
            f"""b0 AS MATERIALIZED (
  SELECT s_id, CAST(vec_id AS INT) AS cent, sub AS s, CAST(1 AS BIGINT) AS n
  FROM sv WHERE vec_id < {PQ_K}
)"""
        )
    else:
        tsv = "svt"
        parts.append(
            f"""svt AS MATERIALIZED (
  SELECT * FROM sv WHERE {train_where}
)"""
        )
        parts.append(
            f"""b0 AS MATERIALIZED (
  SELECT s_id, CAST(rn - 1 AS INT) AS cent, sub AS s, CAST(1 AS BIGINT) AS n
  FROM (
    SELECT s_id, sub,
           row_number() OVER (PARTITION BY s_id ORDER BY vec_id) AS rn
    FROM svt
  ) WHERE rn <= {PQ_K}
)"""
        )
    for r in range(1, iters + 1):
        parts.append(quantize(f"bq{r - 1}", f"b{r - 1}"))
        parts.append(assign(f"ba{r}", f"bq{r - 1}", tsv))
        parts.append(update(f"b{r}", f"b{r - 1}", f"ba{r}", tsv))
    parts.append(quantize("books", f"b{iters}"))
    parts.append(assign("codes", "books"))
    return parts


def _pqi_cte_sql(iters: int = PQI_ITERS) -> str:
    """DuckDB mirror of pq_quantized + int_train_codebooks +
    pqi_int_codes over the qn grid (the qx240 chain)."""
    return ",\n".join(_pqi_base_sql() + _pqi_books_sql("e", "qn", iters))


def _qx240_oracle() -> str:
    return f"""
WITH {_pqi_cte_sql()},
lut AS (
  SELECT sq.vec_id AS query_id, c.s_id, c.cent,
         CAST(sum((sq.sub[dj.j] - c.cq[dj.j]) * (sq.sub[dj.j] - c.cq[dj.j]))
              AS BIGINT) AS d
  FROM sv sq, books c, dj
  WHERE sq.vec_id < 5 AND c.s_id = sq.s_id
  GROUP BY 1, 2, 3
),
adc AS (
  SELECT l.query_id, k.vec_id AS neighbor_id, CAST(sum(l.d) AS BIGINT) AS adc_d2
  FROM codes k JOIN lut l ON l.s_id = k.s_id AND l.cent = k.cent
  WHERE k.vec_id <> l.query_id
  GROUP BY 1, 2
),
cand AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY adc_d2, neighbor_id) AS rn
    FROM adc
  ) WHERE rn <= {PQ_RERANK}
),
cdot AS (
  SELECT c.query_id, c.neighbor_id,
         CAST(sum(eq.qv0[i] * en.qv0[i]) AS BIGINT) AS dot
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
  JOIN e nq ON nq.vec_id = d.query_id
  JOIN e nn ON nn.vec_id = d.neighbor_id
)
SELECT query_id, neighbor_id, cosine, rank FROM (
  SELECT query_id, neighbor_id, cosine,
         CAST(row_number() OVER (
           PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
         ) AS BIGINT) AS rank
  FROM scored
) WHERE rank <= 10
ORDER BY query_id, rank
"""


@register(
    "qx240_ann_pq",
    oracle=_qx240_oracle(),
    doc="PQ-compressed ANN over integer fixed-point codebooks (full CTE-unrolled oracle)",
    tags=("similarity", "ann", "pq", "iterative"),
)
def qx240_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-compressed ANN top-10 for the 5 standard query vectors (same
    contract as q50/q53/q55): train → encode → ADC scan over 8-byte
    codes with a JVM-side lookup-table expression → exact cosine
    re-rank of the top PQ_RERANK.

    FULL VALUE-HASH ORACLE since round 11 (rows-only through r10 as a
    float-numpy fit): the integer fixed-point PQ section above makes
    training, encoding, the ADC sums, and the candidate cut exact
    integers, and the re-rank cosine is the IVF_Q-exact q53 spelling —
    the DuckDB CTE chain reproduces every stage bit-for-bit. Recall@10
    vs the exact q50 baseline stays pytest-gated (the 0.8 bar is
    unchanged). Plan shape unchanged: codebooks broadcast as one
    nested literal, the ADC scan is one JVM pass over codes × queries,
    the top-RERANK cut is the two-phase salted window (exact global
    top-k without a single-task sort), and only RERANK×queries rows
    re-touch vectors."""
    q, books = pqi_artifacts(spark, sf_dir)
    # the CODE STORE is an artifact too (q57's premise): checkpoint it
    # once per session so repeat invocations serve from codes instead
    # of re-running the encode pass
    codes = artifact(
        spark,
        "qx240-codes",
        sf_dir,
        lambda: pqi_int_codes(q, books).localCheckpoint(eager=True),
    )
    queries = sorted(
        (int(r["vec_id"]), [int(x) for x in r["qn"]])
        for r in q.filter(F.col("vec_id") < 5).select("vec_id", "qn").collect()
    )
    lut_rows = []
    for qid, qn in queries:
        tables = [
            [
                sum(
                    (qn[s * PQI_SUB_D + j] - books[s][c][j]) ** 2
                    for j in range(PQI_SUB_D)
                )
                for c in range(PQ_K)
            ]
            for s in range(PQ_M)
        ]
        lut_rows.append((qid, tables))
    luts = spark.createDataFrame(lut_rows, "query_id bigint, lut array<array<bigint>>")
    adc = None
    for s in range(PQ_M):
        term = F.element_at(F.element_at("lut", s + 1), F.col("code")[s] + 1)
        adc = term if adc is None else adc + term
    scored = (
        codes.crossJoin(F.broadcast(luts))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", adc.cast("bigint").alias("adc_d2"))
    )

    # Two-phase top-PQ_RERANK per query: a plain per-query window would
    # sort ALL code rows in n_queries tasks (the single-task-sort shape
    # plans/ranks.py exists to avoid). Phase 1 takes the local top-K in
    # each (query, salt) slice — SALT_BUCKETS-way parallel, each task
    # sorts N/SALT_BUCKETS rows; phase 2's exact window then runs over
    # at most n_queries × SALT_BUCKETS × K survivor rows (tiny).
    SALT_BUCKETS = 32
    scored = scored.withColumnRenamed("vec_id", "neighbor_id")
    local_w = Window.partitionBy("query_id", "salt").orderBy(
        F.col("adc_d2").asc(), F.col("neighbor_id")
    )
    final_w = Window.partitionBy("query_id").orderBy(
        F.col("adc_d2").asc(), F.col("neighbor_id")
    )
    cand = (
        scored.withColumn(
            "salt", F.pmod(F.xxhash64("neighbor_id"), F.lit(SALT_BUCKETS)).cast("int")
        )
        .withColumn("local_rank", F.row_number().over(local_w))
        .filter(F.col("local_rank") <= PQ_RERANK)
        .withColumn("adc_rank", F.row_number().over(final_w))
        .filter(F.col("adc_rank") <= PQ_RERANK)
    )
    # exact re-rank: only RERANK×n_queries rows re-touch the raw grid
    nbr = q.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("qv0").alias("n_qv0"),
        F.col("nv").alias("n_nv"),
    )
    qdf = q.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("qv0").alias("q_qv0"),
        F.col("nv").alias("q_nv"),
    )
    pair_dot = F.aggregate(
        F.zip_with("q_qv0", "n_qv0", lambda a, b: a * b),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    sim = pair_dot.cast("double") / (
        F.sqrt(F.col("q_nv").cast("double")) * F.sqrt(F.col("n_nv").cast("double"))
    )
    rerank_w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        cand.join(nbr, "neighbor_id")
        .join(F.broadcast(qdf), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            (r6(sim) + F.lit(0.0)).alias("cosine"),
        )
        .withColumn("rank", F.row_number().over(rerank_w).cast("bigint"))
        .filter(F.col("rank") <= 10)
    )


IVFPQ_CELLS = 8  # coarse cells (k ∝ √N at scale, like q69)
IVFPQ_PROBE = 3  # cells scanned per query


def train_coarse_centroids(
    spark: SparkSession, emb_n: DataFrame, sample: np.ndarray | None = None
) -> np.ndarray:
    """Trained coarse quantizer: seeded Lloyd's over the bounded fit
    sample (same train-on-sample contract as the codebooks — an
    iterative MLlib fit over a sample-sized input is pure scheduler
    overhead, measured ~5 s at sf0.1 for 2 000 vectors). Returns
    (IVFPQ_CELLS, dim) centroids; pass ``sample`` to share one
    fit_sample collect across coarse + codebook training."""
    if sample is None:
        sample = fit_sample(emb_n)
    return _lloyd(sample, IVFPQ_CELLS, PQ_ITERS, PQ_SEED)


def ivfpq_residuals(
    spark: SparkSession,
    emb_n: DataFrame,
    cents: np.ndarray,
    cell_ids: list | None = None,
) -> DataFrame:
    """(vec_id, v) → (vec_id, cell_id, v=residual): top-1 cell and
    residual as PURE narrow JVM expressions over literal centroid
    arrays — argmin via array_position(d2s, array_min(d2s)) (first
    match = lowest cell_id tie-break), residual via zip_with against
    element_at of the literal centroid matrix. Zero shuffle, zero row
    explode; the earlier spelling (8× broadcast crossJoin + per-vec_id
    row_number window) shuffled 8N rows to pick 1-of-8 — this one
    never leaves the scan stage, so assignment cost at 100 TB is the
    scan itself.

    ``cell_ids`` maps each POSITION in ``cents`` to a global cell id
    (default: position itself). A localized retrain passes the hot ∪
    new subset here, constraining the re-encode to redistribute hot
    vectors among exactly those lists (the FAISS list-split shape) so
    the store rewrite touches only their directories."""
    cent_lit = F.array(
        *[F.array(*[F.lit(float(x)) for x in c]) for c in cents]
    )
    d2s = F.array(
        *[
            F.aggregate(
                F.zip_with(
                    "v",
                    F.array(*[F.lit(float(x)) for x in c]),
                    lambda x, y: (x - y) * (x - y),
                ),
                F.lit(0.0),
                lambda a, x: a + x,
            )
            for c in cents
        ]
    )
    pos = (F.array_position(d2s, F.array_min(d2s)) - 1).cast("int")
    t = emb_n.withColumn("_pos", pos)
    if cell_ids is None:
        cid = F.col("_pos")
    else:
        cid = F.element_at(
            F.lit([int(i) for i in cell_ids]).cast("array<int>"),
            F.col("_pos") + 1,
        )
    return t.select(
        "vec_id",
        cid.alias("cell_id"),
        F.zip_with(
            "v", F.element_at(cent_lit, F.col("_pos") + 1), lambda x, y: x - y
        ).alias("v"),
    )


def ivfpq_encode(
    spark: SparkSession,
    emb_n: DataFrame,
    cents: np.ndarray,
    books: np.ndarray,
    cell_ids: list | None = None,
) -> DataFrame:
    """Assign + residual-encode a (vec_id, v) frame against FROZEN
    index artifacts → (vec_id, cell_id, code). One broadcast join plus
    one Arrow-batched numpy pass; O(wave) however large the existing
    index is — the insert path of an IVF-PQ index. ``cell_ids``: see
    ivfpq_residuals (constrained localized-retrain re-encode)."""
    return encode(
        ivfpq_residuals(spark, emb_n, cents, cell_ids=cell_ids),
        books,
        extra=("cell_id",),
    )


def ivfpq_search(
    spark: SparkSession,
    codes: DataFrame,
    emb: DataFrame,
    queries: list,
    cents: np.ndarray,
    books: np.ndarray,
) -> DataFrame:
    """ADC scan + exact re-rank over an IVF-PQ code table (shared by
    q56's one-shot build and q57's incrementally-maintained store).

    Per query: probe the IVFPQ_PROBE nearest cells, build an M×K LUT
    over the QUERY RESIDUAL per probed cell (the asymmetric-distance
    table of IVF-PQ), broadcast the LUT rows onto a cell_id equi-join
    with the codes — a query never touches codes outside its probed
    cells — then salted two-phase top-PQ_RERANK and an exact cosine
    re-rank of only those candidates."""
    m, k, sub_d = books.shape
    lut_rows = []
    for qid, qv in queries:
        probe_cells = np.argsort(((qv[None, :] - cents) ** 2).sum(axis=1))[:IVFPQ_PROBE]
        for cell in probe_cells:
            qr = qv - cents[cell]
            tables = [
                ((qr[s * sub_d : (s + 1) * sub_d][None, :] - books[s]) ** 2)
                .sum(axis=1)
                .tolist()
                for s in range(m)
            ]
            lut_rows.append((qid, int(cell), tables))
    luts = spark.createDataFrame(
        lut_rows, "query_id bigint, cell_id int, lut array<array<double>>"
    )
    adc = None
    for s in range(m):
        term = F.element_at(F.element_at("lut", s + 1), F.col("code")[s] + 1)
        adc = term if adc is None else adc + term
    scored = (
        codes.join(F.broadcast(luts), "cell_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"), adc.alias("adc_d2"))
    )

    SALT_BUCKETS = 32
    local_w = Window.partitionBy("query_id", "salt").orderBy(
        F.col("adc_d2").asc(), F.col("neighbor_id")
    )
    final_w = Window.partitionBy("query_id").orderBy(
        F.col("adc_d2").asc(), F.col("neighbor_id")
    )
    cand = (
        scored.withColumn(
            "salt", F.pmod(F.xxhash64("neighbor_id"), F.lit(SALT_BUCKETS)).cast("int")
        )
        .withColumn("local_rank", F.row_number().over(local_w))
        .filter(F.col("local_rank") <= PQ_RERANK)
        .withColumn("adc_rank", F.row_number().over(final_w))
        .filter(F.col("adc_rank") <= PQ_RERANK)
    )
    qdf = spark.createDataFrame(
        [(qid, qv.tolist()) for qid, qv in queries], "query_id bigint, qv array<double>"
    )
    rerank_w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        cand.join(emb.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id")
        .join(F.broadcast(qdf), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            r6(cosine(F.col("qv"), F.col("v"))).alias("cosine"),
        )
        .withColumn("rank", F.row_number().over(rerank_w).cast("bigint"))
        .filter(F.col("rank") <= 10)
    )


_KQ_EXPR = (
    "list_transform(range(1, 65), i -> "
    "(2*s[i] + n - (((2*s[i] + n) % (2*n)) + 2*n) % (2*n)) // (2*n))"
)
_KDIST = "CAST(sum((e.qn[d.i] - c.cq[d.i]) * (e.qn[d.i] - c.cq[d.i])) AS BIGINT)"


def _kquantize(name: str, cents: str) -> str:
    """Quantize a coarse-kmeans state CTE into integer centroids."""
    return f"""{name} AS MATERIALIZED (
  SELECT cell_id, {_KQ_EXPR} AS cq FROM {cents}
)"""


def _kassign(name: str, cq: str, where: str = "", rank: int = 1, src: str = "e") -> str:
    """Nearest-cell assignment of ``src``(vec_id, qn) against quantized
    centroids ``cq`` — the ORDER BY d, cell_id tie-break of the exact
    integer chain."""
    w = f"WHERE {where}" if where else ""
    keep = "= 1" if rank == 1 else f"<= {rank}"
    src_clause = "e" if src == "e" else f"{src} e"
    return f"""{name} AS MATERIALIZED (
  SELECT vec_id, cell_id, d FROM (
    SELECT vec_id, cell_id, d,
           row_number() OVER (PARTITION BY vec_id ORDER BY d, cell_id) AS rn
    FROM (
      SELECT e.vec_id, c.cell_id, {_KDIST} AS d
      FROM {src_clause}, {cq} c, dims d {w}
      GROUP BY e.vec_id, c.cell_id
    )
  ) WHERE rn {keep}
)"""


def _kupdate(name: str, prev: str, a: str, src: str = "e") -> str:
    """One Lloyd mean-update round: per-cell coordinate sums + counts
    from assignment ``a`` joined back to the training vectors."""
    src_clause = "e" if src == "e" else f"{src} e"
    return f"""{name} AS MATERIALIZED (
  SELECT p.cell_id, COALESCE(u.s, p.s) AS s, COALESCE(u.n, p.n) AS n
  FROM {prev} p LEFT JOIN (
    SELECT cell_id, list(sx ORDER BY i) AS s, CAST(max(cnt) AS BIGINT) AS n
    FROM (
      SELECT a.cell_id, d.i, CAST(sum(e.qn[d.i]) AS BIGINT) AS sx,
             count(*) AS cnt
      FROM {a} a JOIN {src_clause} USING (vec_id), dims d
      GROUP BY a.cell_id, d.i
    ) GROUP BY cell_id
  ) u USING (cell_id)
)"""


def _coarse_chain_sql(train: str, prefix: str = "") -> list:
    """The full fixed-point coarse-kmeans CTE chain over training CTE
    ``train``(vec_id, qn): seeds = the IVFPQ_CELLS smallest vec_ids in
    the frame with cell ids = those vec_ids (fixed_point_kmeans'
    k-smallest seeding), KM_ROUNDS exact update rounds, final quantized
    centroids in ``{prefix}kqF``. ``prefix`` namespaces the CTEs so one
    oracle can carry several independently-trained quantizers (the
    qx242 frozen-vs-retrained pair)."""
    from bqfetch_spark.operators.similarity import KM_ROUNDS

    parts = [
        f"""{prefix}k0 AS MATERIALIZED (
  SELECT CAST(vec_id AS INT) AS cell_id, qn AS s, CAST(1 AS BIGINT) AS n
  FROM (
    SELECT vec_id, qn, row_number() OVER (ORDER BY vec_id) AS rn
    FROM {train}
  ) WHERE rn <= {IVFPQ_CELLS}
)"""
    ]
    for r in range(1, KM_ROUNDS + 1):
        parts.append(_kquantize(f"{prefix}kq{r - 1}", f"{prefix}k{r - 1}"))
        parts.append(_kassign(f"{prefix}ka{r}", f"{prefix}kq{r - 1}", src=train))
        parts.append(_kupdate(f"{prefix}k{r}", f"{prefix}k{r - 1}", f"{prefix}ka{r}", src=train))
    parts.append(_kquantize(f"{prefix}kqF", f"{prefix}k{KM_ROUNDS}"))
    return parts


def _ivfpq_oracle(train_where: str | None = None) -> str:
    """Integer IVF-PQ chain: the coarse fixed-point Lloyd (k=IVFPQ_CELLS
    over the 64-dim qn grid), residuals against the quantized cells,
    the residual codebook chain (_pqi_books_sql over res), probed ADC,
    and the IVF_Q-exact re-rank.

    ``train_where`` (a vec_id predicate) restricts TRAINING — coarse
    Lloyd seeds/assign rounds and the residual codebooks — to that
    slice of e, while the final assignment (kfin), residuals, codes,
    probes and search still run over ALL of e: the frozen-artifact
    streaming contract of q57 (train on the initial 60% ingest, encode
    every later wave against the frozen artifacts). With None this is
    exactly the q56 one-shot oracle (train on everything — the
    k-smallest seeding equals the old ``vec_id < IVFPQ_CELLS`` text
    because fixture ids are dense from 0)."""
    kdist = _KDIST

    parts = _pqi_base_sql()
    if train_where is None:
        tsrc = "e"
    else:
        tsrc = "et"
        parts.append(
            f"""et AS MATERIALIZED (
  SELECT * FROM e WHERE {train_where}
)"""
        )
    parts += _coarse_chain_sql(tsrc)
    parts.append(_kassign("kfin", "kqF"))
    parts.append(
        """res AS MATERIALIZED (
  SELECT e.vec_id, a.cell_id,
         list_transform(range(1, 65), i -> e.qn[i] - c.cq[i]) AS r
  FROM e JOIN kfin a USING (vec_id) JOIN kqF c ON c.cell_id = a.cell_id
)"""
    )
    parts += _pqi_books_sql("res", "r", train_where=train_where)
    parts.append(
        f"""probes AS (
  SELECT vec_id AS query_id, cell_id FROM (
    SELECT vec_id, cell_id,
           row_number() OVER (PARTITION BY vec_id ORDER BY d, cell_id) AS rn
    FROM (
      SELECT e.vec_id, c.cell_id, {kdist} AS d
      FROM e, kqF c, dims d
      WHERE e.vec_id < 5
      GROUP BY e.vec_id, c.cell_id
    )
  ) WHERE rn <= {IVFPQ_PROBE}
)"""
    )
    parts.append(
        """rq AS MATERIALIZED (
  SELECT p.query_id, p.cell_id,
         list_transform(range(1, 65), i -> e.qn[i] - c.cq[i]) AS r
  FROM probes p JOIN e ON e.vec_id = p.query_id
  JOIN kqF c ON c.cell_id = p.cell_id
)"""
    )
    parts.append(
        f"""lut AS MATERIALIZED (
  SELECT rq.query_id, rq.cell_id, b.s_id, b.cent,
         CAST(sum((rq.r[b.s_id * {PQI_SUB_D} + dj.j] - b.cq[dj.j])
                  * (rq.r[b.s_id * {PQI_SUB_D} + dj.j] - b.cq[dj.j]))
              AS BIGINT) AS d
  FROM rq, books b, dj
  GROUP BY 1, 2, 3, 4
)"""
    )
    return f"""
WITH {",".join(parts)},
adc AS (
  SELECT l.query_id, k.vec_id AS neighbor_id, CAST(sum(l.d) AS BIGINT) AS adc_d2
  FROM res k
  JOIN codes cd ON cd.vec_id = k.vec_id
  JOIN lut l ON l.cell_id = k.cell_id AND l.s_id = cd.s_id AND l.cent = cd.cent
  WHERE k.vec_id <> l.query_id
  GROUP BY 1, 2
),
cand AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY adc_d2, neighbor_id) AS rn
    FROM adc
  ) WHERE rn <= {PQ_RERANK}
),
cdot AS (
  SELECT c.query_id, c.neighbor_id,
         CAST(sum(eq.qv0[i] * en.qv0[i]) AS BIGINT) AS dot
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
  JOIN e nq ON nq.vec_id = d.query_id
  JOIN e nn ON nn.vec_id = d.neighbor_id
)
SELECT query_id, neighbor_id, cosine, rank FROM (
  SELECT query_id, neighbor_id, cosine,
         CAST(row_number() OVER (
           PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
         ) AS BIGINT) AS rank
  FROM scored
) WHERE rank <= 10
ORDER BY query_id, rank
"""


def _q56_oracle() -> str:
    """q56 one-shot IVF-PQ oracle: train on the whole corpus."""
    return _ivfpq_oracle()


# the streaming index trains on the 60% initial ingest (wave_of("vec_id")
# <= 2, streaming/waves.py) and freezes; the oracle mirrors exactly
# that slice as its training predicate
Q57_TRAIN_WHERE = "vec_id % 5 <= 2"


def _q57_oracle() -> str:
    """q57 streaming IVF-PQ oracle: the SAME chain as q56 with
    training restricted to the initial ingest slice — frozen artifacts
    then encode/search the full corpus. Valid because wave-appended
    codes are bit-identical to one-shot frozen-artifact codes
    (pytest-pinned, tests/test_ann_recall.py)."""
    return _ivfpq_oracle(train_where=Q57_TRAIN_WHERE)


def _jsd_sql(base_cnt: str, wave_cnt: str) -> str:
    """Jensen-Shannon divergence (base 2) between the normalized
    cell-count CTEs ``base_cnt``/``wave_cnt`` (cell_id, n) — the exact
    expression tree of ann_index.occupancy_jsd: shares p = n/total as
    double divisions of exact integers, m = (p+q)/2, masked p*log2(p/m)
    terms, halved sums, rounded to 6dp. Only the log2 implementation
    and the 8-term sum order can differ from numpy — both far below
    the 6dp round."""
    return f"""(
  SELECT round(0.5 * sum(CASE WHEN p > 0 THEN p * log2(p / m) ELSE 0 END)
             + 0.5 * sum(CASE WHEN q > 0 THEN q * log2(q / m) ELSE 0 END),
               6) + 0.0
  FROM (
    SELECT p, q, (p + q) / 2.0 AS m FROM (
      SELECT CAST(COALESCE(b.n, 0) AS DOUBLE)
               / (SELECT CAST(sum(n) AS DOUBLE) FROM {base_cnt}) AS p,
             CAST(COALESCE(w.n, 0) AS DOUBLE)
               / (SELECT CAST(sum(n) AS DOUBLE) FROM {wave_cnt}) AS q
      FROM {base_cnt} b FULL JOIN {wave_cnt} w USING (cell_id)
    )
  )
)"""


def _occ_fp_sql(cnt: str) -> str:
    """Canonical 'cell:count,...' fingerprint of a count CTE."""
    return (
        f"(SELECT string_agg(CAST(cell_id AS VARCHAR) || ':' || "
        f"CAST(n AS VARCHAR), ',' ORDER BY cell_id) FROM {cnt})"
    )


def _qx242_oracle() -> str:
    """qx242 drift-monitor oracle on the EXACT integer chain: frozen
    coarse quantizer trained on the q57 initial slice (_coarse_chain_sql
    over et — the same CTE chain as _ivfpq_oracle's), per-wave
    cell-occupancy counts as exact integers, JSD per _jsd_sql, and the
    retrain executed as a second full chain (prefix r2) over
    corpus ∪ waves with n_moved = vectors the retrained quantizer
    reassigns. The drifted wave is the vec_id%5=4 slice with qn folded
    through abs() — norm-preserving on the qn grid, concentrates the
    mixed-sign fixture into the positive orthant, so the frozen cells
    measurably under-resolve it (the planted-drift contract)."""
    parts = _pqi_base_sql()
    parts.append(
        f"""et AS MATERIALIZED (
  SELECT vec_id, qn FROM e WHERE {Q57_TRAIN_WHERE}
)"""
    )
    parts += _coarse_chain_sql("et")
    parts.append(
        "wa AS MATERIALIZED (SELECT vec_id, qn FROM e WHERE vec_id % 5 = 3)"
    )
    parts.append(
        """wd AS MATERIALIZED (
  SELECT vec_id, list_transform(qn, x -> abs(x)) AS qn
  FROM e WHERE vec_id % 5 = 4
)"""
    )
    parts.append(_kassign("ab", "kqF", src="et"))
    parts.append(_kassign("aa", "kqF", src="wa"))
    parts.append(_kassign("ad", "kqF", src="wd"))
    for cnt, src in (("cb", "ab"), ("ca", "aa"), ("cd", "ad")):
        parts.append(
            f"""{cnt} AS (
  SELECT cell_id, CAST(count(*) AS BIGINT) AS n FROM {src} GROUP BY cell_id
)"""
        )
    # monitor semantics: the accepted in-distribution wave's counts
    # fold into the baseline before the drifted wave is judged
    parts.append(
        """b2 AS (
  SELECT cell_id, CAST(COALESCE(cb.n, 0) + COALESCE(ca.n, 0) AS BIGINT) AS n
  FROM cb FULL JOIN ca USING (cell_id)
)"""
    )
    # the retrain: a SECOND exact chain trained on corpus + both waves
    parts.append(
        """eu AS MATERIALIZED (
  SELECT vec_id, qn FROM e WHERE vec_id % 5 <= 3
  UNION ALL SELECT vec_id, qn FROM wd
)"""
    )
    parts += _coarse_chain_sql("eu", prefix="r2")
    parts.append(_kassign("ur", "r2kqF", src="eu"))
    parts.append(
        """uf AS (
  SELECT vec_id, cell_id FROM ab
  UNION ALL SELECT vec_id, cell_id FROM aa
  UNION ALL SELECT vec_id, cell_id FROM ad
)"""
    )
    parts.append(
        """nmv AS (
  SELECT CAST(count(*) AS BIGINT) AS n
  FROM uf JOIN ur ON ur.vec_id = uf.vec_id
  WHERE uf.cell_id <> ur.cell_id
)"""
    )
    return f"""
WITH {",".join(parts)}
SELECT wave, n_vectors, occ, jsd, retrained, n_moved FROM (
  SELECT 'baseline' AS wave,
         (SELECT CAST(sum(n) AS BIGINT) FROM cb) AS n_vectors,
         {_occ_fp_sql("cb")} AS occ,
         0.0 AS jsd, FALSE AS retrained, CAST(0 AS BIGINT) AS n_moved
  UNION ALL
  SELECT 'in_distribution',
         (SELECT CAST(sum(n) AS BIGINT) FROM ca),
         {_occ_fp_sql("ca")},
         {_jsd_sql("cb", "ca")}, FALSE, CAST(0 AS BIGINT)
  UNION ALL
  SELECT 'drifted',
         (SELECT CAST(sum(n) AS BIGINT) FROM cd),
         {_occ_fp_sql("cd")},
         {_jsd_sql("b2", "cd")}, TRUE, (SELECT n FROM nmv)
) ORDER BY wave
"""


def int_residual_books(sample: list, cq_sorted: list) -> list:
    """Residual codebooks from a [(vec_id, qn)] training sample
    against quantized coarse cells [(cell_id, cq)] (cell_id-sorted):
    exact-int driver-side assignment (argmin first occurrence over the
    sorted centroid matrix = the ORDER BY d, cell_id tie-break),
    residuals, then int_train_codebooks — shared by q56's one-shot
    build and q57's frozen streaming artifacts."""
    cq_mat = np.array([cq for _, cq in cq_sorted], dtype=np.int64)
    ids = np.array([r[0] for r in sorted(sample)], dtype=np.int64)
    mat = np.array([qn for _, qn in sorted(sample)], dtype=np.int64)
    d2 = ((mat[:, None, :] - cq_mat[None, :, :]) ** 2).sum(axis=2)
    assign = d2.argmin(axis=1)  # first occurrence = lowest cell_id
    resid = mat - cq_mat[assign]
    return int_train_codebooks(
        [(int(i), [int(x) for x in row]) for i, row in zip(ids, resid)]
    )


def _q56_artifacts(spark: SparkSession, sf_dir: str):
    """(quantized frame, coarse cq list, residual books); the trained
    pair is memoized per session."""
    from bqfetch_spark.operators.similarity import (
        fixed_point_kmeans,
        km_quantized,
    )

    q, sample = pq_frame_and_sample(spark, sf_dir)

    def build():
        coarse = km_quantized(
            fixed_point_kmeans(
                q.select("vec_id", F.col("qn").alias("qv")), IVFPQ_CELLS
            )
        )
        cq_sorted = sorted(coarse)
        return cq_sorted, int_residual_books(sample, cq_sorted)

    return (q, *artifact(spark, "q56", sf_dir, build))


def train_int_artifacts(initial_qn: DataFrame) -> tuple[list, list]:
    """Train the frozen INTEGER artifacts on a training frame
    (vec_id, qn): coarse cells via the distributed fixed-point Lloyd
    (seeds = the IVFPQ_CELLS smallest vec_ids IN THE FRAME, cell ids =
    those vec_ids) and residual codebooks via int_residual_books over
    the hash-capped sample. The q56 contract requires the frame to fit
    PQ_FIT_SAMPLE — the registered oracles train on the WHOLE slice,
    so an oversized fixture fails loudly instead of silently diverging
    (ADVICE r12). Returns (cq_sorted [(cell_id, cq)], books)."""
    from bqfetch_spark.operators.similarity import fixed_point_kmeans, km_quantized

    state = fixed_point_kmeans(
        initial_qn.select("vec_id", F.col("qn").alias("qv")), IVFPQ_CELLS
    )
    cq_sorted = sorted(km_quantized(state))
    rows = (
        initial_qn.select("vec_id", "qn")
        .orderBy(F.xxhash64("vec_id"), "vec_id")
        .limit(PQ_FIT_SAMPLE + 1)
        .collect()
    )
    if len(rows) > PQ_FIT_SAMPLE:
        raise ValueError(
            f"training slice exceeds PQ_FIT_SAMPLE={PQ_FIT_SAMPLE}: "
            "the frozen integer artifacts would no longer match the "
            "registered full-slice oracle"
        )
    sample = [(int(r["vec_id"]), [int(x) for x in r["qn"]]) for r in rows]
    books = int_residual_books(sample, cq_sorted)
    return cq_sorted, books


def q57_int_artifacts(spark: SparkSession, sf_dir: str) -> tuple[list, list]:
    """Frozen integer artifacts trained on the initial ingest slice
    (Q57_TRAIN_WHERE), memoized per session — ONE training chain feeds
    q57's streaming fixture AND qx242's drift monitor (the
    shared-artifact stance: production trains once, serves many)."""
    from bqfetch_spark.streaming.waves import wave_of

    def build():
        q, _ = pq_frame_and_sample(spark, sf_dir)
        return train_int_artifacts(q.filter(wave_of("vec_id") <= 2))

    return artifact(spark, "q57-train", sf_dir, build)


def ivfpq_int_encode(frame: DataFrame, cq_sorted: list, books: list) -> DataFrame:
    """Frozen-artifact integer encode: (vec_id, qn) -> (vec_id,
    cell_id, code), EXACT to the oracle chain — one vectorized int64
    numpy pass over Arrow batches (mapInPandas). int64 numpy IS exact
    integer arithmetic at these magnitudes (per-subspace sums
    ≲ 3.9e13, coarse distances ≲ 3.1e14 — far under 2^63), and numpy's
    argmin first-occurrence over the cell_id-sorted centroid matrix /
    centroid-ordered codebooks reproduces the engine-and-oracle
    ``ORDER BY d, cell_id`` / ``ORDER BY d, cent`` tie-breaks, so the
    output is bit-identical to the previous JVM literal-expression
    spelling (pytest-pinned wave-vs-one-shot equality and the
    q56/q57/qx240 value-hash oracles all gate this).

    Why a Pandas UDF and not built-in expressions (the usual slow
    path): the literal spelling nested (cells × 64 + M × K × sub_d)
    constants into one expression tree — Catalyst fell off
    whole-stage codegen into interpreted per-row evaluation, measured
    ~1.7k rows/s/32 cores on the 200k-vector 100× cert (119 s) vs
    ~100× that for the Arrow batch. Sparse cell ids (q57's
    slice-seeded cells, post-retrain appended subcells) ride the
    cell_ids vector. Map-only: encode cost at 100 TB is the scan
    itself, shared by q56's one-shot build and every q57 ingest
    wave."""
    cell_ids = np.array([int(cid) for cid, _ in cq_sorted], dtype=np.int64)
    cq_mat = np.array([cq for _, cq in cq_sorted], dtype=np.int64)
    books_arr = np.array(books, dtype=np.int64)  # (M, K, sub_d)

    def _enc(batches):
        for pdf in batches:
            mat = np.array(pdf["qn"].tolist(), dtype=np.int64)
            d2 = ((mat[:, None, :] - cq_mat[None, :, :]) ** 2).sum(axis=2)
            pos = d2.argmin(axis=1)  # first occurrence = lowest cell_id
            codes = _pqi_codes_np(mat - cq_mat[pos], books_arr)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "cell_id": cell_ids[pos].astype("int32"),
                    "code": [c.tolist() for c in codes],
                }
            )

    return frame.select("vec_id", "qn").mapInPandas(
        _enc, "vec_id bigint, cell_id int, code array<int>"
    )


def pqi_ivf_search(
    spark: SparkSession,
    codes: DataFrame,
    q: DataFrame,
    cq_sorted: list,
    books: list,
) -> DataFrame:
    """Probed integer ADC scan + exact re-rank over an integer IVF-PQ
    code frame (vec_id, cell_id, code) — the serving half shared by
    q56's one-shot store and q57's incrementally-maintained store.

    Queries are the 5 standard vectors (vec_id < 5 of the quantized
    frame ``q``); per query the IVFPQ_PROBE nearest cells are probed
    and an exact-integer M x K LUT per probed cell is broadcast onto a
    cell_id equi-join with the codes (a query never touches codes
    outside its probed cells), then salted two-phase top-PQ_RERANK and
    the IVF_Q-exact rounded-cosine re-rank. Every quantity is an exact
    integer, so the whole path is mirrored bit-for-bit by
    _ivfpq_oracle()'s probe/lut/adc/cand/cdot chain."""
    # queries: probes + integer LUTs computed driver-side from the
    # SAME exact ints the engine uses (5 rows - the kmeans-centroid
    # collect pattern)
    qrows = sorted(
        (int(r["vec_id"]), [int(x) for x in r["qn"]])
        for r in q.filter(F.col("vec_id") < 5).select("vec_id", "qn").collect()
    )
    by_cell = dict(cq_sorted)
    lut_rows = []
    for qid, qn in qrows:
        dists = sorted(
            (
                sum((qn[i] - cq[i]) ** 2 for i in range(64)),
                cell_id,
            )
            for cell_id, cq in cq_sorted
        )
        for d, cell_id in dists[:IVFPQ_PROBE]:
            cq = by_cell[cell_id]
            rq = [qn[i] - cq[i] for i in range(64)]
            tables = [
                [
                    sum(
                        (rq[s * PQI_SUB_D + j] - books[s][c][j]) ** 2
                        for j in range(PQI_SUB_D)
                    )
                    for c in range(PQ_K)
                ]
                for s in range(PQ_M)
            ]
            lut_rows.append((qid, cell_id, tables))
    luts = spark.createDataFrame(
        lut_rows, "query_id bigint, cell_id int, lut array<array<bigint>>"
    )
    adc = None
    for s in range(PQ_M):
        term = F.element_at(F.element_at("lut", s + 1), F.col("code")[s] + 1)
        adc = term if adc is None else adc + term
    scored = (
        codes.join(F.broadcast(luts), "cell_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            adc.cast("bigint").alias("adc_d2"),
        )
    )
    SALT_BUCKETS = 32
    local_w = Window.partitionBy("query_id", "salt").orderBy(
        F.col("adc_d2").asc(), F.col("neighbor_id")
    )
    final_w = Window.partitionBy("query_id").orderBy(
        F.col("adc_d2").asc(), F.col("neighbor_id")
    )
    cand = (
        scored.withColumn(
            "salt", F.pmod(F.xxhash64("neighbor_id"), F.lit(SALT_BUCKETS)).cast("int")
        )
        .withColumn("local_rank", F.row_number().over(local_w))
        .filter(F.col("local_rank") <= PQ_RERANK)
        .withColumn("adc_rank", F.row_number().over(final_w))
        .filter(F.col("adc_rank") <= PQ_RERANK)
    )
    nbr = q.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("qv0").alias("n_qv0"),
        F.col("nv").alias("n_nv"),
    )
    qdf = q.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("qv0").alias("q_qv0"),
        F.col("nv").alias("q_nv"),
    )
    pair_dot = F.aggregate(
        F.zip_with("q_qv0", "n_qv0", lambda a, b: a * b),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    sim = pair_dot.cast("double") / (
        F.sqrt(F.col("q_nv").cast("double")) * F.sqrt(F.col("n_nv").cast("double"))
    )
    rerank_w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        cand.join(nbr, "neighbor_id")
        .join(F.broadcast(qdf), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            (r6(sim) + F.lit(0.0)).alias("cosine"),
        )
        .withColumn("rank", F.row_number().over(rerank_w).cast("bigint"))
        .filter(F.col("rank") <= 10)
    )


@register(
    "q56_ann_ivfpq",
    oracle=_q56_oracle(),
    doc="IVF-PQ ANN: fixed-point coarse cells + integer residual codebooks (full oracle)",
    tags=("similarity", "ann", "ivf", "pq", "iterative"),
)
def q56_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ combined ANN — the full FAISS-IVFPQ serving shape, built
    from the engine's two halves: the coarse quantizer (the q55
    fixed-point Lloyd over the normalized grid) prunes WHICH vectors
    are scored (only IVFPQ_PROBE of IVFPQ_CELLS cells per query), and
    PQ shrinks WHAT is scored (8-byte RESIDUAL codes — qn minus its
    quantized cell centroid, exact integers; residuals have ~cells×
    less variance than raw vectors, so the same 8 bytes quantize
    finer).

    FULL VALUE-HASH ORACLE since round 11 (rows-only through r10 as a
    float-numpy fit): coarse training, residuals, residual codebooks,
    the per-(query, probed-cell) integer LUTs, the ADC sums, the
    candidate cut and the IVF_Q-exact re-rank are all exact integers —
    the DuckDB chain (_q56_oracle) reproduces every stage bit-for-bit.
    Recall@10 vs exact q50 stays pytest-gated.

    Plan shape, all stages scale-safe: train-on-sample driver-side
    (exact int64 numpy); assignment/residuals/codes are narrow JVM
    literal-fold expressions in the scan stage (no shuffle, no row
    explode); the ADC scan is a broadcast equi-join of codes to
    per-(query, probed-cell) LUT rows on cell_id; salted two-phase
    top-K; only RERANK×queries rows re-touch the raw grid."""
    q, cq_sorted, books = _q56_artifacts(spark, sf_dir)

    # code store as a per-session artifact (see qx240): assignment +
    # residual + encode run once, repeats serve from the checkpoint
    codes = artifact(
        spark,
        "q56-codes",
        sf_dir,
        lambda: ivfpq_int_encode(
            q.select("vec_id", "qn"), cq_sorted, books
        ).localCheckpoint(eager=True),
    )
    return pqi_ivf_search(spark, codes, q, cq_sorted, books)
