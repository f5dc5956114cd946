"""ANN recall gates: the approximate indexes (seeded-cell IVF q53,
kmeans-cell IVF q55) must keep useful recall@10 against the exact
brute-force top-k (q50) — the check an exact SQL oracle can't express."""

from __future__ import annotations

from bqfetch_spark.registry import all_queries
from tests.conftest import SF_SMOKE


def _topk(spark, name):
    rows = all_queries()[name].fn(spark, SF_SMOKE).collect()
    by_q: dict[int, set[int]] = {}
    for r in rows:
        by_q.setdefault(r.query_id, set()).add(r.neighbor_id)
    return by_q


def _mean_recall(exact, approx):
    recs = [
        len(exact[q] & approx.get(q, set())) / len(exact[q]) for q in exact
    ]
    return sum(recs) / len(recs)


def test_ivf_recall_vs_bruteforce(spark):
    exact = _topk(spark, "q50_cosine_topk")
    assert len(exact) == 5
    # measured 0.90 (q53) / 0.74 (q55) at sf0.001; thresholds leave
    # margin for fixture regeneration, not for a broken index
    assert _mean_recall(exact, _topk(spark, "q53_ann_ivf")) >= 0.6
    assert _mean_recall(exact, _topk(spark, "q55_ann_ivf_kmeans")) >= 0.5
    # combined IVF-PQ (residual codes, probe 3/8 cells): measured 0.78
    assert _mean_recall(exact, _topk(spark, "q56_ann_ivfpq")) >= 0.6
    # incrementally-maintained IVF-PQ store (artifacts trained on the
    # 60% build slice only) must stay useful over the full corpus
    assert _mean_recall(exact, _topk(spark, "q57_streaming_ann_index")) >= 0.5


def test_incremental_ann_index_waves_equal_one_shot(spark, tmp_path):
    """Frozen artifacts make the index insert-order-invariant: codes
    appended wave-by-wave must be BIT-IDENTICAL to encoding the same
    corpus in one shot against the same artifacts — the additivity
    stance of the rollup store, for vectors. This equality is what
    lets q57 carry the one-shot DuckDB oracle (_q57_oracle). Also pins
    that the store covers every vector exactly once after the streamed
    run."""
    from pyspark.sql import functions as F

    from bqfetch_spark.operators.pq import ivfpq_int_encode, pq_frame_and_sample
    from bqfetch_spark.streaming.ann_index import (
        load_int_index,
        run_incremental_ann_index,
    )

    work = str(tmp_path / "annidx")
    res = run_incremental_ann_index(spark, SF_SMOKE, work)
    assert res.count() == 50  # 5 queries × top-10

    q, _ = pq_frame_and_sample(spark, SF_SMOKE)
    store = spark.read.parquet(f"{work}/index/codes")
    n_vecs = q.count()
    assert store.count() == n_vecs
    assert store.select("vec_id").distinct().count() == n_vecs

    cq_sorted, books = load_int_index(f"{work}/index")
    one_shot = ivfpq_int_encode(q.select("vec_id", "qn"), cq_sorted, books)
    joined = store.alias("s").join(one_shot.alias("o"), "vec_id")
    mism = joined.filter(
        (F.col("s.cell_id") != F.col("o.cell_id"))
        | (F.col("s.code") != F.col("o.code"))
    ).count()
    assert mism == 0


def test_kmeans_cells_are_balanced(spark):
    """The point of trained centroids: no cell hoards the corpus, so a
    2-of-8 probe scans a bounded fraction. Seeded cells (q53) give no
    such bound."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector
    from pyspark.sql import functions as F

    from bqfetch_spark.catalog import load_catalog

    emb = (
        load_catalog(spark, SF_SMOKE)
        .table("embeddings")
        .select(array_to_vector(F.col("embedding").cast("array<double>")).alias("features"))
    )
    model = KMeans(k=8, seed=42, maxIter=20, predictionCol="cell_id").fit(emb)
    sizes = [
        r["count"]
        for r in model.transform(emb).groupBy("cell_id").count().collect()
    ]
    total = sum(sizes)
    assert len(sizes) == 8
    assert max(sizes) / total < 0.5  # no cell holds a majority


def test_brp_lsh_set_based_matches_per_query_path(spark):
    """q54's single-plan (table, bucket) equi-join must return the
    same neighbor sets as MLlib's per-query approxNearestNeighbors
    loop (same model, same candidate definition)."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector
    from pyspark.sql import functions as F

    from bqfetch_spark.catalog import load_catalog
    from bqfetch_spark.operators.temporal import q54_brp_lsh_neighbors

    sf = "/root/testdata/sf0.001"
    got = {}
    for r in q54_brp_lsh_neighbors(spark, sf).collect():
        got.setdefault(r.query_id, set()).add(r.neighbor_id)

    emb = load_catalog(spark, sf).table("embeddings").select(
        "vec_id",
        array_to_vector(F.col("embedding").cast("array<double>")).alias("features"),
    )
    lsh = BucketedRandomProjectionLSH(
        inputCol="features", outputCol="hashes", bucketLength=2.0, numHashTables=4, seed=42
    )
    model = lsh.fit(emb)
    hashed = model.transform(emb)
    for row in hashed.filter(F.col("vec_id") < 5).collect():
        nn = (
            model.approxNearestNeighbors(hashed, row.features, 11)
            .filter(F.col("vec_id") != row.vec_id)
            .limit(10)
        )
        expected = {r.vec_id for r in nn.collect()}
        assert got[row.vec_id] == expected, (row.vec_id, got[row.vec_id], expected)


def test_ivf_neardup_recall_vs_exact(spark):
    """q69's bucketed candidates must recover >=90% of q51's exact
    near-dup pairs (sf0.01: 271 exact pairs)."""
    from bqfetch_spark.operators.similarity import (
        q51_embedding_neardup,
        q69_embedding_neardup_ivf,
    )

    sf = "/root/testdata/sf0.01"
    exact = {(r.vec_a, r.vec_b) for r in q51_embedding_neardup(spark, sf).collect()}
    approx = {(r.vec_a, r.vec_b) for r in q69_embedding_neardup_ivf(spark, sf).collect()}
    assert approx <= exact  # exact re-check: no false positives
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.9, recall


def test_q51_allpairs_guard_points_at_ivf(spark, monkeypatch):
    """The exact all-pairs baseline must refuse inputs past its vector
    cap (O(n²) pairs is a scale-killer by construction) and point the
    caller at the bucketed q69 replacement. The probe is a bounded
    limit-scan, so the guard stays cheap on any table size."""
    import pytest

    import bqfetch_spark.operators.similarity as sim

    monkeypatch.setattr(sim, "NEARDUP_MAX_VECTORS", 10)
    with pytest.raises(ValueError, match="q69_embedding_neardup_ivf"):
        all_queries()["q51_embedding_neardup"].fn(spark, SF_SMOKE)


def test_pq_recall_vs_bruteforce(spark):
    """PQ-compressed ANN (qx240): normalized-vector codebooks + ADC scan
    + exact re-rank must keep recall@10 vs the exact baseline.
    Measured 0.92 at sf0.001 (K=32, rerank 100); the gate leaves
    margin for fixture regeneration, not for a broken index."""
    exact = _topk(spark, "q50_cosine_topk")
    pq = _topk(spark, "qx240_ann_pq")
    assert _mean_recall(exact, pq) >= 0.8


def test_append_wave_retry_is_idempotent(spark, tmp_path):
    """A foreachBatch RETRY of the same wave (same batch_id) must leave
    the code store unchanged — dynamic overwrite of the wave's own
    ingest_batch partitions — never a duplicate set of codes a top-k
    search would surface twice (round-6 fix)."""
    from pyspark.sql import functions as F

    from bqfetch_spark.catalog import load_catalog
    from bqfetch_spark.functions.vectors import as_double
    from bqfetch_spark.operators.pq import unit_normalized
    from bqfetch_spark.streaming.ann_index import append_wave, build_index

    emb_n = unit_normalized(
        load_catalog(spark, SF_SMOKE)
        .table("embeddings")
        .select("vec_id", as_double(F.col("embedding")).alias("v"))
    ).localCheckpoint(eager=True)
    dim = emb_n.select(F.size("v")).first()[0]
    idx = str(tmp_path / "idx")
    build_index(spark, emb_n.filter(F.col("vec_id") % 2 == 0), dim, idx)

    wave = emb_n.filter(F.col("vec_id") % 2 == 1)
    n_wave = wave.count()
    append_wave(spark, wave, idx, batch_id=3)
    store = spark.read.parquet(f"{idx}/codes")
    assert store.count() == n_wave
    # simulated crash + re-run of the SAME micro-batch
    append_wave(spark, wave, idx, batch_id=3)
    store = spark.read.parquet(f"{idx}/codes")
    assert store.count() == n_wave
    assert store.select("vec_id").distinct().count() == n_wave


def test_sq8_recall_vs_exact_cosine(spark):
    """SQ8's integer ranking must track the exact cosine ranking: at
    64 dims and 127 quantization levels recall@10 against q50's exact
    top-10 should be near-perfect (deterministic at this fixture)."""
    from tests.conftest import SF_CORRECT

    from bqfetch_spark.operators.similarity import q50_cosine_topk, q101_ann_sq8

    exact = {
        (r.query_id, r.neighbor_id) for r in q50_cosine_topk(spark, SF_CORRECT).collect()
    }
    sq8 = {
        (r.query_id, r.neighbor_id) for r in q101_ann_sq8(spark, SF_CORRECT).collect()
    }
    recall = len(exact & sq8) / len(exact)
    assert recall >= 0.9, recall


def test_qx191_cluster_agreement_vs_exact(spark):
    """qx139's scale path (qx191: IVF-bucketed pairs through the same
    clustering tail) must CO-CLUSTER >=90% of the pairs the exact path
    co-clusters — the pairwise Rand-style agreement that matches q69's
    pair-recall gate (labels are hash-min, so only co-membership is
    comparable; strict member-set identity would count every member of
    a split cluster as a miss and over-penalize one dropped edge).
    Zero false positives in q69 means the scale path can only split
    exact clusters, never invent merges across unrelated vectors —
    pinned by checking scale clusters of size>1 stay within one exact
    cluster. Measured at sf0.01."""
    from itertools import combinations

    sf = "/root/testdata/sf0.01"
    qs = all_queries()

    def label_and_clusters(name):
        rows = qs[name].fn(spark, sf).collect()
        label = {r.vec_id: r.cluster_id for r in rows}
        by_cluster: dict[int, set[int]] = {}
        for r in rows:
            by_cluster.setdefault(r.cluster_id, set()).add(r.vec_id)
        return label, by_cluster

    exact_label, exact_clusters = label_and_clusters("qx139_embedding_clusters")
    scale_label, scale_clusters = label_and_clusters("qx191_embedding_clusters_scale")
    assert set(exact_label) == set(scale_label)  # total partition in both

    co_pairs = [
        (a, b)
        for ms in exact_clusters.values()
        if len(ms) > 1
        for a, b in combinations(sorted(ms), 2)
    ]
    assert co_pairs  # fixture plants near-dups; empty would be vacuous
    kept = sum(1 for a, b in co_pairs if scale_label[a] == scale_label[b])
    assert kept / len(co_pairs) >= 0.9, kept / len(co_pairs)

    # no invented merges: every multi-member scale cluster maps into
    # exactly one exact cluster
    for ms in scale_clusters.values():
        if len(ms) > 1:
            assert len({exact_label[v] for v in ms}) == 1


def test_qx139_degrades_to_ivf_above_cap(spark, monkeypatch):
    """Round-7 change: above NEARDUP_MAX_VECTORS qx139 must SWITCH to
    the bucketed q69 pair generator instead of inheriting q51's
    refusal — degrade gracefully, never raise."""
    import bqfetch_spark.operators.similarity as sim

    monkeypatch.setattr(sim, "NEARDUP_MAX_VECTORS", 10)
    out = sim.qx139_embedding_clusters(spark, SF_SMOKE)
    n = out.count()
    assert n > 0
    # still a total partition of the vector set
    assert out.select("vec_id").distinct().count() == n


def test_qx193_pca_matches_numpy(spark):
    """The distributed PCA (exact-decimal sufficient stats → driver
    eigh → broadcast JVM projection) must agree with numpy PCA run
    directly on the collected fixture: per-component projections equal
    up to sign (aligned by correlation) within 1e-4, component
    variances non-increasing, and the top-PCA_K variance sum below the
    total input variance."""
    import numpy as np

    from pyspark.sql import functions as F

    from tests.conftest import SF_CORRECT

    from bqfetch_spark.catalog import load_catalog
    from bqfetch_spark.operators.similarity import PCA_K, qx193_embedding_pca

    out = qx193_embedding_pca(spark, SF_CORRECT).collect()
    got = {r.vec_id: [getattr(r, f"pc{k+1}") for k in range(PCA_K)] for r in out}

    emb = load_catalog(spark, SF_CORRECT).table("embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    ).collect()
    ids = [r.vec_id for r in emb]
    X = np.array([r.v for r in emb])
    Xc = X - X.mean(axis=0)
    evals, evecs = np.linalg.eigh(np.cov(X.T, bias=True))
    W = evecs[:, np.argsort(evals)[::-1][:PCA_K]]
    ref = Xc @ W  # (n, k), sign-ambiguous per column

    G = np.array([got[i] for i in ids])
    for k in range(PCA_K):
        sgn = 1.0 if float(np.dot(G[:, k], ref[:, k])) >= 0 else -1.0
        assert np.allclose(G[:, k], sgn * ref[:, k], atol=1e-4), f"pc{k+1}"

    # variance ordering and energy bound
    var = G.var(axis=0)
    assert all(var[k] >= var[k + 1] - 1e-9 for k in range(PCA_K - 1))
    assert var.sum() <= Xc.var(axis=0).sum() + 1e-6


def test_qx194_mmr_diversifies_topk(spark):
    """MMR must (a) open with the pure-relevance top-1, (b) pick
    MMR_K distinct candidates per query, and (c) reduce redundancy IN
    AGGREGATE: per query, the MEAN pairwise cosine among MMR picks
    must not exceed the plain top-k's, with at least one query
    strictly improved (the fixture plants near-dup clusters, so plain
    top-k is redundant for someone). Worst-case pairwise is NOT
    asserted — greedy MMR optimizes stepwise, not the global max
    (observed 0.294 vs 0.289 on query 3)."""
    import numpy as np

    from bqfetch_spark.catalog import load_catalog
    from bqfetch_spark.operators.similarity import MMR_K, qx194_mmr_rerank
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.01"
    mmr = {}
    for r in qx194_mmr_rerank(spark, sf).collect():
        mmr.setdefault(r.query_id, []).append((r.mmr_rank, r.neighbor_id))
    topk = _topk_at(spark, sf, "q50_cosine_topk")

    emb = {
        r.vec_id: np.array(r.v)
        for r in load_catalog(spark, sf)
        .table("embeddings")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
        .collect()
    }

    def meanpair(ids):
        ids = list(ids)
        sims = []
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                a, b = emb[ids[i]], emb[ids[j]]
                sims.append(float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b))))
        return sum(sims) / len(sims)

    improved = 0
    for qid, picks in mmr.items():
        picks.sort()
        ids = [nid for _, nid in picks]
        assert len(set(ids)) == MMR_K
        # (a): rank-1 pick is the most relevant candidate
        assert ids[0] == sorted(topk[qid])[0][1]
        m, t = meanpair(ids), meanpair([nid for _, nid in topk[qid]])
        assert m <= t + 1e-9, (qid, m, t)
        if m < t - 1e-6:
            improved += 1
    assert improved >= 1


def _topk_at(spark, sf, name):
    """(rank, neighbor_id) lists per query at an explicit sf."""
    rows = all_queries()[name].fn(spark, sf).collect()
    by_q: dict[int, list] = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append((r.rank, r.neighbor_id))
    for v in by_q.values():
        v.sort()
    return by_q


def test_qx199_fusion_uses_both_legs(spark):
    """RRF's reason to exist: the fused top-10 must not simply equal
    either leg's top-10 — across the 5 queries, at least one fused
    pick must be absent from the pure-vector top-10 and at least one
    absent from a pure-lexical top-10 would imply the vector leg
    mattered; we assert the fused set differs from the vector leg's
    top-10 for >=1 query and overlaps it for >=1 query (fusion blends,
    not replaces)."""
    from bqfetch_spark.registry import all_queries

    sf = "/root/testdata/sf0.01"
    fused = {}
    for r in all_queries()["qx199_hybrid_retrieval_rrf"].fn(spark, sf).collect():
        fused.setdefault(r.query_id, set()).add(r.doc_id)
    vec = {}
    for r in all_queries()["q50_cosine_topk"].fn(spark, sf).collect():
        vec.setdefault(r.query_id, set()).add(r.neighbor_id)
    assert set(fused) == set(vec)
    assert all(len(v) == 10 for v in fused.values())
    assert any(fused[q] != vec[q] for q in fused)  # lexical leg moved the cut
    assert any(fused[q] & vec[q] for q in fused)  # vector leg still present


def test_qx208_whitening_identity_covariance(spark):
    """The operator's entire point: the covariance of the whitened
    vectors must be ~identity (diagonal within eps-tolerance of 1,
    off-diagonals ~0), and the transform must be the ZCA one — closest
    to identity, i.e. NOT a rotation into PC axes: whitened vectors
    must correlate positively with their originals."""
    import numpy as np

    from pyspark.sql import functions as F

    from bqfetch_spark.catalog import load_catalog
    from bqfetch_spark.operators.similarity import qx208_embedding_whitening
    from tests.conftest import SF_CORRECT

    out = qx208_embedding_whitening(spark, SF_CORRECT).collect()
    W = np.array([r.whitened for r in out])
    cov = np.cov(W.T, bias=True)
    d = np.diag(cov)
    assert np.all(np.abs(d - 1.0) < 0.05), (d.min(), d.max())
    off = cov - np.diag(d)
    assert np.max(np.abs(off)) < 0.05

    ids = [r.vec_id for r in out]
    X = {
        r.vec_id: np.array(r.v)
        for r in load_catalog(spark, SF_CORRECT)
        .table("embeddings")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
        .collect()
    }
    Xm = np.array([X[i] for i in ids])
    Xc = Xm - Xm.mean(axis=0)
    # ZCA (vs PCA rotation): per-dimension correlation with the input
    # stays positive — the whitener is the one nearest the identity
    corr = [
        float(np.corrcoef(Xc[:, k], W[:, k])[0, 1]) for k in range(Xc.shape[1])
    ]
    assert min(corr) > 0.0, min(corr)


def test_jl_projection_concentration(spark, monkeypatch):
    """qx218: over the FULL corpus the norm-preservation ratio must
    concentrate around 1 (JL property) — mean within 10%, and no
    vector's norm collapses to (near) zero."""
    import bqfetch_spark.operators.similarity as sim
    from tests.conftest import SF_CORRECT

    monkeypatch.setattr(sim, "JL_SAMPLE", 1 << 60)
    rows = sim.qx218_jl_projection(spark, SF_CORRECT).collect()
    ratios = [r.jl_ratio for r in rows]
    assert len(ratios) >= 400
    mean = sum(ratios) / len(ratios)
    assert 0.9 < mean < 1.1
    assert min(ratios) > 0.05  # signed projection never annihilates a vector


def test_frechet_matches_numpy(spark):
    """qx219: the in-plan diagonal-covariance Fréchet distances must
    match an independent numpy spelling (population moments over the
    raw doubles) — pins the fixed-point moment algebra AND the
    zip_with distance folds, and checks metric sanity (symmetric by
    construction, non-negative, strictly upper-triangular output)."""
    import numpy as np
    from pyspark.sql import functions as F

    from bqfetch_spark.catalog import load_catalog
    from bqfetch_spark.operators.similarity import qx219_embedding_frechet
    from tests.conftest import SF_CORRECT

    rows = qx219_embedding_frechet(spark, SF_CORRECT).collect()
    assert len(rows) == 45  # C(10,2) label pairs, a < b only
    assert all(r.fid2 >= 0.0 for r in rows)

    by_label: dict[int, list] = {}
    for r in (
        load_catalog(spark, SF_CORRECT)
        .table("embeddings")
        .select("label", F.col("embedding").cast("array<double>").alias("v"))
        .collect()
    ):
        by_label.setdefault(r.label, []).append(r.v)
    mom = {
        lab: (np.mean(np.array(vs), axis=0), np.var(np.array(vs), axis=0))
        for lab, vs in by_label.items()
    }
    for r in rows:
        mu_a, va = mom[r.label_a]
        mu_b, vb = mom[r.label_b]
        want = float(
            np.sum((mu_a - mu_b) ** 2)
            + np.sum(va + vb - 2.0 * np.sqrt(np.maximum(va * vb, 0.0)))
        )
        assert abs(r.fid2 - want) < 1e-3, (r.label_a, r.label_b, r.fid2, want)


def test_drift_retrain_recovers_recall(spark, tmp_path):
    """qx242's promise, measured: on the planted drifted workload the
    FROZEN artifacts lose recall (the drifted cloud is denser than the
    rerank budget and the old codebooks quantize its residuals badly);
    retraining on corpus+wave recovers it. Also pins the trigger: the
    drifted wave's occupancy JSD crosses ANN_DRIFT_JSD, the
    in-distribution wave's does not."""
    import os

    import numpy as np

    from pyspark.sql import functions as F

    from bqfetch_spark.catalog import load_catalog
    from bqfetch_spark.functions.vectors import as_double
    from bqfetch_spark.operators.pq import ivfpq_search
    from bqfetch_spark.streaming.ann_index import (
        ANN_DRIFT_JSD,
        DRIFT_ID_BASE,
        _write_codes_wave,
        append_wave,
        build_index,
        cell_counts,
        drifted_wave,
        ivfpq_encode,
        load_index,
        occupancy_jsd,
        retrain_index,
        unit_normalized,
    )
    from tests.conftest import SF_CORRECT

    emb = load_catalog(spark, SF_CORRECT).table("embeddings").select(
        "vec_id", as_double(F.col("embedding")).alias("v")
    )
    emb_n = unit_normalized(emb)
    initial = emb_n.filter(F.pmod("vec_id", F.lit(5)) <= 3)
    dim = emb_n.select(F.size("v").alias("d")).first()["d"]
    idx = str(tmp_path / "index")
    cents, books = build_index(spark, initial, dim, idx)
    _write_codes_wave(
        ivfpq_encode(spark, initial, cents, books),
        os.path.join(idx, "codes"),
        None,
        overwrite_all=True,
    )

    def occupancy(codes):
        counts = cell_counts(codes, len(cents))
        return counts / counts.sum()

    baseline = occupancy(spark.read.parquet(os.path.join(idx, "codes")))

    in_dist = emb_n.filter(F.pmod("vec_id", F.lit(5)) == 4)
    drift = drifted_wave(spark, dim)
    jsd_in = occupancy_jsd(baseline, occupancy(ivfpq_encode(spark, in_dist, cents, books)))
    jsd_drift = occupancy_jsd(baseline, occupancy(ivfpq_encode(spark, drift, cents, books)))
    assert jsd_in <= ANN_DRIFT_JSD, jsd_in
    assert jsd_drift > ANN_DRIFT_JSD, jsd_drift

    append_wave(spark, drift, idx)
    full = initial.unionByName(drift)
    mat = {int(r["vec_id"]): np.array(r["v"]) for r in full.collect()}
    qids = [DRIFT_ID_BASE + i for i in range(8)]
    queries = [(q, mat[q]) for q in qids]
    exact = {}
    for q, qv in queries:
        sims = sorted(((float(np.dot(qv, v)), -i) for i, v in mat.items() if i != q), reverse=True)
        exact[q] = {-i for _, i in sims[:10]}

    def recall(cents_, books_):
        codes = spark.read.parquet(os.path.join(idx, "codes"))
        got = ivfpq_search(spark, codes, full, queries, cents_, books_).collect()
        by_q = {}
        for r in got:
            by_q.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        return float(np.mean([len(exact[q] & by_q.get(q, set())) / 10 for q in qids]))

    r_frozen = recall(*load_index(spark, idx))
    r_retrained = recall(*retrain_index(spark, full, dim, idx))
    # measured at sf0.01: 0.475 frozen vs 0.7375 retrained
    assert r_retrained >= r_frozen + 0.15, (r_frozen, r_retrained)
    assert r_retrained >= 0.65, r_retrained


def test_partial_retrain_recovers_recall(spark, tmp_path):
    """The LOCALIZED retrain path (round 11, VERDICT r10 #6) must
    recover recall on the planted drifted workload like the full
    rebuild does: the wave's hot cells (more than DRIFT_HOT_FACTOR
    times their uniform share) get DRIFT_SUBCELLS new centroids
    trained on the hot slice, only the affected vectors are
    re-encoded, and the store is swapped — and the searched recall
    over the swapped store clears a bar close to the full rebuild's."""
    import os

    import numpy as np

    from pyspark.sql import functions as F

    from bqfetch_spark.catalog import load_catalog
    from bqfetch_spark.functions.vectors import as_double
    from bqfetch_spark.operators.pq import ivfpq_search
    from bqfetch_spark.streaming.ann_index import (
        DRIFT_HOT_FACTOR,
        DRIFT_ID_BASE,
        _write_codes_wave,
        build_index,
        cell_counts,
        drifted_wave,
        ivfpq_encode,
        load_index,
        partial_retrain,
        unit_normalized,
    )
    from tests.conftest import SF_CORRECT

    emb = load_catalog(spark, SF_CORRECT).table("embeddings").select(
        "vec_id", as_double(F.col("embedding")).alias("v")
    )
    emb_n = unit_normalized(emb)
    initial = emb_n.filter(F.pmod("vec_id", F.lit(5)) <= 3)
    dim = emb_n.select(F.size("v").alias("d")).first()["d"]
    idx = str(tmp_path / "index")
    cents, books = build_index(spark, initial, dim, idx)
    _write_codes_wave(
        ivfpq_encode(spark, initial, cents, books),
        os.path.join(idx, "codes"),
        None,
        overwrite_all=True,
    )
    drift = drifted_wave(spark, dim)
    full = initial.unionByName(drift)
    mat = {int(r["vec_id"]): np.array(r["v"]) for r in full.collect()}
    qids = [DRIFT_ID_BASE + i for i in range(8)]
    queries = [(q, mat[q]) for q in qids]
    exact = {}
    for q, qv in queries:
        sims = sorted(
            ((float(np.dot(qv, v)), -i) for i, v in mat.items() if i != q),
            reverse=True,
        )
        exact[q] = {-i for _, i in sims[:10]}

    def recall(where, cents_, books_):
        codes = spark.read.parquet(os.path.join(where, "codes"))
        got = ivfpq_search(spark, codes, full, queries, cents_, books_).collect()
        by_q = {}
        for r in got:
            by_q.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        return float(np.mean([len(exact[q] & by_q.get(q, set())) / 10 for q in qids]))

    # frozen baseline measured on a COPY: wave force-appended with the
    # frozen artifacts (the no-retrain serving state), so the retrain
    # below still acts on a pristine store
    import shutil

    from bqfetch_spark.streaming.ann_index import append_wave

    idx_frozen = str(tmp_path / "index_frozen")
    shutil.copytree(idx, idx_frozen)
    append_wave(spark, drift, idx_frozen)
    r_frozen = recall(idx_frozen, cents, books)

    wave_codes = ivfpq_encode(spark, drift, cents, books).localCheckpoint(eager=True)
    occ = cell_counts(wave_codes, len(cents))
    hot = [int(c) for c in np.nonzero(occ / occ.sum() > DRIFT_HOT_FACTOR / len(cents))[0]]
    assert hot
    partial_retrain(spark, initial, drift, wave_codes, idx, hot, cents, books)
    cents2, books2 = load_index(spark, idx)
    assert len(cents2) > len(cents)  # sub-cells appended, old ids kept
    r_partial = recall(idx, cents2, books2)
    # measured at sf0.01: frozen 0.475 → partial 0.625 (full rebuild:
    # 0.7375). The gap to full is the FROZEN-CODEBOOK ceiling: books
    # trained on the original residual scale discriminate the tight
    # drift residuals coarsely — retraining them would invalidate
    # every old code and force the full re-encode the partial path
    # exists to avoid. Gates leave margin below the measured values;
    # the full-rebuild test above keeps its own unchanged bar.
    assert r_partial >= r_frozen + 0.10, (r_frozen, r_partial)
    assert r_partial >= 0.60, r_partial


def test_qx275_seeded_neardup_recall_vs_exact(spark):
    """qx275 (seeded cells) must recover a solid majority of q51's
    exact all-pairs near-dups at the same threshold — the family's
    recall stance (seeded cells trade recall for an oracle; trained
    cells, q69, trade the oracle for recall)."""
    from bqfetch_spark.operators.similarity import (
        q51_embedding_neardup,
        qx275_neardup_ivf_exact,
    )
    from tests.conftest import SF_SMOKE

    exact = {(r.vec_a, r.vec_b) for r in q51_embedding_neardup(spark, SF_SMOKE).collect()}
    got = {(r.vec_a, r.vec_b) for r in qx275_neardup_ivf_exact(spark, SF_SMOKE).collect()}
    assert got <= exact or not exact  # candidates are verified: no false positives
    if exact:
        assert len(got & exact) / len(exact) >= 0.5, (len(got & exact), len(exact))


def test_shard_merge_equals_one_shot_store(spark, tmp_path):
    """qx287's contract pinned directly: two shards encoded against the
    same frozen integer artifacts and merged by metadata (hardlinks)
    hold EXACTLY the one-shot store's code set, and an unstamped
    (crashed) merge is detectable."""
    import os

    from pyspark.sql import functions as F

    import bqfetch_spark.streaming.ann_index as ai
    from bqfetch_spark.operators.pq import ivfpq_int_encode, pq_frame_and_sample, q57_int_artifacts

    q, _ = pq_frame_and_sample(spark, SF_SMOKE)
    cq_sorted, books = q57_int_artifacts(spark, SF_SMOKE)

    stores = []
    for name, pred in (
        ("a", F.pmod("vec_id", F.lit(5)) <= 2),
        ("b", F.pmod("vec_id", F.lit(5)) >= 3),
        ("one_shot", F.lit(True)),
    ):
        store = str(tmp_path / name / "codes")
        ai._write_codes_wave(
            ivfpq_int_encode(q.filter(pred).select("vec_id", "qn"), cq_sorted, books),
            store, None, overwrite_all=True,
        )
        stores.append(store)
    sa, sb, one_shot = stores

    merged = str(tmp_path / "merged" / "codes")
    n_files = ai.merge_int_stores(merged, [sa, sb])
    assert n_files > 0
    assert ai.merged_store_ready(merged)

    def canon(path):
        df = spark.read.parquet(path).select("vec_id", "cell_id", "code")
        return sorted(tuple(r) for r in df.collect())

    assert canon(merged) == canon(one_shot)
    # shard sources stayed intact (read-only contract)
    assert canon(sa) + canon(sb) and os.path.exists(sa) and os.path.exists(sb)

    # crash semantics: a merge that died before the marker is NOT ready
    torn = str(tmp_path / "torn" / "codes")
    os.makedirs(torn)
    assert ai.merged_store_ready(torn) is False
    # and a rebuild over the partial dir converges (rmtree + fresh build)
    ai.merge_int_stores(torn, [sa, sb])
    assert ai.merged_store_ready(torn) and canon(torn) == canon(one_shot)
