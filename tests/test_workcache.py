"""Session workcache hygiene: store workdirs are memoized per (tag,
key) with an explicit eager release, and the trained-artifact store is
bounded, least-recently-used, unpersists on eviction and never caches a
failed build, so synthetic-corpus test loops can't pin checkpoint disk
for the session lifetime."""

from __future__ import annotations

import os
from collections import OrderedDict

import pytest

from tests.conftest import SF_SMOKE


def test_session_workdir_memoizes_and_releases(tmp_path):
    from bqfetch_spark import workcache

    calls = {"n": 0}

    def build(work):
        calls["n"] += 1
        with open(os.path.join(work, "data.txt"), "w") as fh:
            fh.write("x")

    w1 = workcache.session_workdir("testtag", "k1", build)
    w2 = workcache.session_workdir("testtag", "k1", build)
    assert w1 == w2 and calls["n"] == 1  # memo hit: no rebuild
    assert os.path.exists(os.path.join(w1, "data.txt"))

    # eager release: dir gone NOW, memo forgotten, next call rebuilds
    assert workcache.release("testtag", "k1") is True
    assert not os.path.exists(w1)
    assert workcache.release("testtag", "k1") is False  # idempotent
    w3 = workcache.session_workdir("testtag", "k1", build)
    assert calls["n"] == 2 and os.path.exists(w3)
    workcache.release("testtag", "k1")


def test_failed_build_is_not_cached(tmp_path):
    from bqfetch_spark import workcache

    calls = {"n": 0}

    def bad_build(work):
        calls["n"] += 1
        raise RuntimeError("transient")

    with pytest.raises(RuntimeError):
        workcache.session_workdir("testtag_bad", "k", bad_build)
    # the failure was rolled back, not poisoned: a retry builds again
    def good_build(work):
        calls["n"] += 1

    workcache.session_workdir("testtag_bad", "k", good_build)
    assert calls["n"] == 2
    workcache.release("testtag_bad", "k")


def test_overwrite_workdir_stable_and_cleared():
    """overwrite_workdir (VERDICT r12 #3): same dir every call, prior
    contents cleared — repeats redo the build into bounded scratch."""
    from bqfetch_spark import workcache

    w1 = workcache.overwrite_workdir("testow", "k")
    with open(os.path.join(w1, "old.txt"), "w") as fh:
        fh.write("x")
    os.makedirs(os.path.join(w1, "subdir"))
    w2 = workcache.overwrite_workdir("testow", "k")
    assert w2 == w1
    assert os.listdir(w2) == []  # cleared, not accumulated
    # distinct keys get distinct dirs
    w3 = workcache.overwrite_workdir("testow", "k2")
    assert w3 != w1


def test_scratch_dir_count_bounded_across_repeat_queries(spark):
    """Multi-query-session bound (VERDICT r12 #3): repeated invocations
    of store-building registry queries must not create NEW scratch
    dirs — the first run owns one dir per (tag, sf); later runs rebuild
    in place (overwrite_workdir) or serve the memo (session_workdir)."""
    import glob
    import tempfile

    from bqfetch_spark.registry import all_queries

    qs = all_queries()
    # one overwrite_workdir op (lakehouse write subject) + one
    # session_workdir op (memoized streaming store)
    names = ["q39_compact_small_files", "qx281_streaming_waterfill"]

    def bqfs_dirs() -> set:
        return set(glob.glob(os.path.join(tempfile.gettempdir(), "bqfs_*")))

    for n in names:
        qs[n].fn(spark, SF_SMOKE).collect()
    baseline = bqfs_dirs()
    for _ in range(2):
        for n in names:
            qs[n].fn(spark, SF_SMOKE).collect()
        assert bqfs_dirs() == baseline  # no growth, nothing deleted early


def test_release_covers_overwrite_workdirs():
    from bqfetch_spark import workcache

    w = workcache.overwrite_workdir("testowrel", "k")
    assert workcache.release("testowrel", "k") is True
    assert not os.path.exists(w)
    # next call builds a fresh dir (the memo was forgotten)
    w2 = workcache.overwrite_workdir("testowrel", "k")
    assert os.path.exists(w2)
    workcache.release("testowrel", "k")


@pytest.fixture
def store(monkeypatch):
    """The artifact store, emptied and bounded at 3 entries for one
    test, so the test neither evicts nor sees the session's artifacts."""
    from bqfetch_spark import workcache

    monkeypatch.setattr(workcache, "_ARTIFACT_MEMO", OrderedDict())
    monkeypatch.setattr(workcache, "ARTIFACT_SLOTS", 3)
    return workcache


def test_artifact_store_evicts_the_least_recently_used(spark, store):
    built = []

    def build(k):
        return lambda: built.append(k) or k

    for k in "abc":
        store.artifact(spark, "t_lru", k, build(k))
    assert store.artifact(spark, "t_lru", "a", build("a")) == "a"  # hit refreshes a
    store.artifact(spark, "t_lru", "d", build("d"))  # over the bound: evicts b
    assert built == ["a", "b", "c", "d"]
    for k in "acd":
        store.artifact(spark, "t_lru", k, build(k))
    assert built == ["a", "b", "c", "d"]  # all three still served
    store.artifact(spark, "t_lru", "b", build("b"))
    assert built == ["a", "b", "c", "d", "b"]  # b was gone: rebuilt
    assert store.LOOKUPS["t_lru", "hit"] == 4
    assert store.LOOKUPS["t_lru", "miss"] == 5


def test_evicted_packed_checkpoint_is_unpersisted(spark, store):
    ckpt = spark.range(5).localCheckpoint(eager=True)
    released = {"n": 0}
    real_unpersist = ckpt.unpersist

    def spy_unpersist(*a, **kw):
        released["n"] += 1
        return real_unpersist(*a, **kw)

    ckpt.unpersist = spy_unpersist
    store.artifact(spark, "t_evict", "frame", lambda: (ckpt, [1, 2]))
    for i in range(store.ARTIFACT_SLOTS):
        assert released["n"] == 0
        store.artifact(spark, "t_evict", i, lambda: i)
    assert released["n"] == 1


def test_evicted_checkpoint_frees_its_blocks(spark, store):
    """Evicting a checkpointed frame releases its checkpointed RDD, which
    ``DataFrame.unpersist()`` alone leaves persisted."""
    persisted = spark.sparkContext._jsc.getPersistentRDDs
    ckpt = store.artifact(
        spark, "t_free", "frame", lambda: spark.range(100).localCheckpoint(eager=True)
    )
    rdd_id = ckpt._jdf.logicalPlan().rdd().id()
    assert rdd_id in persisted()
    held = persisted().size()
    for i in range(store.ARTIFACT_SLOTS):
        store.artifact(spark, "t_free", i, lambda: i)
    assert rdd_id not in persisted()
    assert persisted().size() < held


def test_failed_artifact_build_is_not_cached(spark, store):
    calls = {"n": 0}

    def bad_build():
        calls["n"] += 1
        raise RuntimeError("transient")

    with pytest.raises(RuntimeError):
        store.artifact(spark, "t_bad", "k", bad_build)
    with pytest.raises(RuntimeError):  # not poisoned: a retry builds again
        store.artifact(spark, "t_bad", "k", bad_build)
    assert calls["n"] == 2
    assert store.artifact(spark, "t_bad", "k", lambda: "ok") == "ok"
    assert store.artifact(spark, "t_bad", "k", bad_build) == "ok"
    assert calls["n"] == 2


def test_rebuilt_artifacts_give_the_same_answer(spark, store):
    """q55's checkpointed corpus and k-means state, evicted and built
    again, give a result with the same hash."""
    import hashlib

    from bqfetch_spark.registry import all_queries
    from tests.conftest import frame_canon

    q55 = all_queries()["q55_ann_ivf_kmeans"]

    def result_hash():
        canon = frame_canon(q55.fn(spark, SF_SMOKE).toPandas())
        return hashlib.sha256(repr(canon).encode()).hexdigest()

    before = result_hash()
    misses = store.LOOKUPS["kmeans", "miss"]
    for i in range(store.ARTIFACT_SLOTS):
        store.artifact(spark, "t_flood", i, lambda: None)
    assert result_hash() == before
    assert store.LOOKUPS["kmeans", "miss"] == misses + 1  # rebuilt, not served


# The queries the bench once listed by hand as memo-backed, plus the
# PCA family that the hand-kept list missed. Two listed ones never reach
# the store, so they are not here: qx139 takes q51's exact all-pairs
# path on every fixture (each holds under NEARDUP_MAX_VECTORS vectors),
# and qx272 audits q53, whose seeded cells train nothing.
STORE_BACKED = (
    "q55_ann_ivf_kmeans",
    "q56_ann_ivfpq",
    "q57_streaming_ann_index",
    "q69_embedding_neardup_ivf",
    "qx191_embedding_clusters_scale",
    "qx240_ann_pq",
    "qx242_ann_drift_retrain",
    "qx287_ann_shard_merge",
    "qx192_embedding_covariance",
    "qx193_embedding_pca",
    "qx208_embedding_whitening",
)


def test_memo_backed_queries_look_up_the_store(spark):
    """bench.py derives its memo-backed set from store lookups; building
    each of these queries must look the store up at least once."""
    from bqfetch_spark import workcache
    from bqfetch_spark.registry import all_queries

    qs = all_queries()
    missed = []
    for name in STORE_BACKED:
        before = sum(workcache.LOOKUPS.values())
        qs[name].fn(spark, SF_SMOKE)
        if sum(workcache.LOOKUPS.values()) == before:
            missed.append(name)
    assert missed == []
