#!/usr/bin/env python
"""Scale harness: does each plan's wall time grow no faster than its data?

Each check in CHECKS times one operation on the base catalog and on a
k-times bigger input (k = the factor it certifies, 10 or 100). Registry
rows run the engine's own query through a noop sink against the base
``sf_dir`` and against ``replicate(base, k, tables)``; custom rows exist
only where no registry function can carry the claim, and say why.
Timing: one untimed warm-up per side, then ROUNDS interleaved small/big
rounds. A worst big/small ratio above the bound fails the check on an
idle box and only warns when load1 at start exceeded LOAD_LIMIT;
structural assertions fail it at any load. The run writes
``SCALE_c<ncpu>.json`` at the repo root (names on the command line run
alone and update only their entries):

    SPARK_GRAFT_SF_DIR=<fixture dir> SPARK_GRAFT_CPUS=4 python scripts/scale_check.py [CHECK ...]

The 100x rows write a few GB under the temp dir and take tens of minutes
on 4 cores; the directory is removed at the end.
"""

from __future__ import annotations

import contextlib
import json
import math
import os
import shutil
import sys
import tempfile
import time
import traceback
from dataclasses import dataclass, field
from typing import Callable

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import pyarrow as pa  # noqa: E402
import pyarrow.compute as pc  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402
from pyspark.sql.window import Window  # noqa: E402

from bqfetch_spark.catalog import TABLES, load_catalog  # noqa: E402

BASE = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)
WORK = os.path.join(tempfile.gettempdir(), "bqfs_scale")
ROUNDS = 2  # timed small/big pairs per check, after the warm-up pair
LOAD_LIMIT = 1.0  # load1 above this at start turns timing misses into warnings
LOAD1 = os.getloadavg()[0]  # load1 when the run started
RANK_BUCKETS = 32  # bucket count of the forced scale-path ranks
DIM = 64  # synthetic vector width

# Replication keeps each copy disjoint: a key family is shifted by the
# same per-replica offset in every replicated table that carries it, as
# soon as one of its owning tables is replicated (so lineitem x orders
# joins within a replica, never across). Unshifted foreign keys keep
# pointing at the base rows of tables left out of the replica.
KEY_FAMILIES = (
    (("orders", "lineitem"), {"orders": "o_orderkey", "lineitem": "l_orderkey"}),
    (("customer",), {"customer": "c_custkey", "orders": "o_custkey"}),
    (("part",), {"part": "p_partkey", "lineitem": "l_partkey"}),
    (("supplier",), {"supplier": "s_suppkey", "lineitem": "l_suppkey"}),
    (("documents",), {"documents": "doc_id"}),
    (("embeddings",), {"embeddings": "vec_id"}),
    (("events",), {"events": "event_id"}),
    (("events",), {"events": "user_id"}),
)
SHARED_TABLES = ("nation", "region")  # dimensions every replica shares

_BUILT: dict = {}


def _once(key, build: Callable):
    """Build ``key`` once per process; later calls reuse the result."""
    if key not in _BUILT:
        _BUILT[key] = build()
    return _BUILT[key]


def work(name: str) -> str:
    return os.path.join(WORK, name)


def replicate(base_dir: str, k: int, tables, shared_text: bool = False) -> str:
    """A catalog-shaped directory whose ``tables`` hold k disjoint copies
    of the base rows; every other table is a link to the base file
    (``load_catalog`` loads all ten). Replica 0 is the base verbatim.
    Replica r > 0 shifts each key family by r * 10^digits(max key) and,
    unless ``shared_text``, prefixes every word of ``documents.text``
    and its ``source`` with ``r<r>_`` (``n_chars`` follows), so no word
    n-gram or source is shared across replicas. ``shared_text`` keeps
    text and source verbatim for checks whose claim needs one token
    space. Each table is one Parquet file with the base schema, in row
    groups of at most rows * k / (2 * cores) rows and at least one per
    replica, so scans still split. Built under WORK, once per (base, k,
    tables, shared_text)."""
    tables = tuple(sorted(set(tables)))
    if set(tables) & set(SHARED_TABLES) or not set(tables) <= set(TABLES):
        raise ValueError(f"cannot replicate {tables}")
    tag = "+".join(tables) + ("_shared" if shared_text else "")
    out = os.path.join(WORK, f"{os.path.basename(base_dir.rstrip('/'))}_x{k}_{tag}")
    return _once(("replica", out), lambda: _write_replica(base_dir, k, tables, shared_text, out))


def _write_replica(base_dir, k, tables, shared_text, out) -> str:
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    base = {t: pq.read_table(os.path.join(base_dir, f"{t}.parquet")) for t in tables}
    shifts = []  # (table, column, offset)
    for owners, cols in KEY_FAMILIES:
        if set(owners) & set(tables):
            carried = [(t, c) for t, c in cols.items() if t in base]
            top = max(pc.max(base[t][c]).as_py() or 0 for t, c in carried)
            shifts += [(t, c, 10 ** len(str(top))) for t, c in carried]
    for t in set(TABLES) - set(base):
        src, dst = os.path.join(base_dir, f"{t}.parquet"), os.path.join(out, f"{t}.parquet")
        try:
            os.link(src, dst)
        except OSError:
            os.symlink(os.path.abspath(src), dst)
    for t, tbl in base.items():
        group = max(1, math.ceil(tbl.num_rows * k / (2 * CPUS)))
        with pq.ParquetWriter(os.path.join(out, f"{t}.parquet"), tbl.schema) as writer:
            for r in range(k):
                copy = tbl
                for st, col, off in shifts:
                    if st == t and r:
                        i = copy.schema.get_field_index(col)
                        copy = copy.set_column(i, col, pc.add(copy[col], pa.scalar(r * off, copy[col].type)))
                if t == "documents" and r and not shared_text:
                    text = pc.replace_substring_regex(copy["text"], r"(^|\s)(\S)", rf"\1r{r}_\2")
                    for col, val in (
                        ("text", text),
                        ("source", pc.binary_join_element_wise(f"r{r}_", copy["source"], "")),
                        ("n_chars", pc.utf8_length(text).cast(copy.schema.field("n_chars").type)),
                    ):
                        copy = copy.set_column(copy.schema.get_field_index(col), col, val)
                writer.write_table(copy, row_group_size=group)
    return out


def table_rows(sf_dir: str, tables) -> int:
    return sum(pq.ParquetFile(os.path.join(sf_dir, f"{t}.parquet")).metadata.num_rows for t in tables)


@dataclass
class Sides:
    """The two timed operations of a check and the input rows each sees."""

    small: Callable[[], object]
    big: Callable[[], object]
    rows: tuple[int, int]
    reset: Callable[[], None] | None = None  # untimed, before every run
    floor_s: float = 0.0  # small-side floor for the ratio (sub-constant ops)
    after: Callable[[], dict] | None = None  # structural asserts, once
    structure: dict = field(default_factory=dict)


def measure(sides: Sides, rounds: int = ROUNDS) -> dict:
    """Untimed warm-up of each side, then ``rounds`` interleaved
    (small, big) timings: min per side and the worst per-round ratio."""

    def once(op) -> float:
        if sides.reset:
            sides.reset()
        t0 = time.perf_counter()
        op()
        return time.perf_counter() - t0

    once(sides.small)
    once(sides.big)
    runs = [(once(sides.small), once(sides.big)) for _ in range(rounds)]
    return {
        "runs_s": [[round(s, 4), round(b, 4)] for s, b in runs],
        "min_s": [round(min(s for s, _ in runs), 4), round(min(b for _, b in runs), 4)],
        "worst_ratio": round(max(b / max(s, sides.floor_s, 1e-9) for s, b in runs), 3),
    }


def linear_fit(rows, min_s) -> dict:
    """fixed + per-row cost through the two (rows, min wall) points."""
    if rows[0] == rows[1]:
        return {"fixed_s": None, "per_million_rows_s": None}
    per = (min_s[1] - min_s[0]) / (rows[1] - rows[0])
    return {"fixed_s": round(min_s[0] - per * rows[0], 3), "per_million_rows_s": round(per * 1e6, 4)}


def gate(ok: bool, msg: str, *, timing: bool = False, load1: float = 0.0) -> bool:
    """Structural failures raise at any load; a timing miss raises on an
    idle box and only warns when load1 at start exceeded LOAD_LIMIT."""
    if ok:
        return True
    if timing and load1 > LOAD_LIMIT:
        print(f"  !! TIMING WARNING (load1={load1:.1f} at start, not asserted): {msg}", flush=True)
        return False
    raise AssertionError(msg)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


@contextlib.contextmanager
def scale_path_ranks():
    """Force plans/ranks onto the bucket-exchange spelling."""
    import bqfetch_spark.plans.ranks as ranks

    old = ranks.SINGLE_SORT_BYTES, ranks.SINGLE_SORT_ROWS
    ranks.SINGLE_SORT_BYTES = ranks.SINGLE_SORT_ROWS = -1
    try:
        yield ranks
    finally:
        ranks.SINGLE_SORT_BYTES, ranks.SINGLE_SORT_ROWS = old


def scaled(op: Callable) -> Callable:
    def run():
        with scale_path_ranks():
            return op()

    return run


# --- ``verify`` hooks of registry-backed checks: (spark, base, big) -> values


def _registry_fn(name: str):
    from bqfetch_spark.registry import all_queries

    return all_queries()[name].fn


def qx264_candidates(spark, base, big) -> dict:
    """Every qx264 candidate is scored, so its output IS the verify-join input."""
    fn = _registry_fn("qx264_minhash_lsh_exact")
    n1, n2 = fn(spark, base).count(), fn(spark, big).count()
    gate(n2 / max(n1, 1) <= 200, f"qx264 verify-join input super-linear: {n1} -> {n2}")
    return {"verify_join_input": [n1, n2]}


def qx266_candidates(spark, base, big) -> dict:
    """Bucket-local candidate mass sum C(c, 2) over the (band, 15-bit key)
    histogram; fixed keys saturate, so mildly super-linear by design."""
    from bqfetch_spark.operators.llm_pipeline import SH64_BAND_BITS, SH64_BANDS, sh64_signatures

    mask = (1 << SH64_BAND_BITS) - 1

    def mass(sf: str) -> int:
        sig = sh64_signatures(load_catalog(spark, sf).table("documents"))
        keys = [
            F.struct(F.lit(b).alias("b"), F.shiftright("s", b * SH64_BAND_BITS).bitwiseAND(mask).alias("key"))
            for b in range(SH64_BANDS)
        ]
        occ = sig.select(F.explode(F.array(*keys)).alias("bk")).groupBy("bk.b", "bk.key").count()
        return int(occ.agg(F.sum(F.col("count") * (F.col("count") - 1) / 2).cast("bigint")).first()[0])

    c1, c2 = mass(base), mass(big)
    gate(c2 / max(c1, 1) <= 1000, f"qx266 candidate join degenerate: {c1} -> {c2}")
    return {"candidate_mass": [c1, c2]}


def qx278_bigram_vocab(spark, base, big) -> dict:
    """The global char-bigram table stays charset^2-bounded."""
    def vocab(sf: str) -> int:
        docs = load_catalog(spark, sf).table("documents").filter(F.length("text") >= 2)
        grams = F.expr("transform(sequence(1, length(text) - 1), i -> substring(text, i, 2))")
        return docs.select(F.explode(grams).alias("g")).agg(F.countDistinct("g")).first()[0]

    v1, v2 = vocab(base), vocab(big)
    gate(v2 < 20_000, f"bigram vocab not bounded: {v2}")
    return {"bigram_vocab": [v1, v2]}


def qx279_census(spark, base, big) -> dict:
    """The bucket census partitions the big table exactly."""
    census = sorted(_registry_fn("qx279_sort_range_planner")(spark, big).collect(), key=lambda r: r.bucket)
    covered = sum(r.n_rows for r in census)
    disjoint = all(a.max_key < b.min_key for a, b in zip(census, census[1:]))
    hot = max(r.row_frac for r in census)
    gate(covered == table_rows(big, ("lineitem",)), f"census lost rows: {covered}")
    gate(disjoint, "bucket ranges overlap")
    gate(hot < 0.25, f"hot bucket: {hot:.3f}")
    return {"covered_rows": covered, "buckets": len(census), "disjoint": disjoint, "max_row_frac": round(hot, 4)}


# --- custom checks: (spark, base, check) -> Sides


def rollup_history(spark, base, check) -> Sides:
    """q98's upsert cost is O(wave + touched days): the same wave into a
    1x- and a kx-history rollup store (history shifted by whole months,
    so day partitions grow k-fold)."""
    from bqfetch_spark.streaming.rollup import upsert_rollup

    ev = load_catalog(spark, base).table("events").select("ts", "event_type", "value")
    months = spark.range(check.factor).select(F.col("id").cast("int").alias("m"))
    history = ev.crossJoin(months).select(
        (F.col("ts") + F.make_interval(months=F.col("m"))).alias("ts"), "event_type", "value"
    )
    s1, sk = work("rollup_1x"), work("rollup_kx")
    upsert_rollup(spark, ev, s1)
    upsert_rollup(spark, history, sk)
    wave = ev.limit(2000).localCheckpoint(eager=True)
    n = ev.count()
    days = [sum(d.startswith("day=") for d in os.listdir(s)) for s in (s1, sk)]
    return Sides(
        lambda: upsert_rollup(spark, wave, s1),
        lambda: upsert_rollup(spark, wave, sk),
        (n, n * check.factor),
        structure={"day_partitions": days},
    )


def footer_planning(spark, base, check) -> Sides:
    """q99's source plans partitions from Parquet footers alone, so
    planning a k-fold file stays metadata-cheap."""
    from bqfetch_spark.sources.chunked_source import ChunkedParquetReader

    big = replicate(base, check.factor, check.tables)

    def plan(sf):
        opts = {"path": os.path.join(sf, "lineitem.parquet"), "rows_per_partition": "200000"}
        return lambda: len(ChunkedParquetReader(opts).partitions())

    parts = [plan(base)(), plan(big)()]
    return Sides(plan(base), plan(big), (table_rows(base, check.tables), table_rows(big, check.tables)),
                 floor_s=1e-3, structure={"partitions": parts})


def ks_grown_domain(spark, base, check) -> Sides:
    """qx117's two-counter cumsum over a k-fold DISTINCT value domain
    (value + user_id, which replicas shift); qx117 itself reads prices
    that replicas repeat, so its domain would not grow."""
    from bqfetch_spark.plans.ranks import with_global_cumsums
    from bqfetch_spark.session import shuffle_partitions

    def run(sf):
        ev = load_catalog(spark, sf).table("events")
        counts = (
            ev.select(
                (F.col("value") + F.col("user_id")).alias("v"),
                (F.col("event_type") < F.lit("n")).cast("bigint").alias("in_a"),
            )
            .groupBy("v")
            .agg(F.sum("in_a").alias("c_a"), F.sum(F.lit(1) - F.col("in_a")).alias("c_b"))
        )
        cum = {"c_a": "cum_a", "c_b": "cum_b"}
        return lambda: noop(with_global_cumsums(counts, ["v"], cum, shuffle_partitions(spark)))

    big = replicate(base, check.factor, check.tables)
    return Sides(run(base), run(big), (table_rows(base, check.tables), table_rows(big, check.tables)))


@contextlib.contextmanager
def session_confs(spark, confs: dict):
    """Set ``confs`` on the session for the block, then restore them."""
    saved = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def skew_join(spark, base, check) -> Sides:
    """AQE's runtime skew-join split on the kx lineitem fact where one
    key owns ~10% of the rows: the fact-dim sort-merge join must end
    with skew=true in the final plan, and cost at most the bound times a
    same-volume uniform-key join (sides: uniform, skewed). The shuffle
    starts at P = 8x the session's shuffle partitions, so the hot one is
    1 + 0.1 * P / 0.9 >= 4.6x the median from 4 cores up (at P = 4 it
    is ~1.4x, under the split factor 2); md5 payloads keep its bytes
    from compressing away."""
    from bqfetch_spark.session import shuffle_partitions

    li = load_catalog(spark, replicate(base, check.factor, check.tables)).table("lineitem")
    hot_key = li.agg(F.min("l_orderkey")).first()[0]
    pay = F.md5(F.concat_ws("|", "l_orderkey", "l_linenumber", "l_partkey", "l_quantity")).alias("pay")
    hot = F.pmod(F.xxhash64("l_orderkey"), F.lit(10)) == 0
    paths = {"uniform": work("uniform_fact"), "skewed": work("skew_fact"), "dim": work("skew_dim")}
    li.select(F.col("l_orderkey").alias("k"), pay).write.mode("overwrite").parquet(paths["uniform"])
    li.select(F.when(hot, F.lit(hot_key)).otherwise(F.col("l_orderkey")).alias("k"), pay).write.mode(
        "overwrite").parquet(paths["skewed"])
    spark.read.parquet(paths["uniform"]).select("k").distinct().select(
        "k", F.md5(F.col("k").cast("string")).alias("dpay")).write.mode("overwrite").parquet(paths["dim"])
    n = li.count()
    confs = {
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "1m",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1m",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum": str(8 * shuffle_partitions(spark)),
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }

    def join(side: str, split: bool) -> Callable:
        def run():
            with session_confs(spark, confs):
                dim = spark.read.parquet(paths["dim"])
                j = spark.read.parquet(paths[side]).join(dim, "k").groupBy().agg(
                    F.count(F.lit(1)).alias("n"), F.sum(F.length("pay") + F.length("dpay")).alias("s"))
                got = j.collect()[0]["n"]  # on j itself, so j's plan is the final one
            gate(got == n, f"{side} join returned {got} rows, expected {n}")
            if split:
                final = j._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]
                gate("skew=true" in final, "AQE skew-join split did not engage:\n" + final[:1500])

        return run

    return Sides(join("uniform", False), join("skewed", True), (n, n), structure={"fact_rows": n})


def _rank_frame(spark, n: int, hot: bool):
    """n synthetic (v, k) rows, k unique; with ``hot`` 10% share v = 0."""
    def build():
        path = work(f"rank_{n}_{'hot' if hot else 'uniform'}.parquet")
        v = F.pmod(F.xxhash64("id"), F.lit(997))
        if hot:
            v = F.when(F.col("id") % 10 == 0, F.lit(0)).otherwise(v + 1)
        spark.range(n).select(v.alias("v"), F.col("id").alias("k")).repartition(RANK_BUCKETS).write.parquet(path)
        return path

    return spark.read.parquet(_once(("rank", n, hot), build))


def _ranked(spark, df, n: int) -> Callable:
    """Rank df on the scale path and assert an exact 1..n permutation."""
    def run():
        with scale_path_ranks() as ranks:
            r = ranks.with_global_rank(df, ["v", "k"], RANK_BUCKETS, rank_col="r")
            top, total = r.agg(F.max("r"), F.sum(F.col("r").cast("decimal(38,0)"))).collect()[0]
        gate(int(top) == n and int(total) == n * (n + 1) // 2, f"rank is not a 1..{n} permutation")

    return run


def rank_scale_path(spark, base, check) -> Sides:
    """with_global_rank forced onto its bucket-exchange spelling over
    synthetic unique keys, exact at both sizes (its one corpus exchange
    is pinned by test_global_rank_single_corpus_exchange)."""
    n = 60_000
    return Sides(
        _ranked(spark, _rank_frame(spark, n, False), n),
        _ranked(spark, _rank_frame(spark, n * check.factor, False), n * check.factor),
        (n, n * check.factor),
        structure={"rank_sums": [n * (n + 1) // 2, n * check.factor * (n * check.factor + 1) // 2]},
    )


def rank_hot_key(spark, base, check) -> Sides:
    """A planted 10%-hot order value at the kx size: the sampled
    boundaries split its ties, so the bucket histogram stays bounded and
    the rank costs what a uniform one does."""
    n = 60_000 * check.factor
    skew = _rank_frame(spark, n, True)
    with scale_path_ranks() as ranks:
        hist = skew.groupBy(ranks._bucket_expr(skew, ["v", "k"], RANK_BUCKETS).alias("b")).count().collect()
    top, mean = max(r["count"] for r in hist), n / len(hist)
    gate(top <= 3 * mean, f"hot key concentrated: max bucket {top} vs mean {mean:.0f}")
    return Sides(
        _ranked(spark, _rank_frame(spark, n, False), n),
        _ranked(spark, skew, n),
        (n, n),
        structure={"buckets": len(hist), "max_over_mean": round(top / mean, 3)},
    )


def _commit_stores(spark, base, factor):
    """A 3-commit and a 300-commit store whose latest snapshots match."""
    from bqfetch_spark.operators.lakehouse import commit_snapshot, table_version

    def build():
        df = load_catalog(spark, base).table("documents").select("doc_id", "n_chars").limit(500)
        df = df.localCheckpoint(eager=True)
        stores = (work("commits_small"), work("commits_big"))
        for store, n in zip(stores, (3, 3 * factor)):
            commit_snapshot(spark, store, df)
            for _ in range(n - 1):
                commit_snapshot(spark, store, df, mode="overwrite")
            gate(table_version(store) == n, f"{store}: version {table_version(store)} != {n}")
        return df, stores

    return _once(("commits", base, factor), build)


def lakehouse_history(op: str) -> Callable:
    """A lakehouse op whose claimed cost is O(live files): timed on the
    3-commit and the 300-commit store (history, not data, grows)."""

    def check_fn(spark, base, check) -> Sides:
        from bqfetch_spark.operators.lakehouse import commit_snapshot, read_snapshot

        df, (small, big) = _commit_stores(spark, base, check.factor)
        ops = {
            "append": lambda s: commit_snapshot(spark, s, df, mode="append"),
            "read": lambda s: read_snapshot(spark, s).count(),
            "optimize": lambda s: commit_snapshot(spark, s, read_snapshot(spark, s).coalesce(1), mode="overwrite"),
        }
        n = df.count()  # live rows: the same on both sides
        structure = {"commits": [3, 3 * check.factor]}
        if op == "read":  # time travel still resolves under the deep history
            structure["time_travel_v2_rows"] = read_snapshot(spark, big, 2).count()
            gate(structure["time_travel_v2_rows"] == n, f"time travel to v2 read {structure}")
        return Sides(lambda: ops[op](small), lambda: ops[op](big), (n, n), floor_s=0.2, structure=structure)

    return check_fn


def q57_wave_history(spark, base, check) -> Sides:
    """append_int_wave (q57's serving leg) must be flat in store
    history: the same wave into a 1x- and a kx-history code store
    sharing one set of frozen artifacts."""
    from bqfetch_spark.operators.pq import pq_quantized
    from bqfetch_spark.streaming.ann_index import append_int_wave, build_int_index

    emb = pq_quantized(spark, base).select("vec_id", "qn").localCheckpoint(eager=True)
    n = emb.count()
    idx1, idxk = work("q57_1x"), work("q57_kx")
    build_int_index(spark, emb, idx1)
    shutil.copytree(idx1, idxk)  # same frozen artifacts: the contract
    append_int_wave(spark, emb, idx1)
    reps = spark.range(check.factor).select(F.col("id").alias("rep"))
    t0 = time.perf_counter()
    append_int_wave(spark, emb.crossJoin(reps).select((F.col("vec_id") + F.col("rep") * 10_000_000).alias("vec_id"), "qn"), idxk)
    bulk = time.perf_counter() - t0
    wave = emb.select((F.col("vec_id") + F.lit(990_000_000)).alias("vec_id"), "qn")
    return Sides(
        lambda: append_int_wave(spark, wave, idx1),
        lambda: append_int_wave(spark, wave, idxk),
        (n, n * check.factor),
        structure={"bulk_encode_s": round(bulk, 2)},
    )


def _synth_vectors(spark, n: int, seed: int):
    """n centred uniform DIM-vectors: pairwise cosines concentrate near 0."""
    cols = [(F.rand(seed + i) - F.lit(0.5)).cast("double") for i in range(DIM)]
    return spark.range(n).select(F.col("id").alias("vec_id"), F.array(*cols).alias("v"))


def q69_candidate_join(spark, base, check) -> Sides:
    """q69's scoring tail (the salted (cell, sub-bucket) groups, each
    scored by score_pairs, then r6, the threshold and dropDuplicates)
    under the cells-proportional-to-N policy: k-fold vectors in k-fold
    cells keep the per-cell occupancy, so scored pairs grow k-fold.
    Synthetic vectors on q69's IVF_Q grid and hash-balanced probes stand
    in for the fixture embeddings and the KMeans cells q69 trains."""
    from bqfetch_spark.operators.relational import r6
    from bqfetch_spark.operators.similarity import (
        IVF_Q, NEARDUP_IVF_PROBE, NEARDUP_SALT, NEARDUP_THRESHOLD, PAIR_SCHEMA, _ivf_side, score_pairs,
    )
    from bqfetch_spark.session import shuffle_partitions

    def score(pdf):
        probe_side = pdf["probe_side"] == 1
        return score_pairs(*_ivf_side(pdf[probe_side]), *_ivf_side(pdf[~probe_side]))

    def tail(n: int, seed: int, n_cells: int) -> Callable:
        qv = F.transform("v", lambda x: F.round(x * F.lit(float(IVF_Q))).cast("bigint")).alias("qv")
        e = _synth_vectors(spark, n, seed).select("vec_id", qv)
        nv = F.aggregate(F.zip_with("qv", "qv", lambda a, b: a * b), F.lit(0).cast("bigint"), lambda acc, x: acc + x)
        e = e.select("vec_id", "qv", nv.alias("nv")).localCheckpoint(eager=True)
        probes = [
            F.pmod(F.xxhash64("vec_id") + F.lit(j * 7919), F.lit(n_cells)).cast("int")
            for j in range(NEARDUP_IVF_PROBE)
        ]
        aset = e.select("*", F.explode(F.array(*probes)).alias("cell_id")).dropDuplicates(["vec_id", "cell_id"])
        a_rows = aset.select("*", F.pmod(F.xxhash64("vec_id"), F.lit(NEARDUP_SALT)).cast("int").alias("salt"),
                             F.lit(1).alias("probe_side"))
        b_rows = aset.select("*", F.explode(F.sequence(F.lit(0), F.lit(NEARDUP_SALT - 1))).alias("salt"),
                             F.lit(0).alias("probe_side"))
        pairs = (
            a_rows.unionByName(b_rows)
            .repartition(shuffle_partitions(spark), "cell_id", "salt")
            .groupBy("cell_id", "salt")
            .applyInPandas(score, PAIR_SCHEMA)
            .select("vec_a", "vec_b", (r6(F.col("cosine")) + F.lit(0.0)).alias("cosine"))
            .filter(F.col("cosine") >= NEARDUP_THRESHOLD)
            .dropDuplicates(["vec_a", "vec_b"])
        )
        return lambda: noop(pairs)

    n, cells = 2_000, 16  # 125 vectors (500 probe slots) per cell, on both sides
    return Sides(tail(n, 1, cells), tail(n * check.factor, 2, cells * check.factor), (n, n * check.factor))


def qx262_scale_path(spark, base, check) -> Sides:
    """qx262's manifest explode on the forced scale-path rank (the
    registry function picks the single-sort spelling at these sizes)
    over ~60k and ~6M documents (the base replicated to 60k documents,
    then k times that); every non-final window must tile PACK_WINDOW
    exactly, checked distributed."""
    from bqfetch_spark.operators.corpus import PACK_WINDOW

    fn = _registry_fn("qx262_packing_manifest")
    start = max(1, round(60_000 / table_rows(base, check.tables)))
    small, big = (replicate(base, start * k, check.tables) for k in (1, check.factor))

    def after() -> dict:
        with scale_path_ranks():
            stats = fn(spark, big).groupBy("window_id").agg(
                F.sum("seg_len").alias("tot"), F.min("seg_start").alias("mn")
            ).localCheckpoint(eager=True)
        last = stats.agg(F.max("window_id")).first()[0]
        bad = stats.filter((F.col("mn") != 0) | ((F.col("window_id") != last) & (F.col("tot") != PACK_WINDOW))).count()
        gate(bad == 0, f"{bad} windows fail exact tiling")
        return {"windows": stats.count(), "tiling_violations": bad}

    return Sides(
        scaled(lambda: noop(fn(spark, small))),
        scaled(lambda: noop(fn(spark, big))),
        (table_rows(small, check.tables), table_rows(big, check.tables)),
        after=after,
    )


def cluster_chain(spark, base, check) -> Sides:
    """qx270 -> qx271/qx284's resolution tail (hash-min connected
    components, savings rollup, keeper window) over a planted graph of
    3-node chains: the diameter pins the rounds, so only per-round edge
    volume may grow; cluster and drop counts exact."""
    from bqfetch_spark.operators.corpus import connected_components

    def resolve(n: int) -> Callable:
        def run():
            a = spark.range(n).select((F.col("id") * 3).alias("a"))
            edges = a.select(F.col("a").alias("doc_a"), (F.col("a") + 1).alias("doc_b")).unionAll(
                a.select((F.col("a") + 1).alias("doc_a"), (F.col("a") + 2).alias("doc_b"))
            )
            cc = connected_components(edges, "doc_a", "doc_b")
            w = Window.partitionBy("cluster_id").orderBy(F.md5(F.col("node").cast("string")), "node")
            agg = (
                cc.withColumn("rn", F.row_number().over(w))
                .groupBy("cluster_id")
                .agg(F.count(F.lit(1)).alias("sz"), F.sum(F.when(F.col("rn") == 1, 0).otherwise(1)).alias("dropped"))
                .agg(F.count(F.lit(1)).alias("n"), F.sum("dropped").alias("dropped"), F.max("sz").alias("sz"))
                .first()
            )
            gate((agg["n"], agg["dropped"], agg["sz"]) == (n, 2 * n, 3), f"chain graph resolved to {agg}")

        return run

    n = 20_000
    return Sides(resolve(n), resolve(n * check.factor), (2 * n, 2 * n * check.factor))


def waterfill_planner(spark, base, check) -> Sides:
    """qx281's planner reads the mix-count store rollup, so its cost is
    independent of the corpus that fed the store: stores fed by the base
    and by the kx documents (same sources) hold sources x waves rows."""
    from bqfetch_spark.operators.corpus import waterfill_from_caps
    from bqfetch_spark.streaming.drift import mix_counts

    stores = {}
    for side, sf in (("1x", base), ("kx", replicate(base, check.factor, check.tables, shared_text=True))):
        path = stores[side] = work(f"mix_{side}")
        docs = load_catalog(spark, sf).table("documents").select("doc_id", "source", "text")
        for wave in range(3):  # a backfill and two streamed slices
            (
                mix_counts(docs.filter(F.pmod("doc_id", F.lit(3)) == wave))
                .withColumn("ingest_batch", F.lit(wave).cast("bigint"))
                .coalesce(1)
                .write.mode("append")
                .partitionBy("ingest_batch")
                .parquet(path)
            )
        rows = spark.read.parquet(path)
        n, n_src = rows.count(), rows.select("source").distinct().count()
        gate(n == 3 * n_src, f"{side} store holds {n} rows for {n_src} sources")

    def plan(path):
        caps = spark.read.parquet(path).groupBy("source").agg(F.sum("n_tokens").cast("bigint").alias("cap_tokens"))
        return lambda: waterfill_from_caps(caps).count()

    plans = [plan(p)() for p in stores.values()]
    gate(plans[0] == plans[1], f"planner outputs differ: {plans}")
    rows = (table_rows(base, check.tables), table_rows(base, check.tables) * check.factor)
    return Sides(plan(stores["1x"]), plan(stores["kx"]), rows, structure={"planner_rows": plans})


def partial_retrain_check(spark, base, check) -> Sides:
    """partial_retrain re-encodes only the hot slice of a store built
    from 2k*factor synthetic vectors with drift planted in 2 of 8 cells:
    it must beat a full rebuild, and every pre-existing file of every
    cold cell survives unchanged (sides: full rebuild, partial retrain)."""
    import numpy as np

    from bqfetch_spark.operators.pq import ivfpq_encode
    from bqfetch_spark.streaming.ann_index import (
        DRIFT_HOT_FACTOR, _write_codes_wave, build_index, cell_counts, partial_retrain, retrain_index,
    )

    n, n_wave = 2_000 * check.factor, 4_000
    corpus = _synth_vectors(spark, n, 11).localCheckpoint(eager=True)
    pristine, idx, full = work("retrain_pristine"), work("retrain_partial"), work("retrain_full")
    cents, books = build_index(spark, corpus, DIM, pristine)
    store = lambda d: os.path.join(d, "codes")  # noqa: E731
    _write_codes_wave(ivfpq_encode(spark, corpus, cents, books), store(pristine), None, overwrite_all=True)
    rng = np.random.RandomState(7)
    rows = [(10_000_000 + i, [float(x) for x in cents[i % 2] + 0.02 * rng.randn(DIM)]) for i in range(n_wave)]
    wave = spark.createDataFrame(rows, "vec_id bigint, v array<double>")
    wave_codes = ivfpq_encode(spark, wave, cents, books).localCheckpoint(eager=True)
    occ = cell_counts(wave_codes, len(cents))
    hot = [int(c) for c in np.nonzero(occ / occ.sum() > DRIFT_HOT_FACTOR / len(cents))[0]]
    gate(hot == [0, 1], f"planted drift not detected as hot 2-of-{len(cents)}: {hot}")
    cold = [c for c in range(len(cents)) if c not in hot]

    def files(d: str, c: int) -> dict:
        cell = os.path.join(store(d), f"cell_id={c}")
        paths = [os.path.join(r, f) for r, _, fs in os.walk(cell) for f in fs]
        return {os.path.relpath(p, cell): os.path.getsize(p) for p in paths}

    before = {c: files(pristine, c) for c in cold}

    def reset():
        for d in (idx, full):
            shutil.rmtree(d, ignore_errors=True)
            shutil.copytree(pristine, d)

    def partial():
        partial_retrain(spark, corpus, wave, wave_codes, idx, hot, cents, books)
        for c in cold:
            after = files(idx, c)
            gate(all(after.get(f) == s for f, s in before[c].items()), f"cold cell {c} rewritten")
        gate(not os.path.exists(os.path.join(idx, "retrain_journal.json")), "retrain journal left behind")
        gate(not os.path.exists(store(idx) + ".retrain"), "retrain staging left behind")
        new = range(len(cents), len(cents) + 4)
        gate(any(os.path.exists(os.path.join(store(idx), f"cell_id={c}")) for c in new), "no new subcell")

    return Sides(
        lambda: retrain_index(spark, corpus.unionByName(wave), DIM, full),
        partial,
        (n + n_wave, n + n_wave),
        reset=reset,
        structure={"hot_cells": hot, "cold_cell_files": sum(len(f) for f in before.values())},
    )


def bpe_rounds(spark, base, check) -> Sides:
    """qx286's batched learning rounds run on the vocabulary-sized
    frame: per-round wall over a kx corpus with the same words (freq xk)
    matches 1x, batches are identical, per-round cost stays flat as
    rules accumulate, and the mean accepted batch stays >= W/3. The
    registry function times vocab build and rounds together, so its
    round body is spelled here."""
    from bqfetch_spark.operators.llm_pipeline import BPE_BATCH_W, _bpe_batch_accept, _bpe_merge_batch

    def vocab(sf: str):
        words = load_catalog(spark, sf).table("documents").select(F.explode(F.split("text", " ")).alias("word"))
        freq = words.filter(F.col("word") != "").groupBy("word").agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
        return freq.select("word", F.split("word", "").alias("syms"), "freq").localCheckpoint(eager=True)

    def one_round(v):
        pair = F.transform(
            F.sequence(F.lit(0), F.size("syms") - 2),
            lambda i: F.struct(F.element_at("syms", i + 1).alias("l"), F.element_at("syms", i + 2).alias("r")),
        )
        pairs = v.filter(F.size("syms") >= 2).select(F.explode(pair).alias("pr"), "freq")
        pairs = pairs.groupBy(F.col("pr.l").alias("l"), F.col("pr.r").alias("r")).agg(F.sum("freq").alias("cnt"))
        batch = _bpe_batch_accept(pairs.orderBy(F.col("cnt").desc(), "l", "r").limit(BPE_BATCH_W).collect())
        if not batch:
            return None, 0
        merged = _bpe_merge_batch([(a, b) for _, a, b, _ in batch]).alias("syms")
        return v.select("word", merged, "freq").localCheckpoint(eager=True), len(batch)

    def rounds(v, n: int, sizes: list):
        for _ in range(n):
            v, b = one_round(v)
            if v is None:
                break
            sizes.append(b)
        return v

    v1 = vocab(base)
    vk = vocab(replicate(base, check.factor, check.tables, shared_text=True))
    s1, sk = [], []
    rounds(v1, 4, s1), rounds(vk, 4, sk)
    gate(s1 == sk, f"batches differ with corpus size: {s1} vs {sk}")

    def after() -> dict:
        v, sizes, walls = rounds(v1, 4, []), [], []
        for _ in range(24):
            t0 = time.perf_counter()
            v, b = one_round(v)
            if v is None:
                break
            walls.append(time.perf_counter() - t0)
            sizes.append(b)
        early, late = walls[1:5], walls[-4:]
        drift = (sum(late) / len(late)) / (sum(early) / len(early))
        mean = sum(sizes) / len(sizes)
        gate(mean >= BPE_BATCH_W / 3, f"disjoint-batch acceptance collapsed: mean {mean:.2f}")
        gate(drift <= 3.0, f"per-round cost grows with accumulated merges: {drift:.2f}", timing=True, load1=LOAD1)
        return {"long_round_batches": sizes, "mean_batch": round(mean, 3), "late_over_early": round(drift, 3)}

    rows = (table_rows(base, check.tables), table_rows(base, check.tables) * check.factor)
    return Sides(lambda: rounds(v1, 4, []), lambda: rounds(vk, 4, []), rows, after=after,
                 structure={"batches_of_4_rounds": s1})


# --- the check table


@dataclass(frozen=True)
class Check:
    name: str  # a registry query name, unless ``custom`` is set
    factor: int  # k: the big side's input is k times the base
    bound: float  # worst allowed big/small wall ratio
    tables: tuple[str, ...] = ()  # tables the kx replica copies
    shared_text: bool = False  # replica keeps one token space
    custom: Callable | None = None  # (spark, base, check) -> Sides
    why: str = ""  # custom rows: why the registry function cannot carry the claim
    verify: Callable | None = None  # registry rows: (spark, base, big) -> asserted values

    @property
    def query(self) -> str | None:
        return None if self.custom else self.name


DOCS, EV, LI, EMB = ("documents",), ("events",), ("lineitem",), ("embeddings",)

CHECKS = (
    Check("q01_pricing_summary", 10, 15, LI),
    Check("q40_exact_dedup", 10, 20, DOCS),
    Check("q46_ngram_jaccard", 10, 20, DOCS),
    Check("q31_sessionization", 10, 20, EV),
    Check("q89_funnel", 10, 20, EV),
    Check("q98_wave_vs_history", 10, 3, EV, custom=rollup_history,
          why="history must grow in day partitions; replicas keep their timestamps"),
    Check("q97_streaming_interval_join", 10, 20, EV),
    Check("q99_footer_planning", 10, 40, LI, custom=footer_planning,
          why="times the source's partition planning, which no query isolates"),
    Check("q99_python_datasource_scan", 10, 20, LI),
    Check("q100_streaming_token_quota", 10, 20, DOCS),
    Check("q35_cdc_merge", 10, 20, ("customer",)),
    Check("q58_scd2_history", 10, 20, EV),
    Check("q39_compact_small_files", 10, 20, EV),
    Check("qx105_doc_chunking", 10, 20, DOCS),
    Check("qx107_token_cooccurrence", 10, 20, DOCS, shared_text=True),
    Check("qx117_grown_domain", 10, 20, EV, custom=ks_grown_domain,
          why="the cumsum's distinct value domain must grow; replicas repeat qx117's prices"),
    Check("qx124_ema", 10, 20, EV),
    Check("qx123_equidepth_histogram", 10, 20, ("orders",)),
    Check("qx125_pagerank", 10, 20, ("lineitem", "orders")),
    Check("q50_cosine_topk", 10, 20, EMB),
    Check("qx155_bloom_prefilter_dedup", 10, 20, DOCS),
    Check("qx157_segment_dedup", 10, 20, DOCS),
    Check("q101_ann_sq8", 10, 20, EMB),
    Check("qx192_embedding_covariance", 10, 20, EMB),
    Check("qx212_compact_fingerprint_store", 10, 20, DOCS),
    Check("qx219_embedding_frechet", 10, 15, EMB),
    Check("qx220_quantile_normalize", 10, 15, DOCS),
    Check("qx224_dup_span_fraction", 10, 15, DOCS, shared_text=True),
    Check("qx229_dup_span_cut", 10, 15, DOCS, shared_text=True),
    Check("qx221_bpe_merges", 10, 15, DOCS, shared_text=True),
    Check("skew_join_hot_key", 10, 5, LI, custom=skew_join,
          why="needs a planted hot join key and AQE's skew confs; no fixture column has one"),
    Check("rank_scale_path", 100, 150, custom=rank_scale_path,
          why="forces the scale-path rank, which registry queries pick only past the crossover"),
    Check("rank_hot_key", 100, 2.5, custom=rank_hot_key,
          why="needs a planted 10%-hot key; no fixture column has one"),
    Check("lakehouse_append_vs_history", 100, 3, custom=lakehouse_history("append"),
          why="commit history, not data, must grow"),
    Check("lakehouse_read_vs_history", 100, 3, custom=lakehouse_history("read"),
          why="commit history, not data, must grow"),
    Check("lakehouse_optimize_vs_history", 100, 3, custom=lakehouse_history("optimize"),
          why="commit history, not data, must grow"),
    Check("q57_wave_vs_history", 100, 3, custom=q57_wave_history,
          why="store history, not the wave, must grow; q57 rebuilds its store per call"),
    Check("q69_candidate_join", 100, 200, custom=q69_candidate_join,
          why="cells must grow with N; q69 trains a fixed cell count"),
    Check("q47_minhash_lsh_pairs", 100, 200, DOCS),
    Check("qx264_minhash_lsh_exact", 100, 200, DOCS, verify=qx264_candidates),
    Check("qx266_simhash_exact", 100, 200, DOCS, verify=qx266_candidates),
    Check("qx262_scale_path", 100, 150, DOCS, custom=qx262_scale_path,
          why="forces the scale-path rank, which qx262 picks only past the crossover"),
    Check("qx278_char_bigram_familiarity", 100, 200, DOCS, verify=qx278_bigram_vocab),
    Check("qx279_sort_range_planner", 100, 200, LI, verify=qx279_census),
    Check("cluster_chain", 100, 200, custom=cluster_chain,
          why="needs a planted fixed-diameter graph to pin the round count"),
    Check("qx281_planner_vs_corpus", 100, 3, DOCS, custom=waterfill_planner,
          why="times the planner alone over stores fed by 1x and kx corpora"),
    Check("partial_retrain", 100, 0.8, custom=partial_retrain_check,
          why="compares partial with full retrain of one store; no query runs either"),
    Check("qx286_rounds_vs_corpus", 100, 3, DOCS, custom=bpe_rounds,
          why="times learning rounds apart from the vocabulary build qx286 also runs"),
)


def registry_sides(spark, check: Check, base: str) -> Sides:
    fn = _registry_fn(check.query)
    big = replicate(base, check.factor, check.tables, shared_text=check.shared_text)
    sides = Sides(
        lambda: noop(fn(spark, base)),
        lambda: noop(fn(spark, big)),
        (table_rows(base, check.tables), table_rows(big, check.tables)),
    )
    if check.verify:
        sides.after = lambda: check.verify(spark, base, big)
    return sides


def run_check(spark, check: Check, base: str, rec: dict) -> None:
    """Measure one check into ``rec``; raises on a failed gate."""
    sides = check.custom(spark, base, check) if check.custom else registry_sides(spark, check, base)
    rec.update(measure(sides))
    rec["rows"] = list(sides.rows)
    rec.update(linear_fit(sides.rows, rec["min_s"]))
    if sides.after:
        sides.structure.update(sides.after())
    if sides.structure:
        rec["structure"] = sides.structure
    rec["passed"] = rec["worst_ratio"] <= check.bound
    msg = f"{check.name}: worst ratio {rec['worst_ratio']} > bound {check.bound}"
    gate(rec["passed"], msg, timing=True, load1=LOAD1)


def main(argv: list[str]) -> int:
    by_name = {c.name: c for c in CHECKS}
    unknown = [n for n in argv if n not in by_name]
    if unknown:
        print(f"unknown checks {unknown}; known: {list(by_name)}", file=sys.stderr)
        return 2
    selected = [by_name[n] for n in argv] or list(CHECKS)

    from bqfetch_spark.session import get_session

    # Python workers (data sources, pandas UDFs) import the engine too
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, (REPO, os.environ.get("PYTHONPATH"))))
    spark = get_session("scale-check")
    spark.sparkContext.setLogLevel("ERROR")
    out = os.path.join(REPO, f"SCALE_c{CPUS}.json")
    record = {"checks": {}}
    if argv and os.path.exists(out):
        with open(out) as fh:
            record = json.load(fh)
    record.update(base=os.path.basename(BASE.rstrip("/")), cpus=CPUS, rounds=ROUNDS)
    shutil.rmtree(WORK, ignore_errors=True)
    _BUILT.clear()
    failed = []
    t_all = time.perf_counter()
    for check in selected:
        rec = {"factor": check.factor, "bound": check.bound, "passed": False, "load1_at_start": round(LOAD1, 2)}
        rec.update({"query": check.query} if check.query else {"custom": check.why})
        t0 = time.perf_counter()
        try:
            run_check(spark, check, BASE, rec)
        except Exception as exc:  # one failed check must not hide the others
            traceback.print_exc()
            rec["error"] = f"{type(exc).__name__}: {exc}"[:400]
            failed.append(check.name)
        rec["check_wall_s"] = round(time.perf_counter() - t0, 1)
        record["checks"][check.name] = rec
        verdict = "ok" if rec["passed"] else rec.get("error", "TIMING WARNING")
        print(f"{check.name} [{check.factor}x]: {rec.get('min_s')} worst {rec.get('worst_ratio')} "
              f"(bound {check.bound}) {verdict}", flush=True)
        with open(out, "w") as fh:
            json.dump(record, fh, indent=1, sort_keys=True)
            fh.write("\n")
    shutil.rmtree(WORK, ignore_errors=True)
    print(f"{len(selected) - len(failed)}/{len(selected)} checks ran clean in {time.perf_counter() - t_all:.0f}s")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
