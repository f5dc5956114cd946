"""The benchmark's workloads.

Each workload has an untimed warm-up and a pass: one sweep over its ops
in an order shuffled by the run's seed. A fetch pass plans lineitem into
chunks with ``Fetcher.chunks`` and delivers every chunk to the caller; a
query pass calls each registry query function and forces the result
through a noop write. Every op is checked by the correctness gate right
after it returns, outside its timed interval.

A run makes a fixed number of passes, ``round(seconds / nominal_pass_s)``
and at least one, so that runs on one machine always do the same work;
``nominal_pass_s`` is a warm pass's wall time on a 4-CPU machine.
"""

from __future__ import annotations

import itertools
import random
import time
from dataclasses import dataclass, field

import gate

GB = 1024**3
# Fixed free-memory figure handed to the size-driven planner, so the
# chunk count does not depend on the machine running the benchmark.
AVAILABLE_BYTES = 2 * GB
BULK_CHUNK_GB = 0.008  # 6 range chunks of ~100 k rows at sf 0.1
STREAM_CHUNKS = 10  # value lists of ~100 supplier keys, ~60 k rows each
STREAM_BATCH_ROWS = 8192

# Queries whose time goes to frame build (driver-side construction and
# the eager jobs it fires). Runnable by name; its ~40 s cold pass does
# not fit the benchmark's time budget, so it is not in BENCHMARK.json.
QUERIES_DRIVER = (
    "qx221_bpe_merges",
    "qx270_lsh_clusters_exact",
    "q74_dedup_clusters",
    "qx266_simhash_exact",
    "qx273_streaming_vocab_growth",
    "q97_streaming_interval_join",
    "qx146_bfs_hops",
    "qx277_dedup_threshold_sweep",
    "qx278_char_bigram_familiarity",
)
# Queries whose time goes to the action: scan-aggregate, shuffle joins,
# sort-based percentiles, array and pandas-UDF similarity kernels.
# q47 (MinHash LSH) is left out: its ~7 s per run (cold warm-up, pass,
# gate) does not fit the time budget, and the IVF kernels already cover
# the similarity layer.
QUERIES_EXECUTOR = (
    "q01_pricing_summary",
    "q07_fact_fact_join",
    "q18_local_supplier_volume",
    "q23_percentiles",
    "q53_ann_ivf",
    "qx152_correlation_matrix",
    "qx275_neardup_ivf_exact",
)


@dataclass
class Op:
    """One timed call: a chunk delivered or a query run."""

    op_id: str
    name: str
    latency_s: float = 0.0
    rows: int = 0
    first_batch_s: float = 0.0
    batches: int = 0
    build_s: float = 0.0
    action_s: float = 0.0
    error: str | None = None
    groups: dict[str, str] = field(default_factory=dict)  # phase -> Spark job group


@dataclass
class Pass:
    ops: list[Op]
    plan_s: float = 0.0
    plan_group: str | None = None
    error: str | None = None  # a pass-level gate failure fails every op
    gate_s: float = 0.0  # untimed correctness-gate work

    @property
    def wall_s(self) -> float:
        """Timed wall time: planning plus every op, gate work excluded."""
        return self.plan_s + sum(op.latency_s for op in self.ops)


@dataclass
class Context:
    spark: object
    tracer: object
    rng: random.Random
    data_dir: str
    fetch_oracle: gate.FetchOracle | None = None
    query_oracle: dict | None = None
    pass_id: str = "p0"

    @property
    def sc(self):
        return self.spark.sparkContext

    def group(self, op_id: str, phase: str) -> str:
        return f"perfbench-{op_id}-{phase}"


class FetchWorkload:
    kind = "fetch"
    table = "lineitem"

    def __init__(self, name, column, plan_kwargs, stream: bool, nominal_pass_s: float, warm_ops: int):
        self.name = name
        self.column = column
        self.plan_kwargs = plan_kwargs
        self.stream = stream
        self.nominal_pass_s = nominal_pass_s
        self.warm_ops = warm_ops

    def warm_up(self, ctx: Context) -> None:
        """Deliver ``warm_ops`` chunks untimed, planning the table again
        whenever a plan's chunks run out."""
        from bqfetch_spark import Fetcher, TableRef

        f = Fetcher(ctx.spark)
        ref = TableRef(ctx.data_dir, self.table)
        left = self.warm_ops
        while left > 0:
            chunks = f.chunks(ref, self.column, **self.plan_kwargs)[:left]
            for chunk in chunks:
                self._deliver(ctx, f, ref, chunk, Op("warm", "warm"), gate.ChunkTally(chunk))
            left -= len(chunks)

    def run_pass(self, ctx: Context) -> Pass:
        from bqfetch_spark import Fetcher, TableRef

        f = Fetcher(ctx.spark)
        ref = TableRef(ctx.data_dir, self.table)
        p = Pass(ops=[], plan_group=ctx.group(ctx.pass_id, "plan"))
        t0 = time.perf_counter()
        with ctx.tracer.span("fetcher.chunks", ctx.pass_id, ctx.sc, p.plan_group):
            chunks = f.chunks(ref, self.column, **self.plan_kwargs)
        p.plan_s = time.perf_counter() - t0
        ctx.rng.shuffle(chunks)
        tallies = []
        for chunk in chunks:
            op = Op(f"{ctx.pass_id}c{chunk.index}", f"chunk{chunk.index}")
            tally = gate.ChunkTally(chunk)
            try:
                p.gate_s += self._deliver(ctx, f, ref, chunk, op, tally)
                t_gate = time.perf_counter()
                op.error = gate.check_chunk(ctx.fetch_oracle, tally)
                p.gate_s += time.perf_counter() - t_gate
            except Exception as exc:  # one failed op must not end the run
                op.error = f"{type(exc).__name__}: {exc}"
            op.rows = tally.rows
            tallies.append(tally)
            p.ops.append(op)
        t_gate = time.perf_counter()
        p.error = gate.check_pass(ctx.fetch_oracle, tallies)
        p.gate_s += time.perf_counter() - t_gate
        return p

    def _deliver(self, ctx, f, ref, chunk, op: Op, tally: gate.ChunkTally) -> float:
        """Hand one chunk to the caller, tallying it for the gate; the
        tally time is left out of the op's latency and returned."""
        op.groups["deliver"] = ctx.group(op.op_id, "fetch")
        gate_s = 0.0
        t0 = time.perf_counter()
        if self.stream:
            with ctx.tracer.span("fetcher.iter_batches", op.op_id, ctx.sc, op.groups["deliver"]):
                for batch in f.iter_batches(ref, chunk, batch_rows=STREAM_BATCH_ROWS):
                    t_in = time.perf_counter()
                    if not op.batches:
                        op.first_batch_s = t_in - t0
                    op.batches += 1
                    tally.add({c: batch.column(c).to_numpy() for c in gate.KEY_COLUMNS})
                    gate_s += time.perf_counter() - t_in
            op.latency_s = time.perf_counter() - t0 - gate_s
        else:
            with ctx.tracer.span("fetcher.fetch_to_pandas", op.op_id, ctx.sc, op.groups["deliver"]):
                pdf = f.fetch_to_pandas(ref, chunk)
            t1 = time.perf_counter()
            op.latency_s = op.first_batch_s = t1 - t0
            op.batches = 1
            tally.add({c: pdf[c].to_numpy() for c in gate.KEY_COLUMNS})
            gate_s = time.perf_counter() - t1
        return gate_s


class QueryWorkload:
    kind = "query"

    def __init__(self, name: str, queries: tuple[str, ...], nominal_pass_s: float, warm_ops: int):
        self.name = name
        self.queries = queries
        self.nominal_pass_s = nominal_pass_s
        self.warm_ops = warm_ops

    def warm_up(self, ctx: Context) -> None:
        """``warm_ops`` query runs through the noop sink, cycling through
        the queries. A query's first run in a process pays for code
        generation, JIT and Python worker start-up; left in the timed
        pass, that cost would land on whichever queries the seed puts
        first."""
        from bqfetch_spark.registry import all_queries

        registry = all_queries()
        for name in itertools.islice(itertools.cycle(self.queries), self.warm_ops):
            registry[name].fn(ctx.spark, ctx.data_dir).write.format("noop").mode(
                "overwrite"
            ).save()

    def run_pass(self, ctx: Context) -> Pass:
        from bqfetch_spark.registry import all_queries

        registry = all_queries()
        tr = ctx.tracer
        order = list(self.queries)
        ctx.rng.shuffle(order)
        p = Pass(ops=[])
        for name in order:
            op = Op(f"{ctx.pass_id}-{name}", name)
            op.groups = {
                "build": ctx.group(op.op_id, "build"),
                "deliver": ctx.group(op.op_id, "action"),
            }
            try:
                t0 = time.perf_counter()
                with tr.span("operators.build", op.op_id, ctx.sc, op.groups["build"]):
                    df = registry[name].fn(ctx.spark, ctx.data_dir)
                t1 = time.perf_counter()
                with tr.span("operators.action", op.op_id, ctx.sc, op.groups["deliver"]):
                    df.write.format("noop").mode("overwrite").save()
                t2 = time.perf_counter()
                op.build_s, op.action_s = t1 - t0, t2 - t1
                op.latency_s = op.first_batch_s = t2 - t0
                pdf = df.toPandas()
                op.rows = len(pdf)
                op.error = gate.check_query(ctx.query_oracle, name, pdf)
                p.gate_s += time.perf_counter() - t2
            except Exception as exc:  # one failed op must not end the run
                op.error = f"{type(exc).__name__}: {exc}"
            p.ops.append(op)
        return p


# warm_ops: untimed ops before the first timed pass. Op times keep
# falling while the JVM compiles: a range-chunk pass for a minute or
# more, a value-list chunk after the first two, a query mostly after its
# first run (a second warm-up round did not make the timed pass faster).
# The warm-up keeps the steepest part of that curve out of the timed
# passes, as far as the run's time budget allows.
WORKLOADS = {
    w.name: w
    for w in (
        FetchWorkload(
            "fetch_bulk",
            "l_orderkey",
            {"by_chunk_size_in_GB": BULK_CHUNK_GB, "available_bytes": AVAILABLE_BYTES},
            stream=False,
            nominal_pass_s=3.8,
            warm_ops=12,
        ),
        FetchWorkload(
            "fetch_stream",
            "l_suppkey",
            {"by_nb_chunks": STREAM_CHUNKS, "by_values": True},
            stream=True,
            nominal_pass_s=8.8,
            warm_ops=2,
        ),
        QueryWorkload("queries_executor", QUERIES_EXECUTOR, nominal_pass_s=5.5, warm_ops=7),
        QueryWorkload("queries_driver", QUERIES_DRIVER, nominal_pass_s=24.0, warm_ops=9),
    )
}
