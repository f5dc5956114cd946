"""Layered fetch-and-query benchmark for bqfetch_spark.

    python3 perfbench/run.py --workload fetch_bulk --seed 1 --seconds 8 --trace 0

Run it from the repository root. One driver process is one client in a
closed loop: each op starts after the previous one returns. Spark runs
``local[N]`` with ``SPARK_GRAFT_CPUS=N``, N being the CPUs this process
may use. The tables are generated once per checkout (datagen.py) into
``.perfbench/``; the seed only shuffles the order of chunks and queries
within a pass.

A run sets up three times (session and catalog; the first set-up also
imports the engine and starts the JVM), warms up, then runs a fixed
number of passes over the workload, about ``--seconds`` of timed work,
checking every op with the correctness gate outside its timed interval.
With ``--trace 1`` it also records spans and per-op Spark stage metrics
(tracing.py).

Human-readable metric lines go to stdout first; the last stdout line is
one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics, or with ``--trace 1`` the per-layer
ones). README.md in this directory describes every metric.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import random
import resource
import shlex
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
sys.path[:0] = [HERE, ROOT]

import oracle
from gate import FetchOracle
from tracing import Tracer
from workloads import WORKLOADS, Context

FETCH_SCALE = 0.1  # lineitem: 600 k rows
QUERY_SCALE = 0.01
SETUPS = 3


def declared_units() -> tuple[dict, dict]:
    """Metric name -> unit for the end-to-end and per-layer metrics, as
    BENCHMARK.json declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return tuple({m["name"]: m["unit"] for m in spec[k]} for k in ("end_to_end", "per_layer"))


def canary() -> float:
    """A fixed pure-Python loop; its time tracks the speed of the box."""
    t0 = time.perf_counter()
    x = 0
    for i in range(1_000_000):
        x = (x * 31 + i) & 0xFFFFFFFF
    return time.perf_counter() - t0


def prepare_env(cpus: int, tmp: str) -> None:
    """Spark and Python scratch space inside the checkout; workers import
    the engine from the checkout."""
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    paths = [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--driver-java-options",
            shlex.quote(java_opts),
            "--conf spark.ui.showConsoleProgress=false",
            "--conf",
            shlex.quote(f"spark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}"),
            "pyspark-shell",
        ]
    )


def ensure_tables(scale: float) -> str:
    """The generated tables for ``scale``, built on first use in a child
    process, so that their build does not count in this process's peak
    RSS."""
    from datagen import DATA_VERSION

    out = os.path.join(STATE, "data", f"v{DATA_VERSION}-sf{scale}")
    if not os.path.exists(os.path.join(out, ".complete")):
        tmp = f"{out}.{os.getpid()}.tmp"
        subprocess.run(
            [sys.executable, os.path.join(HERE, "datagen.py"), tmp, str(scale)], check=True
        )
        open(os.path.join(tmp, ".complete"), "w").close()
        shutil.rmtree(out, ignore_errors=True)
        os.replace(tmp, out)
    return out


def ensure_oracle(data_dir: str, names) -> dict:
    """DuckDB oracle hashes for ``names``; missing ones are computed in a
    child process, for the same reason as the tables."""
    from bqfetch_spark.registry import all_queries

    registry = all_queries()
    sqls = {n: registry[n].oracle for n in names}
    path = os.path.join(data_dir, "oracle.json")
    todo = oracle.missing(oracle.load(path), sqls)
    if todo:
        subprocess.run(
            [sys.executable, os.path.join(HERE, "oracle.py"), data_dir, path, *todo],
            check=True,
        )
    return oracle.load(path)


def set_up(data_dir: str, tracer: Tracer):
    """Session and catalog, each a cold call then a memo hit. Returns
    the session and the timings."""
    t0 = time.perf_counter()
    from bqfetch_spark import get_session, load_catalog

    a = time.perf_counter()
    with tracer.span("session.get_session"):
        spark = get_session("perfbench")
    b = time.perf_counter()
    spark = get_session("perfbench")
    c = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    d = time.perf_counter()
    with tracer.span("catalog.load_catalog"):
        load_catalog(spark, data_dir)
    e = time.perf_counter()
    load_catalog(spark, data_dir)
    f = time.perf_counter()
    return spark, {
        "total": f - t0,
        "get_session_cold": b - a,
        "get_session_memo": c - b,
        "load_catalog_cold": e - d,
        "load_catalog_memo": f - e,
    }


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it started to exit."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def mean(xs) -> float:
    return sum(xs) / len(xs) if xs else 0.0


def layer_metrics(wl, passes, tracer: Tracer, setups, canaries, overheads) -> dict:
    ops = [op for p in passes for op in p.ops]
    groups = tracer.groups

    def g(name, key):
        return groups.get(name, {}).get(key, 0.0)

    if wl.kind == "fetch":
        plan_wall = [p.plan_s for p in passes]
        plan_jobs = [g(p.plan_group, "jobs") for p in passes]
        deliver_wall = [op.latency_s for op in ops]
    else:
        plan_wall = [sum(op.build_s for op in p.ops) for p in passes]
        plan_jobs = [sum(g(op.groups["build"], "jobs") for op in p.ops) for p in passes]
        deliver_wall = [op.action_s for op in ops]
    all_groups = [p.plan_group for p in passes if p.plan_group] + [
        grp for op in ops for grp in op.groups.values()
    ]

    def per_op(key):
        return sum(g(grp, key) for grp in all_groups) / max(1, len(ops))

    returned = sum(op.rows for op in ops)
    scanned = sum(g(op.groups["deliver"], "input_rows") for op in ops)
    return {
        "canary_s": median(canaries),
        "session.get_session_cold_s": median([s["get_session_cold"] for s in setups]),
        "session.get_session_memo_s": median([s["get_session_memo"] for s in setups]),
        "catalog.load_catalog_cold_s": median([s["load_catalog_cold"] for s in setups]),
        "catalog.load_catalog_memo_s": median([s["load_catalog_memo"] for s in setups]),
        "plan.wall_s": median(plan_wall),
        "plan.jobs": median(plan_jobs),
        "deliver.wall_s": median(deliver_wall),
        "deliver.first_batch_s": median([op.first_batch_s for op in ops]),
        "deliver.jobs_per_op": mean([g(op.groups["deliver"], "jobs") for op in ops]),
        "ops_per_pass": median([len(p.ops) for p in passes]),
        "batches_per_op": mean([op.batches for op in ops]),
        "spark.executor_run_s": per_op("exec_run_s"),
        "spark.executor_cpu_s": per_op("exec_cpu_s"),
        "spark.gc_s": per_op("gc_s"),
        "spark.tasks_per_op": per_op("tasks"),
        "spark.shuffle_read_bytes": per_op("shuffle_read_bytes"),
        "spark.shuffle_write_bytes": per_op("shuffle_write_bytes"),
        "spark.input_rows_per_row_returned": scanned / max(1, returned),
        "trace.pass_s": median([p.wall_s for p in passes]),
        "trace.overhead_s": median(overheads),
    }


# The per-layer metrics whose phase is one engine module on a workload
# kind, printed again under that module's name in a traced run.
MODULE_NAMES = {
    "fetch": {
        "plan.wall_s": "fetcher.chunks_s",
        "plan.jobs": "fetcher.chunks_jobs",
        "ops_per_pass": "fetcher.n_chunks",
        "deliver.wall_s": "fetcher.{deliver}_s",
        "deliver.jobs_per_op": "fetcher.jobs_per_chunk",
        "deliver.first_batch_s": "fetcher.first_batch_s",
        "batches_per_op": "fetcher.batches",
    },
    "query": {
        "plan.wall_s": "operators.build_s",
        "plan.jobs": "operators.build_jobs",
        "deliver.wall_s": "operators.action_s",
        "deliver.jobs_per_op": "operators.action_jobs",
    },
}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--scale", type=float, default=None,
        help="data scale for every workload (default: 0.1 fetch, 0.01 queries)",
    )
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "bqfetch_spark", "__init__.py")):
        sys.exit(f"no bqfetch_spark package under {ROOT}; run from a checkout of the repository")
    wl = WORKLOADS[args.workload]
    scale = args.scale or (FETCH_SCALE if wl.kind == "fetch" else QUERY_SCALE)

    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(STATE, "tmp", str(os.getpid()))
    os.makedirs(tmp)
    prepare_env(cpus, tmp)
    try:
        return run(args, wl, scale, cpus)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def run(args, wl, scale: float, cpus: int) -> int:
    end_to_end, per_layer = declared_units()
    canaries = [canary()]
    data_dir = ensure_tables(scale)
    tracer = Tracer(bool(args.trace))
    setups, spark = [], None
    try:
        for _ in range(SETUPS):
            if spark is not None:
                spark.stop()  # the next set-up starts a new context in the same JVM
            spark, timing = set_up(data_dir, tracer)
            setups.append(timing)
        ctx = Context(spark, tracer, random.Random(args.seed), data_dir)
        if wl.kind == "fetch":
            ctx.fetch_oracle = FetchOracle(os.path.join(data_dir, f"{wl.table}.parquet"))
        else:
            ctx.query_oracle = ensure_oracle(data_dir, wl.queries)
        t_warm = time.perf_counter()
        wl.warm_up(dataclasses.replace(ctx, tracer=Tracer(False)))
        warm_up_s = time.perf_counter() - t_warm

        passes, overheads = [], []
        for i in range(max(1, round(args.seconds / wl.nominal_pass_s))):
            ctx.pass_id = f"p{i}"
            before = tracer.overhead_s
            with tracer.span("pass", ctx.pass_id):
                p = wl.run_pass(ctx)
            overheads.append(tracer.overhead_s - before)
            tracer.collect(spark.sparkContext)
            passes.append(p)
        peak_rss_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
    finally:
        stop_spark(spark)
    canaries.append(canary())

    ops = [op for p in passes for op in p.ops]
    failed = [(op, op.error or p.error) for p in passes for op in p.ops if op.error or p.error]
    for op, reason in failed:
        print(f"# FAILED {op.op_id}: {reason}", file=sys.stderr)
    latencies = [op.latency_s for op in ops]
    e2e = {
        "setup_s": median([s["total"] for s in setups]),
        "pass_s": median([p.wall_s for p in passes]),
        "op_p50_s": median(latencies),
        "peak_rss_mb": peak_rss_mb,
    }
    report = [(name, value, end_to_end[name]) for name, value in e2e.items()] + [
        ("setup_cold_s", setups[0]["total"], "s"),
        ("warm_up_s", warm_up_s, "s"),
        ("fail_frac", len(failed) / len(ops), "ratio"),
        ("canary_start_s", canaries[0], "s"),
        ("canary_end_s", canaries[1], "s"),
    ]
    if wl.kind == "fetch":
        report.append(("rows_per_s", sum(op.rows for op in ops) / sum(p.wall_s for p in passes), "rows/s"))
        report.append(("plan_s", median([p.plan_s for p in passes]), "s"))
        if wl.stream:
            report.append(("first_batch_p50_s", median([op.first_batch_s for op in ops]), "s"))
    if len(ops) >= 100:
        report.append(("op_p90_s", statistics.quantiles(latencies, n=10)[8], "s"))
    if args.trace:
        metrics, units = layer_metrics(wl, passes, tracer, setups, canaries, overheads), per_layer
        report += [(name, value, units[name]) for name, value in metrics.items()]
        os.makedirs(os.path.join(STATE, "traces"), exist_ok=True)
        tracer.write(os.path.join(STATE, "traces", f"{wl.name}-seed{args.seed}.json"))
    else:
        metrics, units = e2e, end_to_end

    print(f"workload {wl.name} seed {args.seed} passes {len(passes)} ops {len(ops)} "
          f"local[{cpus}] scale {scale}")
    for name, value, unit in report:
        print(f"{name} {value:.6g} {unit}")
    if len(ops) < 100:
        print(f"# op_p90_s not reported: {len(ops)} ops, it needs at least 100")
    print("# gate_s_per_pass " + " ".join(f"{p.gate_s:.3f}" for p in passes))
    print("# pass_walls_s " + " ".join(f"{p.wall_s:.3f}" for p in passes))
    print("# op_latencies_s " + " ".join(f"{op.name}={op.latency_s:.3f}" for op in ops))
    if args.trace:
        deliver = "iter_batches" if getattr(wl, "stream", False) else "fetch_to_pandas"
        for name, alias in MODULE_NAMES[wl.kind].items():
            print(f"{alias.format(deliver=deliver)} {metrics[name]:.6g} {units[name]}")
        for name, total in sorted(tracer.self_times().items()):
            print(f"self_s.{name} {total:.6g} s")
    if metrics.keys() != units.keys():
        raise RuntimeError(f"metrics {sorted(metrics)} differ from BENCHMARK.json {sorted(units)}")
    print(json.dumps({
        "correct": not failed,
        "attempted": len(ops),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
