"""Short run of every workload at sf 0.001: the result line is well formed,
the gate passes, and every metric is printed by name with its unit.
Starts Spark once per run (about a minute each):

    python3 -m pytest perfbench/tests/test_smoke.py -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
sys.path.insert(0, os.path.dirname(HERE))

from workloads import WORKLOADS  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)

# printed on every run, beside the end-to-end metrics
REPORT_ONLY = {"setup_cold_s": "s", "warm_up_s": "s", "fail_frac": "ratio", "canary_start_s": "s", "canary_end_s": "s"}
FETCH_ONLY = {"rows_per_s": "rows/s", "plan_s": "s"}
STREAM_ONLY = {"first_batch_p50_s": "s"}


def run(workload: str, trace: int) -> list[str]:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--scale", "0.001"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    return out.stdout.strip().splitlines()


def check_result(line: str, declared: list[dict]) -> None:
    result = json.loads(line)
    assert sorted(result) == ["attempted", "correct", "failed", "metrics"]
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    assert {m["name"]: m["unit"] for m in declared} == {
        name: m["unit"] for name, m in result["metrics"].items()
    }
    for m in result["metrics"].values():
        assert isinstance(m["value"], (int, float))


def check_lines(lines: list[str], expected: dict[str, str]) -> None:
    printed = {}
    for line in lines[:-1]:
        name, _, rest = line.partition(" ")
        printed[name] = rest.split()[-1]
    for name, unit in expected.items():
        assert printed.get(name) == unit, (name, printed.get(name))


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_traced_run_prints_every_metric(workload):
    lines = run(workload, 1)
    check_result(lines[-1], SPEC["per_layer"])
    expected = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    expected.update(REPORT_ONLY)
    if WORKLOADS[workload].kind == "fetch":
        expected.update(FETCH_ONLY)
    if getattr(WORKLOADS[workload], "stream", False):
        expected.update(STREAM_ONLY)
    expected.update({m["name"]: m["unit"] for m in SPEC["per_layer"]})
    check_lines(lines, expected)


def test_untraced_run_reports_end_to_end_metrics():
    lines = run("fetch_stream", 0)
    check_result(lines[-1], SPEC["end_to_end"])
