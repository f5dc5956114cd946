"""Spans and per-op Spark stage metrics for the traced run.

With tracing on, the benchmark wraps every call it makes into an engine
module in a span (name, start, end, parent, op id) and runs each op
phase under its own Spark job group. Spans are kept in memory and
written once, at the end of the run. Stage metrics are read after each
pass, outside the timed region: job ids come from the status tracker,
stage metrics from the driver's local REST status API. GC time is the
JVM's own collector time over each op phase's span.

With tracing off every method is a no-op, so the same workload code
runs in both modes.
"""

from __future__ import annotations

import contextlib
import json
import time
import urllib.error
import urllib.parse
import urllib.request
from dataclasses import dataclass, field

# Stage fields summed per op phase, with the factor to their unit.
STAGE_FIELDS = {
    "executorRunTime": ("exec_run_s", 1e-3),
    "executorCpuTime": ("exec_cpu_s", 1e-9),
    "shuffleReadBytes": ("shuffle_read_bytes", 1),
    "shuffleWriteBytes": ("shuffle_write_bytes", 1),
    "inputRecords": ("input_rows", 1),
    "numTasks": ("tasks", 1),
}


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: str | None


@dataclass
class Tracer:
    enabled: bool
    spans: list[Span] = field(default_factory=list)
    # job group -> summed stage metrics, filled by collect()
    groups: dict[str, dict] = field(default_factory=dict)
    # time spent inside the tracer while a pass was being timed
    overhead_s: float = 0.0
    _stack: list[int] = field(default_factory=list)
    _pending: list[str] = field(default_factory=list)
    _gc_s: dict[str, float] = field(default_factory=dict)  # job group -> JVM GC time in its span
    _gc_beans: list = field(default_factory=list)

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None, sc=None, group: str | None = None):
        """Record a span; with ``sc`` and ``group``, also run its jobs
        under that Spark job group."""
        if not self.enabled:
            yield
            return
        t_in = time.perf_counter()
        grouped = sc is not None and group is not None
        if grouped:
            sc.setJobGroup(group, name)
            self._pending.append(group)
            gc0 = self._jvm_gc_s(sc)
        idx = len(self.spans)
        self.spans.append(Span(name, 0.0, 0.0, self._stack[-1] if self._stack else None, op))
        self._stack.append(idx)
        start = time.perf_counter()
        self.overhead_s += start - t_in
        try:
            yield
        finally:
            end = time.perf_counter()
            self.spans[idx].start, self.spans[idx].end = start, end
            self._stack.pop()
            if grouped:
                self._gc_s[group] = self._jvm_gc_s(sc) - gc0
                sc.setLocalProperty("spark.jobGroup.id", None)
            self.overhead_s += time.perf_counter() - end

    def _jvm_gc_s(self, sc) -> float:
        """Collection time of the JVM's garbage collectors so far. In
        local mode the executors run in the driver's JVM, so this covers
        their GC too, including pauses outside any task."""
        if not self._gc_beans:
            mf = sc._jvm.java.lang.management.ManagementFactory
            self._gc_beans = list(mf.getGarbageCollectorMXBeans())
        return sum(b.getCollectionTime() for b in self._gc_beans) / 1e3

    def collect(self, sc) -> None:
        """Resolve the job groups recorded since the last call into
        summed stage metrics. Call outside the timed region."""
        if not self.enabled or not self._pending:
            return
        _wait_for_listener(sc)
        base = _rest_base(sc)
        tracker = sc.statusTracker()
        for group in self._pending:
            totals = {name: 0.0 for name, _ in STAGE_FIELDS.values()}
            totals["gc_s"] = self._gc_s.pop(group)
            jobs = sorted(tracker.getJobIdsForGroup(group))
            totals["jobs"] = len(jobs)
            for job in jobs:
                info = tracker.getJobInfo(job)
                for stage in info.stageIds if info else ():
                    for attempt in _stage_attempts(base, stage):
                        if attempt.get("status") == "SKIPPED":
                            continue
                        for key, (name, scale) in STAGE_FIELDS.items():
                            totals[name] += attempt.get(key, 0) * scale
            self.groups[group] = totals
        self._pending.clear()

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: duration minus the part of it
        its child spans cover."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        out: dict[str, float] = {}
        for s, c in zip(self.spans, child):
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - c
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(
                {
                    "spans": [s.__dict__ for s in self.spans],
                    "job_groups": self.groups,
                    "self_s": self.self_times(),
                },
                fh,
            )


def _wait_for_listener(sc) -> None:
    """Let the status store catch up with the jobs that just ended."""
    from py4j.protocol import Py4JError

    try:
        sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    except Py4JError:  # private API; fall back to a short grace period
        time.sleep(0.5)


def _rest_base(sc) -> str:
    port = urllib.parse.urlparse(sc.uiWebUrl).port
    return f"http://localhost:{port}/api/v1/applications/{sc.applicationId}"


def _stage_attempts(base: str, stage: int) -> list[dict]:
    try:
        with urllib.request.urlopen(f"{base}/stages/{stage}?details=false", timeout=10) as r:
            return json.load(r)
    except urllib.error.HTTPError as exc:
        if exc.code == 404:  # a stage the status store never saw submitted
            return []
        raise
