#!/usr/bin/env python
"""Registry-wide physical-plan hygiene audit.

For EVERY registry query, build the DataFrame at a small SF and scan
its executed plan for scale-killers:

- ``BatchEvalPython``  — row-at-a-time Python UDF in the plan (the
  slow path the repo bans; Arrow paths show ArrowEvalPython /
  MapInPandas / FlatMapGroupsInPandas instead and are fine);
- ``CartesianProduct`` — a cross join Spark could NOT broadcast (a
  broadcast-small-side cross join plans as BroadcastNestedLoopJoin,
  which is the intended shape for 1-row/domain-sized frames);
- ``Exchange SinglePartition`` — each occurrence's INPUT SUBTREE is
  classified (VERDICT r12 #6): bounded (an aggregate / limit / top-k /
  literal frame reduces it) passes silently; a corpus-sized input is
  re-planned with plans/ranks.py's adaptive chooser FORCED onto the
  scale path — if the exchange disappears, the single window was the
  deliberate small-input fast path (adaptive_certified); anything
  still unbounded must carry a SINGLE_PARTITION_ALLOWLIST entry with
  a recorded argument, or it lands in
  ``single_partition_unbounded_flagged``.

Writes PLAN_AUDIT.json: per-query flags + summary. The pytest gate
(tests/test_plan_shapes.py::test_registry_has_no_plan_scale_killers)
re-runs the same scan and hard-fails on the first two categories.

Streaming-wrapper queries (foreachBatch runners) return a lazy read
over their sink, so their OUTER plan is a parquet scan; their inner
per-wave plans are covered by the dedicated plan tests instead — the
audit records them as ``outer_plan_only``.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = os.environ.get("SPARK_GRAFT_AUDIT_SF", "/root/testdata/sf0.001")

HARD_FLAGS = ("BatchEvalPython", "CartesianProduct")
SOFT_FLAGS = ("Exchange SinglePartition",)

# Named exceptions to the single-partition boundedness check: queries
# whose exchange input IS bounded, but by something the subtree walk
# cannot see. Each entry records the argument; an empty reason is not
# allowed to exist.
SINGLE_PARTITION_ALLOWLIST = {
    "qx279_sort_range_planner": (
        "the exchange input is the hash-SAMPLED boundary frame "
        "(md5 filter at RANGE_SAMPLE_THR — corpus/64 at fixture, "
        "rate-tuned to ~1k rows/bucket in production, the exact shape "
        "of Spark's own RangePartitioner sampler); boundedness is a "
        "filter selectivity the subtree walk cannot prove. The full "
        "query at 100x lineitem (60M rows) is certified by "
        "scale_check.py qx279_sort_range_planner (exact census asserted "
        "hard; its wall ratio is recorded in SCALE_c4.json)."
    ),
}

# Node names that BOUND the row count of a single-partition exchange's
# input subtree (VERDICT r12 #6): an aggregate reduces to the group
# domain, a limit / top-k caps rows, LocalTableScan / ExistingRDD are
# driver-built literal frames, ReusedExchange points at a subtree
# audited where it first appears. If NONE of these occur anywhere
# below the exchange, it is funneling raw (corpus-sized) scan output
# into one task — the single-task-sort shape plans/ranks.py exists to
# avoid — and the audit flags it.
BOUNDED_NODES = (
    "HashAggregate",
    "ObjectHashAggregate",
    "SortAggregate",
    "GlobalLimit",
    "LocalLimit",
    "TakeOrderedAndProject",
    "CollectLimit",
    "LocalTableScan",
    "ReusedExchange",
    "Scan ExistingRDD",
)

import re as _re

_NODE_RE = _re.compile(r"^([:+\-| ]*)(?:\*\(\d+\)\s*)?(.*)$")


def _plan_lines(plan: str) -> list[tuple[int, str]]:
    """(depth, node_text) per plan line — depth from the tree-drawing
    prefix (3 chars per level: ':- ', '+- ', ':  ', '   ')."""
    out = []
    for line in plan.splitlines():
        m = _NODE_RE.match(line)
        if not m or not m.group(2).strip():
            continue
        prefix, text = m.group(1), m.group(2).strip()
        out.append((len(prefix) // 3, text))
    return out


def audit_single_partitions(plan: str) -> list[dict]:
    """Walk every ``Exchange SinglePartition`` in the printed plan tree
    and classify its input subtree as bounded (a BOUNDED_NODES marker
    appears below it) or corpus-sized (no reduction between the
    exchange and the scans)."""
    lines = _plan_lines(plan)
    audits = []
    for i, (depth, text) in enumerate(lines):
        if not text.startswith("Exchange SinglePartition"):
            continue
        subtree = []
        for d2, t2 in lines[i + 1 :]:
            if d2 <= depth:
                break
            subtree.append(t2)
        marker = next(
            (b for b in BOUNDED_NODES for t in subtree if t.startswith(b)), None
        )
        audits.append({"bounded": marker is not None, "marker": marker})
    return audits


def audit_plan(plan: str) -> dict:
    sp = audit_single_partitions(plan)
    return {
        "hard": sorted({f for f in HARD_FLAGS if f in plan}),
        "single_partition_exchanges": plan.count("Exchange SinglePartition"),
        "single_partition_unbounded": sum(1 for a in sp if not a["bounded"]),
        "single_partition_markers": sorted(
            {a["marker"] for a in sp if a["marker"]}
        ),
    }


def _certify_adaptive(spark, q, name: str) -> bool:
    """A query whose sf0.001 plan funnels a corpus-sized subtree into a
    single-partition exchange is STILL scale-safe if it routes through
    plans/ranks.py's adaptive chooser — the single window is the
    deliberate small-input fast path. Certify mechanically: force the
    chooser onto the scale path (thresholds to -1) and re-plan; if the
    unbounded exchange disappears, the scale spelling exists and is the
    one a 100-TB input would get (its behavior is separately certified
    by scale_check.py rank_scale_path). Returns True if the
    forced plan has zero unbounded single-partition exchanges."""
    import bqfetch_spark.plans.ranks as ranks

    saved = (ranks.SINGLE_SORT_BYTES, ranks.SINGLE_SORT_ROWS)
    ranks.SINGLE_SORT_BYTES, ranks.SINGLE_SORT_ROWS = -1, -1
    try:
        plan = q.fn(spark, SF)._jdf.queryExecution().executedPlan().toString()
        forced = audit_single_partitions(plan)
        return not any(not a["bounded"] for a in forced)
    except Exception:  # noqa: BLE001 — uncertifiable counts as flagged
        return False
    finally:
        ranks.SINGLE_SORT_BYTES, ranks.SINGLE_SORT_ROWS = saved


def main() -> None:
    from bqfetch_spark.registry import all_queries
    from bqfetch_spark.session import get_session

    spark = get_session("plan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    queries = all_queries()
    out, n_hard = {}, 0
    for name in sorted(queries):
        q = queries[name]
        try:
            df = q.fn(spark, SF)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as exc:  # noqa: BLE001 — record, don't abort the sweep
            out[name] = {"error": f"{type(exc).__name__}: {exc}"[:200]}
            continue
        rec = audit_plan(plan)
        rec["outer_plan_only"] = "streaming" in q.tags
        if rec["single_partition_unbounded"]:
            if name in SINGLE_PARTITION_ALLOWLIST:
                rec["allowlisted"] = SINGLE_PARTITION_ALLOWLIST[name]
            else:
                rec["adaptive_certified"] = _certify_adaptive(spark, q, name)
        n_hard += len(rec["hard"])
        out[name] = rec
    summary = {
        "sf": SF,
        "n_queries": len(out),
        "n_hard_flags": n_hard,
        "hard_flagged": sorted(n for n, r in out.items() if r.get("hard")),
        "n_with_single_partition": sum(
            1 for r in out.values() if r.get("single_partition_exchanges", 0) > 0
        ),
        "n_single_partition_unbounded": sum(
            r.get("single_partition_unbounded", 0) for r in out.values()
        ),
        "single_partition_adaptive_certified": sorted(
            n for n, r in out.items()
            if r.get("single_partition_unbounded", 0) > 0
            and r.get("adaptive_certified")
        ),
        "single_partition_allowlisted": sorted(
            n for n, r in out.items() if "allowlisted" in r
        ),
        "single_partition_unbounded_flagged": sorted(
            n for n, r in out.items()
            if r.get("single_partition_unbounded", 0) > 0
            and not r.get("adaptive_certified")
            and "allowlisted" not in r
        ),
        "errors": sorted(n for n, r in out.items() if "error" in r),
    }
    with open("PLAN_AUDIT.json", "w") as fh:
        json.dump({"summary": summary, "queries": out}, fh, indent=1, sort_keys=True)
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
