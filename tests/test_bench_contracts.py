

def test_machine_adjudication_branches():
    """VERDICT r12 #4: flags are machine-adjudicated — isolated re-run
    within bounds auto-closes; a reproduced slowdown stays open; flags
    past the cap are recorded as un-re-measured."""
    import bench

    regs = {
        "q_noise": {"prev": 2.0, "now": 9.0},   # isolated comes back fine
        "q_real": {"prev": 2.0, "now": 9.0},    # isolated reproduces
    }
    fake = {"q_noise": [2.3, 2.1, 2.2, 2.0, 2.1], "q_real": [8.8, 9.1, 9.0, 8.9, 9.2]}
    out = bench._machine_adjudicate(regs, remeasure=lambda n: fake[n])
    assert out["q_noise"]["auto_closed"] is True
    assert out["q_real"]["auto_closed"] is False
    assert out["q_noise"]["isolated_min"] == 2.0

    # cap: only the worst ISOLATED_CAP flags get a re-measure
    n_flags = bench.ISOLATED_CAP + 4
    many = {f"q{i:02d}": {"prev": 1.0, "now": 3.0 + i} for i in range(n_flags)}
    calls = []
    out = bench._machine_adjudicate(many, remeasure=lambda n: (calls.append(n), [1.0])[1])
    assert len(calls) == bench.ISOLATED_CAP
    capped = [n for n, r in out.items() if "cap" in r["verdict"]]
    assert len(capped) == n_flags - bench.ISOLATED_CAP
    # the worst ratios were prioritized
    worst, best = f"q{n_flags - 1:02d}", "q00"
    assert worst in calls and best not in calls


def test_bench_dict_literals_have_no_duplicate_keys():
    """A repeated key in a dict literal silently keeps only the later
    value (the earlier ADJUDICATIONS text never reached BENCH_DETAIL);
    every dict literal in bench.py must spell each key once."""
    import ast
    from collections import Counter
    from pathlib import Path

    import bench

    tree = ast.parse(Path(bench.__file__).read_text(encoding="utf-8"))
    dupes = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Dict):
            keys = Counter(
                k.value for k in node.keys if isinstance(k, ast.Constant)
            )
            dupes += [(node.lineno, k) for k, n in keys.items() if n > 1]
    assert dupes == []


def test_previous_bench_fallback_takes_the_highest_headline_round(tmp_path, monkeypatch):
    """Without BENCH_DETAIL.json the regression guard reads the
    highest-round driver headline, BENCH_r<digits>.json; per-CPU (_c8)
    and builder side records sort later but are not headlines."""
    import json

    import bench

    def record(name, q):
        (tmp_path / name).write_text(json.dumps({"parsed": {"queries": {q: 1.0}}}))

    record("BENCH_r9.json", "r9")
    record("BENCH_r14.json", "r14")
    record("BENCH_r14_c8.json", "c8")
    record("BENCH_r15_builder.json", "builder")
    monkeypatch.setattr(bench, "__file__", str(tmp_path / "bench.py"))
    assert bench._load_previous_bench() == ("BENCH_r14.json", {"r14": 1.0})
