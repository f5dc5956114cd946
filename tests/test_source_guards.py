"""Source-level guards on where the engine touches its surroundings:
deployment settings come from the environment in session.py alone, and
the Spark application and session identity are read through compat.py
alone (Spark Connect has no sparkContext), word n-grams are built by one
kernel, no read runs a schema-inference job only to learn a schema,
cross-call memos live in the one artifact store, the fetcher pulls
rows to the driver only through compat.py, and every top-level engine
definition is reached from a root."""

from __future__ import annotations

from pathlib import Path

import bqfetch_spark


def test_environment_and_app_id_reads_live_in_one_module_each():
    root = Path(bqfetch_spark.__file__).parent
    sources = {
        p.relative_to(root).as_posix(): p.read_text(encoding="utf-8")
        for p in root.rglob("*.py")
    }
    strays = {}
    for needles, home in (
        (("os.environ", "os.getenv"), "session.py"),
        (("sparkContext.applicationId",), "compat.py"),
        (("sessionUUID",), "compat.py"),
    ):
        hits = [n for n, text in sources.items() if any(x in text for x in needles)]
        if sorted(hits) != [home]:
            strays[needles] = sorted(hits)
    assert strays == {}


def test_word_ngrams_are_built_in_one_module():
    """Every word n-gram goes through functions/text.py:token_ngrams:
    no other module in the engine or its scripts zips shifted token
    slices or builds grams with a per-element concat_ws lambda."""
    import re

    pkg = Path(bqfetch_spark.__file__).parent
    files = [*pkg.rglob("*.py"), *(pkg.parent / "scripts").rglob("*.py")]
    spellings = (re.compile(r"F\.arrays_zip\("), re.compile(r"lambda\s+\w+\s*:\s*F\.concat_ws\("))
    hits = sorted(
        p.relative_to(pkg.parent).as_posix()
        for p in files
        if any(rx.search(p.read_text(encoding="utf-8")) for rx in spellings)
    )
    assert hits == ["bqfetch_spark/functions/text.py"]


def test_no_schema_only_parquet_reads():
    """``spark.read.parquet(path).schema`` runs a schema-inference job to
    learn what the file's footer already says: a fixture file's schema
    comes from ``Catalog.file_schema`` or ``compat.parquet_file_schema``
    instead. The one read left names a Spark-written wave directory,
    which the single-file footer route does not cover."""
    import re

    root = Path(bqfetch_spark.__file__).parent
    schema_only = re.compile(r"\.read\.parquet\((?:[^()]|\([^()]*\))*\)\s*\.schema\b")
    hits = {
        p.relative_to(root).as_posix(): len(schema_only.findall(p.read_text(encoding="utf-8")))
        for p in root.rglob("*.py")
    }
    assert {k: n for k, n in hits.items() if n} == {"streaming/waves.py": 1}


def test_module_level_memos_live_in_workcache():
    """A module-level dict named ``*_MEMO`` is a hand-rolled cross-call
    memo: its key, bound and eviction rule belong to
    ``workcache.artifact``, so only workcache.py may define one."""
    import re

    root = Path(bqfetch_spark.__file__).parent
    memo = re.compile(r"^_?[A-Z0-9_]*_MEMO\b\s*(?::[^=\n]*)?=", re.MULTILINE)
    hits = sorted(
        p.relative_to(root).as_posix()
        for p in root.rglob("*.py")
        if memo.search(p.read_text(encoding="utf-8"))
    )
    assert hits == ["workcache.py"]


def test_fetcher_pulls_rows_through_compat():
    """fetcher.py pulls results to the driver through compat.py, whose
    pulls close their sockets: no direct ``.collect()``, ``.first()``,
    ``.toPandas()`` or ``.toArrow()``."""
    import ast

    path = Path(bqfetch_spark.__file__).parent / "fetcher.py"
    tree = ast.parse(path.read_text(encoding="utf-8"))
    funcs = [n for n in ast.walk(tree) if isinstance(n, ast.FunctionDef)]

    def scope(line):
        """The name of the innermost function around ``line``."""
        around = [f for f in funcs if f.lineno <= line <= f.end_lineno]
        return min(around, key=lambda f: f.end_lineno - f.lineno).name if around else None

    hits = [
        (scope(node.lineno), node.func.attr)
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr in ("collect", "first", "toPandas", "toArrow")
    ]
    assert hits == []


# Engine definitions no root reaches by name that stay on purpose,
# each with its reason. They seed the scan like roots, so what their
# bodies use is reached too.
UNREACHED_ON_PURPOSE = {
    "read_bigquery_table": "the reference's own entry point (PAPER.md), "
    "usable when the BigQuery connector is on the classpath",
    "estimated_materialized_bytes": "tests/test_fetcher.py derives its "
    "expected size-driven chunk counts from it",
    "drifted_wave": "the planted drift wave the partial-retrain recall "
    "and crash-consistency tests ingest",
}


def test_engine_definitions_are_reached():
    """Every top-level function, class and constant under bqfetch_spark/
    is named, on a non-comment line outside its own body, by a root or
    by a definition a root reaches (repeated until nothing changes).
    Roots: registered queries, module-level statements (imports and
    ``register`` calls included), the package ``__init__`` exports,
    bench.py, __spark_entry__.py, scripts/ and perfbench/ (not their
    tests). Tests are not roots: code only a test calls is dead."""
    import ast
    import re

    pkg = Path(bqfetch_spark.__file__).parent
    repo = pkg.parent
    word = re.compile(r"[A-Za-z_]\w*")

    def names(lines):
        return {w for line in lines if not line.lstrip().startswith("#") for w in word.findall(line)}

    roots = [repo / "bench.py", repo / "__spark_entry__.py", pkg / "__init__.py"]
    roots += [p for d in ("scripts", "perfbench") for p in (repo / d).rglob("*.py") if "tests" not in p.parts]
    reached = set().union(*(names(p.read_text(encoding="utf-8").splitlines()) for p in roots))
    reached |= set(UNREACHED_ON_PURPOSE)

    defs = []  # (module, name, names in its body, registered)
    for path in sorted(pkg.rglob("*.py")):
        if path == pkg / "__init__.py":
            continue
        lines = path.read_text(encoding="utf-8").splitlines()
        owned = set()
        for node in ast.parse("\n".join(lines)).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                defined = [node.name]
            elif isinstance(node, (ast.Assign, ast.AnnAssign)):
                targets = node.targets if isinstance(node, ast.Assign) else [node.target]
                defined = [n.id for t in targets for n in ast.walk(t) if isinstance(n, ast.Name)]
            else:
                continue
            decorators = getattr(node, "decorator_list", [])
            start = min([node.lineno] + [d.lineno for d in decorators])
            owned.update(range(start, node.end_lineno + 1))
            body = names(lines[start - 1 : node.end_lineno])
            registered = any(getattr(getattr(d, "func", None), "id", None) == "register" for d in decorators)
            rel = path.relative_to(pkg).as_posix()
            defs += [(rel, n, body, registered or n.startswith("__")) for n in defined]
        reached |= names(line for i, line in enumerate(lines, 1) if i not in owned)

    assert set(UNREACHED_ON_PURPOSE) <= {name for _, name, _, _ in defs}  # no stale entry
    pending = list(defs)
    while True:
        live = [d for d in pending if d[3] or d[1] in reached]
        if not live:
            break
        for d in live:
            reached |= d[2]
            pending.remove(d)
    assert sorted(f"{mod}:{name}" for mod, name, _, _ in pending) == []
