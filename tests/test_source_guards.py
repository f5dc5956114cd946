"""Source-level guards on where the engine touches its surroundings:
deployment settings come from the environment in session.py alone, and
the Spark application and session identity are read through compat.py
alone (Spark Connect has no sparkContext), word n-grams are built by one
kernel, no read runs a schema-inference job only to learn a schema,
cross-call memos live in the one artifact store, and the fetcher pulls
rows to the driver only through compat.py."""

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
    ``.toPandas()`` or ``.toArrow()``, except the one ``toArrow()`` that
    reads a range-plan chunk in ``fetch_to_pandas``."""
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
    assert hits == [("fetch_to_pandas", "toArrow")]
