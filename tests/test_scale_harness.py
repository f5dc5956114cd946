"""The scale harness (scripts/scale_check.py): its replicator, gate,
check table and timer, exercised at smoke scale."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys

import pyarrow.parquet as pq
import pytest

from tests.conftest import SF_SMOKE

SCRIPTS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts")
sys.path.insert(0, SCRIPTS)
sc = importlib.import_module("scale_check")

PKS = {"lineitem": ("l_orderkey", "l_linenumber"), "orders": ("o_orderkey",), "documents": ("doc_id",)}


@pytest.fixture(scope="module")
def replica(tmp_path_factory):
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(sc, "WORK", str(tmp_path_factory.mktemp("replica")))
        mp.setattr(sc, "_BUILT", {})
        return sc.replicate(SF_SMOKE, 2, ("lineitem", "orders", "documents"))


def _read(sf_dir, table):
    return pq.read_table(os.path.join(sf_dir, f"{table}.parquet"))


def test_module_imports_without_a_session():
    code = (
        f"import sys; sys.path.insert(0, {SCRIPTS!r}); import scale_check\n"
        "from pyspark.sql import SparkSession\n"
        "sys.exit(SparkSession.getActiveSession() is not None)\n"
    )
    assert subprocess.run([sys.executable, "-c", code], timeout=120).returncode == 0


def test_replicate_doubles_rows_and_keeps_keys_unique(replica):
    for table, pk in PKS.items():
        base, big = _read(SF_SMOKE, table), _read(replica, table)
        assert big.num_rows == 2 * base.num_rows
        assert big.schema == base.schema
        # no key crosses replicas (the lineitem fixture itself repeats
        # some (orderkey, linenumber) pairs, so count distinct keys)
        keys = [set(zip(*(t[c].to_pylist() for c in pk))) for t in (base, big)]
        assert len(keys[1]) == 2 * len(keys[0]), f"{table} keys shared across replicas"
    # tables left out are the base files themselves
    assert _read(replica, "customer").equals(_read(SF_SMOKE, "customer"))


def test_replicas_share_no_word_trigram(replica):
    docs = _read(replica, "documents").to_pydict()
    n_base = _read(SF_SMOKE, "documents").num_rows
    grams = [set(), set()]
    for i, text in enumerate(docs["text"]):
        words = text.split()
        grams[i >= n_base] |= set(zip(words, words[1:], words[2:]))
    assert grams[0] and grams[1] and not grams[0] & grams[1]
    assert docs["n_chars"] == [len(t) for t in docs["text"]]
    assert not set(docs["source"][:n_base]) & set(docs["source"][n_base:])


def test_replica_joins_within_copies(spark, replica):
    """lineitem x orders on orderkey doubles (k copies) rather than
    quadrupling (k^2 cross-replica matches), and the catalog reads the
    replica's footer schemas unchanged."""
    from bqfetch_spark.catalog import TABLES, load_catalog

    base, big = load_catalog(spark, SF_SMOKE), load_catalog(spark, replica)
    for t in TABLES:
        assert big.file_schema(t) == base.file_schema(t)

    def joined(cat):
        li, o = cat.table("lineitem"), cat.table("orders")
        return li.join(o, li.l_orderkey == o.o_orderkey).count()

    assert joined(big) == 2 * joined(base) > 0


def test_gate_policy():
    assert sc.gate(True, "fine", timing=True, load1=0.1)
    with pytest.raises(AssertionError):
        sc.gate(False, "super-linear", timing=True, load1=0.1)
    assert sc.gate(False, "super-linear", timing=True, load1=5.0) is False
    for load1 in (0.1, 5.0):
        with pytest.raises(AssertionError):
            sc.gate(False, "rows lost", load1=load1)


def test_check_table_is_well_formed():
    from bqfetch_spark.registry import all_queries

    names = [c.name for c in sc.CHECKS]
    assert len(names) == len(set(names))
    live = all_queries()
    for c in sc.CHECKS:
        assert c.factor in (10, 100) and c.bound > 0
        if c.custom:
            assert c.why, f"{c.name}: a custom check must say why"
        else:
            assert c.query in live, f"{c.name} is not a registry query"
            assert c.tables, f"{c.name} replicates nothing"


def test_registry_check_end_to_end(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(sc, "WORK", str(tmp_path))
    monkeypatch.setattr(sc, "_BUILT", {})
    check = sc.Check("q01_pricing_summary", 2, 1e9, ("lineitem",))
    rec = {}
    sc.run_check(spark, check, SF_SMOKE, rec)
    n = _read(SF_SMOKE, "lineitem").num_rows
    assert rec["rows"] == [n, 2 * n] and rec["passed"] is True
    assert len(rec["runs_s"]) == sc.ROUNDS and len(rec["min_s"]) == 2
    assert rec["worst_ratio"] > 0 and {"fixed_s", "per_million_rows_s"} <= rec.keys()
    # the same run against an impossible bound only warns under load
    monkeypatch.setattr(sc, "LOAD1", 5.0)
    late = {}
    sc.run_check(spark, sc.Check("q01_pricing_summary", 2, 1e-9, ("lineitem",)), SF_SMOKE, late)
    assert late["passed"] is False
