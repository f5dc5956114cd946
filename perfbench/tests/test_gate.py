"""The correctness gate rejects dropped, duplicated, stray or altered
chunk rows and wrong query results. Runs without Spark:

    python3 -m pytest perfbench/tests/test_gate.py -q -p no:cacheprovider
"""

from __future__ import annotations

import os
import sys

import pandas as pd
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), os.path.dirname(os.path.dirname(HERE))]

import datagen  # noqa: E402
import gate  # noqa: E402
from bqfetch_spark.fetcher import FetchingChunk  # noqa: E402


@pytest.fixture(scope="module")
def lineitem(tmp_path_factory):
    path = tmp_path_factory.mktemp("data") / "lineitem.parquet"
    pq.write_table(datagen.build_tables(0.001)["lineitem"], path)
    return str(path), pq.read_table(path).to_pandas()


def range_chunks(pdf, n: int) -> list[FetchingChunk]:
    step = -(-(int(pdf.l_orderkey.max()) + 1) // n)
    return [FetchingChunk("l_orderkey", i, n, i * step, (i + 1) * step - 1, 0) for i in range(n)]


def value_chunks(n: int, domain: list[int]) -> list[FetchingChunk]:
    parts = [tuple(domain[i::n]) for i in range(n)]
    return [
        FetchingChunk("l_suppkey", i, n, min(p), max(p), len(p), elements=p)
        for i, p in enumerate(parts)
    ]


def rows_of(pdf, chunk: FetchingChunk):
    """The rows a correct fetch of ``chunk`` hands the caller."""
    keys = pdf[chunk.column]
    if chunk.elements is not None:
        return pdf[keys.isin(chunk.elements)]
    return pdf[keys.between(chunk.lower, chunk.upper)]


def tally(chunk: FetchingChunk, rows) -> gate.ChunkTally:
    t = gate.ChunkTally(chunk)
    for start in range(0, len(rows), 500):  # delivered in batches
        part = rows.iloc[start : start + 500]
        t.add({c: part[c].to_numpy() for c in gate.KEY_COLUMNS})
    return t


def fetch_all(pdf, chunks):
    return [tally(c, rows_of(pdf, c)) for c in chunks]


def test_exact_cover_passes(lineitem):
    path, pdf = lineitem
    oracle = gate.FetchOracle(path)
    tallies = fetch_all(pdf, range_chunks(pdf, 4))
    assert [gate.check_chunk(oracle, t) for t in tallies] == [None] * 4
    assert gate.check_pass(oracle, tallies) is None


def test_value_list_cover_passes(lineitem):
    path, pdf = lineitem
    oracle = gate.FetchOracle(path)
    tallies = fetch_all(pdf, value_chunks(3, sorted(pdf.l_suppkey.unique().tolist())))
    assert [gate.check_chunk(oracle, t) for t in tallies] == [None] * 3
    assert gate.check_pass(oracle, tallies) is None


def test_dropped_chunk_fails(lineitem):
    path, pdf = lineitem
    tallies = fetch_all(pdf, range_chunks(pdf, 4))
    assert "rows" in gate.check_pass(gate.FetchOracle(path), tallies[:-1])


def test_duplicated_chunk_fails(lineitem):
    path, pdf = lineitem
    chunks = range_chunks(pdf, 4)
    tallies = fetch_all(pdf, chunks + [chunks[1]])
    assert gate.check_pass(gate.FetchOracle(path), tallies) is not None


def test_overlapping_value_lists_fail(lineitem):
    path, pdf = lineitem
    a, b = value_chunks(2, sorted(pdf.l_suppkey.unique().tolist()))
    b = FetchingChunk("l_suppkey", 1, 2, b.lower, b.upper, b.n_values + 1, elements=b.elements + (a.elements[0],))
    assert "shares values" in gate.check_pass(gate.FetchOracle(path), fetch_all(pdf, [a, b]))


def test_stray_missing_or_altered_rows_fail_the_chunk(lineitem):
    path, pdf = lineitem
    oracle = gate.FetchOracle(path)
    first, second = range_chunks(pdf, 2)
    mine, other = rows_of(pdf, first), rows_of(pdf, second)
    assert gate.check_chunk(oracle, tally(first, mine)) is None
    stray = tally(first, pd.concat([mine, other.iloc[:1]]))
    assert "outside its predicate" in gate.check_chunk(oracle, stray)
    assert "expected" in gate.check_chunk(oracle, tally(first, mine.iloc[1:]))
    # same row count, one row swapped for a copy of another: checksum differs
    altered = pd.concat([mine.iloc[:1], mine.iloc[:-1]])
    assert "checksum" in gate.check_chunk(oracle, tally(first, altered))


def test_checksum_ignores_order_but_not_content():
    a = [[1, 2, 3], [4, 5, 6], [7, 8, 9], [1, 1, 1]]
    assert gate.checksum(a) == gate.checksum([col[::-1] for col in a])
    assert gate.checksum(a) != gate.checksum([[1, 2, 3], [4, 5, 6], [7, 8, 9], [1, 1, 2]])


def test_query_hash_gate():
    pdf = pd.DataFrame({"k": [2, 1], "v": [0.5, 1.25]})
    rows, digest = gate.frame_hash(pdf)
    expected = {"q": {"rows": rows, "hash": digest}}
    # row order does not matter; values do
    assert gate.check_query(expected, "q", pdf.iloc[::-1]) is None
    assert "hash" in gate.check_query(expected, "q", pd.DataFrame({"k": [2, 1], "v": [0.5, 1.5]}))
    assert "rows" in gate.check_query(expected, "q", pdf.iloc[:1])
    assert gate.check_query({"q": {"rows": rows, "hash": "0" * 64}}, "q", pdf) is not None
