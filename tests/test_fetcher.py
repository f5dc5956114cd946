"""Fetch-parity facade: chunk-partition invariants inherited from the
reference's implicit contract (divide_in_chunks, bqfetch/utils.py:18-28
+ pd.concat merge, bqfetch/bqfetch.py:358): chunks are disjoint, cover
the domain, and union(chunks) == whole table."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bqfetch_spark.catalog import TABLES
from bqfetch_spark.compat import collect_arrow, collect_rows
from bqfetch_spark.fetcher import Fetcher, TableRef
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def fetcher(spark):
    return Fetcher(spark)


@pytest.mark.parametrize("n_chunks", [1, 3, 4, 7])
def test_chunks_partition_customer(spark, fetcher, n_chunks):
    ref = TableRef(SF_SMOKE, "customer")
    chunks = fetcher.chunks(ref, "c_custkey", by_nb_chunks=n_chunks)
    assert len(chunks) == n_chunks
    total = 0
    seen = set()
    for c in chunks:
        keys = {r.c_custkey for r in collect_rows(fetcher.fetch(ref, c).select("c_custkey"))}
        assert not (keys & seen), "chunks overlap"
        seen |= keys
        total += len(keys)
    assert total == fetcher.table(ref).count()
    # contiguous, ordered ranges
    for a, b in zip(chunks, chunks[1:]):
        assert a.upper < b.lower


def test_chunks_on_low_cardinality_column(spark, fetcher):
    """Reference 'bad chunk key' shape (FIXTURES.md): low-cardinality
    string column must still partition correctly, not crash."""
    ref = TableRef(SF_SMOKE, "customer")
    chunks = fetcher.chunks(ref, "c_mktsegment", by_nb_chunks=3)
    counts = [fetcher.fetch(ref, c).count() for c in chunks]
    assert sum(counts) == fetcher.table(ref).count()


def test_chunks_more_than_values_degrades(spark, fetcher):
    ref = TableRef(SF_SMOKE, "customer")
    chunks = fetcher.chunks(ref, "c_mktsegment", by_nb_chunks=99)
    assert len(chunks) == 5  # 5 distinct segments
    assert sum(fetcher.fetch(ref, c).count() for c in chunks) == 150


def _as_customer(df, tmp_path) -> TableRef:
    """A fixture directory of its own whose customer table is ``df``."""
    import os

    # the catalog loads every fixture table for a directory: symlink the
    # others, write only customer
    for t in TABLES:
        if t != "customer":
            os.symlink(f"{SF_SMOKE}/{t}.parquet", str(tmp_path / f"{t}.parquet"))
    df.write.parquet(str(tmp_path / "customer.parquet"))
    return TableRef(str(tmp_path), "customer")


def _nulled_customer(fetcher, tmp_path) -> TableRef:
    """customer with every tenth ``c_nationkey`` set to NULL, in a
    fixture directory of its own."""
    base = fetcher.table(TableRef(SF_SMOKE, "customer"))
    nulled = base.withColumn(
        "c_nationkey",
        F.when(F.col("c_custkey") % 10 == 0, F.lit(None)).otherwise(F.col("c_nationkey")),
    )
    return _as_customer(nulled, tmp_path)


@pytest.mark.parametrize("by_values", [False, True])
def test_chunks_cover_null_domain_values(spark, fetcher, tmp_path, by_values):
    """A nullable chunk column must still satisfy union(chunks) ==
    table: BETWEEN and IN both reject NULL and collect_list drops it,
    so the planner flags whichever bucket the NULL value sorted into
    and that chunk's predicate gains an IS NULL disjunct (round-4
    advice: NULL rows were silently lost from every chunk)."""
    ref = _nulled_customer(fetcher, tmp_path)
    tbl = fetcher.table(ref)
    n_rows = tbl.count()
    n_null_rows = tbl.filter(F.col("c_nationkey").isNull()).count()
    assert n_null_rows > 0  # fixture sanity

    chunks = fetcher.chunks(ref, "c_nationkey", by_nb_chunks=4, by_values=by_values)
    assert sum(c.includes_null for c in chunks) == 1
    counts = [fetcher.fetch(ref, c).count() for c in chunks]
    assert sum(counts) == n_rows  # NULL rows fetched exactly once
    null_chunk = next(c for c in chunks if c.includes_null)
    got_nulls = (
        fetcher.fetch(ref, null_chunk).filter(F.col("c_nationkey").isNull()).count()
    )
    assert got_nulls == n_null_rows


def test_full_table_fetch_none_chunk(spark, fetcher):
    ref = TableRef(SF_SMOKE, "nation")
    assert fetcher.fetch(ref, None).count() == 25


def test_fetch_to_pandas_and_arrow(spark, fetcher):
    ref = TableRef(SF_SMOKE, "region")
    pdf = fetcher.fetch_to_pandas(ref, None)
    assert pdf.shape[0] == 5
    batches = list(fetcher.iter_batches(ref, None))
    assert sum(b.num_rows for b in batches) == 5


def _rows(tbl):
    """Order-independent row multiset (repr keeps NaN == NaN and list
    cells comparable)."""
    from collections import Counter

    return Counter(repr(r) for r in tbl.to_pylist())


def _assert_stream_matches_to_arrow(fetcher, ref, chunk, batch_rows):
    """iter_batches must be schema- and value-identical to a single
    toArrow() materialization of the same chunk, sliced to batch_rows."""
    import pyarrow as pa

    expected = collect_arrow(fetcher.fetch(ref, chunk))
    batches = list(fetcher.iter_batches(ref, chunk, batch_rows=batch_rows))
    assert all(isinstance(b, pa.RecordBatch) for b in batches)
    assert all(0 < b.num_rows <= batch_rows for b in batches)
    assert all(b.schema == expected.schema for b in batches)
    got = pa.Table.from_batches(batches, schema=expected.schema)
    assert got.num_rows == expected.num_rows
    assert _rows(got) == _rows(expected)


@pytest.mark.parametrize("table", TABLES)
def test_iter_batches_arrow_native(spark, fetcher, table):
    """The spout is Arrow end to end: batches arrive Arrow-typed,
    sliced to batch_rows, and identical to toArrow() for every fixture
    table — timestamp instants (events.ts) and list columns
    (embeddings) included."""
    _assert_stream_matches_to_arrow(fetcher, TableRef(SF_SMOKE, table), None, 100)


def test_iter_batches_value_list_chunk(spark, fetcher):
    ref = TableRef(SF_SMOKE, "lineitem")
    chunk = fetcher.chunks(ref, "l_suppkey", by_nb_chunks=3, by_values=True)[1]
    _assert_stream_matches_to_arrow(fetcher, ref, chunk, 256)


def test_iter_batches_degenerate_chunk_is_empty(spark, fetcher):
    """A chunk that matches nothing (F.lit(False) predicate) streams
    zero batches instead of raising."""
    from bqfetch_spark.fetcher import FetchingChunk

    chunk = FetchingChunk("c_custkey", 0, 1, None, None, 0, elements=())
    ref = TableRef(SF_SMOKE, "customer")
    assert fetcher.fetch(ref, chunk).count() == 0
    assert list(fetcher.iter_batches(ref, chunk, batch_rows=10)) == []


def test_iter_batches_early_close_releases_stream(spark, fetcher):
    """Abandoning a stream after one batch must release its serving
    socket and job: the next stream on the same session runs to the
    full row count."""
    ref = TableRef(SF_SMOKE, "lineitem")
    for batch in fetcher.iter_batches(ref, None, batch_rows=100):
        assert batch.num_rows == 100
        break
    rows = sum(b.num_rows for b in fetcher.iter_batches(ref, None, batch_rows=100))
    assert rows == fetcher.table(ref).count()


def test_iter_batches_closes_its_socket(spark, fetcher):
    """A stream's serving socket is closed by the stream itself, not
    left to garbage collection: neither a used-up stream nor one closed
    after its first batch may leave an unclosed socket behind."""
    import gc
    import warnings

    ref = TableRef(SF_SMOKE, "lineitem")
    gc.collect()  # earlier tests' garbage must not count against this one
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always", ResourceWarning)
        assert sum(b.num_rows for b in fetcher.iter_batches(ref, None, batch_rows=100)) > 0
        stream = fetcher.iter_batches(ref, None, batch_rows=100)
        next(stream)
        stream.close()
        del stream
        gc.collect()
    leaked = [str(w.message) for w in caught if issubclass(w.category, ResourceWarning)]
    assert not [m for m in leaked if "socket" in m], leaked


def test_fetch_to_pandas_closes_its_socket(spark, fetcher):
    """Neither route of ``fetch_to_pandas`` leaves a socket to garbage
    collection: a range plan's chunks, served from their layout, nor a
    hand-built chunk and the whole table, each pulled in one Arrow
    collect whose socket the pull closes. The collect gives what
    ``toArrow()`` gives, for an empty chunk too."""
    import gc
    import warnings

    from bqfetch_spark.fetcher import FetchingChunk

    ref = TableRef(SF_SMOKE, "lineitem")
    chunks = fetcher.chunks(ref, "l_orderkey", by_nb_chunks=3)
    layout = chunks[0].layout
    assert layout is not None and all(c.elements is None and c.layout is layout for c in chunks)
    empty = FetchingChunk("l_orderkey", 0, 1, -2, -1, 0)
    gc.collect()  # earlier tests' garbage must not count against this one
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always", ResourceWarning)
        pdfs = [fetcher.fetch_to_pandas(ref, c) for c in chunks]
        assert sum(map(len, pdfs)) == len(fetcher.fetch_to_pandas(ref, None)) > 0
        assert len(fetcher.fetch_to_pandas(ref, empty)) == 0
        gc.collect()
    assert layout.partitions is not None  # the plan's chunks were served
    leaked = [str(w.message) for w in caught if issubclass(w.category, ResourceWarning)]
    assert not [m for m in leaked if "socket" in m], leaked

    with warnings.catch_warnings():
        warnings.simplefilter("ignore", ResourceWarning)  # toArrow() leaves its socket to GC
        for chunk in (chunks[1], empty):
            want = fetcher.fetch(ref, chunk).toArrow()
            got = collect_arrow(fetcher.fetch(ref, chunk))
            assert got.schema == want.schema
            assert _rows(got) == _rows(want)
        gc.collect()


def test_invalid_args(spark, fetcher):
    ref = TableRef(SF_SMOKE, "customer")
    with pytest.raises(ValueError):
        fetcher.chunks(ref, "c_custkey", by_nb_chunks=0)
    # rejected at call time: the stream (and its Spark job) never starts
    for bad in (0, -1):
        with pytest.raises(ValueError, match="batch_rows"):
            fetcher.iter_batches(ref, None, batch_rows=bad)


def test_chunks_by_size_mode(spark, fetcher, duck):
    """by_chunk_size_in_GB parity (reference get_nb_chunks_approximation,
    bqfetch/bqfetch.py:374-454): chunk count = ceil(estimated
    materialized GB / budget) with the 10KB target binding, and the
    planned boundaries equal the exact ntile bucketing of the distinct
    domain (dynamic oracle). Size source is the num_bytes analog
    (fixed widths + string byte lengths) since round 11."""
    from bqfetch_spark.plans.advisor import (
        estimated_materialized_bytes,
        suggest_chunks_by_size,
    )
    from tests.conftest import SF_CORRECT

    ref = TableRef(SF_CORRECT, "customer")
    chunks = fetcher.chunks(ref, "c_custkey", by_chunk_size_in_GB=1e-5)
    expected_n = suggest_chunks_by_size(
        estimated_materialized_bytes(fetcher.table(ref)), 1e-5, 1
    )
    assert len(chunks) == expected_n
    oracle = duck.sql(
        f"""
        SELECT b, min(k) AS lo, max(k) AS hi, count(*) AS n
        FROM (SELECT k, ntile({expected_n}) OVER (ORDER BY k) AS b
              FROM (SELECT DISTINCT c_custkey AS k FROM customer))
        GROUP BY b ORDER BY b
        """
    ).fetchall()
    got = [(c.index + 1, c.lower, c.upper, c.n_values) for c in chunks]
    assert got == [tuple(r) for r in oracle]


def test_chunks_by_size_memory_budget_binds():
    """When chunk_GB x cores exceeds available RAM, the RAM budget
    (minus reserve) caps the wave size — the reference's formula."""
    from bqfetch_spark.plans.advisor import GB, suggest_chunks_by_size

    # 100 GB table, 8 GB chunks x 4 cores = 32 GB wave, but only 9 GB
    # free (8 after reserve) -> ceil(100/8) = 13
    assert suggest_chunks_by_size(100 * GB, 8.0, 4, available_bytes=9 * GB) == 13
    # plentiful RAM: the chunk-size term binds -> ceil(100/32) = 4
    assert suggest_chunks_by_size(100 * GB, 8.0, 4, available_bytes=512 * GB) == 4


def test_chunks_sizing_args_are_exclusive(spark, fetcher):
    ref = TableRef(SF_SMOKE, "customer")
    with pytest.raises(ValueError):
        fetcher.chunks(ref, "c_custkey")
    with pytest.raises(ValueError):
        fetcher.chunks(ref, "c_custkey", by_nb_chunks=2, by_chunk_size_in_GB=1.0)
    with pytest.raises(ValueError):
        fetcher.chunks(ref, "c_custkey", by_chunk_size_in_GB=-1.0)


def test_value_list_chunks_partition(spark, fetcher):
    """Reference-parity categorical chunks (FetchingChunk(elements,
    column), bqfetch/bqfetch.py:43-50): explicit value lists, disjoint,
    covering the domain, and consistent with the range-mode bucketing."""
    ref = TableRef(SF_SMOKE, "customer")
    chunks = fetcher.chunks(ref, "c_mktsegment", by_nb_chunks=3, by_values=True)
    assert len(chunks) == 3
    all_vals: list = []
    for c in chunks:
        assert c.elements is not None
        assert sorted(c.elements) == list(c.elements)
        assert c.lower == c.elements[0] and c.upper == c.elements[-1]
        assert c.n_values == len(c.elements)
        all_vals.extend(c.elements)
    domain = {r[0] for r in collect_rows(fetcher.table(ref).select("c_mktsegment").distinct())}
    assert sorted(all_vals) == sorted(domain)  # disjoint cover
    assert sum(fetcher.fetch(ref, c).count() for c in chunks) == 150
    # same bucket membership as range mode on the same domain
    ranged = fetcher.chunks(ref, "c_mktsegment", by_nb_chunks=3)
    for rv, rc in zip(chunks, ranged):
        assert (rv.lower, rv.upper, rv.n_values) == (rc.lower, rc.upper, rc.n_values)


def test_value_list_chunks_typed_predicates(spark, fetcher):
    """The reference stringifies chunk values into SQL (bqfetch/
    bqfetch.py:171 — breaking non-string columns); our isin predicate
    keeps literal types: int, string, and date chunk columns all fetch
    the exact member rows."""
    import datetime

    for table, column, pytype in [
        ("customer", "c_custkey", int),
        ("customer", "c_mktsegment", str),
        ("orders", "o_orderdate", datetime.date),
    ]:
        ref = TableRef(SF_SMOKE, table)
        chunk = fetcher.chunks(ref, column, by_nb_chunks=4, by_values=True)[0]
        assert all(isinstance(e, pytype) for e in chunk.elements)
        got = fetcher.fetch(ref, chunk)
        member = {r[0] for r in collect_rows(got.select(column).distinct())}
        assert member == set(chunk.elements)
        expected = (
            fetcher.table(ref).filter(F.col(column).isin(*chunk.elements)).count()
        )
        assert got.count() == expected


@pytest.fixture
def spark_conf(spark):
    """Set session confs for one test, restoring them afterwards."""
    saved = {}

    def set_conf(key, value):
        saved.setdefault(key, spark.conf.get(key, None))
        spark.conf.set(key, value)

    yield set_conf
    for key, value in saved.items():
        if value is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, value)


def _assert_served_like_fetch(fetcher, ref, chunks):
    """Each chunk's ``iter_batches`` and ``fetch_to_pandas`` hold the
    rows ``fetch`` selects, as a multiset, with ``toArrow``'s schema."""
    import pyarrow as pa

    for chunk in chunks:
        expected = collect_arrow(fetcher.fetch(ref, chunk))
        got = pa.Table.from_batches(
            list(fetcher.iter_batches(ref, chunk, batch_rows=64)), schema=expected.schema
        )
        assert _rows(got) == _rows(expected), chunk
        pdf, want = fetcher.fetch_to_pandas(ref, chunk), expected.to_pandas()
        assert list(pdf.dtypes) == list(want.dtypes)
        assert _records(pdf) == _records(want), chunk


def _records(pdf):
    from collections import Counter

    return Counter(repr(r) for r in pdf.itertuples(index=False))


def _stream_table(fetcher, ref, chunk):
    """``iter_batches(ref, chunk)`` gathered into one Arrow table."""
    import pyarrow as pa

    schema = collect_arrow(fetcher.fetch(ref, chunk)).schema
    return pa.Table.from_batches(list(fetcher.iter_batches(ref, chunk)), schema=schema)


@pytest.mark.parametrize("split_bytes", [None, "512"])
def test_value_list_layout_serves_what_fetch_selects(
    spark, fetcher, spark_conf, tmp_path, split_bytes
):
    """A value-list plan's chunks are served from one shuffle of the
    table by chunk id, and each holds exactly what its filter selects:
    the NULL-owning chunk its NULL rows, a chunk derived from a planned
    one (here emptied) its own filter's rows, and all chunks together
    the table. With small scan splits every chunk spans several
    sub-partitions."""
    import dataclasses

    if split_bytes:
        spark_conf("spark.sql.files.maxPartitionBytes", split_bytes)
        spark_conf("spark.sql.files.openCostInBytes", "0")
    ref = _nulled_customer(fetcher, tmp_path)
    chunks = fetcher.chunks(ref, "c_nationkey", by_nb_chunks=4, by_values=True)
    null_chunk = next(c for c in chunks if c.includes_null)
    emptied = dataclasses.replace(null_chunk, elements=(), includes_null=False)
    _assert_layout_serves_what_fetch_selects(fetcher, ref, chunks, emptied, split_bytes)
    assert list(fetcher.iter_batches(ref, emptied)) == []
    assert fetcher.fetch(ref, null_chunk).filter(F.col("c_nationkey").isNull()).count() > 0


@pytest.mark.parametrize("split_bytes", [None, "512"])
def test_range_layout_serves_what_fetch_selects(
    spark, fetcher, spark_conf, tmp_path, split_bytes
):
    """A range plan's chunks are served from one shuffle of the table by
    chunk id, as a value-list plan's are, and each holds exactly what
    its BETWEEN filter selects: the NULL-owning chunk its NULL rows, a
    chunk narrowed from a planned one its own filter's rows, and all
    chunks together the table."""
    import dataclasses

    if split_bytes:
        spark_conf("spark.sql.files.maxPartitionBytes", split_bytes)
        spark_conf("spark.sql.files.openCostInBytes", "0")
    ref = _nulled_customer(fetcher, tmp_path)
    chunks = fetcher.chunks(ref, "c_nationkey", by_nb_chunks=4)
    assert all(c.elements is None for c in chunks)
    null_chunk = next(c for c in chunks if c.includes_null)
    narrowed = dataclasses.replace(null_chunk, upper=null_chunk.lower)
    _assert_layout_serves_what_fetch_selects(fetcher, ref, chunks, narrowed, split_bytes)
    n_null = fetcher.fetch(ref, null_chunk).filter(F.col("c_nationkey").isNull()).count()
    assert 0 < n_null < fetcher.fetch(ref, narrowed).count() < fetcher.fetch(ref, null_chunk).count()


def _assert_layout_serves_what_fetch_selects(fetcher, ref, chunks, derived, split_bytes):
    """A plan's chunks, and ``derived`` (a chunk made from one of them
    with other values, which its layout does not serve), hold what
    ``fetch`` selects; the plan was laid out in ``s`` sub-partitions
    per chunk (s > 1 exactly when the scan splits are small), and its
    served chunks together are the table."""
    import pyarrow as pa

    layout = chunks[0].layout
    assert not layout.serves(fetcher.spark, ref, derived)
    _assert_served_like_fetch(fetcher, ref, [*chunks, derived])
    s = layout.partitions // (len(chunks) + 1)
    assert layout.partitions == (len(chunks) + 1) * s
    assert (s > 1) == bool(split_bytes)
    served = pa.concat_tables(_stream_table(fetcher, ref, c) for c in chunks)
    assert _rows(served) == _rows(collect_arrow(fetcher.table(ref)))


def _routing_table(fetcher, tmp_path) -> TableRef:
    """A fixture directory whose customer table holds a string, a
    timestamp, a double, a bigint and a tinyint column, each with NULLs;
    the doubles also hold NaN, ±inf, 0.0 and -0.0, the bigints values
    past the INT range."""
    import datetime

    doubles = [float("nan"), -0.0, 0.0, None, float("inf"), float("-inf"), 1.5, -2.5, 1e-300]
    bigints = [-(2**40), -5, 0, 7, 2**31, 2**40 + 1, 2**62, None]
    tinyints = [-128, -1, 0, 1, 127, None]
    start = datetime.datetime(2024, 3, 10, 1, 30)
    rows = [
        (
            i,
            None if i % 11 == 0 else ("", "a", "B", "ab", "é", "a'b", "zz")[i % 7] + str(i % 3),
            None if i % 13 == 0 else start + datetime.timedelta(hours=7 * (i % 17), microseconds=i % 2),
            doubles[i % len(doubles)],
            bigints[i % len(bigints)],
            tinyints[i % len(tinyints)],
        )
        for i in range(300)
    ]
    schema = "id int, s string, ts timestamp, x double, b bigint, t tinyint"
    df = fetcher.spark.createDataFrame(rows, schema)
    return _as_customer(df.coalesce(1), tmp_path)


@pytest.mark.parametrize("n_chunks", [3, 40])
@pytest.mark.parametrize("by_values", [False, True])
@pytest.mark.parametrize("column", ["s", "ts", "x", "b", "t"])
def test_layout_routes_like_fetch(spark, fetcher, tmp_path, column, by_values, n_chunks):
    """The chunk-id expression sends each row to the chunk whose filter
    selects it, for both plan modes over a string, a timestamp, a
    double and two integer columns: served chunks equal ``fetch``'s and
    together are the table. This pins that ``col < lower`` follows
    Spark's sort order (NaN above +inf, -0.0 with 0.0, NULL first), and
    that literals typed as the column (``2L``, ``2Y``) select what
    ``predicate()``'s do. At 40 chunks every value has a chunk of its
    own, NULL and NaN included."""
    import pyarrow as pa

    ref = _routing_table(fetcher, tmp_path)
    chunks = fetcher.chunks(ref, column, by_nb_chunks=n_chunks, by_values=by_values)
    if n_chunks == 3:
        assert len(chunks) == 3
    else:
        assert all(c.n_values == 1 for c in chunks)
    served = []
    for chunk in chunks:
        want = collect_arrow(fetcher.fetch(ref, chunk))
        got = pa.Table.from_batches(list(fetcher.iter_batches(ref, chunk)), schema=want.schema)
        assert _rows(got) == _rows(want), chunk
        served.append(got)
    assert chunks[0].layout.partitions == len(chunks) + 1  # served, not filtered
    assert _rows(pa.concat_tables(served)) == _rows(collect_arrow(fetcher.table(ref)))


@pytest.mark.parametrize("by_values", [False, True])
def test_chunk_id_literals_take_the_column_type(spark, fetcher, monkeypatch, by_values):
    """On a BIGINT column the chunk-id expression spells its literals as
    BIGINT, so the analyser adds no cast per literal (a cast per IN
    element doubled the first delivery of a 150,000-value plan)."""
    from bqfetch_spark import fetcher as fetcher_mod

    built = []
    chunk_id_sql = fetcher_mod._ChunkLayout._chunk_id_sql

    def spy(layout, col, int_suffix):
        built.append(chunk_id_sql(layout, col, int_suffix))
        return built[-1]

    monkeypatch.setattr(fetcher_mod._ChunkLayout, "_chunk_id_sql", spy)
    ref = TableRef(SF_SMOKE, "lineitem")
    chunks = fetcher.chunks(ref, "l_suppkey", by_nb_chunks=3, by_values=by_values)
    list(fetcher.iter_batches(ref, chunks[1]))
    [sql] = built
    assert chunks[0].layout.partitions is not None
    analyzed = fetcher.table(ref).select(F.expr(sql))._jdf.queryExecution().analyzed()
    top = analyzed.toString().lower().splitlines()[0]  # the chunk id's projection
    assert "case when" in top and "cast(" not in top


def test_dropped_plan_frees_its_layout(spark, fetcher):
    """A layout holds layout-free copies of its plan's chunks, so no
    reference cycle keeps it: once the plan's chunks are dropped, it
    (and with it the shuffle) is freed by reference counting alone."""
    import gc
    import weakref

    ref = TableRef(SF_SMOKE, "customer")
    gc.disable()
    try:
        chunks = fetcher.chunks(ref, "c_custkey", by_nb_chunks=3)
        assert len(fetcher.fetch_to_pandas(ref, chunks[1])) > 0
        layout = weakref.ref(chunks[0].layout)
        assert layout().partitions is not None
        del chunks
        assert layout() is None
    finally:
        gc.enable()


def test_layout_build_log_record(spark, fetcher, caplog, monkeypatch):
    """Each layout build emits one structured record on the fetcher
    logger, at the plan's first delivery only; a plan whose chunks are
    read by their filters logs a build with no partitions."""
    import gc
    import logging
    import warnings

    from bqfetch_spark import compat

    ref = TableRef(SF_SMOKE, "lineitem")
    chunks = fetcher.chunks(ref, "l_orderkey", by_nb_chunks=3)
    with caplog.at_level(logging.INFO, logger="bqfetch_spark.fetcher"):
        for chunk in chunks:
            fetcher.fetch_to_pandas(ref, chunk)
    [record] = [r for r in caplog.records if r.name == "bqfetch_spark.fetcher"]
    assert record.levelno == logging.INFO
    assert (record.table, record.column, record.n_chunks) == ("lineitem", "l_orderkey", 3)
    assert (record.partitions, record.sub_partitions) == (chunks[0].layout.partitions, 1) == (4, 1)
    assert record.build_s > 0
    assert record.getMessage().startswith("laid out 3 chunks of lineitem.l_orderkey in ")

    caplog.clear()
    monkeypatch.setattr(compat, "is_classic", lambda _obj: False)
    with warnings.catch_warnings():
        # the public route's pulls leave their sockets to garbage collection
        warnings.simplefilter("ignore", ResourceWarning)
        chunks = fetcher.chunks(ref, "l_suppkey", by_nb_chunks=2, by_values=True)
        with caplog.at_level(logging.INFO, logger="bqfetch_spark.fetcher"):
            list(fetcher.iter_batches(ref, chunks[0]))
        gc.collect()
    [record] = [r for r in caplog.records if r.name == "bqfetch_spark.fetcher"]
    assert (record.column, record.n_chunks) == ("l_suppkey", 2)
    assert record.partitions is None and record.sub_partitions is None


def _jobs_and_tasks(spark, group, fn):
    """fn()'s result, and the jobs and completed tasks it ran in a job
    group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = [s for j in jobs for s in tracker.getJobInfo(j).stageIds]
    tasks = sum(info.numCompletedTasks for info in map(tracker.getStageInfo, stages) if info)
    return out, len(jobs), tasks


def test_layout_second_delivery_is_one_job_one_task(spark, fetcher):
    """The first delivery of a plan, value-list or size-driven range,
    shuffles the table once; every later chunk is one job of one task
    over its own partition."""
    import warnings

    ref = TableRef(SF_SMOKE, "lineitem")
    chunks = fetcher.chunks(ref, "l_suppkey", by_nb_chunks=3, by_values=True)
    _assert_second_delivery_is_one_job_one_task(spark, fetcher, ref, chunks)
    with warnings.catch_warnings():
        warnings.simplefilter("ignore", UserWarning)  # l_orderkey's skew warning
        sized = fetcher.chunks(
            ref, "l_orderkey", by_chunk_size_in_GB=2e-4, available_bytes=2 * 1024**3
        )
    assert len(sized) >= 3 and all(c.elements is None for c in sized)
    _assert_second_delivery_is_one_job_one_task(spark, fetcher, ref, sized)


def _assert_second_delivery_is_one_job_one_task(spark, fetcher, ref, chunks):
    group = f"test-layout-second-delivery-{chunks[0].column}"  # one per plan
    first = sum(b.num_rows for b in fetcher.iter_batches(ref, chunks[0]))
    assert first == fetcher.fetch(ref, chunks[0]).count()
    rows, jobs, tasks = _jobs_and_tasks(
        spark,
        f"{group}-stream",
        lambda: sum(b.num_rows for b in fetcher.iter_batches(ref, chunks[1])),
    )
    assert rows == fetcher.fetch(ref, chunks[1]).count()
    assert (jobs, tasks) == (1, 1)
    pdf, jobs, tasks = _jobs_and_tasks(
        spark, f"{group}-pandas", lambda: fetcher.fetch_to_pandas(ref, chunks[2])
    )
    assert len(pdf) == fetcher.fetch(ref, chunks[2]).count()
    assert (jobs, tasks) == (1, 1)


@pytest.mark.parametrize("advisory", ["1", "1g"])
def test_layout_partitions_survive_aqe_coalescing(spark, fetcher, spark_conf, advisory):
    """Adaptive execution neither merges nor splits the layout's
    shuffle: it keeps one partition per chunk plus the spare one, and
    every chunk is still served exactly."""
    spark_conf("spark.sql.adaptive.advisoryPartitionSizeInBytes", advisory)
    ref = TableRef(SF_SMOKE, "lineitem")
    chunks = fetcher.chunks(ref, "l_suppkey", by_nb_chunks=4, by_values=True)
    _assert_served_like_fetch(fetcher, ref, chunks)
    assert chunks[0].layout.partitions == len(chunks) + 1


def test_thousand_chunk_plan_is_served(spark, fetcher):
    """A 1,000-chunk plan lays out 1,001 partitions and serves its
    chunks exactly; the first and last chunks and a spread between
    them are checked against their filters."""
    ref = TableRef(SF_SMOKE, "orders")
    chunks = fetcher.chunks(ref, "o_orderkey", by_nb_chunks=1000, by_values=True)
    assert len(chunks) == 1000
    _assert_served_like_fetch(fetcher, ref, chunks[::111] + chunks[-1:])
    assert chunks[0].layout.partitions == 1001


def test_layout_falls_back_to_filters_without_classic_internals(spark, fetcher, monkeypatch):
    """Without the classic internals (Connect's shape) a value-list or
    range plan is planned and read through the public API: the chunks
    hold the same rows as on the classic route, with ``toArrow()``'s
    schema."""
    import gc
    import warnings

    from bqfetch_spark import compat

    def streamed(chunks):
        return [_rows(_stream_table(fetcher, ref, c)) for c in chunks]

    ref = TableRef(SF_SMOKE, "customer")
    for by_values in (True, False):
        with monkeypatch.context() as m, warnings.catch_warnings():
            classic = fetcher.chunks(ref, "c_nationkey", by_nb_chunks=3, by_values=by_values)
            served = streamed(classic)
            assert classic[0].layout.partitions is not None
            m.setattr(compat, "is_classic", lambda _obj: False)
            # the public route's pulls leave their sockets to garbage collection
            warnings.simplefilter("ignore", ResourceWarning)
            fallback = fetcher.chunks(ref, "c_nationkey", by_nb_chunks=3, by_values=by_values)
            assert fallback == classic
            assert streamed(fallback) == served
            assert fallback[0].layout.partitions is None  # nothing was shuffled
            pdfs = [fetcher.fetch_to_pandas(ref, c) for c in fallback]
            assert sum(map(len, pdfs)) == fetcher.table(ref).count()
            gc.collect()


def test_value_list_chunks_domain_cap(spark, fetcher):
    """Value-list planning holds the whole domain on the driver, so it
    refuses high-cardinality columns (bounded probe, no full count)."""
    ref = TableRef(SF_SMOKE, "customer")
    with pytest.raises(ValueError, match="distinct"):
        fetcher.chunks(ref, "c_custkey", by_nb_chunks=4, by_values=True, max_values=10)


def test_skew_warning_at_plan_time(spark, fetcher):
    """Reference parity (bqfetch/bqfetch.py:410-419): planning warns
    when >25% of chunk-key values are >25% off the mean count."""
    # documents.lang is genuinely dispersed in the fixture (en ~2.4x
    # the other languages: 3 of 5 values are >25% off the mean)
    skewed = TableRef(SF_SMOKE, "documents")
    with pytest.warns(UserWarning, match="off the mean"):
        frac = fetcher.check_skew(skewed, "lang")
    assert frac > 0.25
    # a unique key is perfectly even: no warning
    import warnings

    with warnings.catch_warnings():
        warnings.simplefilter("error")
        assert fetcher.check_skew(TableRef(SF_SMOKE, "customer"), "c_custkey") == 0.0


def _no_per_value_literals(monkeypatch):
    """Make every per-value literal path raise: ``isin``'s and
    ``F.lit``'s py4j literal construction."""
    import pyspark.sql.classic.column as classic_column

    def refuse(*_a, **_k):
        raise AssertionError("predicate built a per-value literal")

    monkeypatch.setattr(classic_column, "_create_column_from_literal", refuse)
    monkeypatch.setattr(F, "lit", refuse)


def _predicate_cases():
    """(spark type, column values, chunk elements) per literal type the
    planner can hand back; each column also holds a NULL."""
    import datetime
    import decimal

    nan, inf = float("nan"), float("inf")
    ts = [datetime.datetime(2024, 3, 10, h, 30, 0, 250000 * (h % 2)) for h in range(6)]
    return {
        "int": ("int", [1, 7, 15, -3], (-3, 7)),
        "bigint": ("bigint", [2**40, -(2**35), 5, 2**31], (-(2**35), 5, 2**31)),
        "bool": ("boolean", [True, False], (True,)),
        "double": ("double", [1.5, nan, -inf, inf, 2.0, -0.5], (-inf, -0.5, 1.5, nan)),
        "decimal": (
            "decimal(10,2)",
            [decimal.Decimal("1.50"), decimal.Decimal("-2.25"), decimal.Decimal("9.99")],
            (decimal.Decimal("-2.25"), decimal.Decimal("1.50")),
        ),
        "string": ("string", ["it's", "back\\slash", "plain", "%_"], ("back\\slash", "it's")),
        "date": (
            "date",
            [datetime.date(2024, 1, 1), datetime.date(2024, 2, 29), datetime.date(1999, 12, 31)],
            (datetime.date(1999, 12, 31), datetime.date(2024, 2, 29)),
        ),
        "timestamp": ("timestamp", ts, (ts[1], ts[4])),
        "timestamp_ntz": ("timestamp_ntz", ts, (ts[0], ts[5])),
        "binary": ("binary", [b"\x00a", b"'", b"\\"], (b"'", b"\x00a")),
    }


@pytest.mark.parametrize("kind", list(_predicate_cases()))
@pytest.mark.parametrize("owns_null", [False, True])
def test_value_list_predicate_is_one_expression(spark, monkeypatch, kind, owns_null):
    """A value-list predicate is built without one py4j literal per
    value, and keeps exactly the rows ``isin(*elements)`` keeps — per
    literal type, with NaN and ±inf among the doubles, a quote and a
    backslash in the strings, and naive timestamps read under a
    non-UTC Python TZ (``F.lit`` takes a naive datetime as local time
    in the Python process, whatever the session time zone is, unless
    the session prefers TIMESTAMP_NTZ)."""
    import os
    import time

    from bqfetch_spark.fetcher import FetchingChunk

    old_tz = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"
    time.tzset()
    if kind == "timestamp_ntz":  # F.lit then gives naive datetimes this type
        spark.conf.set("spark.sql.timestampType", "TIMESTAMP_NTZ")
    try:
        spark_type, values, elements = _predicate_cases()[kind]
        df = spark.createDataFrame(
            list(enumerate(values + [None])), f"id int, x {spark_type}"
        )
        expected = F.col("x").isin(*elements)
        if owns_null:
            expected = expected | F.col("x").isNull()
        want = sorted(r.id for r in collect_rows(df.filter(expected)))
        chunk = FetchingChunk(
            "x", 0, 1, None, None, len(elements), elements=elements, includes_null=owns_null
        )
        with monkeypatch.context() as m:
            _no_per_value_literals(m)
            pred = chunk.predicate()
        got = sorted(r.id for r in collect_rows(df.filter(pred)))
    finally:
        spark.conf.unset("spark.sql.timestampType")
        if old_tz is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = old_tz
        time.tzset()
    assert got == want
    assert want  # every case keeps some rows


@pytest.mark.parametrize("owns_null", [False, True])
def test_empty_value_list_predicate(spark, monkeypatch, owns_null):
    """The degenerate empty chunk keeps nothing, or only the NULL rows
    when it owns them."""
    from bqfetch_spark.fetcher import FetchingChunk

    df = spark.createDataFrame([(1, 5), (2, None)], "id int, x int")
    chunk = FetchingChunk("x", 0, 1, None, None, 0, elements=(), includes_null=owns_null)
    with monkeypatch.context() as m:
        _no_per_value_literals(m)
        pred = chunk.predicate()
    assert [r.id for r in collect_rows(df.filter(pred))] == ([2] if owns_null else [])


def test_value_list_predicate_pushes_in_and_builds_fast(spark, fetcher, monkeypatch):
    """The single-expression predicate still reaches the Parquet scan as
    ``In``, and a 20,000-value chunk builds in well under 0.1 s (one
    literal round-trip per value took about a second per 1,000)."""
    import time

    from bqfetch_spark.fetcher import FetchingChunk

    ref = TableRef(SF_SMOKE, "lineitem")
    chunk = fetcher.chunks(ref, "l_suppkey", by_nb_chunks=3, by_values=True)[1]
    plan = fetcher.fetch(ref, chunk)._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [In(l_suppkey" in plan, plan

    big = FetchingChunk(
        "l_orderkey", 0, 1, 0, 19_999, 20_000, elements=tuple(range(20_000))
    )
    with monkeypatch.context() as m:
        _no_per_value_literals(m)
        t0 = time.perf_counter()
        big.predicate()
        elapsed = time.perf_counter() - t0
    assert elapsed < 0.1, elapsed


def test_size_driven_plan_is_one_scan(spark, fetcher, caplog):
    """A size-driven plan reads its table size, skew mean and bucket
    boundaries off one grouped aggregate: at most 6 Spark jobs (11
    when the bytes sum and the skew check were separate scans), the
    same chunks as a plan by the chunk count it derives, and the same
    skew fraction and warning as ``check_skew``."""
    import logging
    import warnings

    from bqfetch_spark.plans.advisor import (
        estimated_materialized_bytes,
        suggest_chunks_by_size,
    )

    ref = TableRef(SF_SMOKE, "documents")
    fetcher.table(ref).count()  # catalog load and file listing outside the group
    sc = spark.sparkContext
    group = "test-size-driven-plan"
    sc.setJobGroup(group, group)
    try:
        with caplog.at_level(logging.INFO, logger="bqfetch_spark.fetcher"):
            with pytest.warns(UserWarning, match="off the mean") as planned:
                chunks = fetcher.chunks(
                    ref, "lang", by_chunk_size_in_GB=1e-6, available_bytes=2 * 1024**3
                )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 6

    [record] = [r for r in caplog.records if r.name == "bqfetch_spark.fetcher"]
    nbytes = estimated_materialized_bytes(fetcher.table(ref))
    n = suggest_chunks_by_size(nbytes, 1e-6, 1, 2 * 1024**3)
    assert chunks == fetcher.chunks(ref, "lang", by_nb_chunks=n)
    assert (record.n_chunks, record.estimated_bytes) == (len(chunks), nbytes)
    assert record.domain_size == sum(c.n_values for c in chunks)

    with pytest.warns(UserWarning, match="off the mean") as checked:
        frac = fetcher.check_skew(ref, "lang")
    assert record.skew_fraction == frac > 0.25
    def skew_warnings(caught):
        return [str(w.message) for w in caught if w.category is UserWarning]

    assert len(skew_warnings(planned)) == 1
    assert skew_warnings(planned) == skew_warnings(checked)

    # an even key: no warning, fraction 0 from both
    caplog.clear()
    ref = TableRef(SF_SMOKE, "customer")
    with warnings.catch_warnings(), caplog.at_level(logging.INFO, logger="bqfetch_spark.fetcher"):
        warnings.simplefilter("error", UserWarning)
        fetcher.chunks(ref, "c_custkey", by_chunk_size_in_GB=1e-5, available_bytes=2 * 1024**3)
        assert fetcher.check_skew(ref, "c_custkey") == 0.0
    assert caplog.records[-1].skew_fraction == 0.0


def test_chunk_plan_log_record(spark, fetcher, caplog):
    """Every plan emits one structured record on the fetcher logger; a
    plan by chunk count computes no size or skew, so those are None."""
    import logging

    ref = TableRef(SF_SMOKE, "customer")
    with caplog.at_level(logging.INFO, logger="bqfetch_spark.fetcher"):
        chunks = fetcher.chunks(ref, "c_mktsegment", by_nb_chunks=3, by_values=True)
    [record] = [r for r in caplog.records if r.name == "bqfetch_spark.fetcher"]
    assert record.levelno == logging.INFO
    assert (record.table, record.column) == ("customer", "c_mktsegment")
    assert (record.n_chunks, record.domain_size) == (3, 5) == (len(chunks), 5)
    assert record.estimated_bytes is None and record.skew_fraction is None
    assert record.getMessage() == "planned 3 chunks on customer.c_mktsegment"
