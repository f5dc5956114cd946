"""The reference's columnar read-session layer as a first-class Spark
DataSource (PySpark 4 Python DataSource API).

Reference parity (bqfetch/bqfetch.py:457-502): a fetch opens one
Storage-API read session per chunk (``max_stream_count=1``) and pulls
Arrow record batches with an optional ``row_restriction`` filter
evaluated at the source. Here the same contract is a registered source:

    spark.dataSource.register(ChunkedParquetDataSource)
    spark.read.format("bqfetch_chunked")
        .option("path", ".../lineitem.parquet")
        .option("rows_per_partition", "200000")
        .load()

- ``partitions()`` plans one InputPartition per row-group run, from
  parquet FOOTER metadata only — the analogue of the reference planning
  chunks from BigQuery metadata queries (SQL A2/A3) without touching
  data. Partition count scales with file row groups, so a 100 TB table
  yields as many source tasks as it has row groups — Spark schedules
  them like any other scan.
- ``pushFilters()`` accepts the comparison/IN/null filters pyarrow can
  evaluate and RETAINS the rest for Spark — the ``row_restriction``
  contract, typed (no stringified literals, unlike the reference's
  :483-484).
- ``option("columns", "a,b")`` projects AT THE SOURCE — the
  ``selected_fields`` half of the same Storage-API
  ``TableReadOptions`` whose ``row_restriction`` half the reference
  uses (bqfetch/bqfetch.py:484). The Python DataSource API has no
  automatic column-pruning hook (unlike the JVM
  ``SupportsPushDownRequiredColumns``), so a 2-of-16-column query
  would otherwise drag every column across the Arrow wire; with the
  option, the pruned schema is the source schema and pyarrow reads
  only those column chunks.
- ``read()`` yields Arrow RecordBatches straight from pyarrow — the
  wire stays columnar end to end, like the reference's
  ``DataFormat.ARROW`` sessions.

This source exists to prove the engine's source layer is pluggable at
the Spark API level (swap in a real remote reader by replacing the
pyarrow calls); the engine's own queries keep using the built-in
vectorized parquet reader, which is faster (JVM, codegen) for local
files.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    IsNotNull,
    IsNull,
    LessThan,
    LessThanOrEqual,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

DEFAULT_ROWS_PER_PARTITION = 1_000_000


@dataclass
class RowGroupRun(InputPartition):
    """A run of consecutive row groups of one parquet file, read by
    one task (``path`` empty = the source's single-file path)."""

    row_groups: tuple[int, ...]
    path: str = ""


def _part_files(path: str) -> list[str]:
    """A source path is either one parquet file or a directory of
    part files (what ChunkedParquetWriter produces)."""
    import glob
    import os

    if os.path.isdir(path):
        files = sorted(glob.glob(os.path.join(path, "*.parquet")))
        if not files:
            raise ValueError(f"no parquet files under {path}")
        return files
    return [path]


def _simple_filters(filters: list[Filter]):
    """Split pushed filters into (pyarrow-evaluable specs, retained).

    Specs are plain picklable tuples (op, column, value) rebuilt into
    pyarrow.compute expressions executor-side."""
    supported, retained = [], []
    for f in filters:
        if isinstance(f, (EqualTo, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual, In)):
            col = f.attribute[0] if len(f.attribute) == 1 else None
            if col is None:  # nested fields stay with Spark
                retained.append(f)
                continue
            op = type(f).__name__
            val = f.value if not isinstance(f, In) else tuple(f.value)
            supported.append((op, col, val))
        elif isinstance(f, (IsNull, IsNotNull)):
            col = f.attribute[0] if len(f.attribute) == 1 else None
            if col is None:
                retained.append(f)
                continue
            supported.append((type(f).__name__, col, None))
        else:
            retained.append(f)
    return supported, retained


def _to_arrow_expr(specs):
    import pyarrow.dataset as ds

    expr = None
    for op, col, val in specs:
        field = ds.field(col)
        e = {
            "EqualTo": lambda: field == val,
            "GreaterThan": lambda: field > val,
            "GreaterThanOrEqual": lambda: field >= val,
            "LessThan": lambda: field < val,
            "LessThanOrEqual": lambda: field <= val,
            "In": lambda: field.isin(list(val)),
            "IsNull": lambda: field.is_null(),
            "IsNotNull": lambda: ~field.is_null(),
        }[op]()
        expr = e if expr is None else (expr & e)
    return expr


def _columns_option(options) -> list[str] | None:
    cols = options.get("columns")
    if not cols:
        return None
    return [c.strip() for c in cols.split(",") if c.strip()]


class ChunkedParquetReader(DataSourceReader):
    def __init__(self, options):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("bqfetch_chunked requires option 'path'")
        self.rows_per_partition = int(
            options.get("rows_per_partition", DEFAULT_ROWS_PER_PARTITION)
        )
        self.columns = _columns_option(options)
        self._filter_specs: list = []

    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        supported, retained = _simple_filters(filters)
        self._filter_specs = supported
        return iter(retained)

    def partitions(self) -> list[RowGroupRun]:
        import pyarrow.parquet as pq

        runs = []
        for f in _part_files(self.path):
            md = pq.ParquetFile(f).metadata  # footer only, no data
            run, run_rows = [], 0
            for i in range(md.num_row_groups):
                run.append(i)
                run_rows += md.row_group(i).num_rows
                if run_rows >= self.rows_per_partition:
                    runs.append(RowGroupRun(tuple(run), f))
                    run, run_rows = [], 0
            if run:
                runs.append(RowGroupRun(tuple(run), f))
        return runs or [RowGroupRun(())]

    def read(self, partition: RowGroupRun):
        import pyarrow.parquet as pq

        if not partition.row_groups:
            return
        pf = pq.ParquetFile(partition.path or self.path)
        # selected_fields parity: only the projected column chunks are
        # decoded and shipped (pushed filters reference schema columns,
        # which under a columns option ARE the projected ones)
        tbl = pf.read_row_groups(list(partition.row_groups), columns=self.columns)
        expr = _to_arrow_expr(self._filter_specs)
        if expr is not None:
            import pyarrow.dataset as ds

            # evaluate the pushed restriction at the source (reference
            # row_restriction parity) — rows never reach Spark
            tbl = ds.dataset(tbl).to_table(filter=expr)
        yield from tbl.to_batches()


class ChunkedParquetStreamReader(DataSourceStreamReader):
    """Replay the table as a micro-batch STREAM of row groups — the
    reference's chunk-by-chunk fetch loop (bqfetch/bqfetch.py:335-364)
    as a Structured Streaming source. Offsets index the flattened
    (file, row-group) unit list (``{"rg": n}`` = units [0, n)
    consumed), so a directory of part files streams exactly like a
    single file; within a micro-batch each unit is its own
    InputPartition, so the read is distributed exactly like the batch
    source. ``groups_per_batch`` paces the replay.

    Restart semantics: pacing state is instance-local, so a
    checkpoint-recovered reader starts with ``_emitted = 0`` while the
    offset LOG holds the true high-water. latestOffset (the driver hook
    that receives no start offset) may therefore return an offset BELOW
    the committed one if Spark asks it first; the in-run guarantee
    lives in ``partitions``, which ratchets a floor to the highest start
    Spark has ever passed and never yields a unit below it — a
    transiently regressed log entry produces an empty batch, never a
    re-read.

    That in-memory ratchet covers ONE restart. Because Spark compares
    Python-source offsets by equality, a regressed latestOffset is
    still LOGGED as a new batch end, and a SECOND restart would resume
    from that regressed entry and re-emit committed row groups
    (round-4 advice). Exactly-once across arbitrary restarts therefore
    needs a DURABLE high-water, and it is ON BY DEFAULT: ``commit()``
    persists the committed offset to ``<state_dir>/highwater.json``
    (atomic tmp+rename); a recovered reader raises its floor to the
    sidecar's at its first ``partitions`` or ``commit`` call, so
    latestOffset never returns below the durably committed offset and
    a regressed entry can never enter the offset log.

    The sidecar's location: ``option("state_dir", ...)`` when given
    (put it next to the checkpoint); otherwise a directory derived
    from the absolute data path + ``option("stream_id")`` fingerprint
    under the system temp dir. The Python DataSource API never shows
    the source the query's checkpointLocation (only readStream options
    arrive — probed empirically on Spark 4.1), so path identity is the
    best automatic key. Fresh-vs-restart disambiguation rides the
    offset protocol itself (Spark 4.1 call order, traced): a
    crash-recovered query first re-plans its last logged batch
    (``partitions``), and only then asks ``latestOffset``; a brand-new
    query asks ``latestOffset`` first and then ``initialOffset()``, which
    Spark calls ONLY when the checkpoint has no offset log and which
    RESETS the sidecar. So the sidecar's floor waits for the first
    ``partitions``/``commit`` call: a brand-new query over the same path
    replays from zero at its own pace (seeding pacing from a dead
    query's floor put every unit up to that floor into its first batch),
    while a recovered query keeps the durable floor. The one
    configuration that still needs explicit options is
    two CONCURRENT fresh queries replaying the same path: give each a
    distinct ``stream_id`` (or ``state_dir``) so they don't share a
    floor. ``option("durable_state", "false")`` turns the sidecar off
    (reverting to the single-restart in-memory ratchet)."""

    def __init__(self, options):
        import hashlib
        import os
        import tempfile

        self.path = options.get("path")
        if not self.path:
            raise ValueError("bqfetch_chunked requires option 'path'")
        self.groups_per_batch = int(options.get("groups_per_batch", "1"))
        self.columns = _columns_option(options)
        durable = options.get("durable_state", "true").lower() != "false"
        state_dir = options.get("state_dir")
        if durable and not state_dir:
            ident = os.path.abspath(self.path) + "\x00" + options.get("stream_id", "")
            # uid in the parent dir name: on a multi-user host a shared
            # fixed path under /tmp would be owned by whoever ran
            # first (EACCES for everyone else) and would leak sidecars
            # across users replaying the same data path
            uid = getattr(os, "getuid", lambda: "nouid")()
            state_dir = os.path.join(
                tempfile.gettempdir(),
                f"bqfetch_chunked_state_{uid}",
                hashlib.sha1(ident.encode()).hexdigest(),
            )
        self.state_path = None
        if durable and state_dir:
            os.makedirs(state_dir, mode=0o700, exist_ok=True)
            self.state_path = os.path.join(state_dir, "highwater.json")
        import pyarrow.parquet as pq

        self._units: list[tuple[str, int]] = [
            (f, rg)
            for f in _part_files(self.path)
            for rg in range(pq.ParquetFile(f).metadata.num_row_groups)
        ]
        self._emitted = 0
        # highest committed start observed this run
        self._floor = 0
        # the durable sidecar's floor (crash recovery), applied at the
        # first partitions()/commit() call; initialOffset() drops it
        self._durable = self._durable_floor()

    def _durable_floor(self) -> int:
        import json

        if not self.state_path:
            return 0
        try:
            with open(self.state_path) as fh:
                return int(json.load(fh)["rg"])
        except (OSError, ValueError, KeyError):
            return 0

    def initialOffset(self) -> dict:
        # Spark invokes this ONLY when the checkpoint has no offset
        # log — i.e. a brand-new query, never a crash recovery — and
        # after its first latestOffset(), which paced from zero. Reset
        # the durable sidecar so a fresh query over a previously
        # streamed path replays from zero instead of inheriting a
        # dead query's floor.
        self._floor = self._durable = 0
        if self.state_path:
            import contextlib
            import os

            with contextlib.suppress(OSError):
                os.remove(self.state_path)
        return {"rg": 0}

    def latestOffset(self) -> dict:
        self._emitted = min(
            len(self._units), max(self._emitted, self._floor) + self.groups_per_batch
        )
        return {"rg": self._emitted}

    def partitions(self, start: dict, end: dict):
        self._floor = max(self._floor, self._durable, start["rg"])
        lo = max(start["rg"], self._floor)
        hi = min(end["rg"], len(self._units))
        if hi <= lo:
            # post-restart regressed range: emit nothing, fast-forward
            # pacing to the committed high-water so the next offset
            # resumes from it
            self._emitted = max(self._emitted, lo)
            return [RowGroupRun(())]
        return [RowGroupRun((rg,), f) for f, rg in self._units[lo:hi]]

    def read(self, partition: RowGroupRun):
        import pyarrow.parquet as pq

        if not partition.row_groups:
            return
        pf = pq.ParquetFile(partition.path or self.path)
        tbl = pf.read_row_groups(list(partition.row_groups), columns=self.columns)
        yield from tbl.to_batches()

    def commit(self, end: dict) -> None:
        self._floor = max(self._floor, self._durable, end["rg"])
        if self.state_path:
            import json
            import os

            tmp = self.state_path + ".tmp"
            with open(tmp, "w") as fh:
                json.dump({"rg": self._floor}, fh)
            os.replace(tmp, self.state_path)  # atomic publish


@dataclass
class _WrittenFile(WriterCommitMessage):
    path: str
    rows: int


class ChunkedParquetWriter(DataSourceArrowWriter):
    """Task-side Arrow writer with a two-phase commit: every task
    writes its batches to a UUID-named staging file under
    ``_staging/``; the driver's ``commit()`` renames the staged files
    into the target directory (publish), ``abort()`` removes them.
    A reader never observes a partially-written task, which is the
    commit contract the built-in file sinks implement JVM-side —
    re-expressed here at the Python DataSource layer."""

    def __init__(self, options, overwrite: bool):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("bqfetch_chunked requires option 'path'")
        self.overwrite = overwrite

    def write(self, iterator):
        import os
        import uuid

        import pyarrow as pa
        import pyarrow.parquet as pq

        stage_dir = os.path.join(self.path, "_staging")
        os.makedirs(stage_dir, exist_ok=True)
        fname = f"part-{uuid.uuid4().hex}.parquet"
        staged = os.path.join(stage_dir, fname)
        writer = None
        rows = 0
        for batch in iterator:
            if writer is None:
                writer = pq.ParquetWriter(staged, batch.schema)
            writer.write_table(pa.Table.from_batches([batch]))
            rows += batch.num_rows
        if writer is None:  # empty partition: nothing staged
            return _WrittenFile(path="", rows=0)
        writer.close()
        return _WrittenFile(path=fname, rows=rows)

    def commit(self, messages):
        import glob
        import os
        import shutil

        if self.overwrite:
            for old in glob.glob(os.path.join(self.path, "part-*.parquet")):
                os.remove(old)
        stage_dir = os.path.join(self.path, "_staging")
        for m in messages:
            if m is not None and m.path:
                os.replace(os.path.join(stage_dir, m.path), os.path.join(self.path, m.path))
        shutil.rmtree(stage_dir, ignore_errors=True)

    def abort(self, messages):
        import os
        import shutil

        shutil.rmtree(os.path.join(self.path, "_staging"), ignore_errors=True)
        # the job may have failed before any task created the target
        # dir; abort must never mask the original failure
        if os.path.isdir(self.path) and not os.listdir(self.path):
            os.rmdir(self.path)


class ChunkedParquetDataSource(DataSource):
    """``format("bqfetch_chunked")`` — see module docstring. One
    registration serves ``spark.read`` (ChunkedParquetReader),
    ``spark.readStream`` (ChunkedParquetStreamReader), and
    ``df.write`` (ChunkedParquetWriter)."""

    @classmethod
    def name(cls) -> str:
        return "bqfetch_chunked"

    def schema(self) -> StructType:
        import pyarrow.parquet as pq

        from pyspark.sql.pandas.types import from_arrow_schema

        path = self.options.get("path")
        if not path:
            raise ValueError("bqfetch_chunked requires option 'path'")
        arrow = pq.ParquetFile(_part_files(path)[0]).schema_arrow
        cols = _columns_option(self.options)
        if cols:
            missing = [c for c in cols if arrow.get_field_index(c) < 0]
            if missing:
                raise ValueError(f"columns not in parquet schema: {missing}")
            import pyarrow as pa

            arrow = pa.schema([arrow.field(c) for c in cols])
        return from_arrow_schema(arrow)

    def reader(self, schema: StructType) -> ChunkedParquetReader:
        return ChunkedParquetReader(self.options)

    def streamReader(self, schema: StructType) -> ChunkedParquetStreamReader:
        return ChunkedParquetStreamReader(self.options)

    def writer(self, schema: StructType, overwrite: bool) -> ChunkedParquetWriter:
        return ChunkedParquetWriter(self.options, overwrite)
