"""Fetch-parity facade: the reference's public API surface re-expressed
Spark-first (SURVEY.md §2.B, §3).

Reference mapping:
- ``BigQueryTable(project, dataset, table)`` (bqfetch/bqfetch.py:20-41)
  → ``TableRef`` resolving to a Parquet path / temp view.
- ``BigQueryFetcher.chunks(column, by_nb_chunks=n)`` (:232-265) →
  ``Fetcher.chunks``: the chunk-key domain is still discovered with a
  distinct projection (operator A1), but instead of materializing every
  value into Python lists (the reference collects the whole domain,
  :256) we compute **contiguous value-range buckets** distributed
  (ntile over the sorted distinct domain) and collect only n (lo, hi)
  boundary pairs — O(n_chunks), not O(n_values), so the planning step
  itself survives a 100 TB table. A size-driven plan
  (``by_chunk_size_in_GB``, :374-454) reads the table once: one grouped
  aggregate gives each value's row count and materialized bytes, and
  the table size, the skew check and the boundaries all derive from it.
- ``BigQueryFetcher.fetch(chunk, nb_cores, parallel_backend)``
  (:267-372) → ``Fetcher.fetch``: the chunk predicate pushed into the
  Parquet scan. Like the reference, which renders each chunk's filter
  once as one SQL string (:171, sent as ``row_restriction`` at
  :483-484), a predicate is one Spark-SQL expression built in a single
  JVM call, so its driver cost does not grow with the chunk's value
  list. Process pools / CTAS temp tables / psutil sizing
  (bqfetch/utils.py:30-62, bqfetch/bqfetch.py:158-181,374-436) are
  deleted — Spark's scheduler and AQE own parallelism and memory.
- ``fetch_to_pandas`` keeps the reference's pandas result contract
  (:275) via Arrow, and ``iter_batches`` exposes the columnar stream
  the reference read from the Storage API (:496-502) as JVM-encoded
  Arrow frames served partition by partition, with no Python worker.
- The reference's per-chunk temporary tables (step (c), :158-181) come
  back once per plan: a plan's ``iter_batches`` and ``fetch_to_pandas``
  are served from one shuffle of the table by chunk id, built at the
  plan's first delivery (``_ChunkLayout``), instead of one filter scan
  per chunk. A filter prunes nothing on a column whose row groups mix
  every value, so each chunk's scan would decode the whole table. The
  shuffle pays off when most of a plan's chunks are delivered: one
  chunk alone pays a whole-table shuffle where a pruned filter reads
  about 1/n of the table. A served partition is held in the driver JVM,
  on average no bigger than one scan split; the shuffle is freed once
  the plan's chunks are dropped.
"""

from __future__ import annotations

import datetime
import decimal
import logging
import math
import threading
import time
from dataclasses import dataclass, field, replace
from typing import TYPE_CHECKING, Any, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampType

from bqfetch_spark.catalog import load_catalog
from bqfetch_spark.compat import arrow_batches, arrow_partitions, collect_arrow, collect_rows
from bqfetch_spark.registry import register

if TYPE_CHECKING:
    import pyarrow as pa

_logger = logging.getLogger(__name__)


@dataclass(frozen=True)
class TableRef:
    """Named table within a scale-factor directory (the reference's
    {project, dataset, table} triple collapses to {sf_dir, name})."""

    sf_dir: str
    name: str


def _spark_identifier(column: str) -> str:
    """``column`` spelled as ``F.col(column)`` resolves it: dot-separated
    parts, each backquoted, unless the name is already backquoted."""
    if "`" in column:
        return column
    return ".".join(f"`{part}`" for part in column.split("."))


def _sql_literal(v: Any, spark: bool, ntz: bool = False, int_suffix: str = "") -> str | None:
    """``v`` as a SQL literal — the one renderer behind both chunk
    predicates. ``spark=True`` spells Spark SQL with the type ``F.lit(v)``
    gives (``ntz``: the session prefers TIMESTAMP_NTZ for naive
    datetimes, as ``F.lit`` does; ``int_suffix`` types an int literal
    instead, e.g. ``L`` for BIGINT) and returns None for a value it has
    no spelling for; otherwise it spells BigQuery Storage-API SQL. NaN
    and ±inf take a cast, since a bare ``nan``/``inf`` is an identifier
    in both dialects."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, int):
        if spark and not -(2**63) <= v < 2**63:
            return None  # F.lit has no type past bigint either
        return f"{int(v)}{int_suffix}"
    if isinstance(v, float):
        if math.isfinite(v):
            return f"{float(v)!r}D" if spark else repr(float(v))
        word = "NaN" if math.isnan(v) else ("Infinity" if v > 0 else "-Infinity")
        return f"CAST('{word}' AS {'DOUBLE' if spark else 'FLOAT64'})"
    if spark and isinstance(v, decimal.Decimal) and v.is_finite():
        return f"{v}BD"
    if isinstance(v, datetime.datetime):
        if not spark:
            return f"TIMESTAMP '{v.isoformat(sep=' ')}'"
        if v.tzinfo is None and ntz:
            return f"TIMESTAMP_NTZ '{v.isoformat(sep=' ')}'"
        # the instant F.lit takes: a naive value is local wall-clock
        # time in the Python process's TZ, whatever the session's is
        return f"timestamp_micros({TimestampType().toInternal(v)})"
    if isinstance(v, datetime.date):
        return f"DATE '{v.isoformat()}'"
    if spark and isinstance(v, (bytes, bytearray)):
        return f"X'{v.hex()}'"
    if isinstance(v, str) or not spark:
        escaped = str(v).replace("\\", "\\\\").replace("'", "\\'")
        return f"'{escaped}'"
    return None


def _prefers_ntz(values) -> bool:
    """Whether ``F.lit`` types the naive datetimes among ``values`` as
    TIMESTAMP_NTZ (a session setting, read only when there are some)."""
    if not any(isinstance(v, datetime.datetime) and v.tzinfo is None for v in values):
        return False
    from pyspark.sql.utils import is_timestamp_ntz_preferred

    return is_timestamp_ntz_preferred()


@dataclass(frozen=True)
class FetchingChunk:
    """Partition of a table on one column, in one of two modes:

    - **range** (default, ``elements is None``): holds only the
      ``(lower, upper)`` boundaries of a contiguous slice of the value
      domain; membership is a typed BETWEEN predicate pushed down to
      the scan. O(1) driver memory per chunk — the 100 TB planning
      path.
    - **value-list** (``elements`` set): reference-parity categorical
      chunks (``FetchingChunk(elements, column)``,
      bqfetch/bqfetch.py:43-50) — an explicit tuple of member values,
      evaluated as a typed IN predicate. Unlike the reference, which
      stringifies and double-quotes every value into the SQL text
      (bqfetch/bqfetch.py:171 and :483-484, breaking non-string
      types), each value keeps its literal type for ints/dates/strings
      alike (the SURVEY §1.3 promise). Intended for low-cardinality
      chunk columns (the README's ``Geography`` example); driver
      memory is O(domain), so the planner bounds it with
      ``max_values``.

    A chunk planned by ``Fetcher.chunks``, in either mode, also carries
    its plan's ``layout``: the table shuffled once so that one partition
    holds this chunk (see ``_ChunkLayout``). ``iter_batches`` and
    ``fetch_to_pandas`` serve the chunk from there; ``fetch``, the
    predicates, equality, hashing and repr ignore it. A hand-built
    chunk, or one derived from a planned one, is read by its filter.
    """

    column: str
    index: int
    n_chunks: int
    lower: Any
    upper: Any
    n_values: int
    elements: tuple = None  # type: ignore[assignment]
    # True when this chunk also owns the chunk column's NULL rows, which
    # neither BETWEEN nor IN matches: the planner sets it on the bucket
    # the NULL domain value sorted into, and predicate() adds IS NULL.
    includes_null: bool = False
    layout: _ChunkLayout | None = field(default=None, compare=False, hash=False, repr=False)

    def predicate(self) -> F.Column:
        """The chunk's membership test, built in ONE JVM call: the IN /
        BETWEEN / IS NULL predicate is rendered as Spark SQL and handed
        to ``F.expr``. Building it literal by literal
        (``isin(*elements)``: a py4j round-trip per value) cost 9.3 s
        for a 10,000-value chunk; one expression costs milliseconds.
        Every literal keeps the type ``F.lit`` gives its Python value,
        so the optimized plan — and the ``In(...)`` filter pushed to the
        Parquet scan — is the one ``isin`` builds. A chunk holding a
        value with no SQL spelling (a struct, say) falls back to one
        ``F.lit`` per value."""
        sql = self._sql(
            _spark_identifier(self.column), spark=True, ntz=_prefers_ntz(self._values)
        )
        if sql is not None:
            return F.expr(sql)
        col = F.col(self.column)
        if self.elements is not None:
            base = col.isin(*self.elements) if self.elements else F.lit(False)
        else:
            base = col.between(F.lit(self.lower), F.lit(self.upper))
        return (base | col.isNull()) if self.includes_null else base

    def row_restriction(self) -> str:
        """The chunk predicate as a Storage-API SQL boolean — what the
        reference sends as ``row_restriction`` on its read session
        (bqfetch/bqfetch.py:483-484) and what the spark-bigquery
        connector forwards verbatim from its ``filter`` reader option
        (sources/bigquery.py). Semantics mirror ``predicate()``
        exactly, through the same literal renderer: typed literals (the
        reference double-quoted every value as a string, :171, breaking
        non-string columns), BETWEEN for range mode, IN for value-list
        mode, an IS NULL disjunct for the NULL-owning chunk, FALSE for
        the degenerate empty chunk."""
        return self._sql(f"`{self.column}`", spark=False)

    @property
    def _values(self) -> tuple:
        return (self.lower, self.upper) if self.elements is None else self.elements

    def _sql(self, col: str, spark: bool, ntz: bool = False, int_suffix: str = "") -> str | None:
        """The chunk predicate over identifier ``col`` as SQL text, or
        None when a value has no spelling (``_sql_literal``)."""
        lits = [_sql_literal(v, spark, ntz, int_suffix) for v in self._values]
        if None in lits:
            return None
        base = None
        if self.elements is not None:
            if self.elements:
                base = f"{col} IN ({', '.join(lits)})"
        elif self.lower is not None:
            base = f"{col} BETWEEN {lits[0]} AND {lits[1]}"
        if self.includes_null:
            nullp = f"{col} IS NULL"
            return nullp if base is None else f"({base} OR {nullp})"
        return base if base is not None else "FALSE"


class _ChunkLayout:
    """One plan's table with a chunk id per row, shuffled by
    ``repartitionById`` so that partition ``i`` holds exactly chunk
    ``i``: the reference's per-chunk temporary tables (PAPER.md §0 step
    (c)), built once per plan instead of one filter scan per chunk,
    range and value-list plans alike.

    - **Chunk id.** One Spark SQL expression (``_chunk_id_sql``). A row
      no chunk selects gets id ``n`` and lands in a spare partition that
      is never served, so a chunk holds exactly what its filter selects.
      A plan holding a value with no SQL spelling is not laid out.
    - **Memory.** A served partition is collected into the driver JVM
      before it streams, so each chunk is split by a row hash into
      ``s = ceil(scan partitions / n)`` sub-partitions, served one job
      each: on average no bigger than one scan split.
    - **Lifetime.** Built at the plan's first delivery, under a lock, so
      a plan that is only ``fetch``-ed pays nothing. It holds layout-free
      copies of the plan's chunks, so no reference cycle keeps it and
      Spark's ContextCleaner frees the shuffle once they are dropped.
      Under Connect the chunks are read by their filters.
    """

    def __init__(self, spark: SparkSession, ref: TableRef, chunks: list[FetchingChunk]):
        self.spark = spark
        self.ref = ref
        self.chunks = chunks  # by index, each with layout=None
        self._lock = threading.Lock()
        self._built = False
        self._served = None  # (schema, read, sub-partitions) once built, if it serves
        self.partitions = None  # the built shuffle's partition count

    def serves(self, spark: SparkSession, ref: TableRef, chunk: FetchingChunk) -> bool:
        """True when ``chunk`` equals one this layout was built for, read
        from the same table in the same session."""
        i = chunk.index
        return (
            spark is self.spark
            and ref == self.ref
            and 0 <= i < len(self.chunks)
            and self.chunks[i] == chunk
        )

    def batches(self, index: int) -> tuple[pa.Schema, Iterator[pa.RecordBatch]] | None:
        """Chunk ``index``'s Arrow schema and batches, building the
        shuffle on first use (logged as one structured record); None
        when it cannot be served."""
        with self._lock:
            if not self._built:
                t0 = time.perf_counter()
                self._served = self._build()
                self._built = True
                s = self._served[2] if self._served else None
                rec = {
                    "table": self.ref.name,
                    "column": self.chunks[0].column,
                    "n_chunks": len(self.chunks),
                    "partitions": self.partitions if s else None,
                    "sub_partitions": s,
                    "build_s": time.perf_counter() - t0,
                }
                msg = "laid out %(n_chunks)d chunks of %(table)s.%(column)s in %(build_s).2f s"
                _logger.info(msg, rec, extra=rec)
        if self._served is None:
            return None
        schema, read, s = self._served
        parts = range(index * s, (index + 1) * s)
        return schema, (batch for p in parts for batch in read(p))

    def _build(self):
        from bqfetch_spark.compat import is_classic

        tbl = load_catalog(self.spark, self.ref.sf_dir).table(self.ref.name)
        if not is_classic(tbl):
            return None
        col = _spark_identifier(self.chunks[0].column)
        dtype = tbl.select(F.expr(col)).schema.fields[0].dataType.simpleString()
        suffix = {"bigint": "L", "smallint": "S", "tinyint": "Y"}.get(dtype, "")
        sql = self._chunk_id_sql(col, suffix)
        if sql is None:
            return None
        n = len(self.chunks)
        s = max(1, math.ceil(tbl.rdd.getNumPartitions() / n))
        cid = F.expr(sql)
        if s > 1:
            # a map column cannot be hashed
            fields = tbl.schema.fields
            hashable = [F.col(f"`{f.name}`") for f in fields if "map<" not in f.dataType.simpleString()]
            cid = cid * s + F.pmod(F.hash(*hashable), F.lit(s))
        served = arrow_partitions(
            tbl.withColumn("__bqfs_part", cid)
            .repartitionById((n + 1) * s, "__bqfs_part")
            .drop("__bqfs_part")
        )
        if served is None:
            return None
        schema, self.partitions, read = served
        if self.partitions != (n + 1) * s:  # not laid out by chunk id: filter instead
            return None
        return schema, read, s

    def _chunk_id_sql(self, col: str, int_suffix: str) -> str | None:
        """A row's chunk id as Spark SQL over ``col``, or None when a
        value has no spelling (``_sql_literal``). NULL goes to the chunk
        that owns it; any other value takes a binary search over the
        ordered ``lower`` bounds (``col < lower``, Spark's sort order,
        which the planner's buckets follow) and keeps its chunk's id
        only if that chunk's own predicate (``FetchingChunk._sql``)
        selects it. Int literals take the column's type (``int_suffix``):
        on a BIGINT column the analyser would cast INT ones one by one."""
        n = len(self.chunks)
        ntz = _prefers_ntz([c.lower for c in self.chunks])
        ranked = [c for c in self.chunks if c.lower is not None]
        lowers = [_sql_literal(c.lower, True, ntz, int_suffix) for c in ranked]
        leaves = [c._sql(col, True, ntz, int_suffix) for c in ranked]
        if None in lowers or None in leaves:
            return None

        def search(lo: int, hi: int) -> str:  # over ranked[lo:hi]
            if hi - lo == 1:
                return f"CASE WHEN {leaves[lo]} THEN {ranked[lo].index} ELSE {n} END"
            mid = (lo + hi) // 2
            below, above = search(lo, mid), search(mid, hi)
            return f"CASE WHEN {col} < {lowers[mid]} THEN {below} ELSE {above} END"

        owner = next((c.index for c in self.chunks if c.includes_null), n)
        rest = search(0, len(ranked)) if ranked else n
        return f"CASE WHEN {col} IS NULL THEN {owner} ELSE {rest} END"


def _skewed(mean: float) -> F.Column:
    """1 for a value whose row count (``__cnt``) is more than ±25% off
    ``mean``, else 0 — the reference's dispersion test
    (bqfetch/bqfetch.py:410-419)."""
    return (F.abs(F.col("__cnt") - F.lit(mean)) > 0.25 * F.lit(mean)).cast("long")


class Fetcher:
    """Plans and executes chunked reads of a table (reference parity:
    BigQueryFetcher, bqfetch/bqfetch.py:196-372)."""

    def __init__(self, spark: SparkSession, verbose: bool = False):
        self.spark = spark
        self.verbose = verbose

    def _log(self, *args: Any) -> None:
        if self.verbose:
            print(">>>", *args)  # reference log format, bqfetch/utils.py:64-67

    def table(self, ref: TableRef) -> DataFrame:
        return load_catalog(self.spark, ref.sf_dir).table(ref.name)

    def _value_counts(self, ref: TableRef, column: str, with_bytes: bool = False) -> DataFrame:
        """Per-value row counts (``__cnt``) — the one data-sized aggregate
        the whole planning pipeline derives from (reference SQL A2,
        bqfetch/bqfetch.py:105-123). ``with_bytes`` adds each value's
        Σ materialized_row_bytes (``__bytes``), so a size-driven plan
        reads its table size, skew mean and bucket boundaries off this
        one scan."""
        tbl = self.table(ref)
        aggs = [F.count(F.lit(1)).alias("__cnt")]
        if with_bytes:
            from bqfetch_spark.plans.advisor import materialized_row_bytes

            aggs.append(F.sum(materialized_row_bytes(tbl)).alias("__bytes"))
        return tbl.groupBy(column).agg(*aggs)

    def _report_skew(self, ref: TableRef, column: str, frac: float) -> float:
        """The reference's plan-time warning when more than 25% of the
        chunk-key values are dispersed (bqfetch/bqfetch.py:410-419)."""
        if frac > 0.25:
            import warnings

            msg = (
                f"{ref.name}.{column}: {frac:.0%} of chunk-key values are >25% "
                "off the mean row count — value-based chunks will be uneven "
                "(consider another chunk column, or rely on AQE skew handling)"
            )
            warnings.warn(msg, stacklevel=3)
            self._log(msg)
        return frac

    def check_skew(self, ref: TableRef, column: str) -> float:
        """Standalone plan-time dispersion check (reference parity:
        bqfetch/bqfetch.py:410-419): the share of distinct values whose
        row count is more than ±25% off the mean, warning above 25%.
        Two tiny aggregates over the per-value counts; nothing about the
        domain is collected. ``chunks(by_chunk_size_in_GB=…)`` tallies
        the same indicator inside its boundary job instead."""
        counts = self._value_counts(ref, column)
        [(mean, n)] = collect_rows(counts.agg(F.avg("__cnt"), F.count(F.lit(1))))
        n_skewed = collect_rows(counts.agg(F.sum(_skewed(mean))))[0][0] if n else 0
        return self._report_skew(ref, column, n_skewed / n if n else 0.0)

    def chunks(
        self,
        ref: TableRef,
        column: str,
        by_nb_chunks: int | None = None,
        by_chunk_size_in_GB: float | None = None,
        nb_cores: int = 1,
        by_values: bool = False,
        max_values: int = 100_000,
        available_bytes: int | None = None,
    ) -> list[FetchingChunk]:
        """Split the column's distinct-value domain into contiguous
        buckets (ntile semantics: earlier buckets take the remainder).
        Only bucket boundaries are collected.

        Sizing modes (reference parity: BigQueryFetcher.chunks,
        bqfetch/bqfetch.py:232-265 — exactly one must be given):
        - ``by_nb_chunks``: explicit chunk count.
        - ``by_chunk_size_in_GB``: memory-aware estimation — chunk
          count from ESTIMATED MATERIALIZED table bytes (the
          num_bytes analog: fixed widths + string byte lengths,
          plans/advisor.materialized_row_bytes — the reference
          budgeted against BigQuery's LOGICAL num_bytes,
          bqfetch/bqfetch.py:430, not compressed storage), the
          per-chunk GB target, ``nb_cores`` parallel consumers, and
          available RAM (``available_bytes`` when given — the
          hermetic/injected path — else /proc/meminfo;
          plans/advisor.suggest_chunks_by_size; reference
          get_nb_chunks_approximation, bqfetch/bqfetch.py:374-454).
          This mode also runs the reference's plan-time skew check
          (``check_skew``'s fraction and warning,
          bqfetch/bqfetch.py:410-419). The whole plan reads the table
          ONCE: a grouped aggregate gives each value's row count and
          bytes, one tiny summary of it gives the table bytes and the
          mean count, and the skew tally rides in the boundary job.

        The bucketing is the adaptive exact-ntile spelling
        (plans/ranks.with_ntile_auto): small domains use a plain ntile
        window; domains past the estimated single-sort crossover use
        the bucket-partition + offset spelling — no unpartitioned
        window, so planning itself survives a 100 TB table with a huge
        domain (the collect stays O(n_chunks) either way).

        ``by_values=True`` returns reference-parity value-LIST chunks
        (``FetchingChunk.elements`` populated — bqfetch/bqfetch.py:43-50
        semantics with typed IN predicates instead of the reference's
        stringified IN-lists, :171). Bucket membership is identical to
        the range mode (same ntile over the same sorted domain) — only
        the chunk representation changes. Driver memory becomes
        O(domain), so the planner refuses domains larger than
        ``max_values`` (probed with a limit over the persisted counts
        aggregate — bounds the driver payload, and the aggregate is
        computed once for probe and boundaries together) and points at
        the range mode.

        Each plan is also logged as one structured ``logging`` record on
        the ``bqfetch_spark.fetcher`` logger: ``n_chunks``,
        ``estimated_bytes`` and ``skew_fraction`` (None for a plan by
        chunk count, which computes neither) and ``domain_size``."""
        if (by_nb_chunks is None) == (by_chunk_size_in_GB is None):
            raise ValueError(
                "exactly one of by_nb_chunks / by_chunk_size_in_GB must be given"
            )
        if by_nb_chunks is not None and by_nb_chunks <= 0:
            raise ValueError("by_nb_chunks must be positive")
        from bqfetch_spark.plans.advisor import suggest_chunks_by_size
        from bqfetch_spark.plans.ranks import with_ntile_auto
        from bqfetch_spark.session import shuffle_partitions

        sized = by_chunk_size_in_GB is not None
        nbytes = mean = None
        counts = self._value_counts(ref, column, with_bytes=sized)
        # the size summary, the domain probe and the boundary job all
        # read the counts aggregate — persist it so the table is
        # scanned once (the probe's limit cannot short-circuit an
        # aggregation; what it bounds is the DRIVER payload)
        persisted = sized or by_values
        if persisted:
            counts = counts.persist()
        try:
            if sized:
                [(total, mean)] = collect_rows(counts.agg(F.sum("__bytes"), F.avg("__cnt")))
                nbytes = int(total or 0)
                by_nb_chunks = suggest_chunks_by_size(
                    nbytes, by_chunk_size_in_GB, nb_cores, available_bytes
                )
                self._log(
                    f"estimated {by_nb_chunks} chunks for {ref.name} "
                    f"({nbytes / 1024**3:.3f} GB at {by_chunk_size_in_GB} GB/chunk × {nb_cores} cores)"
                )
            domain = counts.select(column, "__cnt") if sized else counts.select(column)
            if by_values:
                probe = domain.limit(max_values + 1).count()
                if probe > max_values:
                    raise ValueError(
                        f"{ref.name}.{column} has more than {max_values} distinct "
                        "values — value-list chunks hold the whole domain on the "
                        "driver; use range chunks (by_values=False) for "
                        "high-cardinality columns, or raise max_values"
                    )
            bucketed = with_ntile_auto(
                domain,
                [column],
                by_nb_chunks,
                shuffle_partitions(self.spark),
                "__bucket",
            )
            agg_cols = [
                F.min(column).alias("lo"),
                F.max(column).alias("hi"),
                F.count(F.lit(1)).alias("n"),
                # a NULL domain value is invisible to min/max/collect_list
                # and unmatched by BETWEEN/IN — flag the bucket it sorted
                # into so its chunk predicate gains an IS NULL disjunct
                # and union(chunks) stays exactly the table
                F.sum(F.col(column).isNull().cast("long")).alias("n_nulls"),
            ]
            if sized:
                agg_cols.append(F.sum(_skewed(mean)).alias("n_skewed"))
            if by_values:
                agg_cols.append(F.sort_array(F.collect_list(column)).alias("els"))
            bounds = collect_rows(bucketed.groupBy("__bucket").agg(*agg_cols).orderBy("__bucket"))
        finally:
            if persisted:
                counts.unpersist()
        plan = [
            FetchingChunk(
                column=column,
                index=row["__bucket"] - 1,
                n_chunks=by_nb_chunks,
                lower=row["lo"],
                upper=row["hi"],
                n_values=row["n"],
                elements=tuple(row["els"]) if by_values else None,
                includes_null=row["n_nulls"] > 0,
            )
            for row in bounds
        ]
        layout = _ChunkLayout(self.spark, ref, plan)
        out = [replace(c, layout=layout) for c in plan]
        domain_size = sum(c.n_values for c in out)
        frac = None
        if sized:
            n_skewed = sum(row["n_skewed"] or 0 for row in bounds)
            frac = self._report_skew(
                ref, column, n_skewed / domain_size if domain_size else 0.0
            )
        self._log(f"planned {len(out)} chunks on {ref.name}.{column}")
        _logger.info(
            "planned %d chunks on %s.%s",
            len(out),
            ref.name,
            column,
            extra={
                "table": ref.name,
                "column": column,
                "n_chunks": len(out),
                "estimated_bytes": nbytes,
                "domain_size": domain_size,
                "skew_fraction": frac,
            },
        )
        return out

    def fetch(self, ref: TableRef, chunk: FetchingChunk | None) -> DataFrame:
        """One chunk as a lazy DataFrame — the range predicate reaches
        the Parquet scan (PushedFilters), the reference's CTAS +
        row_restriction dance (bqfetch/bqfetch.py:158-181,483-494)
        collapses to a filter."""
        df = self.table(ref)
        if chunk is None:  # full-table path, reference :490-494
            return df
        return df.filter(chunk.predicate())

    def fetch_to_pandas(self, ref: TableRef, chunk: FetchingChunk | None):
        """Materialize a chunk as pandas via Arrow (the reference's
        result contract: Arrow batches → pandas, bqfetch/bqfetch.py:
        501-502). Goes through one Arrow collect and ``to_pandas()``
        directly (``compat.collect_arrow``, the ``toArrow()`` call over a
        socket it closes) — the pyspark toPandas() wrapper adds ~5×
        conversion overhead on timestamp/string columns (measured 11 s
        vs 2.7 s on 600k rows). A planned chunk is read from its plan's
        layout instead, as in ``iter_batches``.
        Timing/log parity with bqfetch verbose mode (:331,365-371)."""
        t0 = time.time()
        served = self._served(ref, chunk)
        if served is None:
            tbl = collect_arrow(self.fetch(ref, chunk))
        else:
            import pyarrow as pa

            schema, batches = served
            tbl = pa.Table.from_batches(list(batches), schema=schema)
        pdf = tbl.to_pandas(self_destruct=True, split_blocks=True, use_threads=True)
        if self.verbose:  # deep memory scan is itself O(data); gate it
            mem_gb = pdf.memory_usage(deep=True).sum() / 1024**3
            # reference verbose stats: row count + deep DataFrame size
            # (bqfetch/bqfetch.py:365-371)
            self._log(
                f"fetched {len(pdf)} rows in {time.time() - t0:.2f}s "
                f"({mem_gb:.2f}GB deep)"
            )
        return pdf

    def iter_batches(
        self,
        ref: TableRef,
        chunk: FetchingChunk | None,
        batch_rows: int = 65536,
    ) -> Iterator[pa.RecordBatch]:
        """Columnar Arrow record batches of ``batch_rows`` rows (the last
        may be shorter), streamed with bounded driver memory — the
        reference read Arrow batches from the Storage API
        (bqfetch/bqfetch.py:496-502). The JVM encodes the Arrow frames
        and serves them one partition at a time (``compat.arrow_batches``:
        no Python worker, no pickled rows), so driver memory stays at two
        partitions' frames plus ``batch_rows`` pending rows however large
        the chunk is. The batches carry the schema ``toArrow()`` gives.
        For a chunk that fits in driver memory, ``fetch_to_pandas`` is
        the faster single-collect path; this is the 100 TB-safe spout.

        A chunk planned by ``chunks`` (range or value-list) is served
        from its plan's layout instead (``_ChunkLayout``): the first
        delivery of any chunk of the plan shuffles the table by chunk
        id once, and every call then reads only its own chunk's
        partitions, one Spark job each (the driver JVM holds one such
        partition, on average one scan split). The batches are the rows
        ``fetch(ref, chunk)`` selects, in another order."""
        if batch_rows <= 0:
            raise ValueError(f"batch_rows must be positive, got {batch_rows}")
        return _rebatch(self._arrow_batches(ref, chunk), batch_rows)

    def _arrow_batches(
        self, ref: TableRef, chunk: FetchingChunk | None
    ) -> Iterator[pa.RecordBatch]:
        served = self._served(ref, chunk)
        yield from arrow_batches(self.fetch(ref, chunk)) if served is None else served[1]

    def _served(
        self, ref: TableRef, chunk: FetchingChunk | None
    ) -> tuple[pa.Schema, Iterator[pa.RecordBatch]] | None:
        """The chunk's schema and batches from its plan's layout, or None
        when it has none that serves it (hand-built or derived chunks,
        another table or session, a value with no SQL spelling, Connect)."""
        layout = None if chunk is None else chunk.layout
        if layout is None or not layout.serves(self.spark, ref, chunk):
            return None
        return layout.batches(chunk.index)


def _rebatch(
    batches: Iterator[pa.RecordBatch], batch_rows: int
) -> Iterator[pa.RecordBatch]:
    """Re-slice a batch stream to ``batch_rows``-row batches."""
    import pyarrow as pa

    pending: pa.Table | None = None
    for batch in batches:
        tbl = pa.Table.from_batches([batch])
        pending = tbl if pending is None else pa.concat_tables([pending, tbl])
        while pending.num_rows >= batch_rows:
            head = pending.slice(0, batch_rows).combine_chunks()
            yield head.to_batches(max_chunksize=batch_rows)[0]
            pending = pending.slice(batch_rows)
    if pending is not None and pending.num_rows:
        yield from pending.combine_chunks().to_batches(max_chunksize=batch_rows)


# ---------------------------------------------------------------------------
# Oracle-checked facade query: one planned chunk fetched back
# ---------------------------------------------------------------------------

FETCH_CHUNK_ORACLE = """
WITH buckets AS (
  SELECT k, ntile(4) OVER (ORDER BY k) AS b
  FROM (SELECT DISTINCT c_custkey AS k FROM customer)
)
SELECT c_custkey, c_name, c_nationkey, c_mktsegment
FROM customer
JOIN buckets ON c_custkey = buckets.k
WHERE buckets.b = 2
"""


@register("q60_fetch_chunk", oracle=FETCH_CHUNK_ORACLE, tags=("fetcher",))
def q60_fetch_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end facade parity: plan 4 chunks on customer.c_custkey,
    fetch chunk #2 (1-based bucket 2). Matches an ntile-bucket oracle
    because chunks are contiguous ranges over the distinct domain."""
    fetcher = Fetcher(spark)
    ref = TableRef(sf_dir, "customer")
    chunk = fetcher.chunks(ref, "c_custkey", by_nb_chunks=4)[1]
    return fetcher.fetch(ref, chunk).select("c_custkey", "c_name", "c_nationkey", "c_mktsegment")


FETCH_CHUNK_VALUES_ORACLE = """
WITH buckets AS (
  SELECT k, ntile(3) OVER (ORDER BY k) AS b
  FROM (SELECT DISTINCT c_mktsegment AS k FROM customer)
)
SELECT c_custkey, c_name, c_mktsegment
FROM customer
JOIN buckets ON c_mktsegment = buckets.k
WHERE buckets.b = 2
"""


@register("q96_fetch_chunk_values", oracle=FETCH_CHUNK_VALUES_ORACLE, tags=("fetcher",))
def q96_fetch_chunk_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-LIST chunk parity (reference FetchingChunk(elements, column),
    bqfetch/bqfetch.py:43-50, rendered as a stringified IN-list at :171;
    here a typed `isin`): plan 3 categorical chunks on the 5-value
    c_mktsegment domain, fetch chunk #2 (1-based bucket 2 — a 2-element
    value list, so the IN-list path is actually exercised). Matches the
    same ntile-bucket oracle as q60 because value-list buckets and range
    buckets share the ntile-over-sorted-domain membership."""
    fetcher = Fetcher(spark)
    ref = TableRef(sf_dir, "customer")
    chunk = fetcher.chunks(ref, "c_mktsegment", by_nb_chunks=3, by_values=True)[1]
    assert chunk.elements is not None and len(chunk.elements) == 2
    return fetcher.fetch(ref, chunk).select("c_custkey", "c_name", "c_mktsegment")


def _q67_oracle() -> str:
    from bqfetch_spark.plans.advisor import GB, MEMORY_RESERVE_GB

    # The SAME budget arithmetic as suggest_chunks_by_size, evaluated
    # at import time on the HERMETIC memory fixture (2 GiB available,
    # 1 core) — pure constants, so embedding the result keeps the
    # oracle static while the table-size term stays SQL-computed.
    budget_gb = min(
        Q67_CHUNK_GB * 1,
        max(Q67_AVAILABLE_BYTES / GB - MEMORY_RESERVE_GB, 0.25),
    )
    # 28 = fixed widths (c_custkey 8 + c_nationkey 4 + c_acctbal 8)
    # + two 4-byte string length headers — plans/advisor._FIXED_WIDTHS
    return f"""
WITH est AS (
  SELECT greatest(1, CAST(ceil(
           sum(28 + COALESCE(strlen(c_name), 0)
                  + COALESCE(strlen(c_mktsegment), 0)) / 1073741824.0
           / {budget_gb!r}) AS BIGINT)) AS n
  FROM customer
),
sel AS (
  SELECT k, ntile((SELECT n FROM est)) OVER (ORDER BY k) AS b
  FROM (SELECT DISTINCT c_custkey AS k FROM customer)
)
SELECT CAST(b - 1 AS BIGINT) AS chunk_index,
       (SELECT n FROM est) AS n_chunks,
       CAST(min(k) AS BIGINT) AS lo,
       CAST(max(k) AS BIGINT) AS hi,
       CAST(count(*) AS BIGINT) AS n_values
FROM sel GROUP BY b ORDER BY b
"""


GB = 1024**3
Q67_AVAILABLE_BYTES = 2 * GB  # hermetic memory fixture (VERDICT r10 #8)
Q67_CHUNK_GB = 1e-5


@register(
    "q67_fetch_chunks_by_size",
    oracle=_q67_oracle(),
    doc="size-driven chunk plan from estimated materialized bytes (hermetic memory fixture)",
    tags=("fetcher", "advisor"),
)
def q67_fetch_chunks_by_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Size-driven chunk planning (the reference's headline mode:
    by_chunk_size_in_GB, bqfetch/bqfetch.py:374-454 + README.md:77-85):
    chunk count = ceil(estimated materialized bytes / budget) at a
    10 KB/chunk target, then the value-domain bucketed into contiguous
    ranges. Returns the plan itself.

    FULL VALUE-HASH ORACLE since round 11 (VERDICT r10 #8, rows-only
    through r10): two changes made the arithmetic SQL-derivable —
    (1) the table-size term is the ESTIMATED MATERIALIZED bytes
    (fixed widths + string byte lengths, the analog of the reference's
    LOGICAL num_bytes, bqfetch/bqfetch.py:430) instead of compressed
    parquet file bytes, which both under-estimated the pandas wave the
    budget exists to bound AND were storage detail no oracle could
    see; (2) free RAM is INJECTED as a fixed 2 GiB fixture through the
    new Fetcher.chunks(available_bytes=...) parameter, so the formula
    stops depending on the machine running it (the /proc/meminfo path
    remains the facade default). The oracle recomputes the byte sum,
    the ceil, and the ntile bucketing end to end."""
    fetcher = Fetcher(spark)
    ref = TableRef(sf_dir, "customer")
    plan = fetcher.chunks(
        ref,
        "c_custkey",
        by_chunk_size_in_GB=Q67_CHUNK_GB,
        available_bytes=Q67_AVAILABLE_BYTES,
    )
    return spark.createDataFrame(
        [(c.index, c.n_chunks, int(c.lower), int(c.upper), c.n_values) for c in plan],
        "chunk_index bigint, n_chunks bigint, lo bigint, hi bigint, n_values bigint",
    )
