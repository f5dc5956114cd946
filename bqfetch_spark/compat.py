"""Classic-PySpark / Spark-Connect capability layer (VERDICT r8 #3).

Classic PySpark exposes the JVM through ``df._jdf`` / ``spark._jvm`` /
``spark.sparkContext``; Spark Connect proxies the session over gRPC and
has NONE of those. Every internals touch point in this engine routes
through this module so a Connect deployment degrades to a semantic
fallback instead of an AttributeError:

- plan introspection (``formatted_plan`` / ``optimized_plan_string``)
  falls back to the public ``df.explain(...)`` capture, or ``None`` —
  callers must treat ``None`` as "unknown plan" and take the
  scale-safe route (plans/ranks.py materialize-and-count).
- session identity (``app_id``, ``session_key``): the app id falls
  back to a per-process constant, and the session uuid to a uuid4
  stamped on the session object — uniqueness is then carried by the
  per-session component of the key.
- raw JVM access (``jvm_or_none``) returns ``None`` so callers can gate
  JVM-only features (count-min-sketch deserialization, connector class
  probes) behind an explicit capability error.
- Arrow streaming (``arrow_batches``) serves JVM-encoded Arrow frames
  partition by partition (``Dataset.toArrowBatchRdd`` through
  ``PythonRDD.toLocalIteratorAndServe``, read over a socket this module
  owns and closes) and falls back to a ``mapInArrow``
  IPC re-encode plus ``toLocalIterator`` when those are unreachable.
  ``arrow_partitions`` builds a frame's Arrow batch RDD once and serves
  any one partition of it on request (``PythonRDD.runJob``); it returns
  ``None`` under Connect.
- Driver pulls (``collect_rows`` for small results, ``collect_arrow``
  for a whole result as one Arrow table) read ``collectToPython``'s or
  ``collectAsArrowToPython``'s stream over a socket this module closes;
  pyspark's own ``collect()`` and ``toArrow()`` leave it to garbage
  collection.
- Cache release (``unpersist``) also frees a checkpointed frame's
  blocks, which ``DataFrame.unpersist`` leaves in place.
- Parquet footer schemas (``parquet_schema_reader`` /
  ``parquet_file_schema``) read one file's footer on the driver and
  convert it with Spark's own ``ParquetToSparkSchemaConverter`` under
  the session's SQLConf: the schema inference would give, with no
  Spark job. They return ``None`` under Connect, for a directory, or
  when a private call drifts; callers then let Spark infer.

Connect itself cannot run in the build sandbox (no grpcio/protobuf —
see tests/test_connect_compat.py for the env-gated smoke marker), so
these paths are exercised by monkeypatching the classic internals away
in tests, which is exactly the failure shape Connect produces.
"""

from __future__ import annotations

import contextlib
import io
from typing import TYPE_CHECKING, Callable, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType, _parse_datatype_json_string

if TYPE_CHECKING:
    import pyarrow as pa


def is_classic(spark_or_df) -> bool:
    """True when classic-JVM internals are reachable on this object."""
    obj = spark_or_df
    try:
        if isinstance(obj, DataFrame):
            return obj._jdf is not None
        return obj._jvm is not None
    except Exception:
        return False


def jvm_or_none(spark: SparkSession):
    """The py4j JVM view, or None under Connect / API drift."""
    try:
        return spark._jvm
    except Exception:
        return None


def formatted_plan(df: DataFrame) -> str:
    """The formatted physical plan as a string. Classic path uses
    ``queryExecution().explainString`` (no stdout games); the fallback
    captures the public ``df.explain(mode=...)`` print, which Connect
    serves over its protocol."""
    try:
        jvm = df.sparkSession._jvm
        mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        return df._jdf.queryExecution().explainString(mode)
    except Exception:
        pass
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="formatted")
    return buf.getvalue()


def optimized_plan_string(df: DataFrame) -> str | None:
    """``optimizedPlan().toString()`` or None when plan introspection is
    unavailable (Connect). ``None`` — not ``""`` — so callers can
    distinguish "no plan access" from "plan matched nothing" and pick
    the scale-safe route."""
    try:
        return df._jdf.queryExecution().optimizedPlan().toString()
    except Exception:
        return None


def plan_size_bytes_or_none(df: DataFrame) -> int | None:
    """Catalyst's optimized-plan size estimate in bytes, or None when
    internals are unreachable. Zero Spark jobs on the classic path."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return None


def app_id(spark: SparkSession) -> str:
    """A catalog-memo-stable application identity. Classic: the real
    applicationId (unique per JVM lifetime). Connect: there is no
    sparkContext — fall back to the server-side app id config when the
    server exposes it, else a process-constant marker (per-SESSION
    uniqueness then comes from the memo key's session component)."""
    try:
        return spark.sparkContext.applicationId
    except Exception:
        pass
    try:
        return str(spark.conf.get("spark.app.id"))
    except Exception:
        return "connect-app"


def session_key(spark: SparkSession) -> tuple[str, str]:
    """(app id, session uuid): the one identity every per-session memo
    keys on. The app id is stable for a context's lifetime and unique
    across restarts, so a recycled SparkSession never resurrects state
    that points at a stopped JVM; the uuid tells ``spark.newSession()``
    siblings apart, which share an app id but not temp views or
    checkpoints. Under Connect the uuid is a uuid4 stamped onto the
    session proxy on first touch. ``id(spark)`` would not do: CPython
    can reuse the address after GC, while a NEW session object can
    never carry the old attribute."""
    app = app_id(spark)
    try:
        return app, str(spark._jsparkSession.sessionUUID())
    except Exception:
        pass
    u = getattr(spark, "_bqfs_session_uuid", None)
    if u is None:
        import uuid

        u = str(uuid.uuid4())
        try:
            spark._bqfs_session_uuid = u
        except Exception:
            pass  # unsettable proxy: key degrades to per-call (no reuse, just no memo)
    return app, u


def parquet_schema_reader(spark: SparkSession) -> Callable[[str], StructType | None]:
    """A function from one Parquet file's path to the ``StructType``
    Spark's schema inference gives for it, read from the file's footer
    on the driver: no Spark job. The footer goes through the same
    ``ParquetFileFormat.readSchemaFromFooter`` and
    ``ParquetToSparkSchemaConverter`` that inference runs on an
    executor, built from the session's SQLConf, so ``nanosAsLong``, the
    timestamp-NTZ and the binary-as-string rules follow the session.

    The JVM classes, the Hadoop conf and the converter are looked up
    once here, not once per file: py4j resolves each package segment
    with its own round trip. The returned function gives ``None`` for a
    directory, an unreadable file or a drifted private call, and the
    whole reader gives only ``None`` under Connect."""
    try:
        jss = spark._jsparkSession
        jvm = spark._jvm
        pq = jvm.org.apache.spark.sql.execution.datasources.parquet
        state = jss.sessionState()
        hconf = state.newHadoopConf()
        converter = pq.ParquetToSparkSchemaConverter(state.conf())
        read_footer = pq.ParquetFooterReader.readFooter
        from_footer = pq.ParquetFileFormat.readSchemaFromFooter
        skip_row_groups = (
            jvm.org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
        )
        input_file = jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath
        footer_of = jvm.org.apache.parquet.hadoop.Footer
        hpath = jvm.org.apache.hadoop.fs.Path
    except Exception:
        return lambda path: None
    # classic-only imports: a Connect client ships no py4j
    from py4j.protocol import Py4JError
    from pyspark.errors.exceptions.captured import CapturedException

    def schema(path: str) -> StructType | None:
        try:
            p = hpath(path)
            meta = read_footer(input_file(p, hconf), skip_row_groups)
            # a file source's relation is always read as nullable
            # (DataSource.resolveRelation), so inference reports it so
            as_json = from_footer(footer_of(p, meta), converter).asNullable().json()
        except (Py4JError, CapturedException):
            return None  # a directory, an unreadable file or type, a drifted call
        return _parse_datatype_json_string(as_json)

    return schema


def parquet_file_schema(spark: SparkSession, path: str) -> StructType | None:
    """The schema Spark would infer for one Parquet file, read from its
    footer with no Spark job; ``None`` when that route is closed (see
    ``parquet_schema_reader``)."""
    return parquet_schema_reader(spark)(path)


def arrow_batches(df: DataFrame) -> Iterator["pa.RecordBatch"]:
    """The rows of ``df`` as Arrow record batches, one partition at a
    time with the next one prefetched: the driver JVM holds at most two
    partitions' frames and Python one batch, never the whole result.

    Classic route: the JVM encodes each batch (``toArrowBatchRdd``),
    ``toLocalIteratorAndServe`` streams the frames over the same
    partition-at-a-time protocol ``toLocalIterator`` uses, and the
    driver decodes them against the schema ``toArrow()`` casts to — no
    Python worker, no pickled rows. An empty result yields no batch.
    Closing the iterator early drains the current partition and stops
    the serving thread; the socket is closed either way.

    Fallback, when the classic setup is unreachable (Connect, or the
    private JVM calls raise before the first frame): executors re-encode
    each batch as IPC bytes in a ``binary`` column (``mapInArrow``), the
    driver pulls those rows with ``toLocalIterator`` and casts each batch
    to ``toArrow()``'s schema."""
    import pyarrow as pa

    if is_classic(df):
        try:
            frames, schema = _jvm_arrow_frames(df)
        except Exception:  # private-API drift: take the public route
            pass
        else:
            with contextlib.closing(frames):
                for frame in frames:
                    yield pa.ipc.read_record_batch(pa.py_buffer(frame), schema)
            return
    yield from _worker_arrow_batches(df)


def _jvm_arrow_frames(df: DataFrame):
    """(frame iterator, Arrow schema) for the classic route; raises on
    any missing internal. The socket is connected here, so setup errors
    surface before the first frame."""
    from pyspark.traceback_utils import SCCallSiteSync
    from pyspark.util import local_connect_and_auth

    schema = _arrow_schema(df)
    sc = df.sparkSession.sparkContext
    with SCCallSiteSync(sc):
        port, secret, server = sc._jvm.PythonRDD.toLocalIteratorAndServe(
            df._jdf.toArrowBatchRdd(), True
        )
    sockfile, sock = local_connect_and_auth(port, secret)
    # partitions take unpredictable time to compute: no read timeout
    sock.settimeout(None)
    return _served_frames(sockfile, sock, server), schema


def _arrow_schema(df: DataFrame) -> "pa.Schema":
    """The Arrow schema ``toArrow()`` casts ``df``'s batches to (Connect's
    ``toArrow()`` prefers no large types)."""
    from pyspark.sql.pandas.types import to_arrow_schema

    jconf = getattr(df.sparkSession, "_jconf", None)
    large = jconf is not None and jconf.arrowUseLargeVarTypes()
    return to_arrow_schema(df.schema, prefers_large_types=large)


def arrow_partitions(
    df: DataFrame,
) -> tuple["pa.Schema", int, Callable[[int], Iterator["pa.RecordBatch"]]] | None:
    """``df``'s Arrow batch RDD, built once, with a reader that serves
    any one of its partitions: ``(schema, partition count, read)``,
    where ``read(i)`` yields partition ``i``'s record batches (none for
    an empty one). ``None`` when the classic route is closed (Connect).

    Building runs the plan's shuffle map stages (an adaptive plan
    materializes them in ``toArrowBatchRdd``), so every later ``read``
    is one job over one partition's shuffle blocks. ``read`` collects
    its partition into the driver JVM (``PythonRDD.runJob``), then
    serves it over a socket this module closes. The shuffle lives as
    long as the returned reader does."""
    if not is_classic(df):
        return None
    import pyarrow as pa
    from pyspark.serializers import NoOpSerializer
    from pyspark.traceback_utils import SCCallSiteSync

    schema = _arrow_schema(df)
    sc = df.sparkSession.sparkContext
    with SCCallSiteSync(sc):
        jrdd = df._jdf.toArrowBatchRdd().toJavaRDD()

    def read(index: int) -> Iterator[pa.RecordBatch]:
        with SCCallSiteSync(sc):
            sock_info = sc._jvm.PythonRDD.runJob(sc._jsc.sc(), jrdd, [index])
        for frame in _served_stream(sock_info, NoOpSerializer()):
            yield pa.ipc.read_record_batch(pa.py_buffer(frame), schema)

    return schema, jrdd.getNumPartitions(), read


def collect_rows(df: DataFrame) -> list:
    """``df.collect()``: every row of a small result as a ``Row``.
    Classic route: ``collectToPython`` runs the job, then its stream is
    read over a socket this module closes (pyspark's ``collect()``
    leaves that socket to garbage collection). Fallback (Connect): the
    public ``collect()``."""
    if not is_classic(df):
        return df.collect()
    from pyspark.serializers import BatchedSerializer, CPickleSerializer
    from pyspark.traceback_utils import SCCallSiteSync

    with SCCallSiteSync(df.sparkSession.sparkContext):
        sock_info = df._jdf.collectToPython()
    return list(_served_stream(sock_info, BatchedSerializer(CPickleSerializer())))


def collect_arrow(df: DataFrame) -> "pa.Table":
    """``df.toArrow()``: the whole result as one Arrow table with the
    schema ``toArrow()`` gives. Classic route: ``collectAsArrowToPython``
    runs the job and serves the batches, then their order; the stream is
    read over a socket this module closes (pyspark's ``toArrow()``
    leaves that socket to garbage collection). Fallback (Connect): the
    public ``toArrow()``."""
    if not is_classic(df):
        return df.toArrow()
    import pyarrow as pa
    from pyspark.errors.exceptions.captured import unwrap_spark_exception
    from pyspark.sql.pandas.serializers import ArrowCollectSerializer
    from pyspark.traceback_utils import SCCallSiteSync

    schema = _arrow_schema(df)
    with SCCallSiteSync(df.sparkSession.sparkContext):
        port, secret, server = df._jdf.collectAsArrowToPython()
    try:
        *batches, order = _served_stream((port, secret), ArrowCollectSerializer())
    finally:
        with unwrap_spark_exception():
            server.getResult()  # joins the serving thread, raises its error
    if not batches:
        return schema.empty_table()
    return pa.Table.from_batches([batches[i] for i in order]).cast(schema)


def unpersist(df: DataFrame) -> None:
    """Release ``df``'s cached blocks. For a checkpointed frame
    (``localCheckpoint``) that includes the checkpointed RDD, which
    ``DataFrame.unpersist()`` leaves persisted because the cache manager
    it clears never held it. The frame cannot be read afterwards."""
    df.unpersist()
    try:
        plan = df._jdf.logicalPlan()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            plan.rdd().unpersist(False)
    except Exception:  # Connect, or not a checkpoint
        pass


def _served_stream(sock_info, serializer) -> Iterator:
    """What the JVM serves at ``sock_info`` (``PythonRDD.serveIterator``:
    port and secret first), loaded with ``serializer``. The socket is
    closed on exhaustion, error or early close; an early close first
    drains the rest, so the serving thread ends cleanly."""
    from pyspark.util import local_connect_and_auth

    sockfile, sock = local_connect_and_auth(sock_info[0], sock_info[1])
    # the served data may take unpredictable time to come: no read timeout
    sock.settimeout(None)
    items = serializer.load_stream(sockfile)
    try:
        for item in items:  # ``yield from`` would close ``items`` before the drain
            yield item
    finally:
        try:
            for _ in items:  # nothing left unless closed early
                pass
        except Exception:  # the server may already be gone
            pass
        finally:
            sockfile.close()
            sock.close()


def _served_frames(sockfile, sock, server):
    """The frames of a ``toLocalIteratorAndServe`` stream, partition by
    partition: ask for the next one (1), read its status (1 = frames
    follow, 0 = done, -1 = the job failed and ``getResult`` raises it).
    pyspark's ``_local_iterator_from_socket`` speaks the same protocol
    but never closes its socket; this generator closes it on exhaustion,
    error or early close, after draining the current partition and
    telling the server to stop (0) when closed mid-stream."""
    from pyspark.serializers import NoOpSerializer, read_int, write_int

    frames = None  # the partition being read, until it is used up
    try:
        while True:
            write_int(1, sockfile)
            sockfile.flush()
            status = read_int(sockfile)
            if status == -1:
                server.getResult()
            if status != 1:
                return
            frames = NoOpSerializer().load_stream(sockfile)
            for frame in frames:  # ``yield from`` would close ``frames`` before the drain
                yield frame
            frames = None
    finally:
        try:
            if frames is not None:  # closed mid-partition
                for _ in frames:
                    pass
                write_int(0, sockfile)
                sockfile.flush()
        except Exception:  # the server may already be gone
            pass
        finally:
            sockfile.close()
            sock.close()


def _worker_arrow_batches(df: DataFrame) -> Iterator["pa.RecordBatch"]:
    import pyarrow as pa

    def _to_ipc(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import pyarrow as _pa

        for b in batches:
            sink = _pa.BufferOutputStream()
            with _pa.ipc.new_stream(sink, b.schema) as writer:
                writer.write_batch(b)
            yield _pa.RecordBatch.from_pydict(
                {"ipc": [sink.getvalue().to_pybytes()]}
            )

    # the executors' batches may differ from toArrow()'s in nullability
    # (a filter lets toArrow() mark a column NOT NULL): cast to its schema
    schema = _arrow_schema(df)
    for row in df.mapInArrow(_to_ipc, "ipc binary").toLocalIterator(
        prefetchPartitions=True
    ):
        for batch in pa.ipc.open_stream(pa.py_buffer(row["ipc"])):
            yield batch.cast(schema)
