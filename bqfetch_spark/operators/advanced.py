"""Advanced SQL surface: raw-SQL passthrough (reference A6), grouping
sets, exact percentiles, argmax aggregates, ntile, conditional aggs,
HAVING, correlated subqueries.

The reference's `BigQueryClient.run(sql)` (bqfetch/bqfetch.py:85-93)
accepted arbitrary SQL; `spark.sql(...)` is the full equivalent — two
queries below deliberately go through it to exercise the parser path
end-to-end (parse → analyze → optimize → execute).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from bqfetch_spark.catalog import load_catalog
from bqfetch_spark.operators.relational import DEC_PRICE, r6
from bqfetch_spark.registry import register

GROUPING_SETS_ORACLE = """
SELECT
  o_orderstatus,
  o_orderpriority,
  count(*) AS n_orders,
  round(CAST(sum(CAST(o_totalprice AS DECIMAL(16,6))) AS DOUBLE), 6) AS revenue
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
"""


@register("q19_sql_passthrough", oracle=GROUPING_SETS_ORACLE, tags=("sql", "grouping-sets"))
def q19_sql_passthrough(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw SQL through spark.sql — the A6 passthrough operator — using
    GROUPING SETS, which the DataFrame API has no direct spelling for."""
    load_catalog(spark, sf_dir).table("orders")
    return spark.sql(
        """
        SELECT
          o_orderstatus,
          o_orderpriority,
          count(*) AS n_orders,
          round(CAST(sum(CAST(o_totalprice AS DECIMAL(16,6))) AS DOUBLE), 6) AS revenue
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


PERCENTILE_ORACLE = """
SELECT
  l_returnflag,
  round(quantile_cont(l_quantity, 0.5), 6) AS p50_qty,
  round(quantile_cont(l_quantity, 0.9), 6) AS p90_qty,
  round(quantile_cont(l_extendedprice, 0.5), 6) AS p50_price
FROM lineitem
GROUP BY l_returnflag
"""


@register("q23_percentiles", oracle=PERCENTILE_ORACLE, tags=("agg", "percentile"))
def q23_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (Spark `percentile` == DuckDB
    `quantile_cont`). The scale path swaps in percentile_approx
    (t-digest, single pass, mergeable) — kept exact here because the
    oracle compare demands determinism."""
    li = load_catalog(spark, sf_dir).table("lineitem")
    return li.groupBy("l_returnflag").agg(
        r6(F.percentile("l_quantity", F.lit(0.5))).alias("p50_qty"),
        r6(F.percentile("l_quantity", F.lit(0.9))).alias("p90_qty"),
        r6(F.percentile("l_extendedprice", F.lit(0.5))).alias("p50_price"),
    )


MAXBY_ORACLE = """
SELECT
  c_mktsegment,
  max_by(c_name, c_acctbal) AS richest_customer,
  round(CAST(max(CAST(c_acctbal AS DECIMAL(16,6))) AS DOUBLE), 6) AS top_balance,
  min_by(c_name, c_acctbal) AS poorest_customer
FROM customer
GROUP BY c_mktsegment
"""


@register("q24_argmax_agg", oracle=MAXBY_ORACLE, tags=("agg", "argmax"))
def q24_argmax_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_by/min_by argmax aggregates (acctbal values are unique in
    the fixture, so the argmax is well-defined across engines)."""
    cust = load_catalog(spark, sf_dir).table("customer")
    return cust.groupBy("c_mktsegment").agg(
        F.max_by("c_name", "c_acctbal").alias("richest_customer"),
        r6(F.max(F.col("c_acctbal").cast(DEC_PRICE)).cast("double")).alias("top_balance"),
        F.min_by("c_name", "c_acctbal").alias("poorest_customer"),
    )


NTILE_ORACLE = """
SELECT
  quartile,
  count(*) AS n_orders,
  round(CAST(sum(CAST(o_totalprice AS DECIMAL(16,6))) AS DOUBLE), 6) AS revenue
FROM (
  SELECT o_totalprice,
         CAST(ntile(4) OVER (ORDER BY o_totalprice, o_orderkey) AS BIGINT) AS quartile
  FROM orders
)
GROUP BY quartile
"""


@register("q25_ntile_quartiles", oracle=NTILE_ORACLE, tags=("window", "ntile"))
def q25_ntile_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue by price quartile — EXACT ntile over a deterministic
    total order (unique tie-break key), with an ADAPTIVE physical
    spelling (plans/ranks.with_ntile_auto): inputs under the estimated
    single-sort crossover use the plain ntile window (0.99 s vs 2.45 s
    at sf0.1 — the scalable machinery is a 100×-scale tax the small
    case shouldn't pay); larger inputs get the bucket-partition +
    offset spelling with no single-task sort. Identical bucket
    assignment either way."""
    from bqfetch_spark.plans.ranks import with_ntile_auto
    from bqfetch_spark.session import shuffle_partitions

    orders = load_catalog(spark, sf_dir).table("orders").select("o_totalprice", "o_orderkey")
    bucketed = with_ntile_auto(
        orders, ["o_totalprice", "o_orderkey"], 4, shuffle_partitions(spark), "quartile"
    )
    return bucketed.groupBy("quartile").agg(
        F.count(F.lit(1)).alias("n_orders"),
        r6(F.sum(F.col("o_totalprice").cast(DEC_PRICE)).cast("double")).alias("revenue"),
    )


CONDAGG_ORACLE = """
SELECT
  n_name,
  count(*) AS n_customers,
  count(CASE WHEN c_acctbal > 5000 THEN 1 END) AS n_rich,
  round(CAST(sum(CASE WHEN c_mktsegment = 'BUILDING'
                      THEN CAST(c_acctbal AS DECIMAL(16,6))
                      ELSE CAST(0 AS DECIMAL(16,6)) END) AS DOUBLE), 6) AS building_balance
FROM customer
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
"""


@register("q26_conditional_agg", oracle=CONDAGG_ORACLE, tags=("agg", "pivot-ish"))
def q26_conditional_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered/conditional aggregation — the manual form of PIVOT."""
    cat = load_catalog(spark, sf_dir)
    joined = cat.table("customer").join(
        F.broadcast(cat.table("nation")), F.col("c_nationkey") == F.col("n_nationkey")
    )
    zero = F.lit(0).cast(DEC_PRICE)
    return joined.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.count(F.when(F.col("c_acctbal") > 5000, 1)).alias("n_rich"),
        r6(
            F.sum(
                F.when(
                    F.col("c_mktsegment") == "BUILDING", F.col("c_acctbal").cast(DEC_PRICE)
                ).otherwise(zero)
            ).cast("double")
        ).alias("building_balance"),
    )


HAVING_ORACLE = """
SELECT o_custkey, count(*) AS n_orders,
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(16,6))) AS DOUBLE), 6) AS spend
FROM orders
GROUP BY o_custkey
HAVING count(*) >= 15
"""


@register("q27_having", oracle=HAVING_ORACLE, tags=("agg", "having"))
def q27_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_catalog(spark, sf_dir).table("orders")
    return (
        orders.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            r6(F.sum(F.col("o_totalprice").cast(DEC_PRICE)).cast("double")).alias("spend"),
        )
        .filter(F.col("n_orders") >= 15)
    )


CORRELATED_ORACLE = """
SELECT o_orderkey, o_custkey, round(CAST(o_totalprice AS DECIMAL(16,6)) * 1, 6) AS totalprice
FROM orders o
WHERE o_totalprice > (
  SELECT 2 * CAST(sum(CAST(i.o_totalprice AS DECIMAL(16,6))) AS DOUBLE) / count(*)
  FROM orders i WHERE i.o_custkey = o.o_custkey
)
"""


@register("q28_correlated_subquery", oracle=CORRELATED_ORACLE, tags=("sql", "subquery"))
def q28_correlated_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery through spark.sql — Catalyst
    decorrelates it into an aggregate + join (the reference outsourced
    all such rewriting to BigQuery)."""
    load_catalog(spark, sf_dir).table("orders")
    return spark.sql(
        """
        SELECT o_orderkey, o_custkey,
               round(CAST(CAST(o_totalprice AS DECIMAL(16,6)) * 1 AS DOUBLE), 6) AS totalprice
        FROM orders o
        WHERE o_totalprice > (
          SELECT 2 * CAST(sum(CAST(i.o_totalprice AS DECIMAL(16,6))) AS DOUBLE) / count(*)
  FROM orders i WHERE i.o_custkey = o.o_custkey
        )
        """
    )


PIVOT_ORACLE = """
SELECT
  n_name,
  count(CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN 1 END) AS automobile,
  count(CASE WHEN c_mktsegment = 'BUILDING' THEN 1 END) AS building,
  count(CASE WHEN c_mktsegment = 'FURNITURE' THEN 1 END) AS furniture,
  count(CASE WHEN c_mktsegment = 'HOUSEHOLD' THEN 1 END) AS household,
  count(CASE WHEN c_mktsegment = 'MACHINERY' THEN 1 END) AS machinery
FROM customer
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
"""

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]


@register("q29_pivot", oracle=PIVOT_ORACLE, tags=("agg", "pivot"))
def q29_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: customers per (nation × market segment). The pivot value
    list is given explicitly — at scale never let Spark run the
    implicit distinct-scan to discover it."""
    cat = load_catalog(spark, sf_dir)
    joined = cat.table("customer").join(
        F.broadcast(cat.table("nation")), F.col("c_nationkey") == F.col("n_nationkey")
    )
    pivoted = (
        joined.groupBy("n_name")
        .pivot("c_mktsegment", _SEGMENTS)
        .agg(F.count(F.lit(1)))
    )
    renamed = pivoted.select(
        "n_name", *[F.coalesce(F.col(s), F.lit(0)).alias(s.lower()) for s in _SEGMENTS]
    )
    return renamed


APPROX_ACCURACY = 1000  # percentile_approx accuracy parameter


@register("q90_approx_percentiles", oracle=None, tags=("agg", "percentile", "sketch"))
def q90_approx_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sketch-based scale path q23's docstring points at, as a
    first-class operator: percentile_approx (Greenwald-Khanna summary,
    accuracy=1/APPROX_ACCURACY relative-rank error) over the same
    groups as q23. One pass, fixed-size mergeable state per group —
    the only percentile that works at 100 TB; q23's exact form
    materializes every value per group.

    Deliberately rows-only (round-6 adjudication): a bounded oracle in
    the q15/q94 style would need exact continuous percentiles in the
    query output, and exact percentiles materialize every value per
    group — a 4× measured slowdown that turns the one percentile
    operator that works at 100 TB into the one that doesn't. The sketch
    is instead gated against q23's exact values by
    tests/test_properties.py (rank error <= 2/accuracy); the merge
    order being partition-dependent, the raw value itself has no
    cross-engine oracle."""
    li = load_catalog(spark, sf_dir).table("lineitem")
    acc = F.lit(APPROX_ACCURACY)
    return li.groupBy("l_returnflag").agg(
        F.percentile_approx("l_quantity", F.lit(0.5), acc).alias("p50_qty"),
        F.percentile_approx("l_quantity", F.lit(0.9), acc).alias("p90_qty"),
        F.percentile_approx("l_extendedprice", F.lit(0.5), acc).alias("p50_price"),
    )


# ---------------------------------------------------------------------------
# qx248: VARIANT semi-structured ingestion (Spark 4 parse_json)
# ---------------------------------------------------------------------------

VARIANT_ORACLE = """
WITH payload AS (
  SELECT '{"event":{"type":"' || event_type || '","value":' || CAST(value AS VARCHAR)
         || '},"user":{"id":' || CAST(user_id AS VARCHAR) || '}}' AS j
  FROM events
),
parsed AS (
  SELECT CAST(json_extract_string(j, '$.event.type') AS VARCHAR) AS event_type,
         CAST(json_extract(j, '$.user.id') AS BIGINT) AS user_id,
         CAST(json_extract(j, '$.event.value') AS DOUBLE) AS value
  FROM payload
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6) AS total_value
FROM parsed
WHERE value > 10.0
GROUP BY event_type
ORDER BY event_type
"""


@register(
    "qx248_variant_ingest",
    oracle=VARIANT_ORACLE,
    doc="semi-structured VARIANT path: parse_json -> typed variant_get extraction -> aggregate",
    tags=("semi-structured", "variant", "json"),
)
def qx248_variant_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured ingestion through Spark 4's VARIANT type — the
    open-table-format answer to schemaless JSON columns (binary
    variant encoding scans ~8× faster than string re-parsing, and
    typed ``variant_get`` paths push into the scan). The JSON payload
    is synthesized deterministically from events (so the oracle can
    synthesize the identical strings), parsed ONCE with ``parse_json``
    into a variant column, then three typed paths are extracted and
    aggregated with the engine's usual DECIMAL-exact conventions.

    At 100 TB the variant column is the stored shape (parse at ingest,
    not per query); extraction stays JVM-side and whole-stage
    codegen'd — no Python, no UDF, no second JSON parse per path."""
    ev = load_catalog(spark, sf_dir).table("events")
    j = F.concat(
        F.lit('{"event":{"type":"'),
        F.col("event_type"),
        F.lit('","value":'),
        F.col("value").cast("string"),
        F.lit('},"user":{"id":'),
        F.col("user_id").cast("string"),
        F.lit("}}"),
    )
    v = ev.select(F.parse_json(j).alias("v"))
    parsed = v.select(
        F.variant_get("v", "$.event.type", "string").alias("event_type"),
        F.variant_get("v", "$.user.id", "bigint").alias("user_id"),
        F.variant_get("v", "$.event.value", "double").alias("value"),
    )
    return (
        parsed.filter(F.col("value") > 10.0)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 6
            ).alias("total_value"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# qx249: LATERAL correlated top-N (decorrelated, not nested-loop)
# ---------------------------------------------------------------------------

LATERAL_TOPN = 3

LATERAL_ORACLE = f"""
SELECT c.c_custkey, c.c_mktsegment, o.o_orderkey, o.o_totalprice
FROM customer c,
LATERAL (
  SELECT o_orderkey, o_totalprice
  FROM orders
  WHERE o_custkey = c.c_custkey
  ORDER BY o_totalprice DESC, o_orderkey
  LIMIT {LATERAL_TOPN}
) o
WHERE c.c_mktsegment = 'BUILDING'
ORDER BY c.c_custkey, o.o_totalprice DESC, o.o_orderkey
"""


@register(
    "qx249_lateral_topn",
    oracle=LATERAL_ORACLE,
    doc="correlated LATERAL top-N per customer, decorrelated by Catalyst to a window",
    tags=("sql", "lateral", "correlated"),
)
def qx249_lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The correlated-subquery spelling every analyst writes — each
    BUILDING customer's top-{LATERAL_TOPN} orders via ``LATERAL
    (... WHERE o_custkey = c.c_custkey ORDER BY ... LIMIT n)`` — run
    through ``spark.sql`` verbatim. Catalyst DECORRELATES it: the
    executed plan is a per-customer rank window over one orders
    exchange joined to the filtered customer side, never a
    nested-loop re-scan of orders per customer (plan-asserted in
    tests/test_plan_shapes.py). The operator's point is exactly that
    parity: the engine accepts the declarative correlated form and
    produces the same physical plan the hand-written window spelling
    (q20's idiom) would — SQL-surface completeness without a
    performance cliff."""
    load_catalog(spark, sf_dir)  # registers the temp views the SQL reads
    return spark.sql(LATERAL_ORACLE)


# ---------------------------------------------------------------------------
# qx250: recursive CTE (hierarchy walk in Spark SQL)
# ---------------------------------------------------------------------------

RCTE_FANOUT = 4  # synthetic supplier reporting tree: parent = suppkey // 4

RECURSIVE_ORACLE = f"""
WITH RECURSIVE chain(s_suppkey, root, depth) AS (
  SELECT s_suppkey, s_suppkey AS root, 0 AS depth
  FROM supplier WHERE s_suppkey // {RCTE_FANOUT} = 0
  UNION ALL
  SELECT s.s_suppkey, c.root, c.depth + 1
  FROM supplier s JOIN chain c ON s.s_suppkey // {RCTE_FANOUT} = c.s_suppkey
  WHERE s.s_suppkey <> c.s_suppkey
)
SELECT CAST(depth AS BIGINT) AS depth,
       CAST(count(*) AS BIGINT) AS n_suppliers,
       CAST(min(s_suppkey) AS BIGINT) AS min_key,
       CAST(max(s_suppkey) AS BIGINT) AS max_key
FROM chain
GROUP BY depth
ORDER BY depth
"""


RECURSIVE_SPARK_SQL = RECURSIVE_ORACLE.replace("//", "div")


@register(
    "qx250_recursive_hierarchy",
    oracle=RECURSIVE_ORACLE,
    doc="WITH RECURSIVE hierarchy walk run natively by Spark SQL",
    tags=("sql", "recursive", "graph"),
)
def qx250_recursive_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4's native ``WITH RECURSIVE`` — the org-chart/BOM-
    explosion SQL shape that previously forced the iterative-DataFrame
    loop (operators/corpus.connected_components). A synthetic supplier
    reporting tree (parent = suppkey div {RCTE_FANOUT}) is walked from
    the roots, accumulating depth; output is the per-depth census.
    Spark runs the SAME statement as the oracle modulo one spelling:
    integer division is ``div`` in Spark SQL and ``//`` in DuckDB —
    SQL-surface parity, not translation.

    Scale note: each recursion step is one equi-join of the frontier
    against the table (Spark plans it as an iterative union, like the
    hash-min CC loop), so depth-bounded hierarchies (org charts, BOMs)
    run in O(depth) joins; unbounded graphs should still prefer the
    pointer-jumping CC operator."""
    load_catalog(spark, sf_dir)  # registers the temp views the SQL reads
    return spark.sql(RECURSIVE_SPARK_SQL)


# ---------------------------------------------------------------------------
# qx251: Python UDTF sliding-window chunker (RAG chunk expansion)
# ---------------------------------------------------------------------------

CHUNK_TOKENS = 64  # window width (tokens)
CHUNK_STRIDE = 48  # stride (tokens) -> 16-token overlap between chunks

UDTF_CHUNK_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
idx AS (
  SELECT doc_id, t,
         unnest(generate_series(0,
           greatest(0, CAST(ceil((len(t) - {CHUNK_TOKENS})
                                 / CAST({CHUNK_STRIDE} AS DOUBLE)) AS BIGINT)))) AS i
  FROM toks
),
chunks AS (
  SELECT doc_id,
         CAST(i AS BIGINT) AS chunk_idx,
         CAST(i * {CHUNK_STRIDE} + 1 AS BIGINT) AS start_token,
         list_aggregate(t[i * {CHUNK_STRIDE} + 1 :
                          i * {CHUNK_STRIDE} + {CHUNK_TOKENS}],
                        'string_agg', ' ') AS chunk
  FROM idx
)
SELECT doc_id, chunk_idx, start_token,
       CAST(len(string_split(chunk, ' ')) AS BIGINT) AS n_tokens,
       md5(chunk) AS chunk_md5
FROM chunks
"""


@register(
    "qx251_udtf_chunker",
    oracle=UDTF_CHUNK_ORACLE,
    doc="Python UDTF exploding docs into overlapping sliding-window chunks",
    tags=("text", "udtf", "rag", "llm-pipeline"),
)
def qx251_udtf_chunker(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The RAG chunker as a Python UDTF (Spark 3.5+/4 user-defined
    TABLE function — the row→rows API that replaces explode-a-built-
    array when chunk construction carries logic): each document
    explodes into {CHUNK_TOKENS}-token windows at stride
    {CHUNK_STRIDE} (overlap keeps boundary context retrievable —
    qx105's disjoint chunks lose it). Chunks are emitted as md5
    checksums so the oracle's slice-reconstruction proves every
    window's CONTENT, not just counts. The final short window is kept
    (a tail shorter than the width still retrieves); every doc yields
    at least one chunk.

    Scale shape: a UDTF is a narrow per-row generator — no exchange,
    chunks inherit the scan's partitioning (like qx105, plan-asserted
    exchange-free); the Python boundary is Arrow-batched (useArrow=True — plans as ArrowEvalPythonUDTF, not the row-pickling BatchEvalPython)."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="doc_id bigint, chunk_idx bigint, start_token bigint, "
          "n_tokens bigint, chunk_md5 string", useArrow=True)
    class Chunker:
        def eval(self, doc_id: int, text: str):
            import hashlib

            toks = text.split(" ")
            i = 0
            while True:
                start = i * CHUNK_STRIDE
                if start >= len(toks) and i > 0:
                    break
                window = toks[start : start + CHUNK_TOKENS]
                if not window:
                    break
                chunk = " ".join(window)
                yield (
                    doc_id,
                    i,
                    start + 1,
                    len(window),
                    hashlib.md5(chunk.encode()).hexdigest(),
                )
                if start + CHUNK_TOKENS >= len(toks):
                    break
                i += 1

    docs = load_catalog(spark, sf_dir).table("documents")
    spark.udtf.register("bqfs_chunker", Chunker)
    docs.select("doc_id", "text").createOrReplaceTempView("bqfs_chunk_in")
    return spark.sql(
        "SELECT c.* FROM bqfs_chunk_in i, LATERAL bqfs_chunker(i.doc_id, i.text) c"
    )


# ---------------------------------------------------------------------------
# qx252: parquet footer aggregates (scan-free MIN/MAX/COUNT pushdown)
# ---------------------------------------------------------------------------

FOOTER_AGG_ORACLE = """
SELECT 'lineitem' AS table_name,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(min(l_quantity) AS DOUBLE) AS min_qty,
       CAST(max(l_quantity) AS DOUBLE) AS max_qty,
       CAST(min(l_orderkey) AS BIGINT) AS min_key,
       CAST(max(l_orderkey) AS BIGINT) AS max_key
FROM lineitem
UNION ALL
SELECT 'orders',
       CAST(count(*) AS BIGINT),
       CAST(min(o_totalprice) AS DOUBLE),
       CAST(max(o_totalprice) AS DOUBLE),
       CAST(min(o_orderkey) AS BIGINT),
       CAST(max(o_orderkey) AS BIGINT)
FROM orders
ORDER BY table_name
"""


@register(
    "qx252_footer_aggregates",
    oracle=FOOTER_AGG_ORACLE,
    doc="MIN/MAX/COUNT answered from parquet footer statistics, zero data pages read",
    tags=("sources", "pushdown", "statistics"),
)
def qx252_footer_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table-stats queries answered WITHOUT scanning data: Spark's
    DSv2 parquet reader pushes whole-table MIN/MAX/COUNT into the scan
    (``spark.sql.parquet.aggregatePushdown``), which answers them from
    row-group footer statistics — the plan shows ``PushedAggregation``
    and reads zero data pages. This is the advisor's table-size probe
    (plans/advisor.py, reference get_nb_chunks_approximation) done the
    cheapest way the format allows: at 100 TB a COUNT/MIN/MAX costs
    one footer read per file, not a table scan.

    The configs live on a private ``spark.newSession()`` (same JVM,
    separate SQLConf): aggregate pushdown requires the DSv2 reader
    (``useV1SourceList=''``), and flipping that globally would change
    every other query's physical source. Pushdown quietly degrades to
    a normal scan if any row group lacks stats — the oracle equality
    holds either way; the plan assertion (tests/test_plan_shapes.py)
    is what pins the scan-free path."""
    sub = spark.newSession()
    sub.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    sub.conf.set("spark.sql.sources.useV1SourceList", "")
    import os

    out = None
    for name, qty_col, key_col in (
        ("lineitem", "l_quantity", "l_orderkey"),
        ("orders", "o_totalprice", "o_orderkey"),
    ):
        t = sub.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
        agg = t.agg(
            F.lit(name).alias("table_name"),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.min(qty_col).cast("double").alias("min_qty"),
            F.max(qty_col).cast("double").alias("max_qty"),
            F.min(key_col).cast("bigint").alias("min_key"),
            F.max(key_col).cast("bigint").alias("max_key"),
        )
        out = agg if out is None else out.unionByName(agg)
    return out.orderBy("table_name")


# ---------------------------------------------------------------------------
# qx253: dynamic partition pruning (runtime subquery prunes the hive layout)
# ---------------------------------------------------------------------------

DPP_ORACLE = """
WITH picked AS (
  SELECT DISTINCT CAST(ts AS DATE) AS d
  FROM events WHERE event_type = 'purchase' AND value > 99.0
)
SELECT e.event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(DISTINCT CAST(e.ts AS DATE)) AS BIGINT) AS n_days
FROM events e
JOIN picked p ON CAST(e.ts AS DATE) = p.d
GROUP BY e.event_type
ORDER BY e.event_type
"""


@register(
    "qx253_dynamic_partition_pruning",
    oracle=DPP_ORACLE,
    doc="runtime partition pruning: a selective dim filter prunes the hive layout's directories",
    tags=("lakehouse", "pruning", "optimizer"),
)
def qx253_dynamic_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning over the engine's hive layout (q38's
    event_date-partitioned store): the probe side's partition filter
    is only knowable at RUNTIME (the distinct days that saw a
    high-value purchase), so Catalyst plants a dynamicpruning#
    subquery in the fact scan's PartitionFilters — the scan reads ONLY
    the matching day directories, skipping the rest at the directory
    level (plan-asserted). At 100 TB with date-partitioned facts this
    is the optimization that turns a star-join from a full scan into a
    few partitions; static pruning can't do it because the day set
    comes from data.

    The day dimension derives from the same table, but through an
    independent base-table scan (not the partitioned store), so the
    pruning subquery is a genuine separate branch."""
    from bqfetch_spark.operators.lakehouse import layout_dir_for, write_partitioned_events

    store = write_partitioned_events(spark, sf_dir, layout_dir_for(sf_dir))
    part = spark.read.parquet(store)
    ev = load_catalog(spark, sf_dir).table("events")
    picked = (
        ev.filter((F.col("event_type") == "purchase") & (F.col("value") > 99.0))
        .select(F.date_format("ts", "yyyy-MM-dd").alias("event_date"))
        .distinct()
    )
    return (
        part.join(picked, "event_date")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.countDistinct("event_date").cast("bigint").alias("n_days"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# qx254: co-located bucketed join (zero-exchange fact-fact join)
# ---------------------------------------------------------------------------

BUCKETED_JOIN_ORACLE = """
SELECT o.o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_items,
       round(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
                      * CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) / 1000000, 6)
         AS volume_m
FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
GROUP BY o.o_orderpriority
ORDER BY o.o_orderpriority
"""

BUCKETED_N = 8


@register(
    "qx254_bucketed_join",
    oracle=BUCKETED_JOIN_ORACLE,
    doc="fact-fact join over co-bucketed tables: zero exchange, sort-merge on file layout",
    tags=("lakehouse", "bucketing", "join", "layout"),
)
def qx254_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB layout lever as a query: orders and lineitem are
    written ONCE as co-bucketed, bucket-sorted tables (same key, same
    bucket count — sources/writers.write_bucketed_table), and the
    fact-fact join then plans with NO Exchange and no per-query sort:
    the shuffle was paid at write time, every join on the key rides
    the layout for free. This is what the reference's daily-refresh
    warehouse tables amount to — pre-partitioned storage the engine's
    planner recognizes (plan-asserted exchange-free in
    tests/test_bucketing.py and for THIS query in test_plan_shapes).

    Auto-broadcast is disabled on a private session clone (at real
    scale neither fact is broadcastable; at fixture scale the planner
    would otherwise broadcast and hide the co-location proof). The
    bucketed tables are cached in the warehouse keyed on sf_dir —
    rebuilds only when the fixture changes."""
    import hashlib
    import os

    from bqfetch_spark.sources.writers import write_bucketed_table

    sub = spark.newSession()
    sub.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    cat = load_catalog(sub, sf_dir)
    key = hashlib.sha1(
        os.path.normpath(os.path.abspath(sf_dir)).encode()
    ).hexdigest()[:12]
    o_name, l_name = f"orders_bkt_{key}", f"lineitem_bkt_{key}"

    def ensure(table_name: str, src: str, key_col: str) -> None:
        if sub.catalog.tableExists(table_name):
            return
        # the in-memory catalog forgets tables between processes but
        # the warehouse directory survives — clear the orphaned
        # location so saveAsTable can claim it
        import shutil
        from urllib.parse import urlparse

        wh = urlparse(sub.conf.get("spark.sql.warehouse.dir")).path
        loc = os.path.join(wh, table_name)
        if os.path.exists(loc):
            shutil.rmtree(loc)
        write_bucketed_table(
            cat.table(src), table_name, [key_col], BUCKETED_N, sort_cols=[key_col]
        )

    ensure(o_name, "orders", "o_orderkey")
    ensure(l_name, "lineitem", "l_orderkey")
    o = sub.table(o_name)
    li = sub.table(l_name)
    vol = F.sum(
        F.col("l_extendedprice").cast("decimal(18,2)")
        * F.col("l_quantity").cast("decimal(18,2)")
    )
    return (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_items"),
            F.round(vol.cast("double") / 1_000_000, 6).alias("volume_m"),
        )
        .orderBy("o_orderpriority")
    )
