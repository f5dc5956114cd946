"""Iterative graph analytics on DataFrames — PageRank over a
fact-derived graph (SURVEY.md §2 extension; the reference is a fetch
client with no query layer, bqfetch/bqfetch.py:1).

The pattern this demonstrates: REDUCE the 100 TB fact tables to a
domain-sized graph first (one multi-join + partial aggregation — the
only stage that touches fact-sized data), then iterate on the tiny
edge/rank frames. Companion to operators/corpus.py's hash-min
connected components (the other iterative-dataflow operator).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bqfetch_spark.catalog import load_catalog
from bqfetch_spark.operators.relational import r6
from bqfetch_spark.registry import register

PR_DAMPING = 0.85
PR_ITERS = 10

_EDGES_SQL = """
  SELECT n1.n_name AS src, n2.n_name AS dst, count(*) AS w
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  GROUP BY 1, 2
"""


def _pagerank_oracle(iters: int = PR_ITERS, d: float = PR_DAMPING) -> str:
    """Unrolled fixed-iteration PageRank as plain SQL: one CTE pair
    (dangling mass, next rank) per iteration — recursive CTEs forbid
    the per-iteration aggregation, so the loop unrolls statically.
    The per-node contribution sum runs over <=|nodes| double terms in
    both engines; drift is ~1 ulp per term, invisible at round-6.
    Every CTE is MATERIALIZED: DuckDB inlines plain CTEs, and with
    each rank level referenced twice (contribution + dangling) the
    unrolled chain would otherwise expand exponentially — r10 would
    inline 2^10 copies of the 6-table fact join."""
    sql = f"""
WITH edges AS MATERIALIZED ({_EDGES_SQL}),
nodes AS MATERIALIZED (SELECT n_name AS node FROM nation),
outw AS MATERIALIZED (SELECT src, sum(w) AS ow FROM edges GROUP BY src),
nn AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
r0 AS MATERIALIZED (SELECT node, 1.0 / (SELECT n FROM nn) AS r FROM nodes),
"""
    for i in range(iters):
        sql += f"""dm{i} AS MATERIALIZED (
  SELECT coalesce(sum(r.r), 0.0) AS m
  FROM r{i} r LEFT JOIN outw ON r.node = outw.src
  WHERE outw.src IS NULL
),
r{i + 1} AS MATERIALIZED (
  SELECT
    n.node,
    (1.0 - {d}) / (SELECT n FROM nn)
    + {d} * (coalesce(c.contrib, 0.0) + (SELECT m FROM dm{i}) / (SELECT n FROM nn)) AS r
  FROM nodes n
  LEFT JOIN (
    SELECT e.dst AS node, sum(r.r * e.w / o.ow) AS contrib
    FROM r{i} r
    JOIN edges e ON e.src = r.node
    JOIN outw o ON o.src = e.src
    GROUP BY e.dst
  ) c ON c.node = n.node
),
"""
    sql = sql.rstrip().rstrip(",")
    sql += f"\nSELECT node AS nation, round(r, 6) AS pagerank FROM r{iters}"
    return sql


@register(
    "qx125_pagerank",
    oracle=_pagerank_oracle(),
    doc="weighted PageRank over the customer->supplier nation trade graph",
    tags=("graph", "iterative", "stats"),
)
def qx125_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank over the nation-level trade graph: an edge
    cust_nation -> supp_nation weighted by how many lineitems flowed
    that way. The expensive stage is the FACT REDUCTION — lineitem
    joins orders broadcast-dimension-style down to a <=|nations|² edge
    list in one partially-aggregated pass; the 100 TB posture is that
    iteration never touches facts. The power iteration runs 10
    (PR_ITERS) fixed rounds DRIVER-SIDE over the collected
    dimension-bounded edge list (round 13 — see the inline comment),
    with the standard damping + uniform dangling-mass redistribution:
    r'(v) = (1-d)/N + d * (sum_in r(u) w(u,v)/outw(u) + dangling/N).
    The oracle unrolls the identical recurrence as static SQL, so the
    fixed-point is value-checked, not just shape-checked. Determinism:
    weights/out-weights are exact BIGINTs; each per-node contribution
    is a <=|nodes|-term double sum — mirrored expression, ~ulp drift,
    stable at round-6."""
    cat = load_catalog(spark, sf_dir)  # also registers the temp views the SQL reads
    # The ONLY fact-sized stage stays distributed: one partially-
    # aggregated multi-join reduces the facts to the nation-level edge
    # list. That list is DIMENSION-bounded — ≤ |nation|² = 625 rows at
    # ANY corpus size — so the power iteration itself is a ≤625-term
    # recurrence: round 13 moves it driver-side (the [decide]/[iter]
    # bounded-collect class, same as centroid and BPE-argmax collects)
    # instead of ~50 scheduler round-trips of 25-row Spark jobs, which
    # were the query's entire wall (measured 4.9-7 s isolated at
    # sf0.1; the reduction job is <1 s). Arithmetic is replicated
    # expression-for-expression from the old per-round plan —
    # (r·w)/ow terms summed per dst, damping applied as
    # (1-d)/n + d·(contrib + m/n) — so the trajectory stays within the
    # same ~ulp envelope of the oracle's unrolled recurrence that the
    # distributed spelling had (Spark's F.sum order was already
    # partition-nondeterministic; both engines agree at round-6).
    edge_rows = spark.sql(_EDGES_SQL).collect()  # ≤ |nation|² rows
    nodes = [r["n_name"] for r in cat.table("nation").select("n_name").collect()]
    n_nodes = float(len(nodes))

    outw: dict[str, int] = {}
    for e in edge_rows:
        outw[e["src"]] = outw.get(e["src"], 0) + e["w"]
    rank = {nd: 1.0 / n_nodes for nd in nodes}
    for _ in range(PR_ITERS):
        m = sum(rank[nd] for nd in nodes if nd not in outw)
        contrib: dict[str, float] = {}
        for e in edge_rows:
            contrib[e["dst"]] = contrib.get(e["dst"], 0.0) + (
                rank[e["src"]] * e["w"] / outw[e["src"]]
            )
        rank = {
            nd: (1.0 - PR_DAMPING) / n_nodes
            + PR_DAMPING * (contrib.get(nd, 0.0) + m / n_nodes)
            for nd in nodes
        }
    out = spark.createDataFrame(
        [(nd, rank[nd]) for nd in nodes], "nation string, r double"
    )
    return out.select("nation", r6(F.col("r")).alias("pagerank"))


# ---------------------------------------------------------------------------
# qx145 — triangle counting on the undirected trade graph
# ---------------------------------------------------------------------------

_TRIANGLE_ORACLE = f"""
WITH e AS MATERIALIZED ({_EDGES_SQL}),
und AS MATERIALIZED (
  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
  FROM e WHERE src <> dst
),
tri AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM und e1
  JOIN und e2 ON e2.u = e1.v
  JOIN und e3 ON e3.u = e1.u AND e3.v = e2.v
),
member AS (SELECT unnest([a, b, c]) AS nation FROM tri)
SELECT n.n_name AS nation, CAST(count(member.nation) AS BIGINT) AS n_triangles
FROM nation n LEFT JOIN member ON member.nation = n.n_name
GROUP BY 1
"""


@register(
    "qx145_triangle_count",
    oracle=_TRIANGLE_ORACLE,
    doc="per-nation triangle participation in the undirected trade graph",
    tags=("graph", "join", "stats"),
)
def qx145_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting — the standard graph-cohesion primitive
    (clustering coefficients, community seeds) — as a three-way
    self-join on canonically-ordered edges: store each undirected edge
    once as (u < v), join (a,b)⋈(b,c) to enumerate wedges, then
    semi-check the closing edge (a,c); a < b < c holds by
    construction, so every triangle is produced exactly once with no
    post-hoc dedup. Per-node counts explode the 3 corners and
    left-join back to the full nation list (zeros kept).

    Scale posture mirrors qx125: the only fact-sized stage is the edge
    reduction (one partially-aggregated multi-join of lineitem);
    triangle enumeration runs on the ≤|nations|² edge list. On a graph
    whose edge list is itself huge, the same plan holds with the
    standard degree-ordered orientation (u→v iff deg(u)<deg(v)) — the
    canonical-order join IS that algorithm; integer counts make the
    oracle exact."""
    cat = load_catalog(spark, sf_dir)  # also registers the temp views the SQL reads
    e = spark.sql(_EDGES_SQL)
    und = (
        e.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
        )
        .distinct()
        .localCheckpoint(eager=True)  # referenced 3x below; keep the
        # fact-join lineage out of the triple self-join
    )
    e1, e2, e3 = und.alias("e1"), und.alias("e2"), und.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.u") == F.col("e1.v"))
        .join(e3, (F.col("e3.u") == F.col("e1.u")) & (F.col("e3.v") == F.col("e2.v")))
        .select(F.col("e1.u").alias("a"), F.col("e1.v").alias("b"), F.col("e2.v").alias("c"))
    )
    member = tri.select(F.explode(F.array("a", "b", "c")).alias("nation"))
    nations = cat.table("nation").select(F.col("n_name").alias("nation"))
    return (
        nations.join(member.withColumn("hit", F.lit(1)), "nation", "left")
        .groupBy("nation")
        .agg(F.count("hit").cast("bigint").alias("n_triangles"))
    )


# ---------------------------------------------------------------------------
# qx146 — BFS shortest hops over a sparsified trade digraph
# ---------------------------------------------------------------------------

BFS_SOURCE = "NATION_0"
BFS_MAX_HOPS = 12  # ≥ any reachable distance on a 25-node out-degree-2 graph? no —
# a path-like worst case reaches 24; the cap bounds BOTH engines identically, so
# nodes farther than the cap (none on the fixture) would be NULL on both sides.

_BFS_ORACLE = f"""
WITH RECURSIVE e AS MATERIALIZED ({_EDGES_SQL}),
sparse AS MATERIALIZED (
  SELECT src, dst FROM (
    SELECT src, dst,
           row_number() OVER (PARTITION BY src ORDER BY w DESC, dst) AS rn
    FROM e WHERE src <> dst
  ) WHERE rn <= 2
),
walk(node, hop) AS (
  SELECT '{BFS_SOURCE}' AS node, 0 AS hop
  UNION ALL
  SELECT s.dst, w.hop + 1
  FROM walk w JOIN sparse s ON s.src = w.node
  WHERE w.hop < {BFS_MAX_HOPS} - 1
),
dist AS (SELECT node, CAST(min(hop) AS BIGINT) AS hops FROM walk GROUP BY node)
SELECT n.n_name AS nation, dist.hops
FROM nation n LEFT JOIN dist ON dist.node = n.n_name
"""


@register(
    "qx146_bfs_hops",
    oracle=_BFS_ORACLE,
    doc="BFS shortest hop counts from one nation over a top-2-out-edge trade digraph",
    tags=("graph", "iterative"),
)
def qx146_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-source shortest hops by frontier-expansion BFS — the
    iterative-dataflow sibling of qx125 (fixed-point ranks) and q74
    (pointer-jumping components). The graph is deliberately SPARSIFIED
    (each nation keeps its top-2 trade partners by weight, tie-broken
    on name) so real multi-hop structure exists; the rank-based rule
    is engine-exact, unlike a weight-threshold cut.

    Each round joins only the NEW frontier against the edge list and
    anti-joins already-settled nodes — classic BFS on Pregel and the
    shape that scales: per-round work is O(frontier out-edges), the
    settled set is touched only as an 8-byte-keyed anti-join build
    side, and the loop exits as soon as a frontier comes back empty
    (the driver check is a count on a ≤|nations| frame). The oracle is
    a capped recursive CTE taking min(hop); both engines bound the
    walk at BFS_MAX_HOPS so the semantics agree exactly, NULL for
    unreachable."""
    cat = load_catalog(spark, sf_dir)  # also registers the temp views the SQL reads
    from pyspark.sql.window import Window

    e = spark.sql(_EDGES_SQL).filter(F.col("src") != F.col("dst"))
    rn = F.row_number().over(Window.partitionBy("src").orderBy(F.desc("w"), "dst"))
    # Fact reduction + rank-sparsify stay distributed; the sparsified
    # edge list is DIMENSION-bounded (≤ 2·|nation| rows at any corpus
    # size), so the frontier walk runs driver-side (round 13, the
    # qx125 pattern): integer hop arithmetic over ≤50 edges replaces
    # ~BFS_MAX_HOPS scheduler round-trips of ≤25-row joins, which were
    # the query's wall. Semantics unchanged: first-visit hop = min
    # hop, walk capped at BFS_MAX_HOPS, NULL for unreachable.
    sparse_rows = (
        e.withColumn("rn", rn).filter(F.col("rn") <= 2).select("src", "dst").collect()
    )
    adj: dict[str, list[str]] = {}
    for r in sparse_rows:
        adj.setdefault(r["src"], []).append(r["dst"])
    dist = {BFS_SOURCE: 0}
    frontier = [BFS_SOURCE]
    for hop in range(1, BFS_MAX_HOPS):
        nxt = sorted(
            {d for f in frontier for d in adj.get(f, ()) if d not in dist}
        )
        if not nxt:
            break
        for d in nxt:
            dist[d] = hop
        frontier = nxt
    nations = [r["n_name"] for r in cat.table("nation").select("n_name").collect()]
    return spark.createDataFrame(
        [(n, dist.get(n)) for n in nations], "nation string, hops bigint"
    )
