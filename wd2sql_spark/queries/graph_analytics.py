"""Graph analytics beyond component closure: triangle counting and a
fixed-iteration PageRank, both over graphs PROJECTED from the relational
fixtures (supplier co-occurrence, customer↔supplier interaction).

The reference has no graph surface at all (it is a single-pass ETL,
main.rs:174-238 in /root/reference); these are the two canonical graph
kernels a corpus/entity pipeline adds on top of near-dup clustering
(operators/dedup.py::connected_components): triangle counts measure local
cohesion (community/quality signals over a similarity or co-occurrence
graph), PageRank measures global centrality (seed selection, crawl
prioritization, entity importance).

Determinism playbook (same as llm_cluster.py): every ranking decision is
made on exact integers — co-occurrence counts for the kNN edge selection,
and PageRank run ENTIRELY in integer rank units with truncating division
(non-negative operands, so Spark's ``div`` and DuckDB's ``//`` agree) —
so both engines take identical branches and the results hash-match.

Scale shapes:

- **Triangle counting**: the co-occurrence pair generation is bounded
  per order (an order touches a handful of suppliers, so the self-join
  fans out quadratically only in that small per-order set); the kNN edge
  selection (top-3 neighbors per node) bounds OUT-degree by construction,
  which keeps the edge relation |V|·k; triangles are enumerated once each
  via the a<b<c node ordering, two joins on the edge relation. A node
  that is a popular NEIGHBOR can still accumulate in-degree — at corpus
  scale the standard hardening is degree orientation (point each edge at
  the higher-degree endpoint, bounding the join fanout by sqrt(|E|));
  with k=3 the fixture graphs never need it, and the enumeration below
  stays the textbook node-order form both engines share.
- **PageRank**: per iteration, one join of the |V|-sized rank relation
  to the edge list on src and one hash aggregate on dst — the rank
  relation, not the graph, is what moves. Three unrolled iterations =
  three such join+agg stages, a static dataflow (no driver loop, no
  checkpointing needed at fixed depth). At 100 TB the edge list is
  written pre-partitioned by src once, making the per-iteration join
  co-located so only the aggregate shuffles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from wd2sql_spark.catalog import sf_key, table
from wd2sql_spark.operators.graph_ops import pagerank_ranks, triangles
from wd2sql_spark.queries.registry import query
from wd2sql_spark.session_cache import memo

KNN = 3  # neighbors kept per node in the co-occurrence graph

TRIANGLE_ORACLE = f"""
WITH inc AS (SELECT DISTINCT l_orderkey AS o, l_suppkey AS s FROM lineitem),
co AS (
  SELECT a.s AS s1, b.s AS s2, COUNT(*) AS c
  FROM inc a JOIN inc b ON a.o = b.o AND a.s <> b.s
  GROUP BY 1, 2
),
knn AS (
  SELECT s1, s2 FROM (
    SELECT s1, s2, ROW_NUMBER() OVER (PARTITION BY s1 ORDER BY c DESC, s2) AS rn
    FROM co) z
  WHERE rn <= {KNN}
),
und AS (SELECT DISTINCT LEAST(s1, s2) AS a, GREATEST(s1, s2) AS b FROM knn),
tri AS (
  SELECT e1.a AS a, e1.b AS b, e2.b AS c
  FROM und e1 JOIN und e2 ON e2.a = e1.b JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
)
SELECT CAST(node AS BIGINT) AS node, CAST(COUNT(*) AS BIGINT) AS n_triangles
FROM (SELECT unnest([a, b, c]) AS node FROM tri) x
GROUP BY node
ORDER BY node
"""


@query("graph_triangle_count", oracle=TRIANGLE_ORACLE, category="graph")
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts over the supplier co-occurrence kNN graph.

    Graph projection: suppliers are adjacent when they serve the same
    order; each supplier keeps its top-{KNN} co-suppliers by shared-order
    count (integer rank, supplier-id tiebreak — a kNN graph has
    scale-stable density, unlike any fixed similarity threshold, whose
    meaning drifts as the corpus grows). Triangles are enumerated exactly
    once via the a<b<c ordering (e1=(a,b), e2=(b,c), closing edge (a,c))
    and credited to each corner.

    Single-shuffle census per stage: distinct incidence, per-order pair
    expansion (bounded fanout), count aggregate, per-node top-k window,
    two edge joins. See module docstring for the 100 TB notes."""
    li = table(spark, sf_dir, "lineitem")
    inc = li.select(F.col("l_orderkey").alias("o"), F.col("l_suppkey").alias("s")).distinct()
    a, b = inc.alias("ia"), inc.alias("ib")
    co = (
        a.join(b, (F.col("ia.o") == F.col("ib.o")) & (F.col("ia.s") != F.col("ib.s")))
        .groupBy(F.col("ia.s").alias("s1"), F.col("ib.s").alias("s2"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = Window.partitionBy("s1").orderBy(F.col("c").desc(), "s2")
    knn = co.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= KNN)
    und = (
        knn.select(
            F.least("s1", "s2").alias("a"), F.greatest("s1", "s2").alias("b")
        )
        .distinct()
    )
    # Tiny relation (|V|·k edges max) consumed three times by the
    # triangle join — persist so the incidence self-join + window
    # pipeline runs once, not per join leg.
    und = memo(spark, "graph_analytics.triangle_und", sf_key(sf_dir), und.persist)
    return (
        triangles(und)
        .select(F.explode(F.array("ta", "tb", "tc")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))
        .select(F.col("node").cast("bigint"), "n_triangles")
        .orderBy("node")
    )


# PageRank constants. Supplier node ids are offset into their own range —
# the reference's own single-integer ID-encoding trick (id.rs:10-12 adds
# 1e9 to property ids to disjoint them from item ids).
SUPP_OFFSET = 1_000_000_000
R0 = 1_000_000  # initial rank, integer units per node
DAMP_NUM, DAMP_DEN = 85, 100  # damping 0.85 as an exact ratio
ITERS = 3

_PR_EDGES = f"""
pairs AS (
  SELECT DISTINCT o.o_custkey AS cust, l.l_suppkey + {SUPP_OFFSET} AS supp
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
),
edges AS (
  SELECT cust AS src, supp AS dst FROM pairs
  UNION ALL
  SELECT supp AS src, cust AS dst FROM pairs
),
deg AS (SELECT src AS node, COUNT(*) AS d FROM edges GROUP BY src)
"""


def _pr_iter_sql(prev: str, out: str) -> str:
    return f"""
{out} AS (
  SELECT e.dst AS node,
         ({DAMP_DEN - DAMP_NUM} * {R0} + {DAMP_NUM} * SUM(p.r // g.d)) // {DAMP_DEN} AS r
  FROM edges e JOIN {prev} p ON p.node = e.src JOIN deg g ON g.node = e.src
  GROUP BY e.dst
)"""


PAGERANK_ORACLE = f"""
WITH {_PR_EDGES},
r0 AS (SELECT node, CAST({R0} AS BIGINT) AS r FROM deg),
{_pr_iter_sql('r0', 'r1')},
{_pr_iter_sql('r1', 'r2')},
{_pr_iter_sql('r2', 'r3')}
SELECT CAST(node AS BIGINT) AS node,
       CASE WHEN node >= {SUPP_OFFSET} THEN 'supplier' ELSE 'customer' END AS node_type,
       CAST(r AS BIGINT) AS rank_units
FROM r3
ORDER BY node
"""


@query("graph_pagerank_iter", oracle=PAGERANK_ORACLE, category="graph", plan_cached=True)
def graph_pagerank_iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three unrolled PageRank iterations over the customer↔supplier
    interaction graph (edge both ways per distinct trading pair; supplier
    ids offset by 1e9 into a disjoint range, mirroring the reference's ID
    encoding, id.rs:10-12).

    All arithmetic is exact-integer: ranks start at {R0} units, each
    node's contribution is ``rank div out_degree`` (truncating division —
    non-negative operands, so Spark ``div`` ≡ DuckDB ``//``), and the
    damped update is ``(15·R0 + 85·Σcontrib) div 100``. Both engines
    compute identical longs at every step, so all |V| final ranks
    hash-match. The symmetric construction leaves no dangling nodes (every
    node has out-edges), so no leaked-mass correction is needed.

    Plan: the edge list and the degree relation build once per session
    (checkpointed by pagerank_ranks) and each iteration is one join of
    the |V|-sized rank relation + one hash aggregate — see module docstring for the 100 TB notes."""
    orders = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    pairs = (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .select(
            F.col("o_custkey").alias("cust"),
            (F.col("l_suppkey") + SUPP_OFFSET).alias("supp"),
        )
        .distinct()
    )
    edges = pairs.select(F.col("cust").alias("src"), F.col("supp").alias("dst")).unionAll(
        pairs.select(F.col("supp").alias("src"), F.col("cust").alias("dst"))
    )
    # The edge list is read only while pagerank_ranks builds its two
    # checkpointed leaves (once per session); memo key of those leaves:
    # the fixture identity + the constants
    ranks = pagerank_ranks(
        edges, iters=ITERS, r0=R0, damp_num=DAMP_NUM, damp_den=DAMP_DEN,
        cache_key=(sf_key(sf_dir), ITERS, R0, DAMP_NUM, DAMP_DEN),
    )
    return ranks.select(
        F.col("node").cast("bigint"),
        F.when(F.col("node") >= SUPP_OFFSET, "supplier").otherwise("customer").alias("node_type"),
        F.col("r").cast("bigint").alias("rank_units"),
    ).orderBy("node")
