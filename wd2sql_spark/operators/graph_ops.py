"""Reusable graph kernels: triangle enumeration and integer PageRank.

Factored out of queries/graph_analytics.py so the algorithms can be
unit-tested on hand-checkable graphs (K4, paths, cycles) independent of
the fixture projections; the registered queries compose these with the
supplier/customer graph builders. The reference has no graph surface
(single-pass ETL, main.rs:174-238 in /root/reference).

Both kernels follow the repo determinism playbook: all decisions on exact
integers, truncating division via ``div`` on non-negative longs (agrees
with DuckDB ``//``), no floats anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from wd2sql_spark.session_cache import checkpoint, memo


def triangles(und: DataFrame) -> DataFrame:
    """Enumerate each triangle of an undirected simple graph exactly once.

    ``und`` must hold one row per undirected edge with ``a < b`` (lower
    endpoint first, no duplicates) — the normalized form the callers
    build with least/greatest + distinct. Enumeration is the textbook
    node-order form: e1=(a,b), e2=(b,c) forces a<b<c, and the third join
    checks the closing edge (a,c). Returns (ta, tb, tc) with
    ta < tb < tc.

    Scale note: join fanout concentrates on high-degree nodes; at corpus
    scale the hardening is degree orientation (point edges at the
    higher-degree endpoint, bounding fanout by sqrt(|E|)) — the callers'
    kNN graphs bound out-degree by construction instead."""
    e1, e2, e3 = und.alias("e1"), und.alias("e2"), und.alias("e3")
    return (
        e1.join(e2, F.col("e2.a") == F.col("e1.b"))
        .join(e3, (F.col("e3.a") == F.col("e1.a")) & (F.col("e3.b") == F.col("e2.b")))
        .select(
            F.col("e1.a").alias("ta"), F.col("e1.b").alias("tb"), F.col("e2.b").alias("tc")
        )
    )


def pagerank_ranks(
    edges: DataFrame,
    iters: int = 3,
    r0: int = 1_000_000,
    damp_num: int = 85,
    damp_den: int = 100,
    cache_key: tuple | None = None,
) -> DataFrame:
    """Fixed-depth PageRank in exact integer rank units.

    ``edges`` holds directed (src, dst) rows; every node that should
    receive rank must have at least one out-edge (the callers build
    symmetric graphs, so no dangling-mass correction is needed; a dangling
    node would simply stop contributing). Returns (node, r) after
    ``iters`` damped updates:

        r'(n) = ((damp_den−damp_num)·r0 + damp_num·Σ_{s→n} r(s) div d(s))
                div damp_den

    All operands stay non-negative longs, so Spark's truncating ``div``
    matches DuckDB's floor ``//`` and both engines produce identical
    ranks at every depth.

    Plan: degrees attach to the EDGE LIST once — ``edges_d`` carries
    (src, dst, d_dst), built with one self-aggregate join — so each
    unrolled iteration is exactly ONE |E|-sized join (contrib onto
    edges_d by src) plus one hash aggregate: the receiving node's degree
    rides through the (dst, d_dst) grouping key into the next round's
    rank relation, and the former per-iteration ranks⋈deg join
    disappears (contrib becomes a narrow map over (node, d, r)). A
    static dataflow with no driver loop; at 100 TB the d_dst column adds
    one long per edge in exchange for iters fewer |V|-sized joins.

    The |E| relation is REPARTITIONED BY src, SORTED WITHIN PARTITIONS,
    and CHECKPOINTED once (``session_cache.checkpoint``, memoized under
    ``cache_key``): the checkpointed LogicalRDD leaf preserves
    HashPartitioning(src) + per-partition ordering, so the per-iteration
    join needs no edge-side exchange or sort in ANY regime — when |V| is broadcast-sized the planner picks a
    broadcast-hash join over the leaf; once |V| outgrows the driver it
    falls back to a sort-merge join that reuses the stored layout. The
    checkpoint (vs persist) also TRUNCATES LINEAGE: a persisted relation
    keeps its whole build subtree in the unrolled plan, and AQE
    re-schedules that lineage per round (measured at sf0.1: 14 jobs,
    2.1 s warm persisted → 6 jobs, ~1.0 s checkpointed; plan census 30
    exchanges → 5). Initial ranks (|V| rows, the degree relation) are
    checkpointed the same way, so a warm run touches ONLY the two leaf
    relations: per iteration, one |E|-sized join probe + one partial
    aggregate whose exchange moves ≤|V| rows per partition."""
    spark = edges.sparkSession
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))

    def build() -> tuple[DataFrame, DataFrame]:
        deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("d")).withColumnRenamed("src", "node")
        # LEFT join: a sink dst (no out-edges, so no degree row) must still
        # RECEIVE rank — its d_dst stays NULL, its next-round contribution is
        # div(r, NULL) = NULL, and it never appears as src, so nothing sums a
        # NULL. An inner join here would silently drop every edge into a sink
        # (caught by the hypothesis recurrence twin on the single edge 0→1).
        edges_d = checkpoint(
            edges.join(deg.select(F.col("node").alias("dst"), F.col("d").alias("d_dst")), "dst", "left")
            .select("src", "dst", "d_dst")
            .repartition(n_part, "src")
            .sortWithinPartitions("src")
        )
        # ranks carries each node's out-degree alongside its rank so the
        # contribution r div d is row-local every round.
        ranks0 = checkpoint(deg.select("node", "d", F.lit(r0).cast("long").alias("r")))
        return edges_d, ranks0

    edges_d, ranks = memo(spark, "graph_ops.pagerank_leaves", cache_key, build)
    base = (damp_den - damp_num) * r0
    for _ in range(iters):
        contrib = ranks.select(
            "node", F.call_function("div", F.col("r"), F.col("d")).alias("cr")
        )
        # groupBy dst ALONE (the degree is functionally dependent on dst,
        # carried by max): keying the aggregate on (dst, d_dst) would give
        # it an output partitioning useless to the NEXT round's join on
        # node, costing an extra |V| exchange per iteration.
        ranks = (
            edges_d.join(contrib, edges_d["src"] == contrib["node"])
            .groupBy(F.col("dst").alias("node"))
            .agg(
                F.max("d_dst").alias("d"),
                F.call_function(
                    "div",
                    F.lit(base) + F.lit(damp_num) * F.sum("cr"),
                    F.lit(damp_den),
                ).alias("r"),
            )
        )
    return ranks.select("node", "r")
