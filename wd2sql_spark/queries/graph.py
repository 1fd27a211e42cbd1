"""Graph / iterative algorithms: near-duplicate cluster formation.

The reference has no iterative operators (it is a single-pass ETL,
main.rs:174-238 in /root/reference); this is the canonical post-dedup
step a training-data pipeline needs: candidate pairs only say "A ~ B",
but keeping one doc per GROUP requires the transitive closure — the
connected components of the similarity graph.

Spark side: driver-coordinated min-label propagation (operators/dedup.py
``connected_components``) — each round is one distributed join+agg, and
``localCheckpoint`` keeps the plan constant-size across rounds. This is
the standard way to run an iterative fixpoint on Spark when the logic
exceeds SQL (no recursive CTE in Spark SQL).

Oracle side: DuckDB *does* have WITH RECURSIVE, so the fixpoint IS
SQL-expressible there — making this a fully hash-checked iterative
algorithm rather than a rows-only entry.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wd2sql_spark.catalog import sf_key, table
from wd2sql_spark.operators import dedup as D
from wd2sql_spark.queries.llm_dedup import _CAPPED_SHINGLES_CTE, MAX_SHINGLE_DF
from wd2sql_spark.queries.registry import query
from wd2sql_spark.session_cache import memo

JACCARD_EDGE_MIN = 0.5  # same-cluster threshold on exact 3-gram Jaccard

CLUSTERS_ORACLE = f"""
WITH RECURSIVE {_CAPPED_SHINGLES_CTE},
sizes AS (SELECT doc_id, count(*) AS n_sh FROM shf GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS common
  FROM shf a JOIN shf b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
edges AS (
  SELECT d1, d2
  FROM pairs JOIN sizes s1 ON d1 = s1.doc_id JOIN sizes s2 ON d2 = s2.doc_id
  WHERE CAST(common AS DOUBLE)/(s1.n_sh + s2.n_sh - common) >= {JACCARD_EDGE_MIN}
),
sym AS (SELECT d1 AS a, d2 AS b FROM edges UNION ALL SELECT d2, d1 FROM edges),
reach(node, lbl) AS (
  SELECT DISTINCT a, a FROM sym
  UNION
  SELECT s.b, r.lbl FROM reach r JOIN sym s ON s.a = r.node
),
comp AS (SELECT node, MIN(lbl) AS cluster_id FROM reach GROUP BY node)
SELECT CAST(cluster_id AS BIGINT) AS cluster_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(min(node) AS BIGINT) AS keep_id
FROM comp
GROUP BY cluster_id
ORDER BY cluster_id
"""


def near_dup_components(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """The near-duplicate graph of the fixture corpus and its components:
    ``(edges, labels)``, where ``edges`` holds (src, dst) for every doc
    pair with exact 3-gram Jaccard >= ``JACCARD_EDGE_MIN`` (shingles
    above ``MAX_SHINGLE_DF`` capped out) and ``labels`` holds
    ``connected_components``' (node, cluster_id).

    Memoized per session and corpus: the component rounds run eagerly
    (one ``localCheckpoint`` each), so every caller after the first reads
    the converged labels and launches no job while its plan is built.
    The edges are persisted: the rounds' symmetrize reads them twice in
    its checkpoint, and split_leakage_safe's audit reads them on every
    run, which would otherwise redo the shingle self-join."""

    def build() -> tuple[DataFrame, DataFrame]:
        docs = table(spark, sf_dir, "documents")
        edges = (
            D.jaccard_pairs(docs, max_doc_freq=MAX_SHINGLE_DF, cache_key=sf_key(sf_dir))
            .filter(F.col("jaccard") >= JACCARD_EDGE_MIN)
            .select(F.col("d1").alias("src"), F.col("d2").alias("dst"))
            .persist()
        )
        return edges, D.connected_components(edges)

    return memo(spark, "graph.near_dup_components", sf_key(sf_dir), build)


@query("dedup_cluster_components", oracle=CLUSTERS_ORACLE, category="graph")
def dedup_cluster_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate clusters = connected components of the Jaccard≥0.5
    similarity graph; per cluster: id (min member), size, and the doc to
    keep. The edge threshold compares doubles derived from identical
    integer (common, sizes) triples in both engines, so the edge SET is
    bit-identical; the fixpoint then matches by construction."""
    comp = near_dup_components(spark, sf_dir)[1]
    return (
        comp.groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("node").alias("keep_id"),
        )
        .select(
            F.col("cluster_id").cast("bigint"),
            "n_docs",
            F.col("keep_id").cast("bigint"),
        )
        .orderBy("cluster_id")
    )
