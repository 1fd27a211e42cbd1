"""K-means clustering over the ``embeddings`` fixture — the semantic-dedup
/ corpus-organization stage of a training-data pipeline (cluster, then
sample per cluster or drop near-empty ones).

Lloyd's algorithm is iterative, but a FIXED small iteration count unrolls
into a static dataflow — and with every quantity held in exact integer
arithmetic (quantized components, integer squared distances, half-up
integer-division centroid updates) both engines take bit-identical
branches at every argmin and the final stats hash-match a plain SQL twin.
That is the same determinism playbook as sim_centroid_dispersion
(integer-domain geometry) applied to an iterative algorithm.

Scale shape: assignment is ROW-LOCAL — the k centroids travel as one
broadcast row holding an array of (cid, vector) structs, and each vector
folds its distance to all k inline (no join, no shuffle, no window).
Each update is one (cid, dim) hash aggregate over the exploded members
(map-side partials shrink it to k·dim rows per executor) plus a k-row
collect_list. Two iterations = two such aggregates; O(iters) shuffles
total, independent of corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wd2sql_spark.catalog import sf_key, table
# The quantize/assign/update kernel is shared with ANN codebook training
# (operators/similarity.train_codebooks) — one definition, one oracle
# grammar; see operators/kmeans.py for the determinism argument that
# used to live here.
from wd2sql_spark.operators.kmeans import (
    OFFSET,
    SCALE,
    assign_int as _assign,
    iv_quantize as _iv,
    update_int as _update,
)
from wd2sql_spark.queries.registry import query
from wd2sql_spark.session_cache import memo

K = 4  # clusters (seeded from the K lowest vec_ids)
DIM = 64


_IVT = f"""
ivt AS (
  SELECT vec_id,
         list_transform(embedding,
                        x -> CAST(round(CAST(x AS DOUBLE) * {SCALE}, 0) AS BIGINT) + {OFFSET}) AS iv
  FROM embeddings
)
"""

_SQDIST = (
    "list_sum(list_transform(range(1, {dim} + 1), "
    "k -> ({a}[k] - {b}[k]) * ({a}[k] - {b}[k])))"
)


def _assign_sql(cent: str, out: str) -> str:
    d = _SQDIST.format(a="t.iv", b="s.c", dim=DIM)
    return f"""
{out} AS (
  SELECT vec_id, iv, cid, dist FROM (
    SELECT t.vec_id, t.iv, s.cid, CAST({d} AS BIGINT) AS dist,
           ROW_NUMBER() OVER (PARTITION BY t.vec_id ORDER BY {d}, s.cid) AS rn
    FROM ivt t CROSS JOIN {cent} s) z
  WHERE rn = 1
)"""


def _update_sql(assigned: str, out: str) -> str:
    return f"""
{out} AS (
  SELECT cid, list(c ORDER BY dim) AS c FROM (
    SELECT cid, dim, (2 * SUM(v) + COUNT(*)) // (2 * COUNT(*)) AS c
    FROM (SELECT cid, unnest(range(1, {DIM} + 1)) AS dim, unnest(iv) AS v FROM {assigned}) e
    GROUP BY cid, dim) m
  GROUP BY cid
)"""


KMEANS_ORACLE = f"""
WITH {_IVT},
seeds AS (
  SELECT vec_id AS cid, iv AS c FROM ivt
  WHERE vec_id IN (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT {K})
),{_assign_sql('seeds', 'a1')},{_update_sql('a1', 'c1')},{_assign_sql('c1', 'a2')}
SELECT CAST(a2.cid AS BIGINT) AS cid,
       CAST(COUNT(*) AS BIGINT) AS n_members,
       CAST(SUM(a2.dist) AS BIGINT) AS inertia,
       CAST(list_sum(any_value(c1.c)) AS BIGINT) AS centroid_l1
FROM a2 JOIN c1 ON a2.cid = c1.cid
GROUP BY a2.cid
ORDER BY cid
"""


_sd = {"scale": 1000, "k": 8, "pct": 20, "t_num": 16}  # 16·dot² ≥ na²·nb² ⇔ cos ≥ 0.25
# Target cluster-block size: the cluster count scales as n/BLOCK (floor k),
# so the pairwise stage stays ~n·BLOCK/2 comparisons — LINEAR in the
# sample. A fixed k would let blocks grow with the corpus and the pair
# space grow quadratically (measured 347 s at a 25.6k-vector sample
# before this was adaptive).
_sd["block"] = 128

SEMDEDUP_ORACLE = f"""
WITH samp AS (
  SELECT vec_id,
         list_transform(embedding,
                        x -> CAST(round(CAST(x AS DOUBLE) * {_sd['scale']}, 0) AS BIGINT)) AS iv
  FROM embeddings
  WHERE CAST(('0x' || substring(md5(CAST(vec_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < {_sd['pct']}
),
seeds AS (
  SELECT vec_id AS cid, iv AS c FROM (
    SELECT vec_id, iv, ROW_NUMBER() OVER (ORDER BY vec_id) AS rn FROM samp) s
  WHERE rn <= (SELECT GREATEST({_sd['k']}, COUNT(*) // {_sd['block']}) FROM samp)
),
assigned AS (
  SELECT vec_id, iv, cid FROM (
    SELECT s.vec_id, s.iv, d.cid,
           ROW_NUMBER() OVER (
             PARTITION BY s.vec_id
             ORDER BY {_SQDIST.format(a='s.iv', b='d.c', dim=DIM)}, d.cid) AS rn
    FROM samp s CROSS JOIN seeds d) z
  WHERE rn = 1
),
norms AS (
  SELECT vec_id, iv, cid,
         CAST(list_sum(list_transform(iv, x -> x * x)) AS BIGINT) AS n2
  FROM assigned
),
dups AS (
  SELECT a.cid, a.vec_id AS d1, b.vec_id AS d2,
         CAST(list_sum(list_transform(range(1, {DIM} + 1),
                                      k -> a.iv[k] * b.iv[k])) AS BIGINT) AS dot
  FROM norms a JOIN norms b ON a.cid = b.cid AND a.vec_id < b.vec_id
  WHERE list_sum(list_transform(range(1, {DIM} + 1), k -> a.iv[k] * b.iv[k])) > 0
    AND {_sd['t_num']}
        * list_sum(list_transform(range(1, {DIM} + 1), k -> a.iv[k] * b.iv[k]))
        * list_sum(list_transform(range(1, {DIM} + 1), k -> a.iv[k] * b.iv[k]))
        >= a.n2 * b.n2
),
per AS (
  SELECT cid,
         CAST(COUNT(*) AS BIGINT) AS n_dup_pairs,
         CAST(COUNT(DISTINCT d2) AS BIGINT) AS n_dropped,
         CAST(SUM(dot) AS BIGINT) AS sum_dot
  FROM dups GROUP BY cid
)
SELECT CAST(m.cid AS BIGINT) AS cid,
       CAST(COUNT(*) AS BIGINT) AS n_members,
       COALESCE(ANY_VALUE(p.n_dup_pairs), 0) AS n_dup_pairs,
       COALESCE(ANY_VALUE(p.n_dropped), 0) AS n_dropped,
       COALESCE(ANY_VALUE(p.sum_dot), 0) AS sum_dot
FROM assigned m LEFT JOIN per p ON m.cid = p.cid
GROUP BY m.cid
ORDER BY cid
"""


# NOT plan_cached: the adaptive-k sample count (a corpus-scan job) runs
# at construction, so memoizing would misreport that cost as free — the
# exact case the plan_cached docstring forbids.
@query("semdedup_cluster_prune", oracle=SEMDEDUP_ORACLE, category="llm-cluster")
def semdedup_cluster_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023 pattern, from public description):
    cluster the corpus, then prune documents whose embeddings are
    near-parallel WITHIN a cluster — pairwise comparison is confined to
    cluster blocks, so the pair space is Σ|cluster|², never |corpus|².
    Run here on a deterministic 20% md5 sample (the audit-sized slice a
    production pass would tune thresholds on), with k=8 seed centroids
    and a cosine cutoff of 0.25 (the fixture corpus tops out at ≈0.42;
    real near-dup corpora use ≈0.95 — the threshold is a knob, the plan
    is the point).

    Determinism: quantized components (round(x·10³) — no offset; distance
    and dot tolerate negatives, and there is no centroid-update division
    to need sign handling), integer squared distances for the argmin, and
    the cosine test done as 16·dot² ≥ |a|²·|b|² in exact int64 — both
    engines take identical branches, so per-cluster members / dup pairs /
    dropped counts / Σdot hash-match bit-for-bit.

    Plan: one broadcast-assignment (zero-shuffle, as in k-means), one
    self-join shuffled on cid, one aggregate. The cluster count is
    ADAPTIVE — k = max(8, n // {BLOCK}) — so blocks stay ~{BLOCK} vectors
    and the pair space stays linear as the corpus grows (a fixed k lets
    blocks grow with the sample and the pairwise stage go quadratic:
    measured 347 s at a 25.6k-vector sample vs seconds after); the sample
    filter is a narrow predicate on the scan."""
    emb = table(spark, sf_dir, "embeddings")
    samp = emb.filter(
        (
            F.conv(F.substring(F.md5(F.col("vec_id").cast("string")), 1, 8), 16, 10)
            .cast("long") % 100
        )
        < _sd["pct"]
    ).select(
        "vec_id",
        F.transform(
            F.col("embedding"),
            lambda x: F.round(x.cast("double") * _sd["scale"], 0).cast("long"),
        ).alias("iv"),
    )
    # Adaptive cluster count: k = max(k_min, n // BLOCK) keeps block size —
    # and with it the pairwise stage — bounded as the corpus grows. The
    # count() action is one narrow scan of the sample predicate (same
    # deliberate-tiny-action precedent as the inlined IVF codebook); at
    # the fixture SFs (n ≤ 1024) k stays at k_min so the oracle-checked
    # results are unchanged.
    n_samp = samp.count()
    seeds = (
        samp.orderBy("vec_id")
        .limit(max(_sd["k"], n_samp // _sd["block"]))
        .select(F.col("vec_id").alias("cid"), F.col("iv").alias("c"))
    )
    assigned = _assign(samp, seeds).drop("dist")
    # The assignment relation feeds THREE consumers — both sides of the
    # within-cluster self-join and the members aggregate — and each side
    # additionally embeds its own copy of the seed subtree, so the
    # unpersisted plan re-ran the scan → quantize → k·dim argmin pipeline
    # per consumer (12 parquet scans in the physical plan; the phash
    # near-dup defect class, r9 guide §5). One persisted generation per
    # session: (vec_id, iv, cid, n2) is the cluster-block artifact a
    # production SemDeDup pass would hold between clustering and pruning.
    norms = memo(
        spark,
        "llm_cluster.semdedup_norms",
        sf_key(sf_dir),
        assigned.withColumn(
            "n2",
            F.aggregate(F.col("iv"), F.lit(0).cast("long"), lambda a, v: a + v * v),
        ).persist,
    )
    a, b = norms.alias("a"), norms.alias("b")
    dot = F.aggregate(
        F.zip_with(F.col("a.iv"), F.col("b.iv"), lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    dups = (
        a.join(
            b,
            (F.col("a.cid") == F.col("b.cid")) & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.cid").alias("cid"),
            F.col("b.vec_id").alias("d2"),
            dot.alias("dot"),
            (F.col("a.n2") * F.col("b.n2")).alias("nn"),
        )
        .filter((F.col("dot") > 0) & (F.lit(_sd["t_num"]) * F.col("dot") * F.col("dot") >= F.col("nn")))
    )
    per = dups.groupBy("cid").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_dup_pairs"),
        F.count_distinct(F.col("d2")).cast("bigint").alias("n_dropped"),
        F.sum("dot").cast("bigint").alias("sum_dot"),
    )
    members = norms.groupBy("cid").agg(F.count(F.lit(1)).cast("bigint").alias("n_members"))
    return (
        members.join(per, "cid", "left")
        .select(
            F.col("cid").cast("bigint"),
            "n_members",
            F.coalesce(F.col("n_dup_pairs"), F.lit(0)).cast("bigint").alias("n_dup_pairs"),
            F.coalesce(F.col("n_dropped"), F.lit(0)).cast("bigint").alias("n_dropped"),
            F.coalesce(F.col("sum_dot"), F.lit(0)).cast("bigint").alias("sum_dot"),
        )
        .orderBy("cid")
    )


@query("cluster_kmeans_embeddings", oracle=KMEANS_ORACLE, category="llm-cluster")
def cluster_kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two unrolled Lloyd iterations of k-means (k=4, seeds = the K
    lowest-id vectors): assign → update → assign, reporting per-cluster
    membership, inertia (exact integer Σ squared distance to the updated
    centroid), and the centroid's L1 mass as a checksum.

    See the module docstring for why this is bit-deterministic and how
    the plan scales (row-local broadcast assignment, one (cid, dim)
    aggregate per update)."""
    emb = table(spark, sf_dir, "embeddings")
    # The quantized working set feeds BOTH assignments (and the seed
    # branch); persist it so iterations hit cache instead of re-scanning
    # and re-quantizing the corpus — the standard Spark iterative-ML
    # pattern (the relation is (id, 64 longs): a fraction of the raw
    # corpus, MEMORY_AND_DISK spills if it ever outgrows memory).
    vecs = memo(
        spark,
        "llm_cluster.kmeans_vecs",
        sf_key(sf_dir),
        emb.select("vec_id", _iv(F.col("embedding")).alias("iv")).persist,
    )
    seeds = (
        vecs.orderBy("vec_id")
        .limit(K)
        .select(F.col("vec_id").alias("cid"), F.col("iv").alias("c"))
    )
    a1 = _assign(vecs, seeds)
    c1 = _update(a1)
    a2 = _assign(vecs, c1)
    stats = a2.groupBy("cid").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members"),
        F.sum("dist").cast("bigint").alias("inertia"),
    )
    c1_mass = c1.select(
        "cid",
        F.aggregate(F.col("c"), F.lit(0).cast("long"), lambda a, v: a + v).alias(
            "centroid_l1"
        ),
    )
    return (
        stats.join(c1_mass, "cid")
        .select(
            F.col("cid").cast("bigint"),
            "n_members",
            "inertia",
            F.col("centroid_l1").cast("bigint"),
        )
        .orderBy("cid")
    )
