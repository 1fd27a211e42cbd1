"""Similarity-search battery over the ``embeddings`` fixture.

The exact dot-product fold is bit-identical between Spark's
``aggregate``/``zip_with`` left-fold and DuckDB's sequential list fold
(verified empirically), so brute-force cosine results can be
hash-compared; ``round(·, 6)`` guards the residual boundary risk. Every query here has a
full DuckDB oracle — including the LSH variant, whose md5-derived
hyperplanes are inlined as SQL literals.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wd2sql_spark.catalog import sf_key, table
from wd2sql_spark.session_cache import memo
from wd2sql_spark.operators import similarity as S
from wd2sql_spark.queries.registry import query
# The PQ/IVFPQ queries use plan_cached=True (registry.query): their
# plans inline 8x16 codebook subvectors (~1k literal Columns), and
# BUILDING that plan costs ~1.1 s of driver-side py4j/analysis per call
# -- twice the 0.6 s the query takes to EXECUTE.

# dot(a,b) fragment; DuckDB computes the same IEEE ops in the same order.
_DOT = (
    "list_sum(list_transform(range(1, len({a}.embedding)+1), "
    "k -> CAST({a}.embedding[k] AS DOUBLE) * CAST({b}.embedding[k] AS DOUBLE)))"
)


def _cos(a: str, b: str) -> str:
    return (
        f"{_DOT.format(a=a, b=b)} / "
        f"(sqrt({_DOT.format(a=a, b=a)}) * sqrt({_DOT.format(a=b, b=b)}))"
    )


BRUTE_ORACLE = f"""
WITH scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         round({_cos('q', 'c')}, 6) AS cosine
  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
  WHERE q.vec_id < 3
),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cosine, rank FROM ranked
WHERE rank <= 5
ORDER BY query_id, rank
"""


@query("sim_bruteforce_topk", oracle=BRUTE_ORACLE, category="llm-similarity")
def sim_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 for query vectors (vec_id < 3) against the whole
    corpus: broadcast the query set, scan the corpus once, per-partition
    top-k before the single shuffle (window rank)."""
    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3)
    return S.brute_force_topk(emb, queries, k=5).orderBy("query_id", "rank")


def _lsh_bucket_sql(col: str, r: int = 4, dim: int = 64, start: int = 0) -> str:
    """DuckDB twin of operators/similarity.lsh_bucket: bit i = sign of the
    projection onto md5-derived hyperplane start+i, inlined as literal
    arrays. Plane components are exact multiples of 0.5 (hex digit −
    7.5), so the literals round-trip losslessly and both engines run
    identical IEEE ops in identical order → identical sign bits.
    ``start`` slices a table out of the global plane sequence for the
    multi-table near-dup form."""
    terms = []
    for i, plane in enumerate(S.hyperplanes(dim, start + r)[start:]):
        arr = "[" + ", ".join(repr(x) for x in plane) + "]"
        proj = (
            f"list_sum(list_transform(range(1, {dim} + 1), "
            f"k -> CAST({col}[k] AS DOUBLE) * ({arr})[k]))"
        )
        terms.append(f"(CASE WHEN {proj} > 0 THEN {2**i} ELSE 0 END)")
    return " + ".join(terms)


NEAR_DUP_TABLES = 4  # LSH amplification: T independent tables ...
NEAR_DUP_R_FLOOR = 14  # ... of r planes each (2^14 = 16384 buckets/table)
NEAR_DUP_R_CAP = 28
# r moved 12 → 14 in r5 (once the bucketing build was persisted, the 64×
# scale run showed the within-bucket candidate mass T·N²/2^r as the
# dominant term at 128k vectors with 4096 buckets/table) and since r6 it
# AUTO-SCALES with the corpus count: r = auto_band_bits(count) =
# LEAST(28, GREATEST(14, CEIL(LOG2(n)))) — the same knob as
# dedup_simhash, so bucket mass stays ≤ T·N by construction instead of
# by a human re-editing the constant (VERDICT r5 task #1). The oracle
# computes r from the same COUNT(*) and indexes the SAME global plane
# sequence (table t uses planes [t·r, (t+1)·r)), inlined once up to the
# cap as a VALUES lookup, so bucket ids match bit-for-bit at any size.


def _near_dup_oracle() -> str:
    dim = 64
    all_planes = S.hyperplanes(dim, NEAR_DUP_TABLES * NEAR_DUP_R_CAP)
    values = ",\n".join(
        f"  ({i}, [" + ", ".join(repr(x) for x in p) + "])"
        for i, p in enumerate(all_planes)
    )
    # Plane components are exact multiples of 0.5: the DECIMAL literals
    # cast to DOUBLE losslessly, and the projection runs the identical
    # IEEE ops in identical order as lsh_bucket's zip_with fold.
    proj = (
        f"list_sum(list_transform(range(1, {dim} + 1), "
        "k -> CAST(e.embedding[k] AS DOUBLE) * CAST(p.p[k] AS DOUBLE)))"
    )
    return f"""
WITH planes (p_idx, p) AS (SELECT * FROM (VALUES
{values}) AS t(p_idx, p)),
knob AS (
  SELECT LEAST({NEAR_DUP_R_CAP}, GREATEST({NEAR_DUP_R_FLOOR},
           CAST(CEIL(LOG2(GREATEST(COUNT(*), 2))) AS INT))) AS r
  FROM embeddings),
bits AS (
  SELECT e.vec_id, t.tbl,
         CASE WHEN {proj} > 0 THEN CAST(1 AS BIGINT) << i.i
              ELSE CAST(0 AS BIGINT) END AS bit
  FROM embeddings e, knob kk,
       (SELECT unnest(range(0, {NEAR_DUP_TABLES})) AS tbl) t,
       (SELECT unnest(range(0, {NEAR_DUP_R_CAP})) AS i) i,
       planes p
  WHERE i.i < kk.r AND p.p_idx = t.tbl * kk.r + i.i),
bucketed AS (SELECT vec_id, tbl, SUM(bit) AS blk FROM bits GROUP BY vec_id, tbl),
pairs AS (
  SELECT DISTINCT a.vec_id AS d1, b.vec_id AS d2,
         round({_cos('ea', 'eb')}, 6) AS cosine
  FROM bucketed a JOIN bucketed b
    ON a.tbl = b.tbl AND a.blk = b.blk AND a.vec_id < b.vec_id
  JOIN embeddings ea ON ea.vec_id = a.vec_id
  JOIN embeddings eb ON eb.vec_id = b.vec_id)
SELECT d1, d2, cosine FROM pairs
ORDER BY cosine DESC, d1, d2
LIMIT 20
"""


# plan_cached: the 4x12 hyperplane tables inline as 48 parsed array
# literals; BUILDING that plan costs ~2.0 s of driver py4j/analysis vs
# 0.6 s to EXECUTE (measured sf0.1). No data job runs at construction
# (the persisted base builds lazily on first execution), so memoizing
# the lazy plan is the PQ-family precedent, not hidden work.
@query("sim_cosine_near_dup", oracle=_near_dup_oracle(), category="llm-similarity", plan_cached=True)
def sim_cosine_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup: top-20 most similar pairs found by
    MULTI-TABLE random-hyperplane LSH — 4 independent tables of r planes
    each, candidates = within-bucket pairs of any table, deduped, then
    exact cosine. The standard LSH amplification: more planes per table
    keeps the candidate join sparse (pairs grow as T·N²/2^r — the 64×
    scale run measured the former single-table r=4 form, 16 buckets,
    going quadratic at 25.5 s by 8×, and r=12 showing the same term
    again at 128k vectors once the bucketing build was cached), and the
    extra tables buy back the recall that narrow buckets cost (at r=14 a
    cos≈0.95 neighbor pair agrees on one full pattern with p≈0.22, on at
    least one of 4 tables with p≈0.64; exact clones always collide).
    Since r6, r AUTO-SCALES with the corpus count
    (operators/dedup.auto_band_bits — 14 at fixture sizes, 17 at the
    128 k-vector 64× rung); the oracle computes the identical knob and
    indexes the same md5-derived global plane sequence, so bucket ids
    match bit-for-bit at any size."""
    from wd2sql_spark.operators.dedup import auto_band_bits

    emb = table(spark, sf_dir, "embeddings")
    r = auto_band_bits(
        memo(spark, "count.embeddings", sf_key(sf_dir), emb.count),
        floor_bits=NEAR_DUP_R_FLOOR,
        cap_bits=NEAR_DUP_R_CAP,
    )
    planes = S.hyperplanes(64, NEAR_DUP_TABLES * r)
    bucketed = emb.select(
        "vec_id",
        "embedding",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("tbl"),
                        S.lsh_bucket(
                            "embedding",
                            planes[t * r : (t + 1) * r],
                        ).alias("blk"),
                    )
                    for t in range(NEAR_DUP_TABLES)
                ]
            )
        ).alias("lsh_blk"),
    )
    return (
        S.cosine_near_dup_pairs(
            bucketed, threshold=-1.0, block_col="lsh_blk", cache_key=sf_key(sf_dir)
        )
        .select(F.col("d1").cast("bigint"), F.col("d2").cast("bigint"), "cosine")
        .distinct()
        .orderBy(F.col("cosine").desc(), "d1", "d2")
        .limit(20)
    )


# dot/cos over two arbitrary list-typed SQL expressions (the _DOT macro
# above is fixed to an `.embedding` field; these are the general form).
def _dot_expr(a: str, b: str) -> str:
    return (
        f"list_sum(list_transform(range(1, len({a})+1), "
        f"k -> CAST({a}[k] AS DOUBLE) * CAST({b}[k] AS DOUBLE)))"
    )


def _cos_expr(a: str, b: str) -> str:
    return f"{_dot_expr(a, b)} / (sqrt({_dot_expr(a, a)}) * sqrt({_dot_expr(b, b)}))"


# --- trained codebook twin -------------------------------------------------
# DuckDB re-derivation of operators/similarity.train_codebooks' IVF book
# (book 0, the full vector): the SAME
# integer-exact Lloyd rounds (operators/kmeans.py) — quantize to
# round(x·10⁶)+OFFSET, assign by integer squared distance with lowest-cid
# tie-breaks, update with the half-up integer mean (2Σv+n)//(2n) over the
# non-negative domain, emptied clusters keep their previous centroid —
# then dequantize (c−OFFSET)/10⁶ to the DOUBLE codebook every oracle
# scores against. Every step is exact integer arithmetic, so the CTE
# chain reproduces the Spark-trained codebook bit-for-bit; `tcent` is
# (cid, cv) with cid = the seed vec_id.

_KM_SQD = (
    "list_sum(list_transform(range(1, 65), "
    "k -> (t.iv[k] - s.c[k]) * (t.iv[k] - s.c[k])))"
)


def _trained_cent_ctes(ks: int = 16, iters: int = 2) -> str:
    parts = [
        f"""ivq AS (
  SELECT vec_id,
         list_transform(embedding,
                        x -> CAST(round(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT) + 1000000) AS iv
  FROM embeddings),
kcent0 AS (
  SELECT vec_id AS cid, iv AS c FROM ivq
  WHERE vec_id IN (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT {ks}))"""
    ]
    for i in range(1, iters + 1):
        parts.append(
            f"""kasg{i} AS (
  SELECT vec_id, iv, cid FROM (
    SELECT t.vec_id, t.iv, s.cid,
           ROW_NUMBER() OVER (PARTITION BY t.vec_id ORDER BY {_KM_SQD}, s.cid) AS rn
    FROM ivq t CROSS JOIN kcent{i - 1} s) z
  WHERE rn = 1),
kupd{i} AS (
  SELECT cid, list(c ORDER BY dim) AS c FROM (
    SELECT cid, dim, (2 * SUM(v) + COUNT(*)) // (2 * COUNT(*)) AS c
    FROM (SELECT cid, unnest(range(1, 65)) AS dim, unnest(iv) AS v FROM kasg{i}) e
    GROUP BY cid, dim) m
  GROUP BY cid),
kcent{i} AS (
  SELECT s.cid, COALESCE(u.c, s.c) AS c
  FROM kcent{i - 1} s LEFT JOIN kupd{i} u ON u.cid = s.cid)"""
        )
    parts.append(
        f"""tcent AS (
  SELECT cid, list_transform(c, x -> (x - 1000000) / 1000000.0) AS cv
  FROM kcent{iters})"""
    )
    return ",\n".join(parts)


TRAINED_CENT_CTES = _trained_cent_ctes()

# PQ twin: operators/similarity.train_codebooks trains EACH subspace's
# codebook independently (books 1..n_sub of its one book-keyed Lloyd
# chain, over the m-th subvectors); here all n_sub chains run as ONE
# m-partitioned chain, and
# the final `tpqcent` CONCATENATES subspace centroid j across m back
# into a 64-dim row so the downstream oracles keep their
# `cv[m*8+k]` indexing unchanged (subspaces are scored independently, so
# the row pairing is notation, not semantics).

_KM_SQD8 = (
    "list_sum(list_transform(range(1, 9), "
    "k -> (t.iv[k] - s.c[k]) * (t.iv[k] - s.c[k])))"
)


def _trained_pq_ctes(ks: int = 16, iters: int = 2) -> str:
    parts = [
        f"""pqivq AS (
  SELECT vec_id, ms0.m,
         list_transform(range(1, 9),
                        k -> CAST(round(CAST(embedding[ms0.m*8+k] AS DOUBLE) * 1000000, 0) AS BIGINT) + 1000000) AS iv
  FROM embeddings CROSS JOIN (SELECT unnest(range(0, 8)) AS m) ms0),
pqc0 AS (
  SELECT m, vec_id AS cid, iv AS c FROM pqivq
  WHERE vec_id IN (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT {ks}))"""
    ]
    for i in range(1, iters + 1):
        parts.append(
            f"""pqa{i} AS (
  SELECT vec_id, m, iv, cid FROM (
    SELECT t.vec_id, t.m, t.iv, s.cid,
           ROW_NUMBER() OVER (PARTITION BY t.vec_id, t.m ORDER BY {_KM_SQD8}, s.cid) AS rn
    FROM pqivq t JOIN pqc{i - 1} s ON s.m = t.m) z
  WHERE rn = 1),
pqu{i} AS (
  SELECT m, cid, list(c ORDER BY dim) AS c FROM (
    SELECT m, cid, dim, (2 * SUM(v) + COUNT(*)) // (2 * COUNT(*)) AS c
    FROM (SELECT m, cid, unnest(range(1, 9)) AS dim, unnest(iv) AS v FROM pqa{i}) e
    GROUP BY m, cid, dim) x
  GROUP BY m, cid),
pqc{i} AS (
  SELECT s.m, s.cid, COALESCE(u.c, s.c) AS c
  FROM pqc{i - 1} s LEFT JOIN pqu{i} u ON u.m = s.m AND u.cid = s.cid)"""
        )
    parts.append(
        f"""tpqcent AS (
  SELECT j, flatten(list(cv ORDER BY m)) AS cv FROM (
    SELECT m, ROW_NUMBER() OVER (PARTITION BY m ORDER BY cid) - 1 AS j,
           list_transform(c, x -> (x - 1000000) / 1000000.0) AS cv
    FROM pqc{iters}) g
  GROUP BY j)"""
    )
    return ",\n".join(parts)


TRAINED_PQ_CTES = _trained_pq_ctes()
# ---------------------------------------------------------------------------

IVF_ORACLE = f"""
WITH {TRAINED_CENT_CTES},
cent AS (SELECT cid, cv FROM tcent),
assign_scored AS (
  SELECT e.vec_id, e.embedding, c.cid, {_cos_expr('e.embedding', 'c.cv')} AS score
  FROM embeddings e CROSS JOIN cent c),
assign AS (
  SELECT vec_id, embedding, cid FROM (
    SELECT vec_id, embedding, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY score DESC, cid) AS rn
    FROM assign_scored) t WHERE rn = 1),
probes AS (
  SELECT vec_id AS query_id, embedding AS qv, cid FROM (
    SELECT vec_id, embedding, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY score DESC, cid) AS rn
    FROM assign_scored WHERE vec_id < 3) t WHERE rn <= 4),
cand AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         round({_cos_expr('p.qv', 'a.embedding')}, 6) AS cosine
  FROM probes p JOIN assign a ON a.cid = p.cid AND a.vec_id <> p.query_id),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
  FROM cand)
SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= 5
ORDER BY query_id, rank
"""


@query("sim_ivf_topk", oracle=IVF_ORACLE, category="llm-similarity")
def sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 via an inverted-file index (IVF, nprobe=4 of 16
    deterministic centroids): centroid assignment is a zero-shuffle map
    over an inlined codebook; queries search only their probed lists. The
    scale path writes the corpus partitioned by list id once, then every
    query scan prunes 4× here (n_centroids/nprobe) and more with a larger
    codebook. The codebook is K-MEANS-TRAINED (train_codebooks —
    integer-exact Lloyd, r5; recall@5 0.87 → 0.93 at sf0.01 vs the old
    lowest-id seeds). Queries are a predicate over the corpus, so the
    score array is computed once per vector and feeds both the lists and
    the probes (see ivf_topk). Fully SQL-expressible — the oracle twin
    re-derives the trained codebook with the same integer arithmetic
    (TRAINED_CENT_CTES) → exact hash match."""
    emb = table(spark, sf_dir, "embeddings")
    return S.ivf_topk(
        emb,
        query_pred=F.col("vec_id") < 3,
        k=5,
        nprobe=4,
        cache_key=sf_key(sf_dir),
    ).orderBy("query_id", "rank")


LSH_TOPK_ORACLE = f"""
WITH bucketed AS (
  SELECT vec_id, embedding, {_lsh_bucket_sql('embedding')} AS bucket
  FROM embeddings
),
cand AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         round({_cos('q', 'c')}, 6) AS cosine
  FROM bucketed q JOIN bucketed c
    ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
  WHERE q.vec_id < 3
),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
  FROM cand
)
SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= 5
ORDER BY query_id, rank
"""


@query("sim_lsh_topk", oracle=LSH_TOPK_ORACLE, category="llm-similarity")
def sim_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 via random-hyperplane LSH bucketing (r=4 → 16
    buckets): the 100 TB path where candidates come from the query's
    bucket only. Fully deterministic — the hyperplanes are a pure md5
    function of (dim, r) with half-integer components, so the oracle
    inlines the identical literals (same trick as sim_cosine_near_dup's
    bucket twin) and the bucket ids and cosines hash-match bit-for-bit;
    recall vs brute force is additionally asserted in
    tests/test_llm_ops.py."""
    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3)
    return S.lsh_topk(emb, queries, k=5, r=4).orderBy("query_id", "rank")


QUANTIZED_ORACLE = f"""
WITH s AS (
  SELECT vec_id, embedding,
         list_max(list_transform(embedding, y -> abs(CAST(y AS DOUBLE)))) / 127.0 AS scale
  FROM embeddings),
qz AS (
  SELECT vec_id, embedding,
         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) / scale, 0) AS INT)) AS q8
  FROM s),
scored AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         round(CAST(list_sum(list_transform(range(1, len(a.q8) + 1),
                                            k -> CAST(a.q8[k] AS BIGINT) * b.q8[k])) AS DOUBLE)
               / (sqrt(CAST(list_sum(list_transform(a.q8, x -> CAST(x AS BIGINT) * x)) AS DOUBLE))
                  * sqrt(CAST(list_sum(list_transform(b.q8, x -> CAST(x AS BIGINT) * x)) AS DOUBLE))),
               6) AS q_cosine,
         round({_cos('a', 'b')}, 6) AS exact_cosine
  FROM qz a JOIN qz b ON a.vec_id < 3 AND a.vec_id <> b.vec_id),
ranked AS (
  SELECT query_id, neighbor_id, q_cosine, exact_cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY q_cosine DESC, neighbor_id) AS rank
  FROM scored)
SELECT query_id, neighbor_id, q_cosine, exact_cosine, rank FROM ranked WHERE rank <= 5
ORDER BY query_id, rank
"""


@query("sim_quantized_topk", oracle=QUANTIZED_ORACLE, category="llm-similarity")
def sim_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 by cosine over int8-QUANTIZED vectors (symmetric per-vector
    scale, max|x|/127): the memory-bound regime where the stored corpus is
    4× smaller and the hot loop is integer multiply-adds. The per-vector
    scale cancels inside the cosine, so no dequantization happens at query
    time; the exact cosine of each retrieved pair is returned alongside so
    quantization error is visible in the result itself. Quantized values
    are round/divide built-ins — bit-reproducible, hence a full oracle."""
    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3)
    return S.quantized_topk(emb, queries, k=5, cache_key=sf_key(sf_dir)).orderBy(
        "query_id", "rank"
    )


# Product quantization: 8 subspaces × 16 centroids over dim 64. Each
# subspace's codebook is trained from the 16 lowest-vec_id subvectors
# (j = 0..15 in seed vec_id order — ROW_NUMBER, matching
# operators/similarity.train_codebooks);
# codes are per-subspace squared-L2 argmins (ties → lowest j); scoring is
# ADC: Σ_m ⟨q_m, c_m,code⟩ over the m-ordered list fold (list_sum of a
# list(… ORDER BY m) ≡ Spark's F.aggregate over the m-ordered array), and
# the corpus norm is the PQ reconstruction's norm from the same codebook.
_PQ_D2 = (
    "list_sum(list_transform(range(1, 9), k -> "
    "(CAST(e.embedding[ms.m*8+k] AS DOUBLE) - CAST(c.cv[ms.m*8+k] AS DOUBLE))"
    " * (CAST(e.embedding[ms.m*8+k] AS DOUBLE) - CAST(c.cv[ms.m*8+k] AS DOUBLE))))"
)

PQ_ORACLE = f"""
WITH {TRAINED_PQ_CTES},
cent AS (SELECT j, cv FROM tpqcent),
ms AS (SELECT unnest(range(0, 8)) AS m),
sub AS (
  SELECT e.vec_id, ms.m, c.j, {_PQ_D2} AS d2
  FROM embeddings e CROSS JOIN ms CROSS JOIN cent c),
codes AS (
  SELECT vec_id, m, j AS code FROM (
    SELECT vec_id, m, j,
           ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d2, j) AS rn
    FROM sub) t WHERE rn = 1),
anorm AS (
  SELECT cd.vec_id,
         sqrt(list_sum(list(list_sum(list_transform(range(1, 9), k ->
           CAST(c.cv[cd.m*8+k] AS DOUBLE) * CAST(c.cv[cd.m*8+k] AS DOUBLE)))
           ORDER BY cd.m))) AS acn
  FROM codes cd JOIN cent c ON c.j = cd.code
  GROUP BY cd.vec_id),
pairs AS (
  SELECT q.vec_id AS query_id, cd.vec_id AS neighbor_id,
         list_sum(list(list_sum(list_transform(range(1, 9), k ->
           CAST(q.embedding[cd.m*8+k] AS DOUBLE) * CAST(c.cv[cd.m*8+k] AS DOUBLE)))
           ORDER BY cd.m)) AS pq_dot
  FROM embeddings q
  JOIN codes cd ON cd.vec_id <> q.vec_id
  JOIN cent c ON c.j = cd.code
  WHERE q.vec_id < 3
  GROUP BY q.vec_id, cd.vec_id),
scored AS (
  SELECT p.query_id, p.neighbor_id,
         round(p.pq_dot / (sqrt({_DOT.format(a='q', b='q')}) * a.acn), 6) AS pq_cosine,
         round({_cos('q', 'e')}, 6) AS exact_cosine
  FROM pairs p
  JOIN anorm a ON a.vec_id = p.neighbor_id
  JOIN embeddings q ON q.vec_id = p.query_id
  JOIN embeddings e ON e.vec_id = p.neighbor_id),
ranked AS (
  SELECT query_id, neighbor_id, pq_cosine, exact_cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY pq_cosine DESC, neighbor_id) AS rank
  FROM scored)
SELECT query_id, neighbor_id, pq_cosine, exact_cosine, rank FROM ranked WHERE rank <= 5
ORDER BY query_id, rank
"""


@query("sim_pq_topk", oracle=PQ_ORACLE, category="llm-similarity", plan_cached=True)
def sim_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 via product quantization + asymmetric distance
    (Jégou et al. 2011): the corpus is stored as 8 one-byte-sized codes
    per vector (32× smaller than the float rows — the difference between
    an in-memory billion-vector index and none), each query builds its
    8×16 subspace LUT once, and a pair costs 8 lookups instead of 64
    multiplies. The codebook is PER-SUBSPACE K-MEANS-TRAINED
    (train_codebooks — one integer-exact Lloyd chain per subquantizer,
    all keyed into one plan, the Jégou §II.C recipe; recall@5 0.27 →
    0.53 at sf0.01 vs the old lowest-id subvectors), every fold is a fixed-order left-fold over inlined
    literals, so the DuckDB twin reproduces training, codes, ADC scores
    and reconstruction norms bit-for-bit (TRAINED_PQ_CTES). Exact cosine
    rides along per retrieved pair as the built-in quantization-error
    audit."""
    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3)
    return S.pq_topk(emb, queries, k=5, cache_key=sf_key(sf_dir)).orderBy("query_id", "rank")


_PQ_APPROX_CTES = f"""
{TRAINED_PQ_CTES},
cent AS (SELECT j, cv FROM tpqcent),
ms AS (SELECT unnest(range(0, 8)) AS m),
sub AS (
  SELECT e.vec_id, ms.m, c.j, {_PQ_D2} AS d2
  FROM embeddings e CROSS JOIN ms CROSS JOIN cent c),
codes AS (
  SELECT vec_id, m, j AS code FROM (
    SELECT vec_id, m, j,
           ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d2, j) AS rn
    FROM sub) t WHERE rn = 1),
anorm AS (
  SELECT cd.vec_id,
         sqrt(list_sum(list(list_sum(list_transform(range(1, 9), k ->
           CAST(c.cv[cd.m*8+k] AS DOUBLE) * CAST(c.cv[cd.m*8+k] AS DOUBLE)))
           ORDER BY cd.m))) AS acn
  FROM codes cd JOIN cent c ON c.j = cd.code
  GROUP BY cd.vec_id),
pairs AS (
  SELECT q.vec_id AS query_id, cd.vec_id AS neighbor_id,
         list_sum(list(list_sum(list_transform(range(1, 9), k ->
           CAST(q.embedding[cd.m*8+k] AS DOUBLE) * CAST(c.cv[cd.m*8+k] AS DOUBLE)))
           ORDER BY cd.m)) AS pq_dot
  FROM embeddings q
  JOIN codes cd ON cd.vec_id <> q.vec_id
  JOIN cent c ON c.j = cd.code
  WHERE q.vec_id < 3
  GROUP BY q.vec_id, cd.vec_id),
pq_approx AS (
  SELECT query_id, neighbor_id FROM (
    SELECT p.query_id, p.neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY p.query_id ORDER BY
             round(p.pq_dot / (sqrt({_DOT.format(a='q', b='q')}) * a.acn), 6) DESC,
             p.neighbor_id) AS rank
    FROM pairs p
    JOIN anorm a ON a.vec_id = p.neighbor_id
    JOIN embeddings q ON q.vec_id = p.query_id) z
  WHERE rank <= 5)
"""


def _recall_audit(emb: DataFrame, queries: DataFrame, approx: DataFrame) -> DataFrame:
    """Per-query recall of an approximate top-5 (``approx``'s query_id,
    neighbor_id) against exact brute-force top-5 over ``queries``: the
    shared tail of every ``sim_*_recall_audit``."""
    brute = S.brute_force_topk(emb, queries, k=5).select("query_id", "neighbor_id")
    hits = approx.select(
        F.col("query_id").alias("a_qid"), F.col("neighbor_id").alias("a_nid")
    )
    return (
        brute.join(
            # Both arms are |probes|*k rows (<= 15 here; a sampled audit
            # set at any scale) - without the hint the planner's
            # post-window estimate exchanged and sorted both tiny arms
            # through a SortMergeJoin.
            F.broadcast(hits),
            (F.col("query_id") == F.col("a_qid"))
            & (F.col("neighbor_id") == F.col("a_nid")),
            "left",
        )
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_brute"),
            F.count("a_nid").cast("bigint").alias("n_hit"),
            F.round(F.count("a_nid").cast("double") / F.count(F.lit(1)), 6).alias("recall"),
        )
        .orderBy("query_id")
    )


PQ_RECALL_ORACLE = f"""
WITH brute AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id
                              ORDER BY round({_cos('q', 'c')}, 6) DESC, c.vec_id) AS rank
    FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
    WHERE q.vec_id < 3) t WHERE rank <= 5
),
{_PQ_APPROX_CTES}
SELECT b.query_id,
       CAST(COUNT(*) AS BIGINT) AS n_brute,
       CAST(COUNT(a.neighbor_id) AS BIGINT) AS n_hit,
       round(CAST(COUNT(a.neighbor_id) AS DOUBLE) / COUNT(*), 6) AS recall
FROM brute b
LEFT JOIN pq_approx a
  ON a.query_id = b.query_id AND a.neighbor_id = b.neighbor_id
GROUP BY b.query_id
ORDER BY b.query_id
"""


@query("sim_pq_recall_audit", oracle=PQ_RECALL_ORACLE, category="llm-similarity")
def sim_pq_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall of PQ-ADC top-5 against exact brute-force top-5, per query —
    the PQ member of the audit family (sim_lsh_recall_audit,
    sim_ivf_recall_audit): EVERY approximate ANN path ships with its
    recall number next to it. The knobs this audit tunes at scale are
    n_sub/ks (code budget vs distortion); raise them until recall clears
    the product bar, measured, not guessed."""
    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3)
    return _recall_audit(emb, queries, S.pq_topk(emb, queries, k=5, cache_key=sf_key(sf_dir)))


PQ_SERVING_ORACLE = f"""
WITH {TRAINED_PQ_CTES},
cent AS (SELECT j, cv FROM tpqcent),
ms AS (SELECT unnest(range(0, 8)) AS m),
sub AS (
  SELECT e.vec_id, ms.m, c.j, {_PQ_D2} AS d2
  FROM embeddings e CROSS JOIN ms CROSS JOIN cent c),
codes AS (
  SELECT vec_id, m, j AS code FROM (
    SELECT vec_id, m, j,
           ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d2, j) AS rn
    FROM sub) t WHERE rn = 1),
anorm AS (
  SELECT cd.vec_id,
         sqrt(list_sum(list(list_sum(list_transform(range(1, 9), k ->
           CAST(c.cv[cd.m*8+k] AS DOUBLE) * CAST(c.cv[cd.m*8+k] AS DOUBLE)))
           ORDER BY cd.m))) AS acn
  FROM codes cd JOIN cent c ON c.j = cd.code
  GROUP BY cd.vec_id),
pairs AS (
  SELECT q.vec_id AS query_id, cd.vec_id AS neighbor_id,
         list_sum(list(list_sum(list_transform(range(1, 9), k ->
           CAST(q.embedding[cd.m*8+k] AS DOUBLE) * CAST(c.cv[cd.m*8+k] AS DOUBLE)))
           ORDER BY cd.m)) AS pq_dot
  FROM embeddings q
  JOIN codes cd ON cd.vec_id <> q.vec_id
  JOIN cent c ON c.j = cd.code
  WHERE q.vec_id < 3
  GROUP BY q.vec_id, cd.vec_id),
scored AS (
  SELECT p.query_id, p.neighbor_id,
         round(p.pq_dot / (sqrt({_DOT.format(a='q', b='q')}) * a.acn), 6) AS pq_cosine
  FROM pairs p
  JOIN anorm a ON a.vec_id = p.neighbor_id
  JOIN embeddings q ON q.vec_id = p.query_id),
ranked AS (
  SELECT query_id, neighbor_id, pq_cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY pq_cosine DESC, neighbor_id) AS rank
  FROM scored)
SELECT query_id, neighbor_id, pq_cosine, rank FROM ranked WHERE rank <= 5
ORDER BY query_id, rank
"""


@query("sim_pq_serving_topk", oracle=PQ_SERVING_ORACLE, category="llm-similarity", plan_cached=True)
def sim_pq_serving_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-ADC top-5 in the SERVING regime (VERDICT r3 task 8): identical
    scoring to sim_pq_topk — same codebook, same fixed-order folds, so
    pq_cosine is bit-identical — but the corpus side reads ONLY the
    codes store (operators/similarity.pq_codes_store: rows of id +
    list id + acn + 8 codes, ~17 B vs 256 B of floats). No exact_cosine
    column: the store holds no vectors to compute one from, which is the
    point — the audit twins (sim_pq_topk, sim_pq_recall_audit) own the
    error story, this query owns the memory story. The plan is pinned by
    tests/test_plan_audit.py: no parquet scan of the corpus embedding
    column may appear."""
    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3)
    return S.pq_serving_topk(emb, queries, k=5, cache_key=sf_key(sf_dir)).orderBy(
        "query_id", "rank"
    )


IVFPQ_ORACLE = f"""
WITH {TRAINED_CENT_CTES},
{TRAINED_PQ_CTES},
cent AS (SELECT cid, cv FROM tcent),
assign_scored AS (
  SELECT e.vec_id, e.embedding, c.cid, {_cos_expr('e.embedding', 'c.cv')} AS score
  FROM embeddings e CROSS JOIN cent c),
assign AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY score DESC, cid) AS rn
    FROM assign_scored) t WHERE rn = 1),
probes AS (
  SELECT vec_id AS query_id, cid FROM (
    SELECT vec_id, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY score DESC, cid) AS rn
    FROM assign_scored WHERE vec_id < 3) t WHERE rn <= 4),
pqcent AS (
  SELECT j, cv FROM tpqcent),
ms AS (SELECT unnest(range(0, 8)) AS m),
sub AS (
  SELECT e.vec_id, ms.m, c.j,
         list_sum(list_transform(range(1, 9), k ->
           (CAST(e.embedding[ms.m*8+k] AS DOUBLE) - CAST(c.cv[ms.m*8+k] AS DOUBLE))
           * (CAST(e.embedding[ms.m*8+k] AS DOUBLE) - CAST(c.cv[ms.m*8+k] AS DOUBLE)))) AS d2
  FROM embeddings e CROSS JOIN ms CROSS JOIN pqcent c),
codes AS (
  SELECT vec_id, m, j AS code FROM (
    SELECT vec_id, m, j,
           ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d2, j) AS rn
    FROM sub) t WHERE rn = 1),
anorm AS (
  SELECT cd.vec_id,
         sqrt(list_sum(list(list_sum(list_transform(range(1, 9), k ->
           CAST(c.cv[cd.m*8+k] AS DOUBLE) * CAST(c.cv[cd.m*8+k] AS DOUBLE)))
           ORDER BY cd.m))) AS acn
  FROM codes cd JOIN pqcent c ON c.j = cd.code
  GROUP BY cd.vec_id),
pairs AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         list_sum(list(list_sum(list_transform(range(1, 9), k ->
           CAST(q.embedding[cd.m*8+k] AS DOUBLE) * CAST(c.cv[cd.m*8+k] AS DOUBLE)))
           ORDER BY cd.m)) AS pq_dot
  FROM probes p
  JOIN assign a ON a.cid = p.cid AND a.vec_id <> p.query_id
  JOIN codes cd ON cd.vec_id = a.vec_id
  JOIN pqcent c ON c.j = cd.code
  JOIN embeddings q ON q.vec_id = p.query_id
  GROUP BY p.query_id, a.vec_id),
scored AS (
  SELECT p.query_id, p.neighbor_id,
         round(p.pq_dot / (sqrt({_DOT.format(a='q', b='q')}) * an.acn), 6) AS pq_cosine
  FROM pairs p
  JOIN anorm an ON an.vec_id = p.neighbor_id
  JOIN embeddings q ON q.vec_id = p.query_id),
ranked AS (
  SELECT query_id, neighbor_id, pq_cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY pq_cosine DESC, neighbor_id) AS rank
  FROM scored)
SELECT query_id, neighbor_id, pq_cosine, rank FROM ranked WHERE rank <= 5
ORDER BY query_id, rank
"""


@query("sim_ivfpq_topk", oracle=IVFPQ_ORACLE, category="llm-similarity", plan_cached=True)
def sim_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF+PQ top-5 — the FAISS IVFADC composite (Jegou et al. 2011 §V),
    and the shape a real billion-vector serving index uses: the query
    ranks 16 coarse centroids, probes its best 4 lists (the IVF 4x scan
    prune; a parquet store partitioned by cid prunes at the file level),
    and ADC-scores ONLY the PQ codes stored in those lists (8 lookups
    per pair over a ~17 B/vector store — no float vector resident).
    Probe ranking reuses the IVF oracle's (score DESC, cid) order and
    scoring the PQ oracle's fixed-order folds, so the whole composite is
    hash-checkable: the DuckDB twin chains both oracles' CTEs. Recall vs
    exact brute force inherits both audits' knobs (nprobe, n_sub/ks)."""
    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3)
    return S.ivfpq_topk(emb, queries, k=5, nprobe=4, cache_key=sf_key(sf_dir)).orderBy(
        "query_id", "rank"
    )


INT8_SERVING_ORACLE = f"""
WITH s AS (
  SELECT vec_id, embedding,
         list_max(list_transform(embedding, y -> abs(CAST(y AS DOUBLE)))) / 127.0 AS scale
  FROM embeddings),
qz AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) / scale, 0) AS INT)) AS q8
  FROM s),
scored AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         round(CAST(list_sum(list_transform(range(1, len(a.q8) + 1),
                                            k -> CAST(a.q8[k] AS BIGINT) * b.q8[k])) AS DOUBLE)
               / (sqrt(CAST(list_sum(list_transform(a.q8, x -> CAST(x AS BIGINT) * x)) AS DOUBLE))
                  * sqrt(CAST(list_sum(list_transform(b.q8, x -> CAST(x AS BIGINT) * x)) AS DOUBLE))),
               6) AS q_cosine
  FROM qz a JOIN qz b ON a.vec_id < 3 AND a.vec_id <> b.vec_id),
ranked AS (
  SELECT query_id, neighbor_id, q_cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY q_cosine DESC, neighbor_id) AS rank
  FROM scored)
SELECT query_id, neighbor_id, q_cosine, rank FROM ranked WHERE rank <= 5
ORDER BY query_id, rank
"""


@query("sim_int8_serving_topk", oracle=INT8_SERVING_ORACLE, category="llm-similarity")
def sim_int8_serving_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 top-5 in the SERVING regime: corpus side is the stored
    (id, int8 codes, integer norm) index — 4x smaller than the float
    rows, no embedding column resident — and the query side quantizes
    its own vector at probe time. q_cosine is bit-identical to
    sim_quantized_topk's (same integer zip-fold, scales cancel); the
    exact-cosine error audit lives on the audit twin, not here. Plan
    pinned by tests/test_plan_audit.py alongside the PQ serving twin."""
    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3)
    return S.int8_serving_topk(emb, queries, k=5, cache_key=sf_key(sf_dir)).orderBy(
        "query_id", "rank"
    )


CENTROID_ORACLE = """
WITH dims AS (
  SELECT vec_id, label,
         unnest(range(1, len(embedding) + 1)) AS dim,
         CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000, 0) AS BIGINT) AS iv
  FROM embeddings
),
per_dim AS (
  SELECT label, dim, COUNT(*) AS n, SUM(iv) AS sxd
  FROM dims GROUP BY label, dim
),
per_vec AS (
  SELECT d.vec_id, d.label, p.n,
         SUM((d.iv * p.n - p.sxd) * (d.iv * p.n - p.sxd)) AS ssd
  FROM dims d JOIN per_dim p ON d.label = p.label AND d.dim = p.dim
  GROUP BY d.vec_id, d.label, p.n
)
SELECT label,
       CAST(n AS BIGINT) AS n_vecs,
       round(CAST(SUM(ssd) AS DOUBLE)
             / (CAST(n AS DOUBLE) * n * n * 1000000000000.0), 8) AS avg_sq_dist,
       round(CAST(MAX(ssd) AS DOUBLE)
             / (CAST(n AS DOUBLE) * n * 1000000000000.0), 8) AS max_sq_dist
FROM per_vec
GROUP BY label, n
ORDER BY label
"""


@query("sim_centroid_dispersion", oracle=CENTROID_ORACLE, category="llm-similarity")
def sim_centroid_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label cluster quality: average and max squared L2 distance of
    member vectors to their label centroid.

    Everything runs in exact integer arithmetic until the final division:
    values scale to 10^-6 units, and instead of the rational centroid
    sx/n we multiply through by n — dist² · n² = Σ_dim (iv·n − Σiv)², an
    integer in both engines, so the result hash-matches bit-for-bit (a
    naive double centroid would diverge in the last ulp). Plan: posexplode
    to (vec, dim) rows, per-(label, dim) sums (tiny — |labels|×64 rows)
    broadcast back onto the exploded fact, one per-vector aggregate, one
    per-label aggregate. At 100 TB the only fact-sized shuffle is the
    per-vector groupBy; the centroid table stays broadcastable at any
    corpus size since it scales with |labels|, not rows. Magnitudes: iv·n
    ≈ 10^5·n — decimal(38,0) accumulation keeps the squared sums exact
    past int64 around n ≈ 10^6 members per label."""
    e = table(spark, sf_dir, "embeddings")
    dims = e.select(
        "vec_id",
        "label",
        F.posexplode(F.col("embedding")).alias("dim", "val"),
    ).select(
        "vec_id",
        "label",
        "dim",
        F.round(F.col("val").cast("double") * 1_000_000, 0).cast("long").alias("iv"),
    )
    per_dim = dims.groupBy("label", "dim").agg(
        F.count(F.lit(1)).alias("n"), F.sum("iv").alias("sxd")
    )
    diff = F.col("iv") * F.col("n") - F.col("sxd")
    per_vec = (
        dims.join(F.broadcast(per_dim), ["label", "dim"])
        .groupBy("vec_id", "label", "n")
        .agg(F.sum((diff * diff).cast("decimal(38,0)")).alias("ssd"))
    )
    n = F.col("n")
    return (
        per_vec.groupBy("label", "n")
        .agg(F.sum("ssd").alias("sum_ssd"), F.max("ssd").alias("max_ssd"))
        .select(
            "label",
            n.cast("bigint").alias("n_vecs"),
            F.round(
                F.col("sum_ssd").cast("double")
                / (n.cast("double") * n * n * 1_000_000_000_000.0),
                8,
            ).alias("avg_sq_dist"),
            F.round(
                F.col("max_ssd").cast("double") / (n.cast("double") * n * 1_000_000_000_000.0),
                8,
            ).alias("max_sq_dist"),
        )
        .orderBy("label")
    )


LSH_RECALL_ORACLE = f"""
WITH brute AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id
                              ORDER BY round({_cos('q', 'c')}, 6) DESC, c.vec_id) AS rank
    FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
    WHERE q.vec_id < 3) t WHERE rank <= 5
),
bucketed AS (
  SELECT vec_id, embedding, {_lsh_bucket_sql('embedding')} AS bucket
  FROM embeddings
),
approx AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id
                              ORDER BY round({_cos('q', 'c')}, 6) DESC, c.vec_id) AS rank
    FROM bucketed q JOIN bucketed c
      ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
    WHERE q.vec_id < 3) t WHERE rank <= 5
)
SELECT b.query_id,
       CAST(COUNT(*) AS BIGINT) AS n_brute,
       CAST(COUNT(a.neighbor_id) AS BIGINT) AS n_hit,
       round(CAST(COUNT(a.neighbor_id) AS DOUBLE) / COUNT(*), 6) AS recall
FROM brute b
LEFT JOIN approx a
  ON a.query_id = b.query_id AND a.neighbor_id = b.neighbor_id
GROUP BY b.query_id
ORDER BY b.query_id
"""


@query("sim_lsh_recall_audit", oracle=LSH_RECALL_ORACLE, category="llm-similarity")
def sim_lsh_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall of LSH top-5 against exact brute-force top-5, per query —
    the audit every approximate operator needs shipped NEXT TO it
    ("measure, don't guess": the recall/cost trade of the bucketed path
    is a number you monitor, not a hope). Composes the two existing
    judged operators and joins their result sets; at 100 TB this audit
    runs on a sampled query set while production traffic uses the
    approximate path."""
    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3)
    return _recall_audit(emb, queries, S.lsh_topk(emb, queries, k=5, r=4))


IVF_RECALL_ORACLE = f"""
WITH brute AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id
                              ORDER BY round({_cos('q', 'c')}, 6) DESC, c.vec_id) AS rank
    FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
    WHERE q.vec_id < 3) t WHERE rank <= 5
),
{TRAINED_CENT_CTES},
cent AS (SELECT cid, cv FROM tcent),
assign_scored AS (
  SELECT e.vec_id, e.embedding, c.cid, {_cos_expr('e.embedding', 'c.cv')} AS score
  FROM embeddings e CROSS JOIN cent c),
assign AS (
  SELECT vec_id, embedding, cid FROM (
    SELECT vec_id, embedding, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY score DESC, cid) AS rn
    FROM assign_scored) t WHERE rn = 1),
probes AS (
  SELECT vec_id AS query_id, embedding AS qv, cid FROM (
    SELECT vec_id, embedding, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY score DESC, cid) AS rn
    FROM assign_scored WHERE vec_id < 3) t WHERE rn <= 4),
approx AS (
  SELECT query_id, neighbor_id FROM (
    SELECT p.query_id, a.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY p.query_id
                              ORDER BY round({_cos_expr('p.qv', 'a.embedding')}, 6) DESC, a.vec_id) AS rank
    FROM probes p JOIN assign a ON a.cid = p.cid AND a.vec_id <> p.query_id) t
  WHERE rank <= 5
)
SELECT b.query_id,
       CAST(COUNT(*) AS BIGINT) AS n_brute,
       CAST(COUNT(a.neighbor_id) AS BIGINT) AS n_hit,
       round(CAST(COUNT(a.neighbor_id) AS DOUBLE) / COUNT(*), 6) AS recall
FROM brute b
LEFT JOIN approx a
  ON a.query_id = b.query_id AND a.neighbor_id = b.neighbor_id
GROUP BY b.query_id
ORDER BY b.query_id
"""


@query("sim_ivf_recall_audit", oracle=IVF_RECALL_ORACLE, category="llm-similarity")
def sim_ivf_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall of IVF(nprobe=4/16) top-5 against exact brute-force top-5,
    per query — the IVF twin of sim_lsh_recall_audit, so BOTH approximate
    ANN paths ship with a recall number next to them. The probe-pruning
    knob (nprobe/n_centroids) is exactly what this audit tunes at scale:
    raise nprobe until recall clears the product bar, no guessing."""
    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3)
    approx = S.ivf_topk(
        emb,
        query_pred=F.col("vec_id") < 3,
        k=5,
        nprobe=4,
        cache_key=sf_key(sf_dir),
    )
    return _recall_audit(emb, queries, approx)


JL_OUT_DIM = 32  # projected dims; distortion std ≈ sqrt(2/32) ≈ 0.25
JL_IN_DIM = 64
JL_N_VECS = 10  # audit sample: vec_id < 10 → 45 pairs
JL_TOL = 0.75  # |distortion − 1| bound the verdict scores (≈3σ)

JL_ORACLE = f"""
WITH signs AS (
  SELECT j, list_transform(range(0, {JL_IN_DIM}), i ->
           CASE WHEN substr(md5('jl:' || j || ':' || i), 1, 1) <= '7'
                THEN CAST(1 AS DOUBLE) ELSE CAST(-1 AS DOUBLE) END) AS sv
  FROM (SELECT unnest(range(0, {JL_OUT_DIM})) AS j)),
proj AS (
  SELECT e.vec_id,
         list(list_sum(list_transform(range(1, {JL_IN_DIM} + 1),
                k -> CAST(e.embedding[k] AS DOUBLE) * s.sv[k]))
              ORDER BY s.j) AS y
  FROM embeddings e CROSS JOIN signs s
  WHERE e.vec_id < {JL_N_VECS}
  GROUP BY e.vec_id),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         list_sum(list_transform(range(1, {JL_IN_DIM} + 1),
           k -> (CAST(a.embedding[k] AS DOUBLE) - CAST(b.embedding[k] AS DOUBLE))
              * (CAST(a.embedding[k] AS DOUBLE) - CAST(b.embedding[k] AS DOUBLE)))) AS d2o,
         list_sum(list_transform(range(1, {JL_OUT_DIM} + 1),
           j -> (pa.y[j] - pb.y[j]) * (pa.y[j] - pb.y[j]))) AS d2p
  FROM embeddings a
  JOIN embeddings b ON a.vec_id < b.vec_id AND b.vec_id < {JL_N_VECS}
  JOIN proj pa ON pa.vec_id = a.vec_id
  JOIN proj pb ON pb.vec_id = b.vec_id
  WHERE a.vec_id < {JL_N_VECS})
SELECT id_a, id_b,
       round(d2o, 6) AS d2_orig,
       round(d2p / ({JL_OUT_DIM}.0 * d2o), 6) AS distortion,
       CASE WHEN abs(round(d2p / ({JL_OUT_DIM}.0 * d2o), 6) - 1.0) <= {JL_TOL}
            THEN 'ok' ELSE 'off' END AS verdict
FROM pairs
WHERE d2o > 0
ORDER BY id_a, id_b
"""


# plan_cached: the 64x32 md5-derived sign matrix inlines as ~2k literal
# expressions - construction measured 1.37 s vs 0.70 s execution; the
# plan is fully lazy, so memoizing it hides no work.
@query("sim_jl_projection_audit", oracle=JL_ORACLE, category="llm-similarity", plan_cached=True)
def sim_jl_projection_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson–Lindenstrauss random projection 64→32 dims with a
    distance-preservation audit: every sampled pair's squared distance in
    the projected space, normalized by out_dim·d²_orig, must land within
    ±0.75 of 1 (≈3σ for Rademacher projections at k=32, Achlioptas 2003).

    The dimensionality-reduction member of the embedding toolchain (PQ
    compresses codes, int8 compresses storage; JL compresses the GEOMETRY
    so downstream ANN works in a cheaper space). The projection itself is
    row-local — a map over the corpus scan, done once at ingestion, no
    shuffle — and the audit runs on a hash-sample of pairs, which is the
    per-drop quality gate a 100 TB embedding store runs before swapping
    its ANN index to the reduced space. The md5-derived ±1 sign matrix is
    a pure function of the dimensions (operators/similarity.py::jl_signs),
    so the DuckDB twin regenerates it in SQL and every IEEE op folds in
    the same order — the whole audit hash-matches, verdicts included."""
    signs = S.jl_signs(JL_OUT_DIM, JL_IN_DIM)
    emb = table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < JL_N_VECS)
    proj = emb.select("vec_id", S.jl_project(F.col("embedding"), signs).alias("y"))
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("ea")).join(
        proj.select(F.col("vec_id").alias("id_a"), F.col("y").alias("ya")), "id_a"
    )
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("eb")).join(
        proj.select(F.col("vec_id").alias("id_b"), F.col("y").alias("yb")), "id_b"
    )
    sq = lambda u, v: F.zip_with(  # noqa: E731
        u, v, lambda x, y: (x.cast("double") - y.cast("double")) * (x.cast("double") - y.cast("double"))
    )
    fold = lambda arr: F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x)  # noqa: E731
    pairs = (
        a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            fold(sq(F.col("ea"), F.col("eb"))).alias("d2o"),
            fold(sq(F.col("ya"), F.col("yb"))).alias("d2p"),
        )
        .filter(F.col("d2o") > 0)
    )
    distortion = F.round(F.col("d2p") / (F.lit(float(JL_OUT_DIM)) * F.col("d2o")), 6)
    return pairs.select(
        "id_a",
        "id_b",
        F.round(F.col("d2o"), 6).alias("d2_orig"),
        distortion.alias("distortion"),
        F.when(F.abs(distortion - 1.0) <= JL_TOL, "ok").otherwise("off").alias("verdict"),
    ).orderBy("id_a", "id_b")
