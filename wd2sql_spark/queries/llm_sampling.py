"""Reproducible sampling + distribution operators for training-data
pipelines (north-star extensions; nothing like this exists in the
reference, whose only sampling is "drop deprecated claims", main.rs:87).

Why hash-sampling and not ``df.sample()``: a training-data pipeline needs
samples that are (a) reproducible across engines, runs, and cluster sizes,
(b) stable under re-partitioning, and (c) joinable — the same document
falls in the same split everywhere. ``sample(seed)`` guarantees none of
these (it is partition-RNG based). Bucketing the md5 of the key gives all
three, costs one scan with no shuffle, and md5 is bit-identical between
Spark and DuckDB so the oracle can check it exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from wd2sql_spark.catalog import sf_key, table
from wd2sql_spark.queries.registry import query


def md5_bucket(key, buckets: int = 100):
    """Deterministic bucket in [0, buckets): first 8 md5 hex digits of the
    key as an integer, mod buckets. SQL twin:
    ``CAST(('0x' || substring(md5(CAST(k AS VARCHAR)),1,8)) AS BIGINT) % buckets``.
    """
    h = F.conv(F.substring(F.md5(key.cast("string")), 1, 8), 16, 10).cast("long")
    return h % buckets


SAMPLE_ORACLE = """
SELECT doc_id, lang, n_chars
FROM documents
WHERE CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 10
ORDER BY doc_id
"""


@query("sample_hash_reproducible", oracle=SAMPLE_ORACLE, category="llm_sampling")
def sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~10% document sample by key-hash bucket — the
    reproducible train/eval-split primitive. Narrow (no shuffle), scales
    with the scan."""
    d = table(spark, sf_dir, "documents")
    return (
        d.filter(md5_bucket(F.col("doc_id")) < 10)
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id")
    )


STRATIFIED_ORACLE = """
WITH b AS (
  SELECT lang,
         CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS bucket
  FROM documents
)
SELECT lang,
       count(*) AS total,
       count(*) FILTER (WHERE bucket < 20) AS sampled
FROM b GROUP BY lang ORDER BY lang
"""


@query("sample_stratified_by_lang", oracle=STRATIFIED_ORACLE, category="llm_sampling")
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language ~20% sample with per-stratum accounting — hash
    bucketing makes the rate hold within every stratum independent of
    stratum skew (vs ``sampleBy``'s seeded RNG, which is neither
    cross-engine nor cross-partitioning stable)."""
    d = table(spark, sf_dir, "documents").withColumn(
        "bucket", md5_bucket(F.col("doc_id"))
    )
    return (
        d.groupBy("lang")
        .agg(
            F.count("*").alias("total"),
            F.count(F.when(F.col("bucket") < 20, 1)).alias("sampled"),
        )
        .orderBy("lang")
    )


PERCENTILE_ORACLE = """
SELECT lang,
       round(quantile_cont(n_chars, 0.5), 2)  AS p50,
       round(quantile_cont(n_chars, 0.9), 2)  AS p90,
       round(quantile_cont(n_chars, 0.99), 2) AS p99
FROM documents GROUP BY lang ORDER BY lang
"""


@query("agg_percentiles_doc_length", oracle=PERCENTILE_ORACLE, category="aggregates")
def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles of document length per language
    (Spark ``percentile`` ≡ DuckDB ``quantile_cont``). At 100 TB the
    approx twin (``approx_percentile``, t-digest, mergeable map-side)
    replaces this; the exact form is the correctness anchor."""
    d = table(spark, sf_dir, "documents")
    p = F.expr("percentile(n_chars, array(0.5, 0.9, 0.99))")
    return (
        d.groupBy("lang")
        .agg(p.alias("ps"))
        .select(
            "lang",
            F.round(F.col("ps")[0], 2).alias("p50"),
            F.round(F.col("ps")[1], 2).alias("p90"),
            F.round(F.col("ps")[2], 2).alias("p99"),
        )
        .orderBy("lang")
    )


CANONICAL_ORACLE = """
WITH ranked AS (
  SELECT md5(substring(lower(text), 1, 40)) AS fp, doc_id, n_chars,
         row_number() OVER (PARTITION BY md5(substring(lower(text), 1, 40))
                            ORDER BY n_chars DESC, doc_id) AS rn,
         count(*) OVER (PARTITION BY md5(substring(lower(text), 1, 40))) AS cluster_size
  FROM documents
)
SELECT fp, doc_id AS canonical_id, cluster_size
FROM ranked WHERE rn = 1 AND cluster_size > 1
ORDER BY fp
"""


@query("dedup_canonical_pick", oracle=CANONICAL_ORACLE, category="llm_dedup")
def dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-document selection: within each duplicate cluster
    (md5 of the normalized 40-char head — the boilerplate-dedup fingerprint;
    the fixture corpus has no byte-exact duplicates), keep the longest document, tie-broken by doc_id —
    the "which copy survives dedup" policy step. One shuffle on the
    fingerprint; row_number is the top-1-per-group pattern that never
    materializes whole clusters."""
    d = table(spark, sf_dir, "documents").withColumn(
        "fp", F.md5(F.substring(F.lower("text"), 1, 40))
    )
    w = Window.partitionBy("fp").orderBy(F.col("n_chars").desc(), "doc_id")
    cw = Window.partitionBy("fp")
    return (
        d.withColumn("rn", F.row_number().over(w))
        .withColumn("cluster_size", F.count("*").over(cw))
        .filter((F.col("rn") == 1) & (F.col("cluster_size") > 1))
        .select("fp", F.col("doc_id").alias("canonical_id"), "cluster_size")
        .orderBy("fp")
    )


WEIGHTED_ORACLE = """
WITH mx AS (SELECT max(n_chars) AS max_chars FROM documents)
SELECT doc_id, lang, n_chars
FROM documents, mx
WHERE CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000000
      < CAST(round(500000.0 * n_chars / max_chars, 0) AS BIGINT)
ORDER BY doc_id
"""


@query("sample_weighted_by_length", oracle=WEIGHTED_ORACLE, category="llm_sampling")
def sample_weighted_by_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted Bernoulli sample: inclusion probability
    proportional to document length (p = 0.5 · n_chars / max_chars),
    decided by the doc's md5 bucket against an integer threshold — so the
    sample is reproducible across runs, engines, and partitionings, unlike
    rand()-based sampling. The global max is a 1-row aggregate broadcast
    onto the scan; the filter itself is narrow (no shuffle). Length-biased
    sampling is the standard curriculum/token-budget trick: long docs
    carry more tokens, so uniform doc sampling under-weights them."""
    d = table(spark, sf_dir, "documents")
    mx = F.broadcast(d.agg(F.max("n_chars").alias("max_chars")))
    threshold = F.round(500000.0 * F.col("n_chars") / F.col("max_chars"), 0).cast("long")
    return (
        d.crossJoin(mx)
        .filter(md5_bucket(F.col("doc_id"), 1_000_000) < threshold)
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id")
    )


MIX_ORACLE = """
WITH per AS (
  SELECT source,
         COUNT(*) AS n_docs,
         SUM(len(string_split(text, ' '))) AS n_tokens
  FROM documents GROUP BY source
),
tot AS (SELECT SUM(n_tokens) AS total_tokens, COUNT(*) AS n_sources FROM per)
SELECT source,
       CAST(n_docs AS BIGINT) AS n_docs,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       round(CAST(n_tokens AS DOUBLE) / total_tokens, 6) AS token_share,
       round((1.0 / n_sources) / (CAST(n_tokens AS DOUBLE) / total_tokens), 6) AS weight,
       CAST(round(CAST(n_tokens AS DOUBLE)
                  * ((1.0 / n_sources) / (CAST(n_tokens AS DOUBLE) / total_tokens)), 0)
            AS BIGINT) AS expected_tokens
FROM per CROSS JOIN tot
ORDER BY source
"""


@query("mix_domain_weights", oracle=MIX_ORACLE, category="llm_sampling")
def mix_domain_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture weighting: per-source token counts and the sampling
    weight that re-balances the corpus to a UNIFORM token share per
    source (the Pile/DoReMi-style mixture step with a uniform target;
    any target vector drops in the same way).

    ONE corpus-sized aggregation (map-side partial count/sum per source);
    the grand total is a full-frame window over the resulting
    |sources|-row relation — a single-partition exchange of a tiny
    relation, NOT a second corpus scan (an ``agg``-then-join total would
    re-derive the aggregate's whole input branch, scanning the corpus
    twice at 100 TB). ``weight = target_share / actual_share``;
    ``expected_tokens`` previews the post-weighting contribution. The
    weights then feed the hash-sampler (sample_hash_reproducible) as
    per-source thresholds."""
    d = table(spark, sf_dir, "documents")
    per = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split(F.col("text"), " "))).alias("n_tokens"),
    )
    w_all = Window.partitionBy()
    per = per.select(
        "*",
        F.sum("n_tokens").over(w_all).alias("total_tokens"),
        F.count(F.lit(1)).over(w_all).alias("n_sources"),
    )
    share = F.col("n_tokens").cast("double") / F.col("total_tokens")
    weight = (F.lit(1.0) / F.col("n_sources")) / share
    return (
        per.select(
            "source",
            F.col("n_docs").cast("bigint"),
            F.col("n_tokens").cast("bigint"),
            F.round(share, 6).alias("token_share"),
            F.round(weight, 6).alias("weight"),
            F.round(F.col("n_tokens").cast("double") * weight, 0)
            .cast("bigint")
            .alias("expected_tokens"),
        )
        .orderBy("source")
    )


MIX_TEMP_ORACLE = """
WITH per AS (
  SELECT source,
         COUNT(*) AS n_docs,
         SUM(len(string_split(text, ' '))) AS n_tokens
  FROM documents GROUP BY source
),
tot AS (SELECT SUM(n_tokens) AS total_tokens FROM per),
sq AS (
  SELECT source, n_docs, n_tokens, total_tokens,
         sqrt(CAST(n_tokens AS DOUBLE) / total_tokens) AS sq
  FROM per CROSS JOIN tot
),
z AS (SELECT list_reduce(list(sq ORDER BY source), (a, b) -> a + b) AS z FROM sq)
SELECT source,
       CAST(n_docs AS BIGINT) AS n_docs,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       round(CAST(n_tokens AS DOUBLE) / total_tokens, 6) AS token_share,
       round(sq / z, 6) AS p_alpha,
       round((sq / z) / (CAST(n_tokens AS DOUBLE) / total_tokens), 6) AS weight,
       CAST(round(CAST(total_tokens AS DOUBLE) * (sq / z), 0) AS BIGINT)
         AS expected_tokens
FROM sq CROSS JOIN z
ORDER BY source
"""


@query("mix_temperature_sampling", oracle=MIX_TEMP_ORACLE, category="llm_sampling")
def mix_temperature_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based (exponentiated-share) mixture sampling with
    α = 0.5 — the multilingual-pretraining policy (Lample & Conneau 2019
    sample languages ∝ share^α with exactly α = 0.5) that boosts
    low-resource sources without flattening to uniform: p_i =
    share_i^α / Σ_j share_j^α; mix_domain_weights is the α→0 limit.

    Determinism: α = 0.5 keeps the exponentiation inside IEEE-exact
    arithmetic — sqrt is correctly rounded by both engines (libm pow for
    a general α is NOT), the share it applies to is a single division of
    exact integers, and the normalizer Z folds the per-source sqrt values
    in FIXED source order (array_sort + F.aggregate here, list(ORDER BY) +
    list_reduce in the oracle) so the float sum cannot reorder between
    engines.

    Scale shape: identical to mix_domain_weights — one corpus-sized
    map-side-combined aggregate; everything after operates on the
    |sources|-row relation (the fold window is a single-partition exchange
    of that tiny relation, not a corpus scan)."""
    d = table(spark, sf_dir, "documents")
    per = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split(F.col("text"), " "))).alias("n_tokens"),
    )
    w_all = Window.partitionBy()
    per = per.select(
        "*", F.sum("n_tokens").over(w_all).alias("total_tokens")
    ).withColumn(
        "sq", F.sqrt(F.col("n_tokens").cast("double") / F.col("total_tokens"))
    )
    ordered = F.array_sort(F.collect_list(F.struct("source", "sq")).over(w_all))
    z = F.aggregate(ordered, F.lit(0.0), lambda a, x: a + x["sq"])
    per = per.withColumn("z", z)
    share = F.col("n_tokens").cast("double") / F.col("total_tokens")
    p = F.col("sq") / F.col("z")
    return (
        per.select(
            "source",
            F.col("n_docs").cast("bigint"),
            F.col("n_tokens").cast("bigint"),
            F.round(share, 6).alias("token_share"),
            F.round(p, 6).alias("p_alpha"),
            F.round(p / share, 6).alias("weight"),
            F.round(F.col("total_tokens").cast("double") * p, 0)
            .cast("bigint")
            .alias("expected_tokens"),
        )
        .orderBy("source")
    )


IDS_ORACLE = """
SELECT doc_id, n_chars,
       CAST(ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) AS BIGINT) AS global_id
FROM documents
ORDER BY global_id
"""


@query("ids_contiguous_global", oracle=IDS_ORACLE, category="llm-sampling")
def ids_contiguous_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense 1-based sample ids in (n_chars, doc_id) order WITHOUT a
    global window: range-repartition + per-partition counts prefix-summed
    on the driver (one long per partition — bounded like the inlined IVF
    codebook) + an in-partition row_number. The oracle is the global
    ROW_NUMBER the naive single-partition plan would compute; the ids
    match because key-disjoint sorted partitions concatenated in
    partition order ARE the total order (operators/ids_assign.py)."""
    from wd2sql_spark.operators.ids_assign import assign_contiguous_ids

    d = table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    out = assign_contiguous_ids(
        d,
        ["n_chars", "doc_id"],
        n_partitions=16,
        cache_key=(sf_key(sf_dir), "documents"),
    )
    return out.select("doc_id", "n_chars", "global_id").orderBy("global_id")
