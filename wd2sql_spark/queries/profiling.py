"""Data-profiling + runtime-filter demonstrations.

Two operators a 100 TB curation pipeline runs constantly but that weren't
yet first-class in the battery:

- ``profile_column_stats``: a one-pass per-column corpus profile
  (row/null/distinct counts) — the validation step before any training
  run ingests a new parquet drop. The reference has no profiling surface
  (its schema is fixed, main.rs:141-161); this is north-star scope.
- ``join_bloom_prefilter_semi``: a hand-built Bloom-filter runtime
  pre-filter in pure Catalyst arithmetic — the manual form of Spark's
  AQE-injected `bloom_filter` join pruning, demonstrated explicitly so
  the plan evidence (fact rows dropped at the scan stage, BEFORE any
  exchange) is inspectable and the arithmetic is engine-portable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wd2sql_spark.catalog import sf_key, table
from wd2sql_spark.queries._determinism import exact_sum_at
from wd2sql_spark.queries.registry import query
from wd2sql_spark.session_cache import memo

_PROFILE_COLS = ("doc_id", "lang", "n_chars", "source", "text")

PROFILE_ORACLE = """
WITH s AS (
  SELECT count(*) AS n_rows,
         {stats}
  FROM documents
)
SELECT col_name, n_rows, n_null, n_distinct FROM (
  {branches}
) t
ORDER BY col_name
""".format(
    stats=",\n         ".join(
        f"count({c}) AS nn_{c}, "
        f"COUNT(DISTINCT md5(CAST({c} AS VARCHAR))) AS nd_{c}"
        for c in _PROFILE_COLS
    ),
    branches="\n  UNION ALL\n  ".join(
        f"SELECT '{c}' AS col_name, n_rows, n_rows - nn_{c} AS n_null, "
        f"nd_{c} AS n_distinct FROM s"
        for c in _PROFILE_COLS
    ),
)


@query("profile_column_stats", oracle=PROFILE_ORACLE, category="profiling")
def profile_column_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column profile of `documents` in ONE aggregation pass: row
    count, null count (count(*) − count(col), both engines' COUNT skips
    NULLs identically), and exact distinct count — counted over
    ``md5(cast(col as string))`` so the distinct shuffle carries 32-byte
    digests, never document text (the same shuffle-digests-not-text rule
    as exact dedup; md5 is bit-identical in both engines so the oracle
    can mirror it textually).

    Plan shape: `stack` unpivots the scan to (col_name, digest) — one
    pass, data replicated once per profiled column, exactly what the
    multi-column-DISTINCT Expand would have done — then ONE grouped
    single-distinct aggregate profiles every column. Single-distinct
    matters twice: Spark plans it as a plain two-level aggregate (no
    RewriteDistinctAggregates Expand, whose gid lane order is
    nondeterministic run-to-run), and at 100 TB with wide schemas the
    same shape degrades gracefully — swap `count_distinct` for
    `approx_count_distinct` and the (col_name, digest) shuffle collapses
    into mergeable HLL sketches (verified separately in
    `agg_approx_count_distinct` — kept exact HERE so the driver hash is
    engine-portable).
    """
    d = table(spark, sf_dir, "documents")
    stack_args = ", ".join(
        f"'{c}', md5(cast({c} AS string))" for c in _PROFILE_COLS
    )
    pairs = d.select(
        F.expr(f"stack({len(_PROFILE_COLS)}, {stack_args}) AS (col_name, digest)")
    )
    return (
        pairs.groupBy("col_name")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            (F.count(F.lit(1)) - F.count("digest")).alias("n_null"),
            F.count_distinct("digest").alias("n_distinct"),
        )
        .select("col_name", "n_rows", "n_null", "n_distinct")
        .orderBy("col_name")
    )


_BLOOM_BITS = 4096  # m: 64 longs — tiny vs the 430-key exact set it stands in for
_BLOOM_PROBES = 3  # k: fill ~27% at 430 keys -> FP ~2%


def _bloom_positions(key, probes: int = _BLOOM_PROBES, bits: int = _BLOOM_BITS):
    """k salted bit positions for `key`, from xxhash64 — salted per probe
    so the probes are independent. xxhash64, not md5: the bloom internals
    never appear in the oracle (correctness is structural — the exact
    semi-join behind the filter removes false positives), so the
    cross-engine-hash rule doesn't apply, and xxhash is JVM-cheap where
    the former per-row md5(concat) triple dominated the fact scan
    (measured below). Build and probe share this one definition, which
    is what makes false negatives impossible."""
    return [
        F.pmod(F.xxhash64(key.cast("long"), F.lit(j)), F.lit(bits)).cast("long")
        for j in range(probes)
    ]


def _one_shifted(pos):
    """``1L << (pos % 64)`` with a per-row shift amount — routed through
    call_function because the PySpark ``shiftleft`` wrapper only accepts a
    Python int for the shift."""
    return F.call_function(
        "shiftleft", F.lit(1).cast("long"), (pos % 64).cast("int")
    )


# The ONE definition of the dim-side selectivity knob — used by the Spark
# filter, the oracle SQL, and the bloom-words memo key (ADVICE r4 #3: a
# duplicated literal in the cache key would let a threshold edit silently
# reuse a bloom filter built for the old predicate).
BLOOM_ACCTBAL_MIN = 7000.0

BLOOM_SEMI_ORACLE = f"""
SELECT o_orderpriority, COUNT(*) AS n_orders,
       ((2 * SUM(CAST(round(o_totalprice * 1000000, 0) AS BIGINT)) + 10000) // 20000) / 100.0 AS total_price
FROM orders
WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal >= {BLOOM_ACCTBAL_MIN})
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


@query("join_bloom_prefilter_semi", oracle=BLOOM_SEMI_ORACLE, category="joins")
def join_bloom_prefilter_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-join with an explicit Bloom-filter runtime pre-filter on the
    fact side — the manual, engine-portable form of Spark's AQE
    `bloom_filter` join pruning (spark.sql.optimizer.runtime.bloomFilter).

    Why it matters at 100 TB: when the filtered dim exceeds the broadcast
    threshold, the exact semi-join becomes a shuffle join and EVERY fact
    row pays the exchange. An m-bit Bloom filter of the dim keys (m ≪
    |keys|·8 bytes — here 512 bytes standing in for the key set) still
    fits in a literal/broadcast, so fact rows are dropped at the scan
    stage and shuffle volume falls to ~the true selectivity. False
    positives (~2% here) only cost wasted shuffle rows; the exact
    semi-join behind the filter removes them, so the RESULT is identical
    to the plain semi-join — which is exactly what the oracle asserts
    (no bloom arithmetic in the SQL; correctness is structural, false
    negatives are impossible).

    The k·|dim| bit-position build is one tiny aggregation (64 rows);
    collecting those 64 longs to a literal follows the inlined-IVF-
    codebook precedent (operators/similarity.train_codebooks — deliberate,
    documented, constant-size).
    """
    c = table(spark, sf_dir, "customer").filter(F.col("c_acctbal") >= BLOOM_ACCTBAL_MIN)
    dim_keys = c.select(F.col("c_custkey").alias("k"))

    def build_words() -> list[int]:
        words_rows = (
            dim_keys.select(
                F.explode(F.array(*_bloom_positions(F.col("k")))).alias("pos")
            )
            .groupBy((F.col("pos") / 64).cast("int").alias("w"))
            .agg(F.bit_or(_one_shifted(F.col("pos"))).alias("bits"))
            .collect()
        )
        words = [0] * (_BLOOM_BITS // 64)
        for r in words_rows:
            words[r["w"]] = r["bits"]
        return words

    # The 64-byte word array is a pure function of the (immutable per
    # session) filtered dim — cache it like the charlm fit table and the
    # IVF codebook, so a warm run pays zero build jobs. On a cluster this
    # is the materialized runtime-filter reuse AQE does across stages of
    # one query, extended across queries of one session.
    words = memo(spark, "profiling.bloom_words", (sf_key(sf_dir), BLOOM_ACCTBAL_MIN), build_words)
    words_lit = F.array(*[F.lit(w).cast("long") for w in words])

    o = table(spark, sf_dir, "orders")
    tests = []
    for pos in _bloom_positions(F.col("o_custkey")):
        word = F.element_at(words_lit, ((pos / 64).cast("int") + 1))
        tests.append(word.bitwiseAND(_one_shifted(pos)) != 0)
    prefiltered = o.filter(tests[0] & tests[1] & tests[2])

    return (
        prefiltered.join(
            dim_keys, prefiltered["o_custkey"] == dim_keys["k"], "left_semi"
        )
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            exact_sum_at(F.col("o_totalprice"), 6, 2).alias("total_price"),
        )
        .orderBy("o_orderpriority")
    )


KS_SPLIT = "2024-01-15"  # early window: ts < split; late: ts >= split
KS_LAMBDA = 1.36  # two-sample KS critical coefficient at alpha = 0.05

KS_DRIFT_ORACLE = f"""
WITH pv AS (
  SELECT event_type, value,
         SUM(CASE WHEN ts < TIMESTAMP '{KS_SPLIT}' THEN 1 ELSE 0 END) AS c1,
         SUM(CASE WHEN ts >= TIMESTAMP '{KS_SPLIT}' THEN 1 ELSE 0 END) AS c2
  FROM events
  GROUP BY event_type, value),
cum AS (
  SELECT event_type,
         SUM(c1) OVER (PARTITION BY event_type ORDER BY value
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ce,
         SUM(c2) OVER (PARTITION BY event_type ORDER BY value
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cl,
         SUM(c1) OVER (PARTITION BY event_type) AS n1,
         SUM(c2) OVER (PARTITION BY event_type) AS n2
  FROM pv),
ks AS (
  SELECT event_type, n1, n2,
         MAX(ABS(ce * n2 - cl * n1)) AS ks_num
  FROM cum
  WHERE n1 > 0 AND n2 > 0
  GROUP BY event_type, n1, n2)
SELECT event_type,
       CAST(n1 AS BIGINT) AS n_early,
       CAST(n2 AS BIGINT) AS n_late,
       CAST(ks_num AS BIGINT) AS ks_num,
       round(CAST(ks_num AS DOUBLE) / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)), 6) AS ks_stat,
       CASE WHEN CAST(ks_num AS DOUBLE) / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))
                 > {KS_LAMBDA} * sqrt((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))
                                      / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)))
            THEN 'drift' ELSE 'stable' END AS verdict
FROM ks
ORDER BY event_type
"""


@query("profile_ks_drift", oracle=KS_DRIFT_ORACLE, category="profiling")
def profile_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov drift audit per event_type: compare
    the value distribution of the early window (ts < {KS_SPLIT}) against
    the late one and flag drift at the α=0.05 critical bound
    λ·√((n1+n2)/(n1·n2)), λ=1.36.

    The distribution-shift monitor every recurring 100 TB ingestion runs
    between drops. The KS numerator max|ce·n2 − cl·n1| stays EXACT
    integer (the statistic's denominator n1·n2 factored out), so the sup
    over the merged sample is engine-exact; the only floats are one final
    division and one correctly-rounded sqrt, identical IEEE ops on
    identical operands in both engines — ks_stat AND verdict hash-match.

    Plan: one events scan → per-(type, value) counts (map-side combined),
    ONE exchange on event_type reused by both cumulative windows, the
    per-type totals (frame-less window, no extra shuffle), and the final
    max aggregate. At 100× the per-type value relation — not the event
    stream — is what the window sorts; for a continuous-valued column at
    extreme scale the standard hardening is pre-binning values to fixed
    quantile edges, which this plan absorbs as one extra row-local map."""
    e = table(spark, sf_dir, "events").select(
        "event_type",
        "value",
        (F.col("ts") < KS_SPLIT).cast("long").alias("early"),
    )
    pv = e.groupBy("event_type", "value").agg(
        F.sum("early").alias("c1"),
        F.sum(F.lit(1) - F.col("early")).alias("c2"),
    )
    from pyspark.sql import Window

    wc = (
        Window.partitionBy("event_type")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wt = Window.partitionBy("event_type")
    cum = pv.select(
        "event_type",
        F.sum("c1").over(wc).alias("ce"),
        F.sum("c2").over(wc).alias("cl"),
        F.sum("c1").over(wt).alias("n1"),
        F.sum("c2").over(wt).alias("n2"),
    )
    ks = (
        cum.filter((F.col("n1") > 0) & (F.col("n2") > 0))
        .groupBy("event_type", "n1", "n2")
        .agg(F.max(F.abs(F.col("ce") * F.col("n2") - F.col("cl") * F.col("n1"))).alias("ks_num"))
    )
    n1d, n2d = F.col("n1").cast("double"), F.col("n2").cast("double")
    stat = F.col("ks_num").cast("double") / (n1d * n2d)
    bound = F.lit(KS_LAMBDA) * F.sqrt((n1d + n2d) / (n1d * n2d))
    return ks.select(
        "event_type",
        F.col("n1").cast("bigint").alias("n_early"),
        F.col("n2").cast("bigint").alias("n_late"),
        F.col("ks_num").cast("bigint").alias("ks_num"),
        F.round(stat, 6).alias("ks_stat"),
        F.when(stat > bound, "drift").otherwise("stable").alias("verdict"),
    ).orderBy("event_type")


# Canonical row serializations for the checksum: integers and strings
# only (cross-engine identical formatting); doubles enter as exact
# integer cents, timestamps as epoch micros. '\x1f' (unit separator)
# delimits; NULLs render as the '\x00' sentinel.
_CKSUM_TABLES = {
    "documents": (
        "CAST(doc_id AS VARCHAR)",
        "COALESCE(text, chr(0))",
        "COALESCE(lang, chr(0))",
        "COALESCE(source, chr(0))",
        "CAST(n_chars AS VARCHAR)",
    ),
    "customer": (
        "CAST(c_custkey AS VARCHAR)",
        "COALESCE(c_name, chr(0))",
        "CAST(c_nationkey AS VARCHAR)",
        "COALESCE(c_mktsegment, chr(0))",
        "CAST(CAST(round(c_acctbal * 100, 0) AS BIGINT) AS VARCHAR)",
    ),
    "events": (
        "CAST(event_id AS VARCHAR)",
        "CAST(user_id AS VARCHAR)",
        "COALESCE(event_type, chr(0))",
        "CAST(epoch_us(ts) AS VARCHAR)",
        "CAST(CAST(round(value * 1000000, 0) AS BIGINT) AS VARCHAR)",
    ),
}

_CKSUM_DIGEST = (
    "CAST(('0x' || substring(md5(concat_ws(chr(31), {cols})), 1, 15)) AS BIGINT)"
)

CHECKSUM_ORACLE = "\nUNION ALL\n".join(
    f"""SELECT '{t}' AS table_name,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(bit_xor({_CKSUM_DIGEST.format(cols=', '.join(cols))}) AS BIGINT) AS xor_checksum
FROM {t}"""
    for t, cols in sorted(_CKSUM_TABLES.items())
) + "\nORDER BY table_name"


@query("profile_table_checksum", oracle=CHECKSUM_ORACLE, category="profiling")
def profile_table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive table fingerprints: per table, the row count and
    the XOR of a 60-bit md5 digest of each row's canonical serialization
    — the one-pass validation a 100 TB migration/copy/backfill runs on
    both sides to prove the data survived (row-order independent, needs
    no sort or join, and XOR is mergeable so partial aggregation
    combines map-side; a single flipped byte in any row flips the
    fingerprint).

    Cross-engine exactness: the canonical serialization is integers and
    strings only (doubles enter as exact integer cents/micro-units,
    timestamps as epoch micros), md5 is bit-identical in both engines,
    and XOR is associative/commutative — so the fingerprint matches
    DuckDB regardless of partitioning or row order. One scan per table,
    zero shuffles beyond each table's 1-row aggregate."""
    outs = []
    for t, _cols in sorted(_CKSUM_TABLES.items()):
        rel = table(spark, sf_dir, t)
        if t == "documents":
            canon = F.concat_ws(
                "\x1f",
                F.col("doc_id").cast("string"),
                F.coalesce(F.col("text"), F.lit("\x00")),
                F.coalesce(F.col("lang"), F.lit("\x00")),
                F.coalesce(F.col("source"), F.lit("\x00")),
                F.col("n_chars").cast("string"),
            )
        elif t == "customer":
            canon = F.concat_ws(
                "\x1f",
                F.col("c_custkey").cast("string"),
                F.coalesce(F.col("c_name"), F.lit("\x00")),
                F.col("c_nationkey").cast("string"),
                F.coalesce(F.col("c_mktsegment"), F.lit("\x00")),
                F.round(F.col("c_acctbal") * 100, 0).cast("long").cast("string"),
            )
        else:  # events
            canon = F.concat_ws(
                "\x1f",
                F.col("event_id").cast("string"),
                F.col("user_id").cast("string"),
                F.coalesce(F.col("event_type"), F.lit("\x00")),
                F.unix_micros(F.col("ts")).cast("string"),
                F.round(F.col("value") * 1_000_000, 0).cast("long").cast("string"),
            )
        digest = F.conv(F.substring(F.md5(canon), 1, 15), 16, 10).cast("long")
        outs.append(
            rel.select(digest.alias("d")).agg(
                F.lit(t).alias("table_name"),
                F.count(F.lit(1)).alias("n_rows"),
                F.bit_xor(F.col("d")).alias("xor_checksum"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("table_name")
