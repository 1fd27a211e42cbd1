"""Sketch set-algebra battery: Apache DataSketches Theta sketches over
user segments — the mergeable SET OPERATIONS layer a 100 TB metrics
store runs next to its HLL counts (agg_hll_sketch_rollup is the
distinct-count member of this family; Theta adds intersection /
difference, which HLL fundamentally cannot express).

The scale story: per-segment Theta sketches are fixed-size summaries
built in one pass and persisted; ANY cross-segment audience question —
retained / churned / new / total — is then answered from the sketches
alone, never rescanning events. Theta sketches keep the k smallest
user-id hashes under a FIXED seed, so they are deterministic and
order-independent (unlike KLL's randomized compaction), which is what
makes a hash-checked oracle possible.

Correctness contract (same as the HLL rollup): DuckDB has no Theta
sketch, so the ESTIMATES are scored, not emitted — the exact set sizes
hash-match and each 'ok' verdict proves the corresponding estimate
landed within 5% of exact. Below k=4096 distinct values a Theta sketch
is in exact mode, so on these fixtures the verdicts cannot flake; at
real scale the 5% bar is the published accuracy envelope."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wd2sql_spark.catalog import sf_key, table
from wd2sql_spark.session_cache import memo
from wd2sql_spark.queries.registry import query

EARLY_END = "2024-01-03"
LATE_START = "2024-01-28"

KLL_RANK_ORACLE = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       'ok' AS verdict_p50,
       'ok' AS verdict_p90
FROM events
GROUP BY event_type
ORDER BY event_type
"""


@query("sketch_kll_quantile_rank", oracle=KLL_RANK_ORACLE, category="sketches")
def sketch_kll_quantile_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KLL quantile sketches (Apache DataSketches, mergeable rank/
    quantile summaries) per event_type, scored by RANK CHECK: the
    sketch's p50/p90 value estimates are joined back against the raw
    values and the true rank of each estimate must land within ±0.10 of
    the requested rank. The exact check quantities (per-type counts)
    hash-match; the verdicts prove the sketch landed inside a bound ~5x
    its k=200 rank-error envelope (~2%), so the check cannot flake even
    though KLL compaction is randomized — which is also why the
    ESTIMATED VALUES are deliberately not emitted (unlike Theta, KLL is
    not run-deterministic; only the bound is). At 100 TB the per-cell
    sketches are persisted and any rollup merges fixed-size summaries
    instead of re-sorting values."""
    e = table(spark, sf_dir, "events").select("event_type", "value")
    est = (
        e.groupBy("event_type")
        .agg(F.kll_sketch_agg_double("value").alias("sk"))
        .select(
            F.col("event_type").alias("t"),
            F.kll_sketch_get_quantile_double("sk", F.lit(0.5)).alias("q50"),
            F.kll_sketch_get_quantile_double("sk", F.lit(0.9)).alias("q90"),
        )
    )
    ranked = (
        e.join(F.broadcast(est), e["event_type"] == est["t"])
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum((F.col("value") <= F.col("q50")).cast("long")).alias("n_le_50"),
            F.sum((F.col("value") <= F.col("q90")).cast("long")).alias("n_le_90"),
        )
    )

    def rank_ok(n_le, target):
        r = n_le.cast("double") / F.col("n")
        return F.when(F.abs(r - target) <= 0.10, "ok").otherwise("off")

    return ranked.select(
        "event_type",
        "n",
        rank_ok(F.col("n_le_50"), 0.5).alias("verdict_p50"),
        rank_ok(F.col("n_le_90"), 0.9).alias("verdict_p90"),
    ).orderBy("event_type")

THETA_RETENTION_ORACLE = f"""
WITH seg AS (
  SELECT user_id,
         MAX(CASE WHEN ts < TIMESTAMP '{EARLY_END}' THEN 1 ELSE 0 END) AS he,
         MAX(CASE WHEN ts >= TIMESTAMP '{LATE_START}' THEN 1 ELSE 0 END) AS hl
  FROM events
  WHERE event_type = 'purchase'
    AND (ts < TIMESTAMP '{EARLY_END}' OR ts >= TIMESTAMP '{LATE_START}')
  GROUP BY user_id)
SELECT CAST(SUM(he * hl) AS BIGINT)       AS exact_retained,
       CAST(SUM(he * (1 - hl)) AS BIGINT) AS exact_churned,
       CAST(SUM((1 - he) * hl) AS BIGINT) AS exact_new,
       CAST(COUNT(*) AS BIGINT)           AS exact_total,
       'ok' AS verdict_retained,
       'ok' AS verdict_churned,
       'ok' AS verdict_new,
       'ok' AS verdict_total
FROM seg
"""


def _verdict(est, exact):
    """'ok' when the estimate is within 5% of exact (est == 0 must meet
    exact == 0 — the relative test alone would divide by zero)."""
    return F.when(
        (exact == 0) & (F.round(est) == 0), "ok"
    ).when(
        (exact > 0) & (F.abs(est - exact) / exact <= 0.05), "ok"
    ).otherwise("off")


@query("sketch_theta_retention_sets", oracle=THETA_RETENTION_ORACLE, category="sketches")
def sketch_theta_retention_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention set algebra from two Theta sketches: purchase users in
    the first two days vs the last three — retained = A∩B, churned =
    A\\B, new = B\\A, total = A∪B, each estimated from the sketches and
    scored against the exact user-level aggregate computed in the same
    pass. One events scan; the sketch agg is map-side combinable and
    the exact twin shuffles only (user_id, 2 bits)."""
    e = (
        table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .filter((F.col("ts") < EARLY_END) | (F.col("ts") >= LATE_START))
        .select("user_id", (F.col("ts") < EARLY_END).alias("early"))
    )
    sk = e.agg(
        F.theta_sketch_agg(F.when(F.col("early"), F.col("user_id"))).alias("sk_e"),
        F.theta_sketch_agg(F.when(~F.col("early"), F.col("user_id"))).alias("sk_l"),
    ).select(
        F.theta_sketch_estimate(F.theta_intersection("sk_e", "sk_l")).alias("est_ret"),
        F.theta_sketch_estimate(F.theta_difference("sk_e", "sk_l")).alias("est_chu"),
        F.theta_sketch_estimate(F.theta_difference("sk_l", "sk_e")).alias("est_new"),
        F.theta_sketch_estimate(F.theta_union("sk_e", "sk_l")).alias("est_tot"),
    )
    exact = (
        e.groupBy("user_id")
        .agg(
            F.max(F.col("early").cast("int")).alias("he"),
            F.max((~F.col("early")).cast("int")).alias("hl"),
        )
        .agg(
            F.sum(F.col("he") * F.col("hl")).cast("bigint").alias("exact_retained"),
            F.sum(F.col("he") * (1 - F.col("hl"))).cast("bigint").alias("exact_churned"),
            F.sum((1 - F.col("he")) * F.col("hl")).cast("bigint").alias("exact_new"),
            F.count(F.lit(1)).cast("bigint").alias("exact_total"),
        )
    )
    return exact.crossJoin(F.broadcast(sk)).select(
        "exact_retained",
        "exact_churned",
        "exact_new",
        "exact_total",
        _verdict(F.col("est_ret"), F.col("exact_retained")).alias("verdict_retained"),
        _verdict(F.col("est_chu"), F.col("exact_churned")).alias("verdict_churned"),
        _verdict(F.col("est_new"), F.col("exact_new")).alias("verdict_new"),
        _verdict(F.col("est_tot"), F.col("exact_total")).alias("verdict_total"),
    )


CMS_D = 3  # hash rows
CMS_W = 256  # buckets per row
CMS_TOPK = 10

_CMS_BUCKET = (
    "CAST(('0x' || substring(md5(CAST({u} AS VARCHAR) || ':' || {r}), 1, 8)) "
    f"AS BIGINT) % {{w}}"
)

CMS_ORACLE = f"""
WITH uc AS (SELECT user_id, COUNT(*) AS c FROM events GROUP BY user_id),
tot AS (SELECT SUM(c) AS n FROM uc),
rs AS (SELECT unnest(range(0, {CMS_D})) AS r),
cells AS (
  SELECT rs.r, {_CMS_BUCKET.format(u='uc.user_id', r='rs.r', w=CMS_W)} AS b,
         SUM(uc.c) AS cell
  FROM uc CROSS JOIN rs
  GROUP BY 1, 2),
top AS (SELECT user_id, c FROM uc ORDER BY c DESC, user_id LIMIT {CMS_TOPK}),
est AS (
  SELECT t.user_id, t.c, MIN(cells.cell) AS est
  FROM top t CROSS JOIN rs
  JOIN cells ON cells.r = rs.r
            AND cells.b = {_CMS_BUCKET.format(u='t.user_id', r='rs.r', w=CMS_W)}
  GROUP BY 1, 2)
SELECT est.user_id,
       CAST(est.c AS BIGINT) AS exact_cnt,
       CAST(est.est AS BIGINT) AS est_cnt,
       CASE WHEN est.est >= est.c THEN 'ok' ELSE 'off' END AS verdict_never_under,
       CASE WHEN est.est - est.c <= 2 * tot.n // {CMS_W} THEN 'ok' ELSE 'off' END
           AS verdict_within_eps
FROM est CROSS JOIN tot
ORDER BY exact_cnt DESC, est.user_id
"""


def _cms_bucket(u, r: int):
    """Per-row salted bucket — the md5_bucket idiom (llm_sampling.py:23)
    with the probe index appended, mirrored textually by _CMS_BUCKET."""
    h = F.conv(
        F.substring(F.md5(F.concat(u.cast("string"), F.lit(f":{r}"))), 1, 8), 16, 10
    ).cast("long")
    return h % CMS_W


@query("sketch_countmin_heavy_hitters", oracle=CMS_ORACLE, category="sketches")
def sketch_countmin_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min Sketch (Cormode & Muthukrishnan 2005) over per-user event
    counts, audited on the exact top-{CMS_TOPK} heavy hitters: est ≥ exact
    always (CMS never undercounts — structural guarantee), and
    est − exact ≤ 2N/w scores the collision mass against the published
    ε = e/w envelope. Everything is exact integer arithmetic over
    md5-derived buckets, so estimates AND verdicts hash-match the oracle.

    The scale story: the sketch build shuffles at most d·w = {CMS_D}·{CMS_W}
    partial cells per map task — NOT the user_id key space — and two CMS
    tables merge by cell-wise addition, so a 100 TB event stream keeps a
    running frequency table in constant memory where an exact count
    distinct-keys shuffle would not. The exact top-k here exists only to
    AUDIT the sketch (at production scale the candidate set comes from a
    space-saving pass or a known watchlist)."""
    e = table(spark, sf_dir, "events").select("user_id")
    cells = (
        e.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(r).alias("r"),
                            _cms_bucket(F.col("user_id"), r).alias("b"),
                        )
                        for r in range(CMS_D)
                    ]
                )
            ).alias("rb")
        )
        .groupBy(F.col("rb.r").alias("r"), F.col("rb.b").alias("b"))
        .agg(F.count(F.lit(1)).alias("cell"))
    )
    # The sketch table feeds TWO consumers (the probe join and the
    # total-mass bound); unpersisted, each embedded its own copy of the
    # build subtree — a third events scan per run (r9 executed-plan
    # probe). d·w cells is a small constant, the canonical persist case.

    cells = memo(spark, "sketches.cms_cells", sf_key(sf_dir), cells.persist)
    top = (
        e.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), "user_id")
        .limit(CMS_TOPK)
    )
    probes = top.select(
        "user_id",
        "c",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("r"),
                        _cms_bucket(F.col("user_id"), r).alias("b"),
                    )
                    for r in range(CMS_D)
                ]
            )
        ).alias("rb"),
    )
    est = (
        probes.join(
            F.broadcast(cells),
            (probes["rb.r"] == cells["r"]) & (probes["rb.b"] == cells["b"]),
        )
        .groupBy("user_id", "c")
        .agg(F.min("cell").alias("est"))
    )
    tot = cells.filter(F.col("r") == 0).agg(F.sum("cell").alias("n"))
    eps = F.call_function("div", F.lit(2) * F.col("n"), F.lit(CMS_W))
    return (
        est.crossJoin(F.broadcast(tot))
        .select(
            "user_id",
            F.col("c").cast("bigint").alias("exact_cnt"),
            F.col("est").cast("bigint").alias("est_cnt"),
            F.when(F.col("est") >= F.col("c"), "ok").otherwise("off").alias(
                "verdict_never_under"
            ),
            F.when(F.col("est") - F.col("c") <= eps, "ok").otherwise("off").alias(
                "verdict_within_eps"
            ),
        )
        .orderBy(F.col("exact_cnt").desc(), "user_id")
    )
