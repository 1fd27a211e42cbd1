"""Batch sessionization and time-bucket rollup over the events stream table.

The reference has no time-series operators (SURVEY §2-C: its query surface
is point lookup + semi-joins, README.md:103-157 in /root/reference); these
are the event-pipeline additions a log/training-data workload needs, kept
fully native (no UDFs) so they stay inside whole-stage codegen.

Scale notes:

- **Gap sessionization** is the lag→flag→cumulative-sum formulation: ONE
  shuffle on ``user_id`` for the window, and the follow-up per-session
  aggregate reuses that partitioning (HashPartitioning(user_id) satisfies
  the clustered distribution of groupBy(user_id, session_seq)), so the
  whole operator is a single exchange regardless of data size. The naive
  alternative — self-join events to events within a time range — is
  quadratic per user and unusable at 100 TB.
- **Time-bucket rollup** is a plain partial+final hash aggregate on
  (bucket, event_type): map-side combine reduces each executor's output to
  ~|buckets × types| rows before the only shuffle. This is the
  "hypertable downsample" shape — at 100 TB the pre-aggregated shuffle is
  tiny relative to input.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from wd2sql_spark.catalog import events, sf_key
from wd2sql_spark.queries._determinism import exact_sum_at
from wd2sql_spark.queries.registry import query
from wd2sql_spark.session_cache import memo

GAP_MIN = 30  # session gap threshold, minutes

SESSIONIZE_ORACLE = f"""
WITH flagged AS (
  SELECT user_id, ts, event_id, event_type, value,
         CASE WHEN LAG(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) > {GAP_MIN} * 60 * 1000000
              THEN 1 ELSE 0 END AS is_start
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessioned AS (
  SELECT *, SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
  FROM flagged
)
SELECT user_id,
       CAST(session_seq AS BIGINT) AS session_seq,
       MIN(ts) AS session_start,
       MAX(ts) AS session_end,
       COUNT(*) AS n_events,
       CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_clicks,
       ((2 * SUM(CAST(round(value * 1000000, 0) AS BIGINT)) + 10000) // 20000) / 100.0 AS total_value
FROM sessioned
GROUP BY user_id, session_seq
ORDER BY user_id, session_seq
"""


@query("sessionize_gap30m", oracle=SESSIONIZE_ORACLE, category="sessionization")
def sessionize_gap30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization: a new session starts when a user is idle
    longer than 30 minutes; emit per-session start/end/counts/value.

    lag → boundary flag → running sum = session id; then aggregate per
    (user_id, session_seq). Single shuffle (see module docstring).
    Skew caveat: the window partitions by user_id alone, so one
    hyperactive user serializes a task (measured 3.8× degradation with a
    25% hot key, SCALE.md) — :func:`sessionize_gap30m_skewsafe` is the
    identical-answer two-level form bounded at events/user/day.

    Driver-hash notes (both bitten in r2): the oracle's windowed SUM is a
    DuckDB HUGEINT, which pandas renders float64 ("1.0" vs Spark's "1") —
    it must be CAST to BIGINT; and the rounded money sum uses exact_sum_at
    so the half-up decision happens on exact integers in both engines."""
    order = ["ts", "event_id"]  # event_id tiebreak → total order per user
    w = Window.partitionBy("user_id").orderBy(*order)
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    e = events(spark, sf_dir)
    prev_ts = F.lag(F.unix_micros(F.col("ts"))).over(w)
    flagged = e.withColumn(
        "is_start",
        F.when(
            prev_ts.isNull()
            | (F.unix_micros(F.col("ts")) - prev_ts > GAP_MIN * 60 * 1_000_000),
            1,
        ).otherwise(0),
    )
    sessioned = flagged.withColumn("session_seq", F.sum("is_start").over(wsum))
    return (
        sessioned.groupBy("user_id", "session_seq")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias("n_clicks"),
            exact_sum_at(F.col("value"), 6, 2).alias("total_value"),
        )
        .orderBy("user_id", "session_seq")
    )


@query("sessionize_gap30m_skewsafe", oracle=SESSIONIZE_ORACLE, category="sessionization", plan_cached=True)
def sessionize_gap30m_skewsafe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level gap sessionization — identical answers to
    :func:`sessionize_gap30m` (it shares the SAME DuckDB oracle, so the
    equivalence is hash-checked), but skew-bounded for the hyperactive-user
    case the single-window form cannot survive at 100 TB.

    The plain formulation partitions ONE window by ``user_id``: a bot
    account with 10^9 events serializes an entire executor. Here the
    fact-sized work partitions by ``(user_id, day)`` — skew is bounded by
    events-per-user-per-DAY — in three steps:

    1. lag→flag→running-sum sessionize WITHIN each (user, day) bucket,
       then reduce to per-(user, day, local_seq) partial aggregates
       (min/max ts, counts, exact integer value units). Window and
       partial aggregate share the one fact-sized (user_id, day) exchange
       (HashPartitioning(user, day) satisfies the grouping's clustered
       distribution).
    2. per-bucket summaries (n_sessions, first/last event ts) — one row
       per user-day — get a tiny user_id window that decides, per bucket,
       whether its first local session CONTINUES the previous bucket's
       last session (boundary gap ≤ threshold) and the running count of
       distinct sessions before it. The bucket width (1 day) exceeds the
       gap (30 min), so only time-adjacent buckets can merge and chains
       of any length telescope through the prefix sum:
       ``global_seq = prefix + local_seq - merge_flag``.
    3. merge the partials per (user, global session): sums of exact
       integer units re-round with the same half-up integer arithmetic
       (round_units_at), so the money total is bit-identical to the
       one-shot exact_sum_at.

    The only full-data shuffle is the (user, day) exchange of step 1;
    steps 2-3 move per-bucket and per-session partials."""
    from wd2sql_spark.queries._determinism import round_units_at

    gap_us = GAP_MIN * 60 * 1_000_000
    e = events(spark, sf_dir).withColumn("day", F.to_date("ts"))
    wb = Window.partitionBy("user_id", "day").orderBy("ts", "event_id")
    prev_ts = F.lag(F.unix_micros(F.col("ts"))).over(wb)
    flagged = e.withColumn(
        "is_start",
        F.when(
            prev_ts.isNull() | (F.unix_micros(F.col("ts")) - prev_ts > gap_us), 1
        ).otherwise(0),
    )
    local = flagged.withColumn(
        "lseq",
        F.sum("is_start").over(wb.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    part = local.groupBy("user_id", "day", "lseq").agg(
        F.min("ts").alias("p_start"),
        F.max("ts").alias("p_end"),
        F.count(F.lit(1)).alias("p_n"),
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias("p_clicks"),
        F.sum(F.round(F.col("value") * 1_000_000, 0).cast("long")).alias("p_units"),
    )
    # part feeds BOTH the bucket summary and the final merge; without a
    # persist the physical plan recomputes the fact-sized scan→window→
    # partial pipeline once per consumer (measured 2x the whole operator's
    # cost). The cached relation is one small row per session-bucket.
    part = memo(spark, "sessionization.skewsafe_part", sf_key(sf_dir), part.persist)
    wday = Window.partitionBy("user_id").orderBy("day")
    bucket = (
        part.groupBy("user_id", "day")
        .agg(
            F.max("lseq").alias("n_sessions"),
            F.min("p_start").alias("b_first"),
            F.max("p_end").alias("b_last"),
        )
        .withColumn("prev_last", F.lag("b_last").over(wday))
        .withColumn(
            "m",
            F.when(
                F.col("prev_last").isNotNull()
                & (F.unix_micros("b_first") - F.unix_micros("prev_last") <= gap_us),
                1,
            ).otherwise(0),
        )
        .withColumn(
            "prefix",
            F.coalesce(
                F.sum(F.col("n_sessions") - F.col("m")).over(
                    wday.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .select("user_id", "day", "m", "prefix")
    )
    merged = part.join(bucket, ["user_id", "day"]).withColumn(
        "session_seq", (F.col("prefix") + F.col("lseq") - F.col("m")).cast("long")
    )
    return (
        merged.groupBy("user_id", "session_seq")
        .agg(
            F.min("p_start").alias("session_start"),
            F.max("p_end").alias("session_end"),
            F.sum("p_n").alias("n_events"),
            F.sum("p_clicks").alias("n_clicks"),
            round_units_at(F.sum("p_units"), 6, 2).alias("total_value"),
        )
        .orderBy("user_id", "session_seq")
    )


RETENTION_ORACLE = """
WITH firsted AS (
  SELECT user_id, ts,
         MIN(CAST(ts AS DATE)) OVER (PARTITION BY user_id) AS cohort_day
  FROM events
)
SELECT cohort_day,
       date_diff('day', cohort_day, CAST(ts AS DATE)) AS day_offset,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_active
FROM firsted
GROUP BY cohort_day, day_offset
ORDER BY cohort_day, day_offset
"""


@query("retention_daily_cohorts", oracle=RETENTION_ORACLE, category="retention")
def retention_daily_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users cohorted by the day of their first
    event; for each (cohort_day, day_offset) count distinct users active
    that day.

    One full-frame window MIN on Window.partitionBy(user_id) assigns the
    cohort (single shuffle over the fact), then a distinct-count aggregate
    on the tiny (cohort, offset) key space. Versus the groupBy-then-join
    alternative this saves the second fact-wide shuffle of joining the
    cohort table back; at 100 TB the (cohort, offset) agg input is already
    pre-shrunk map-side by partial aggregation."""
    w_all = Window.partitionBy("user_id").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    e = events(spark, sf_dir).select("user_id", F.to_date(F.col("ts")).alias("day"))
    firsted = e.withColumn("cohort_day", F.min("day").over(w_all))
    return (
        firsted.groupBy(
            "cohort_day", F.datediff(F.col("day"), F.col("cohort_day")).alias("day_offset")
        )
        .agg(F.count_distinct(F.col("user_id")).alias("n_active"))
        .orderBy("cohort_day", "day_offset")
    )


CONVERT_H = 24  # per-stage conversion window, hours

FUNNEL_ORACLE = f"""
WITH staged AS (
  SELECT user_id, event_type, epoch_us(ts) AS us,
         MIN(CASE WHEN event_type = 'view' THEN epoch_us(ts) END)
           OVER (PARTITION BY user_id) AS first_view_us
  FROM events
),
staged2 AS (
  SELECT *,
         MIN(CASE WHEN event_type = 'click'
                   AND us >= first_view_us
                   AND us <= first_view_us + {CONVERT_H * 3600 * 1000000}
                  THEN us END)
           OVER (PARTITION BY user_id) AS first_click_us
  FROM staged
),
per_user AS (
  SELECT user_id,
         MAX(CASE WHEN first_view_us IS NOT NULL THEN 1 ELSE 0 END) AS reached_view,
         MAX(CASE WHEN first_click_us IS NOT NULL THEN 1 ELSE 0 END) AS reached_click,
         MAX(CASE WHEN event_type = 'purchase'
                   AND us >= first_click_us
                   AND us <= first_click_us + {CONVERT_H * 3600 * 1000000}
                  THEN 1 ELSE 0 END) AS reached_purchase
  FROM staged2
  GROUP BY user_id
)
SELECT COUNT(*) AS n_users,
       CAST(SUM(reached_view) AS BIGINT) AS n_view,
       CAST(SUM(reached_click) AS BIGINT) AS n_view_click,
       CAST(SUM(reached_purchase) AS BIGINT) AS n_view_click_purchase
FROM per_user
"""


@query("funnel_view_click_purchase", oracle=FUNNEL_ORACLE, category="funnel")
def funnel_view_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bounded ordered conversion funnel: users who view, then click
    within 24h of their FIRST view, then purchase within 24h of that first
    qualifying click.

    Formulation: two nested full-frame window MINs over one
    Window.partitionBy(user_id) — both window passes and the per-user
    aggregate share HashPartitioning(user_id), so the whole funnel is ONE
    data shuffle, then a single-row global aggregate. The naive per-stage
    self-join (events ⋈ events ⋈ events on user + time range) shuffles the
    fact three times and explodes on heavy users; this stays linear at
    100 TB. Micros arithmetic on both sides so the engines compare the
    same integers."""
    bound_us = CONVERT_H * 3600 * 1_000_000
    w_all = Window.partitionBy("user_id").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    e = events(spark, sf_dir).select(
        "user_id", "event_type", F.unix_micros(F.col("ts")).alias("us")
    )
    staged = e.withColumn(
        "first_view_us",
        F.min(F.when(F.col("event_type") == "view", F.col("us"))).over(w_all),
    ).withColumn(
        "first_click_us",
        F.min(
            F.when(
                (F.col("event_type") == "click")
                & (F.col("us") >= F.col("first_view_us"))
                & (F.col("us") <= F.col("first_view_us") + bound_us),
                F.col("us"),
            )
        ).over(w_all),
    )
    per_user = staged.groupBy("user_id").agg(
        F.max(F.when(F.col("first_view_us").isNotNull(), 1).otherwise(0)).alias("reached_view"),
        F.max(F.when(F.col("first_click_us").isNotNull(), 1).otherwise(0)).alias("reached_click"),
        F.max(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("us") >= F.col("first_click_us"))
                & (F.col("us") <= F.col("first_click_us") + bound_us),
                1,
            ).otherwise(0)
        ).alias("reached_purchase"),
    )
    return per_user.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("reached_view").cast("long").alias("n_view"),
        F.sum("reached_click").cast("long").alias("n_view_click"),
        F.sum("reached_purchase").cast("long").alias("n_view_click_purchase"),
    )


DOWNSAMPLE_ORACLE = """
SELECT date_trunc('hour', ts) AS bucket,
       event_type,
       COUNT(*) AS n_events,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       ((2 * SUM(CAST(round(value * 1000000, 0) AS BIGINT)) + 10000) // 20000) / 100.0 AS total_value,
       ((2 * SUM(CAST(round(value * 1000000, 0) AS BIGINT)) + 100 * COUNT(*))
        // (200 * COUNT(*))) / 10000.0 AS avg_value
FROM events
GROUP BY bucket, event_type
ORDER BY bucket, event_type
"""


@query("ts_downsample_hourly", oracle=DOWNSAMPLE_ORACLE, category="sessionization")
def ts_downsample_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly time-bucket rollup per event type: the downsampling shape of
    a time-series store, as one partial+final hash aggregate. avg is
    rounded in pure integer arithmetic (exact_avg_at) — a double round of
    the quotient flips on half boundaries between engines (caught by the
    sf0.1 sweep)."""
    from wd2sql_spark.queries._determinism import exact_avg_at

    e = events(spark, sf_dir)
    return (
        e.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("bucket"), F.col("event_type")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count_distinct(F.col("user_id")).alias("n_users"),
            exact_sum_at(F.col("value"), 6, 2).alias("total_value"),
            exact_avg_at(F.col("value"), 6, 4).alias("avg_value"),
        )
        .orderBy("bucket", "event_type")
    )


ANOMALY_ORACLE = """
WITH m AS (
  SELECT event_type,
         COUNT(*) AS n,
         SUM(CAST(round(value * 1000000, 0) AS BIGINT)) AS sx,
         SUM(CAST(round(value * 1000000, 0) AS BIGINT)
             * CAST(round(value * 1000000, 0) AS BIGINT)) AS sxx
  FROM events GROUP BY event_type
),
stats AS (
  SELECT event_type, n,
         CAST(sx AS DOUBLE) / n / 1000000.0 AS mean,
         sqrt(CAST(n * sxx - sx * sx AS DOUBLE) / (CAST(n AS DOUBLE) * (n - 1))) / 1000000.0 AS sd
  FROM m
)
SELECT e.event_type,
       s.n,
       round(s.mean, 4) AS mean_value,
       round(s.sd, 4) AS stddev_value,
       CAST(SUM(CASE WHEN abs(e.value - s.mean) > 3 * s.sd THEN 1 ELSE 0 END) AS BIGINT)
         AS n_anomalies
FROM events e JOIN stats s ON e.event_type = s.event_type
GROUP BY e.event_type, s.n, s.mean, s.sd
ORDER BY e.event_type
"""


@query("anomaly_zscore_by_type", oracle=ANOMALY_ORACLE, category="sessionization")
def anomaly_zscore_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type 3-sigma outlier count: the monitoring/data-quality
    shape. Mean/stddev come from exact integer moment sums (see
    agg_stats_moments — the built-in double aggregates are
    order-sensitive and can't hash-match), the tiny per-type stats table
    broadcasts back onto the fact, and the outlier test + count is a
    second single-shuffle aggregate. Two passes over events, zero
    fact-sized shuffles beyond the aggregates themselves."""
    x = F.round(F.col("value") * 1_000_000, 0).cast("long")
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    e = events(spark, sf_dir)
    m = e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec(x)).alias("sx"),
        F.sum(dec(x * x)).alias("sxx"),
    )
    n, sx, sxx = F.col("n"), F.col("sx"), F.col("sxx")
    stats = m.select(
        "event_type",
        "n",
        (sx.cast("double") / n / 1_000_000.0).alias("mean"),
        (
            F.sqrt((n * sxx - sx * sx).cast("double") / (n.cast("double") * (n - 1)))
            / 1_000_000.0
        ).alias("sd"),
    )
    s = F.broadcast(stats).alias("s")
    return (
        e.alias("e")
        .join(s, "event_type")
        .groupBy("event_type", "n", "mean", "sd")
        .agg(
            F.sum(
                F.when(F.abs(F.col("value") - F.col("mean")) > 3 * F.col("sd"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_anomalies")
        )
        .select(
            "event_type",
            "n",
            F.round("mean", 4).alias("mean_value"),
            F.round("sd", 4).alias("stddev_value"),
            "n_anomalies",
        )
        .orderBy("event_type")
    )


GAPFILL_ORACLE = """
WITH bounds AS (
  SELECT CAST(min(ts) AS DATE) AS d0, CAST(max(ts) AS DATE) AS d1 FROM events
),
spine AS (
  SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day FROM bounds
),
daily AS (
  SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n
  FROM events WHERE event_type = 'purchase' GROUP BY day
)
SELECT s.day, COALESCE(d.n, 0) AS n_purchases
FROM spine s LEFT JOIN daily d ON s.day = d.day
ORDER BY s.day
"""


@query("gapfill_daily_purchases", oracle=GAPFILL_ORACLE, category="sessionization")
def gapfill_daily_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense daily purchase counts with zero-filled gaps: a generated
    date spine (sequence + explode over the observed min/max — a 1-row
    driver-side-free subplan) left-joined to the per-day aggregate.
    The aggregate side is tiny (one row per day), so the spine join
    broadcasts; the only fact-sized work is the day-keyed partial+final
    count. Time-series charts and training-cadence dashboards need this
    shape because missing days must read as 0, not NULL/absent."""

    e = events(spark, sf_dir)
    # ONE events pass (r9): aggregate ALL events per day with a
    # conditional purchase count — the spine bounds derive from the
    # per-day relation (to_date is monotone, so min/max day ≡
    # to_date(min/max ts)), and purchase-free days that HAVE events
    # carry n=0 straight through the join. The old form scanned events
    # twice (bounds + purchase-filtered aggregate).
    daily = memo(
        spark,
        "sessionization.gapfill_daily",
        sf_key(sf_dir),
        e.groupBy(F.to_date(F.col("ts")).alias("day")).agg(
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("n")
        ).persist,
    )
    bounds = daily.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    spine = bounds.select(
        F.explode(F.sequence(F.col("d0"), F.col("d1"))).alias("day")
    )
    return (
        spine.join(F.broadcast(daily), "day", "left")
        .select("day", F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n_purchases"))
        .orderBy("day")
    )


INTERP_ORACLE = """
WITH bounds AS (
  SELECT date_trunc('hour', min(ts)) AS h0, date_trunc('hour', max(ts)) AS h1 FROM events
),
spine AS (
  SELECT t.event_type, unnest(generate_series(b.h0, b.h1, INTERVAL 1 HOUR)) AS bucket
  FROM bounds b, (SELECT DISTINCT event_type FROM events) t
),
hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS bucket,
         COUNT(*) AS n,
         CAST((2 * SUM(CAST(round(value * 1000000, 0) AS BIGINT)) + 100 * COUNT(*))
              // (200 * COUNT(*)) AS BIGINT) AS units
  FROM events GROUP BY 1, 2
),
joined AS (
  SELECT s.event_type, s.bucket, h.n, h.units,
         epoch_us(s.bucket) // 3600000000 AS hr
  FROM spine s LEFT JOIN hourly h USING (event_type, bucket)
),
filled AS (
  SELECT *,
         last_value(units IGNORE NULLS) OVER w AS p_units,
         last_value(CASE WHEN units IS NOT NULL THEN hr END IGNORE NULLS) OVER w AS p_hr,
         first_value(units IGNORE NULLS) OVER wf AS f_units,
         first_value(CASE WHEN units IS NOT NULL THEN hr END IGNORE NULLS) OVER wf AS f_hr
  FROM joined
  WINDOW w  AS (PARTITION BY event_type ORDER BY bucket
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         wf AS (PARTITION BY event_type ORDER BY bucket
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT event_type, bucket,
       CAST(COALESCE(n, 0) AS BIGINT) AS n_events,
       CASE
         WHEN units IS NOT NULL THEN units
         WHEN p_units IS NOT NULL AND f_units IS NOT NULL
           THEN p_units + ((f_units - p_units) * (hr - p_hr)) // (f_hr - p_hr)
         ELSE NULL END / 10000.0 AS avg_value,
       CASE WHEN units IS NULL AND p_units IS NOT NULL AND f_units IS NOT NULL
            THEN 1 ELSE 0 END AS interpolated
FROM filled
ORDER BY event_type, bucket
"""


@query("ts_gapfill_interpolate", oracle=INTERP_ORACLE, category="sessionization")
def ts_gapfill_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly per-series downsample with LINEAR INTERPOLATION across empty
    buckets — the "hypertable interpolate" sibling of the zero-fill
    (gapfill_daily_purchases): charts and feature pipelines want a dense,
    smooth series, not zeros, through observation gaps.

    Dense spine (sequence+explode over observed bounds) × series keys,
    left-joined to the hourly aggregate; previous/next known points via
    last/first IGNORE NULLS windows per series; then the interpolation is
    computed ENTIRELY in integer arithmetic — per-bucket avg as half-up
    1e-4 units (exact_avg_at's integer core) and
    ``prev + (next−prev)·Δt // span`` on an hour-index time axis — so the
    filled values are bit-identical in both engines (a double-domain
    interpolation could land on rounding half-boundaries; an hour index
    keeps the product far under 2^63). Buckets before a series' first or
    after its last observation stay NULL, flagged by ``interpolated``.

    Scale: the fact-sized work is one partial+final hash aggregate; the
    windows run over the tiny (series × hour) spine, partitioned by the
    series key (here event_type; a real deployment partitions by
    sensor/series id — thousands of independent partitions)."""
    from wd2sql_spark.queries._determinism import _int_div


    e = events(spark, sf_dir)
    n = F.count(F.lit(1))
    s = F.sum(F.round(F.col("value") * 1_000_000, 0).cast("long"))
    # ONE events pass: the hourly aggregate is persisted and the spine's
    # inputs DERIVE from it — min/max bucket ≡ date_trunc(hour, min/max ts)
    # (truncation is monotone) and every series key appears in some
    # bucket, so the distinct over the tiny aggregate equals the distinct
    # over the fact. The old form scanned events three times (bounds,
    # keys, aggregate — r9 executed-plan probe, no exchange reuse).
    hourly = memo(
        spark,
        "sessionization.gapfill_hourly",
        sf_key(sf_dir),
        e.groupBy("event_type", F.date_trunc("hour", F.col("ts")).alias("bucket")).agg(
            n.alias("n"),
            _int_div(F.lit(2) * s + F.lit(100) * n, F.lit(200) * n).alias("units"),
        ).persist,
    )
    bounds = hourly.agg(F.min("bucket").alias("h0"), F.max("bucket").alias("h1"))
    spine = (
        hourly.select("event_type")
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .select(
            "event_type",
            F.explode(
                F.sequence(F.col("h0"), F.col("h1"), F.expr("INTERVAL 1 HOUR"))
            ).alias("bucket"),
        )
    )
    joined = spine.join(hourly, ["event_type", "bucket"], "left").withColumn(
        "hr", F.expr("unix_micros(bucket) div 3600000000")
    )
    known_hr = F.when(F.col("units").isNotNull(), F.col("hr"))
    wp = Window.partitionBy("event_type").orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wf = Window.partitionBy("event_type").orderBy("bucket").rowsBetween(
        Window.currentRow, Window.unboundedFollowing
    )
    filled = (
        joined.withColumn("p_units", F.last("units", ignorenulls=True).over(wp))
        .withColumn("p_hr", F.last(known_hr, ignorenulls=True).over(wp))
        .withColumn("f_units", F.first("units", ignorenulls=True).over(wf))
        .withColumn("f_hr", F.first(known_hr, ignorenulls=True).over(wf))
    )
    interp = F.col("p_units") + _int_div(
        (F.col("f_units") - F.col("p_units")) * (F.col("hr") - F.col("p_hr")),
        F.col("f_hr") - F.col("p_hr"),
    )
    return filled.select(
        "event_type",
        "bucket",
        F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n_events"),
        (
            F.when(F.col("units").isNotNull(), F.col("units"))
            .when(F.col("p_units").isNotNull() & F.col("f_units").isNotNull(), interp)
            / 10000.0
        ).alias("avg_value"),
        F.when(
            F.col("units").isNull()
            & F.col("p_units").isNotNull()
            & F.col("f_units").isNotNull(),
            1,
        )
        .otherwise(0)
        .alias("interpolated"),
    ).orderBy("event_type", "bucket")


ADJACENCY_ORACLE = """
WITH seq AS (
  SELECT user_id, ts, event_id, event_type,
         LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
  FROM events
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_error_then_purchase,
       MIN(ts) AS first_occurrence
FROM seq
WHERE prev_type = 'error' AND event_type = 'purchase'
GROUP BY user_id
ORDER BY user_id
"""


@query("seq_error_then_purchase", oracle=ADJACENCY_ORACLE, category="sessionization")
def seq_error_then_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjacent-pair sequence detection: users who purchased IMMEDIATELY
    after an error (no intervening event), with occurrence count and
    first time — the MATCH_RECOGNIZE-lite shape done portably with lag.
    Unlike the funnel (eventual order), adjacency needs the exact
    predecessor, which is one lag over the same single user_id exchange
    the other event-pipeline operators ride; the (ts, event_id) tiebreak
    makes the predecessor well-defined under timestamp ties in both
    engines."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    e = events(spark, sf_dir)
    seq = e.withColumn("prev_type", F.lag("event_type").over(w))
    return (
        seq.filter((F.col("prev_type") == "error") & (F.col("event_type") == "purchase"))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_error_then_purchase"),
            F.min("ts").alias("first_occurrence"),
        )
        .orderBy("user_id")
    )
