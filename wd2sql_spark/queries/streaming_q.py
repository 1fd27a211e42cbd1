"""Streaming battery over the ``events`` fixture: watermarked tumbling /
sliding / session windows, stateful dedup-within-watermark, and the
streaming variant of the wd2sql ETL.

Each query runs a REAL Structured Streaming job (file source → watermark →
stateful operator → memory sink, availableNow trigger) and returns the
materialized result, so the driver's oracle check covers the streaming
engine's output, not a batch re-phrasing. Money/value aggregates use the
exact integer-units pattern (queries/_determinism.py) like the batch
battery.

Late-data semantics: with availableNow over a static fixture every row
arrives in one load, so watermarks bound state without dropping rows —
which is what makes batch-SQL oracles exact. The late-row DROP path can't
be exercised by a deterministic single-batch fixture; it is pinned by
tests/test_streaming.py with a two-batch rate-limited run instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wd2sql_spark.catalog import sf_key, table
from wd2sql_spark.session_cache import memo
from wd2sql_spark.etl.pipeline import parse_entities
from wd2sql_spark.queries.registry import query
from wd2sql_spark.queries.wikidata import FIXTURE, META_GOLDEN
from wd2sql_spark.queries.llm_text import QUALITY_ORACLE
from wd2sql_spark.streaming.core import events_stream, run_to_batch

TUMBLING_ORACLE = """
SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS window_start,
       event_type,
       COUNT(*) AS n_events,
       round(SUM(CAST(round(value * 100, 0) AS BIGINT)) / 100.0, 2) AS total_value
FROM events
GROUP BY 1, 2
ORDER BY window_start, event_type
"""


@query("stream_tumbling_counts", oracle=TUMBLING_ORACLE, category="streaming")
def stream_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked 1-hour tumbling windows: count + exact value sum per
    (window, event_type). The 10-min watermark bounds window state at
    scale; complete output mode emits every window for the oracle diff."""
    ev = events_stream(spark, sf_dir).withWatermark("ts", "10 minutes")
    agg = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(
                F.sum(F.round(F.col("value") * 100, 0).cast("long")) / F.lit(100.0), 2
            ).alias("total_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "total_value")
    )
    return run_to_batch(agg, name="tumbling").orderBy("window_start", "event_type")


SLIDING_ORACLE = """
WITH starts AS (
  SELECT event_type, value,
         unnest([date_trunc('hour', CAST(ts AS TIMESTAMP))
                   + INTERVAL (15 * (CAST(date_part('minute', CAST(ts AS TIMESTAMP)) AS INT) // 15)) MINUTE,
                 date_trunc('hour', CAST(ts AS TIMESTAMP))
                   + INTERVAL (15 * (CAST(date_part('minute', CAST(ts AS TIMESTAMP)) AS INT) // 15)) MINUTE
                   - INTERVAL 15 MINUTE]) AS window_start
  FROM events
)
SELECT window_start, event_type, COUNT(*) AS n_events
FROM starts
GROUP BY 1, 2
ORDER BY window_start, event_type
"""


@query("stream_sliding_counts", oracle=SLIDING_ORACLE, category="streaming")
def stream_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """30-minute windows sliding every 15: each event lands in exactly two
    windows (the oracle materializes both starts per row and re-groups)."""
    ev = events_stream(spark, sf_dir).withWatermark("ts", "10 minutes")
    agg = (
        ev.groupBy(F.window("ts", "30 minutes", "15 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
    )
    return run_to_batch(agg, name="sliding").orderBy("window_start", "event_type")


SESSION_ORACLE = """
WITH o AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
         CASE WHEN CAST(ts AS TIMESTAMP) - LAG(CAST(ts AS TIMESTAMP))
                   OVER (PARTITION BY user_id ORDER BY ts) <= INTERVAL 5 MINUTE
              THEN 0 ELSE 1 END AS new_session
  FROM events
),
s AS (
  SELECT user_id, ts,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
  FROM o
)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts) + INTERVAL 5 MINUTE AS session_end,
       COUNT(*) AS n_events
FROM s
GROUP BY user_id, session_no
ORDER BY user_id, session_start
"""


@query("stream_session_windows", oracle=SESSION_ORACLE, category="streaming")
def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session windows with a 5-minute inactivity gap — Spark's
    session_window operator vs the classic gaps-and-islands SQL. Session
    end = last event + gap in both."""
    ev = events_stream(spark, sf_dir).withWatermark("ts", "10 minutes")
    agg = (
        ev.groupBy(F.session_window("ts", "5 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )
    return run_to_batch(agg, name="session").orderBy("user_id", "session_start")


DEDUP_ORACLE = """
SELECT event_type, COUNT(DISTINCT user_id) AS n_kept
FROM events
GROUP BY event_type
ORDER BY event_type
"""


@query("stream_dedup_within_watermark", oracle=DEDUP_ORACLE, category="streaming")
def stream_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming dedup: dropDuplicatesWithinWatermark on
    (user_id, event_type) keeps one row per key while the watermark bounds
    the dedup state (the scale story vs an unbounded distinct). The KEPT
    row per key is arrival-order-dependent, so the oracle checks the
    deterministic projection: kept-row count per event_type."""
    ev = events_stream(spark, sf_dir).withWatermark("ts", "10 minutes")
    kept = ev.dropDuplicatesWithinWatermark(["user_id", "event_type"])
    # count(*) over the deduped stream == count_distinct(user_id) per type
    # (streaming forbids DISTINCT aggregates; the dedup already did it).
    agg = kept.groupBy("event_type").agg(F.count("*").alias("n_kept"))
    return run_to_batch(agg, name="dedup").orderBy("event_type")


STREAK_ORACLE = """
WITH o AS (
  SELECT user_id, event_type,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
         ROW_NUMBER() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS rt
  FROM events),
runs AS (
  SELECT user_id, COUNT(*) AS run_len
  FROM o GROUP BY user_id, event_type, rn - rt)
SELECT r.user_id, e.n_events, MAX(r.run_len) AS max_streak
FROM runs r JOIN (SELECT user_id, COUNT(*) AS n_events FROM events GROUP BY user_id) e
  ON e.user_id = r.user_id
GROUP BY r.user_id, e.n_events
ORDER BY r.user_id
"""


@query("stream_stateful_streaks", oracle=STREAK_ORACLE, category="streaming")
def stream_stateful_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): per-user longest
    consecutive same-event-type streak, with the run carry held in explicit
    group state so streaks span micro-batches — not expressible as a
    windowed aggregate. Oracle is the batch gaps-and-islands SQL."""
    from wd2sql_spark.streaming.stateful import track_streaks

    ev = events_stream(spark, sf_dir).select("user_id", "ts", "event_id", "event_type")
    return run_to_batch(track_streaks(ev), output_mode="update", name="streaks").orderBy(
        "user_id"
    )


@query("stream_wd_etl_meta", oracle=META_GOLDEN, category="streaming")
def stream_wd_etl_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The wd2sql ETL as a stream: readStream.text over the dump →
    IDENTICAL transform DAG (parse/encode/project) → append sink. Checked
    against the same golden as the batch path — one dataflow, two
    execution modes (micro-batches ≈ the reference's 1000-entity
    transactions, main.rs:223-237)."""
    lines = spark.readStream.text(FIXTURE + "*")  # glob: file source needs dir/glob
    ents = parse_entities(lines)
    meta = ents.filter(F.col("_corrupt_record").isNull() & F.col("id").isNotNull()).select(
        "id",
        F.element_at(F.col("labels"), "en").getField("value").alias("label"),
        F.element_at(F.col("descriptions"), "en").getField("value").alias("description"),
    )
    return run_to_batch(meta, output_mode="append", name="wd_meta").orderBy("id")


_DOCS_SCHEMA = (
    "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG"
)


@query("stream_quality_filter", oracle=QUALITY_ORACLE, category="streaming")
def stream_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LLM quality filter as STREAMING ingest: readStream over the
    documents store → the identical stateless quality projection
    (queries/llm_text.quality_projection) → append sink. One dataflow,
    two execution modes — new document shards score incrementally as they
    land, which is how a production corpus actually arrives. Stateless
    append with availableNow is batch-exact, so this carries the SAME
    full-hash oracle as the batch twin (text_quality_score)."""
    from wd2sql_spark.queries.llm_text import quality_projection

    d = spark.readStream.schema(_DOCS_SCHEMA).parquet(f"{sf_dir}/documents*.parquet")
    return run_to_batch(quality_projection(d), output_mode="append", name="quality").orderBy(
        "doc_id"
    )


INTERVAL_JOIN_ORACLE = """
SELECT v.user_id,
       v.event_id AS view_id,
       c.event_id AS click_id,
       CAST(v.ts AS TIMESTAMP) AS view_ts,
       CAST(c.ts AS TIMESTAMP) AS click_ts
FROM events v
JOIN events c
  ON v.user_id = c.user_id
 AND v.event_type = 'view' AND c.event_type = 'click'
 AND CAST(c.ts AS TIMESTAMP) >= CAST(v.ts AS TIMESTAMP)
 AND CAST(c.ts AS TIMESTAMP) <= CAST(v.ts AS TIMESTAMP) + INTERVAL 30 MINUTE
ORDER BY v.user_id, view_id, click_id
"""


@query("stream_interval_join", oracle=INTERVAL_JOIN_ORACLE, category="streaming")
def stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join: each view matched to the same user's
    clicks arriving within the next 30 minutes.

    Both sides carry watermarks and the join condition bounds event time
    on BOTH ends, so the state store retains only ~watermark+interval of
    each side — the requirement for an unbounded stream-stream join to
    run forever. Append mode (the only mode stream-stream joins support);
    availableNow over the fixture makes the result exact for the batch
    oracle."""
    v = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "view")
        .select("user_id", F.col("event_id").alias("view_id"), F.col("ts").alias("view_ts"))
        .withWatermark("view_ts", "1 hour")
    )
    c = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    j = v.join(
        c,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("click_ts") >= F.col("view_ts"))
        & (F.col("click_ts") <= F.col("view_ts") + F.expr("INTERVAL 30 MINUTES")),
    ).select("user_id", "view_id", "click_id", "view_ts", "click_ts")
    return run_to_batch(j, output_mode="append", name="ijoin").orderBy(
        "user_id", "view_id", "click_id"
    )


STATIC_ENRICH_ORACLE = """
SELECT e.event_id, e.user_id, c.c_name, e.event_type,
       CAST(e.ts AS TIMESTAMP) AS ts
FROM events e
JOIN customer c ON e.user_id = c.c_custkey
WHERE e.event_type IN ('purchase', 'signup')
ORDER BY e.event_id
"""


@query("stream_static_enrich", oracle=STATIC_ENRICH_ORACLE, category="streaming")
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the streaming events feed enriched with the
    static customer dimension (user_id = c_custkey). The static side is
    re-read per micro-batch and broadcast — no state store involved, the
    canonical dimension-lookup pattern; the stream stays append-only so
    no watermark is needed."""
    ev = events_stream(spark, sf_dir).filter(
        F.col("event_type").isin("purchase", "signup")
    )
    # session-cached scan (r10): a fresh read.parquet per call paid a
    # ~0.13 s footer/schema read of pure driver time per bench sample
    c = table(spark, sf_dir, "customer").select(F.col("c_custkey"), "c_name")
    j = ev.join(F.broadcast(c), ev["user_id"] == c["c_custkey"]).select(
        "event_id", "user_id", "c_name", "event_type", "ts"
    )
    return run_to_batch(j, output_mode="append", name="senrich").orderBy("event_id")


# shares the batch twin's oracle verbatim: availableNow + stateless banding
# + stream-static probe + streaming dropDuplicates is batch-exact
from wd2sql_spark.queries.llm_dedup import INCREMENTAL_ORACLE as _INC_ORACLE


@query("stream_incremental_neardup", oracle=_INC_ORACLE, category="streaming")
def stream_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup admission as STREAMING ingest: new documents
    stream in, each micro-batch is banded by ``minhash_band_index`` (on a
    stream it takes the row-local array_min form — no per-doc
    aggregation, so the probe stays append-exact with zero stateful
    aggregation), and ``incremental_index_probe`` probes the STATIC
    corpus LSH index with a stream-static band join; the only streaming
    state is the probe's dropDuplicates suppressing repeat band hits of
    the same pair. This is how a production corpus actually admits a
    crawl drop: the corpus index is a persisted artifact, the delta never
    touches it beyond the bucket join, and matches stream out as
    documents land. Same 10%/90% md5 split, probe and full-hash oracle as
    the batch twin (dedup_incremental_delta).

    The corpus index is persisted and memoized (r9, guide §5): the static
    side of a stream-static join is re-executed EVERY micro-batch, so an
    unpersisted index re-ran the whole corpus tokenize→shingle→minhash
    pass (~1.4 s batch-measured at sf0.1) inside the stream — exactly
    what the docstring's "persisted artifact" framing says production
    never does. The batch twin has persisted this index since r5; the
    stream twin now matches (5.43 → 3.39 s warm lifecycle at sf0.1,
    min-of-4 same-host A/B)."""
    from wd2sql_spark.operators import dedup as D
    from wd2sql_spark.queries.llm_sampling import md5_bucket

    # session-cached scan (r10) — same footer-read amortization as above
    docs = table(spark, sf_dir, "documents")
    is_delta = md5_bucket(F.col("doc_id"), 100) < 10
    corpus_idx = memo(
        spark,
        "streaming_q.neardup_corpus_index",
        sf_key(sf_dir),
        D.minhash_band_index(docs.filter(~is_delta)).persist,
    )

    sdocs = spark.readStream.schema(_DOCS_SCHEMA).parquet(f"{sf_dir}/documents*.parquet")
    delta_idx = D.minhash_band_index(sdocs.filter(md5_bucket(F.col("doc_id"), 100) < 10))
    matches = D.incremental_index_probe(corpus_idx, delta_idx, min_est_jaccard=0.25).select(
        F.col("delta_id").cast("bigint"),
        F.col("corpus_id").cast("bigint"),
        F.col("est_jaccard").cast("double"),
    )
    return run_to_batch(matches, output_mode="append", name="incdedup").orderBy(
        F.col("est_jaccard").desc(), "delta_id", "corpus_id"
    )
