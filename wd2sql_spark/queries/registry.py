"""Query registry: name → (PySpark callable, DuckDB oracle SQL).

The driver contract (``__spark_entry__.py``) wants two dicts; the decorator
here keeps each query and its oracle next to each other in source so the
column aliases can't drift apart (the driver's comparison sorts columns by
name before hashing, so Spark and oracle column names MUST match).

Determinism rules every registered query follows:

- Any floating-point aggregate is wrapped in ``round(x, N)`` on BOTH sides,
  because double addition is order-sensitive and Spark/DuckDB will sum
  partitions in different orders.
- Any ``LIMIT``/top-k has a total order (tiebreak on a key column) so the
  selected rows are the same set in both engines.
- No reliance on engine-specific hash functions in oracled queries (md5 is
  the one hash both engines share bit-for-bit).
"""

from __future__ import annotations

import importlib
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

REGISTRY: dict[str, "Query"] = {}

# Battery modules, imported lazily so a bug in one module doesn't take down
# the whole registry at import time of the package.
#
# ORDER MATTERS: the driver's correctness run is capped (round 1 stopped at
# registry entry 50), so families that have no driver-green row yet are
# front-loaded — wikidata ETL goldens, scalar functions, the LLM-pipeline
# battery, streaming, sessionization, graph, curation, and setops (whose
# last member was orphaned at position 51 in round 1). The families that
# were fully driver-verified in round 1 (relational, joins, subqueries,
# pivots, aggregates, windows) come last; they stay green on the local twin
# harness (tests/test_oracle_diff.py) regardless.
_MODULES = (
    "wd2sql_spark.queries.wikidata",
    "wd2sql_spark.queries.scalar_fns",
    "wd2sql_spark.queries.llm_dedup",
    "wd2sql_spark.queries.llm_similarity",
    "wd2sql_spark.queries.llm_text",
    "wd2sql_spark.queries.llm_multimodal",
    "wd2sql_spark.queries.llm_sampling",
    "wd2sql_spark.queries.llm_quality",
    "wd2sql_spark.queries.llm_tokenize",
    "wd2sql_spark.queries.layout_q",
    "wd2sql_spark.queries.sketches",
    "wd2sql_spark.queries.llm_inference",
    "wd2sql_spark.queries.llm_decontam",
    "wd2sql_spark.queries.llm_retrieval",
    "wd2sql_spark.queries.llm_cluster",
    "wd2sql_spark.queries.llm_packing",
    "wd2sql_spark.queries.llm_selection",
    "wd2sql_spark.queries.streaming_q",
    "wd2sql_spark.queries.sessionization",
    "wd2sql_spark.queries.cdc",
    "wd2sql_spark.queries.graph",
    "wd2sql_spark.queries.graph_analytics",
    "wd2sql_spark.queries.curation",
    "wd2sql_spark.queries.profiling",
    "wd2sql_spark.queries.setops",
    "wd2sql_spark.queries.relational",
    "wd2sql_spark.queries.joins",
    "wd2sql_spark.queries.tpch_gaps",
    "wd2sql_spark.queries.temporal_joins",
    "wd2sql_spark.queries.subqueries",
    "wd2sql_spark.queries.pivots",
    "wd2sql_spark.queries.aggregates",
    "wd2sql_spark.queries.windows",
)


@dataclass(frozen=True)
class Query:
    name: str
    fn: QueryFn
    oracle: str | None  # None → driver records a weaker rows-only check
    category: str
    doc: str = ""


def query(
    name: str,
    oracle: str | None = None,
    category: str = "misc",
    plan_cached: bool = False,
) -> Callable[[QueryFn], QueryFn]:
    """Register a query. ``plan_cached=True`` memoizes the CONSTRUCTED
    (still lazy) DataFrame per session, keyed on ``catalog.sf_key(sf_dir)``
    so a rewritten fixture file rebuilds it — prepared-statement
    semantics: every invocation still executes the full plan against the
    data, but the driver-side plan build (py4j Column construction +
    Catalyst analysis, measured at 0.5-1.2 s for literal-heavy or deeply
    composed plans) is paid once per session. This matches the bench's
    declared warm methodology ("plans cached, codegen compiled").

    Do NOT set it on queries whose WORK happens at construction time
    (BPE training's eager merge-loop checkpoints, MMR's greedy collects):
    memoizing those would misreport their cost as near-zero.
    """

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        use = fn
        if plan_cached:
            from wd2sql_spark.catalog import sf_key
            from wd2sql_spark.session_cache import memo

            def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
                return memo(spark, f"plan.{name}", sf_key(sf_dir), lambda: fn(spark, sf_dir))

            wrapped.__name__ = fn.__name__
            wrapped.__doc__ = fn.__doc__
            use = wrapped
        REGISTRY[name] = Query(name=name, fn=use, oracle=oracle, category=category, doc=fn.__doc__ or "")
        return use

    return deco


# Within the module order above, hand-pick the front of the line for the
# driver's capped (~50-entry) run. Since r7 this list is MECHANIZED
# (VERDICT r6 task #2); since r8 the flag is the PLAN FINGERPRINT
# (VERDICT r7 task #2): ``python tools/gen_priority.py`` flags a query
# only when its ``tools/plan_fp.py`` fingerprint (optimized plan + schema
# + oracle + Python-eval-module ASTs) differs from the snapshot recorded
# at its latest driver attestation (``tools/plan_fps.json``).
# ``tests/test_priority.py`` fails if the flagged set isn't front-loaded
# here.
# Current layout: the flagged head is the r10-attested queries whose
# defining module or import closure changed since (the session-memo
# consolidation touched the query, operator and streaming modules that
# memoize), flagged by the timestamp fallback because the r10
# attestations have no fingerprint snapshot yet; then stalest-attested
# padding to the ~50-slot cap. See tools/gen_priority.py --explain for
# the live flag set.
_PRIORITY = (
    # flagged (tools/gen_priority.py order)
    "cluster_kmeans_embeddings",  # wd2sql_spark.queries.llm_cluster changed after r10 attestation (no fp snapshot — timestamp fallback)
    "curation_pipeline_decontam",  # wd2sql_spark.queries.curation changed after r10 attestation (no fp snapshot — timestamp fallback)
    "dedup_jaccard_prefix_filter",  # wd2sql_spark.queries.llm_dedup changed after r10 attestation (no fp snapshot — timestamp fallback)
    "dedup_minhash_lsh",  # wd2sql_spark.queries.llm_dedup changed after r10 attestation (no fp snapshot — timestamp fallback)
    "join_bloom_prefilter_semi",  # wd2sql_spark.queries.profiling changed after r10 attestation (no fp snapshot — timestamp fallback)
    "mix_token_budget_waterfill",  # wd2sql_spark.queries.graph changed after r10 attestation (no fp snapshot — timestamp fallback)
    "multimodal_decode_stats",  # wd2sql_spark.queries.llm_multimodal changed after r10 attestation (no fp snapshot — timestamp fallback)
    "multimodal_frame_sample",  # wd2sql_spark.queries.llm_multimodal changed after r10 attestation (no fp snapshot — timestamp fallback)
    "multimodal_jpeg_codec_stats",  # wd2sql_spark.queries.llm_multimodal changed after r10 attestation (no fp snapshot — timestamp fallback)
    "multimodal_luma_phash",  # wd2sql_spark.queries.llm_multimodal changed after r10 attestation (no fp snapshot — timestamp fallback)
    "multimodal_mixed_codec_stats",  # wd2sql_spark.queries.llm_multimodal changed after r10 attestation (no fp snapshot — timestamp fallback)
    "multimodal_mixed_container_stats",  # wd2sql_spark.queries.llm_multimodal changed after r10 attestation (no fp snapshot — timestamp fallback)
    "multimodal_phash_near_dup",  # wd2sql_spark.queries.llm_multimodal changed after r10 attestation (no fp snapshot — timestamp fallback)
    "multimodal_resize_thumbs",  # wd2sql_spark.queries.llm_multimodal changed after r10 attestation (no fp snapshot — timestamp fallback)
    "multimodal_truecolor_codec_stats",  # wd2sql_spark.queries.llm_multimodal changed after r10 attestation (no fp snapshot — timestamp fallback)
    "multimodal_video_demux_stats",  # wd2sql_spark.queries.llm_multimodal changed after r10 attestation (no fp snapshot — timestamp fallback)
    "pairs_contrastive_build",  # wd2sql_spark.queries.graph changed after r10 attestation (no fp snapshot — timestamp fallback)
    "quality_boilerplate_windows",  # wd2sql_spark.queries.llm_quality changed after r10 attestation (no fp snapshot — timestamp fallback)
    "quality_charlm_score",  # wd2sql_spark.queries.llm_quality changed after r10 attestation (no fp snapshot — timestamp fallback)
    "quality_oov_vocab",  # wd2sql_spark.queries.llm_quality changed after r10 attestation (no fp snapshot — timestamp fallback)
    "quality_repetition_metrics",  # wd2sql_spark.queries.llm_quality changed after r10 attestation (no fp snapshot — timestamp fallback)
    "quality_segment_dedup_rebuild",  # wd2sql_spark.queries.llm_quality changed after r10 attestation (no fp snapshot — timestamp fallback)
    "sample_dsir_importance",  # wd2sql_spark.queries.graph changed after r10 attestation (no fp snapshot — timestamp fallback)
    "sessionize_gap30m_skewsafe",  # wd2sql_spark.queries.sessionization changed after r10 attestation (no fp snapshot — timestamp fallback)
    "split_leakage_safe",  # wd2sql_spark.queries.graph changed after r10 attestation (no fp snapshot — timestamp fallback)
    "stream_dedup_within_watermark",  # wd2sql_spark.queries.llm_dedup changed after r10 attestation (no fp snapshot — timestamp fallback)
    "stream_incremental_neardup",  # wd2sql_spark.queries.llm_dedup changed after r10 attestation (no fp snapshot — timestamp fallback)
    "stream_interval_join",  # wd2sql_spark.queries.llm_dedup changed after r10 attestation (no fp snapshot — timestamp fallback)
    "stream_quality_filter",  # wd2sql_spark.queries.llm_dedup changed after r10 attestation (no fp snapshot — timestamp fallback)
    "stream_session_windows",  # wd2sql_spark.queries.llm_dedup changed after r10 attestation (no fp snapshot — timestamp fallback)
    "stream_sliding_counts",  # wd2sql_spark.queries.llm_dedup changed after r10 attestation (no fp snapshot — timestamp fallback)
    "stream_stateful_streaks",  # wd2sql_spark.queries.llm_dedup changed after r10 attestation (no fp snapshot — timestamp fallback)
    "stream_static_enrich",  # wd2sql_spark.queries.llm_dedup changed after r10 attestation (no fp snapshot — timestamp fallback)
    "stream_tumbling_counts",  # wd2sql_spark.queries.llm_dedup changed after r10 attestation (no fp snapshot — timestamp fallback)
    "stream_wd_etl_meta",  # wd2sql_spark.queries.llm_dedup changed after r10 attestation (no fp snapshot — timestamp fallback)
    "window_revenue_share",  # wd2sql_spark.operators.ids_assign changed after r10 attestation (no fp snapshot — timestamp fallback)
    # stalest-attested padding to the driver cap
    "join_left_outer",  # r5
    "join_returned_item_ranking",  # r5
    "join_semi_suppliers_with_bulk_lines",  # r5
    "join_shipping_priority_topk",  # r5
    "point_lookup_by_label",  # r5
    "projection_compute",  # r5
    "setop_distinct",  # r5
    "setop_intersect",  # r5
    "setop_union_all",  # r5
    "setop_union_distinct",  # r5
    "sim_ivf_topk",  # r5
    "sim_ivfpq_topk",  # r5
    "sim_pq_serving_topk",  # r5
    "sim_pq_topk",  # r5
)


def load_all_modules() -> dict[str, Query]:
    for mod in _MODULES:
        importlib.import_module(mod)
    ordered = {name: REGISTRY[name] for name in _PRIORITY if name in REGISTRY}
    # Sort the non-priority tail by name: REGISTRY's insertion order depends
    # on which module was imported first in this process (pytest files import
    # query modules directly), and the driver/docs need a stable ordering.
    for name in sorted(REGISTRY):
        if name not in ordered:
            ordered[name] = REGISTRY[name]
    return ordered
