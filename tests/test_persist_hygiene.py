"""Battery-end persist hygiene (VERDICT r3 task 6 / ADVICE r3).

Every persisted relation in the package must be reachable through the
session memo (``session_cache.memo``: one generation per slot, whose
VALUE carries every persist handle) — so that:

1. re-running the same query does NOT accumulate cached relations
   (the battery/bench loop regime; unbounded growth caused the measured
   5x eviction-interference slowdown in tools/scale_experiment.py), and
2. ``clear_all_session_caches()`` releases every PERSISTED relation,
   leaving the session's CacheManager empty — no persisted relation
   survives unreachable. (localCheckpoint blocks are a separate class:
   they have no synchronous release API and are invisible to the
   CacheManager, so this test bounds them only via property 1 — one
   generation per slot — not via the ==0 assertion.)

The queries below are the sites ADVICE r3 flagged plus every other
memoized persist site: incremental dedup's band index, phrase retrieval's
positional filter, DSIR scoring, the leakage split's edge set,
contrastive pairs, the Hilbert layout keying, MMR (which must unpersist
its collected pool in-function), pagerank/triangles/components, k-means,
and the skew-safe sessionizer.
"""

from __future__ import annotations

import pytest

from wd2sql_spark.queries.registry import load_all_modules
from wd2sql_spark.session_cache import (
    cached_relation_count,
    clear_all_session_caches,
)

QUERIES = (
    "dedup_incremental_delta",
    "retrieval_phrase_match",
    "retrieval_mmr_diversified",
    "sample_dsir_importance",
    "split_leakage_safe",
    "pairs_contrastive_build",
    "layout_hilbert_locality",
    "graph_pagerank_iter",
    "graph_triangle_count",
    "dedup_cluster_components",
    "cluster_kmeans_embeddings",
    "sessionize_gap30m_skewsafe",
    "dedup_jaccard_prefix_filter",
)


def test_battery_leaves_no_unreachable_cache(spark, sf_dir):
    registry = load_all_modules()
    spark.catalog.clearCache()  # isolate from earlier tests' ad-hoc persists
    clear_all_session_caches()

    def run_all() -> int:
        for name in QUERIES:
            registry[name].fn(spark, sf_dir).count()
        return cached_relation_count(spark)

    first = run_all()
    second = run_all()
    # bounded: a second identical battery pass must not grow storage
    assert second <= first, (first, second)

    clear_all_session_caches()
    assert cached_relation_count(spark) == 0
