"""Known-answer tests for the graph kernels (operators/graph_ops.py) on
hand-checkable graphs — the oracle-differential harness proves the
registered queries against DuckDB; these pin the kernel algebra itself
(triangle enumeration uniqueness, PageRank mass behavior) where a wrong
join condition could still produce a self-consistent, oracle-matching
projection of the wrong graph quantity."""

from __future__ import annotations

from pyspark.sql import functions as F

from wd2sql_spark.operators.graph_ops import pagerank_ranks, triangles


def _und(spark, pairs):
    return spark.createDataFrame(
        [(min(x, y), max(x, y)) for x, y in pairs], "a long, b long"
    ).distinct()


def _directed(spark, pairs):
    return spark.createDataFrame(list(pairs), "src long, dst long")


def test_triangles_k4_enumerates_each_once(spark):
    # K4: C(4,3) = 4 triangles, each enumerated exactly once with ta<tb<tc.
    k4 = _und(spark, [(i, j) for i in range(4) for j in range(i + 1, 4)])
    rows = sorted(tuple(r) for r in triangles(k4).collect())
    assert rows == [(0, 1, 2), (0, 1, 3), (0, 2, 3), (1, 2, 3)]


def test_triangles_path_and_square_have_none(spark):
    path = _und(spark, [(0, 1), (1, 2), (2, 3)])
    assert triangles(path).count() == 0
    square = _und(spark, [(0, 1), (1, 2), (2, 3), (0, 3)])
    assert triangles(square).count() == 0


def test_triangles_shared_edge(spark):
    # Two triangles sharing edge (1,2): bowtie-with-shared-edge.
    g = _und(spark, [(1, 2), (1, 3), (2, 3), (1, 4), (2, 4)])
    rows = sorted(tuple(r) for r in triangles(g).collect())
    assert rows == [(1, 2, 3), (1, 2, 4)]


def test_pagerank_symmetric_cycle_is_uniform_fixpoint(spark):
    # 2-cycle: each node's contribution is its whole rank; the damped
    # update maps r0 -> (15*r0 + 85*r0)/100 = r0 exactly. Uniform start
    # on a regular graph is a fixpoint of the integer recurrence.
    g = _directed(spark, [(1, 2), (2, 1)])
    rows = dict(pagerank_ranks(g, iters=3, r0=1_000_000).collect())
    assert rows == {1: 1_000_000, 2: 1_000_000}


def test_pagerank_star_concentrates_rank_on_hub(spark):
    # Symmetric star (hub 0, leaves 1..4): the hub receives every leaf's
    # full contribution, leaves split the hub's rank four ways.
    leaves = range(1, 5)
    g = _directed(spark, [(0, i) for i in leaves] + [(i, 0) for i in leaves])
    rows = dict(pagerank_ranks(g, iters=3, r0=1_000_000).collect())
    assert all(rows[0] > rows[i] for i in leaves)
    assert len({rows[i] for i in leaves}) == 1  # leaves identical by symmetry
    # One exact hand-check of the first iteration, propagated twice more:
    # r1(hub) = (150000 + 85*4*250000)//100 ; r1(leaf) = (150000+85*1000000//4... )
    r_hub, r_leaf = 1_000_000, 1_000_000
    for _ in range(3):
        r_hub, r_leaf = (
            (15 * 1_000_000 + 85 * (4 * (r_leaf // 1))) // 100,
            (15 * 1_000_000 + 85 * (r_hub // 4)) // 100,
        )
    assert rows[0] == r_hub and rows[1] == r_leaf


def test_pagerank_depth_zero_returns_seed(spark):
    g = _directed(spark, [(1, 2), (2, 3), (3, 1)])
    rows = dict(pagerank_ranks(g, iters=0, r0=7).collect())
    assert rows == {1: 7, 2: 7, 3: 7}


def test_pagerank_matches_query_constants(spark):
    # The registered query's graph is bipartite-symmetric; spot-check the
    # kernel on a tiny bipartite graph against a pure-python evaluation.
    pairs = [(1, 10), (1, 11), (2, 10)]
    g = _directed(spark, [(c, s) for c, s in pairs] + [(s, c) for c, s in pairs])
    got = dict(pagerank_ranks(g, iters=3, r0=1_000_000).collect())

    out = {}
    for s, d in [(c, s) for c, s in pairs] + [(s, c) for c, s in pairs]:
        out.setdefault(s, []).append(d)
    ranks = {n: 1_000_000 for n in out}
    for _ in range(3):
        recv: dict[int, int] = {}
        for s, dsts in out.items():
            c = ranks[s] // len(dsts)
            for d in dsts:
                recv[d] = recv.get(d, 0) + c
        ranks = {n: (15 * 1_000_000 + 85 * r) // 100 for n, r in recv.items()}
    assert got == ranks


def test_cluster_components_warm_build_runs_no_job(spark, sf_dir):
    """dedup_cluster_components reads the memoized component labels, so
    a second build in the session runs no Spark job (the rounds ran 8 per
    build while only the edges were memoized)."""
    from wd2sql_spark.queries.registry import load_all_modules

    build = load_all_modules()["dedup_cluster_components"].fn
    build(spark, sf_dir)
    sc = spark.sparkContext
    group = "components-warm-build"
    sc.setJobGroup(group, "second build of dedup_cluster_components")
    try:
        build(spark, sf_dir)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
