"""Property-based checks of the graph kernels (operators/graph_ops.py)
against pure-Python references on hypothesis-generated graphs.

The known-answer tests (test_graph_ops.py) pin hand-checkable graphs; the
oracle sweep proves the registered projections against DuckDB at three
SFs — but both use FIXED graph structure. These drive the kernel algebra
itself over arbitrary small graphs:

1. ``triangles`` must enumerate exactly the set {(a,b,c) : a<b<c, all
   three edges present} — no duplicates, no phantom triangles from a
   wrong join condition (a bug class that can stay self-consistent
   through a projection and therefore survive an oracle diff on one
   fixed fixture graph).
2. ``pagerank_ranks`` must reproduce the exact integer recurrence
   (truncating division at both the contribution and damping steps,
   including which nodes appear at each depth — a node keeps a row only
   while it receives an in-edge from a ranked node) that the DuckDB
   oracle (queries/graph_analytics.PAGERANK_ORACLE) encodes textually.
"""

from __future__ import annotations

import itertools

from hypothesis import given, settings
from hypothesis import strategies as st

from wd2sql_spark.operators.graph_ops import pagerank_ranks, triangles

N_NODES = 8

UND_EDGES = st.sets(
    st.tuples(
        st.integers(min_value=0, max_value=N_NODES - 1),
        st.integers(min_value=0, max_value=N_NODES - 1),
    ).filter(lambda e: e[0] != e[1]),
    min_size=1,
    max_size=16,
)

DIR_EDGES = st.sets(
    st.tuples(
        st.integers(min_value=0, max_value=N_NODES - 1),
        st.integers(min_value=0, max_value=N_NODES - 1),
    ).filter(lambda e: e[0] != e[1]),
    min_size=1,
    max_size=16,
)


@settings(max_examples=10, deadline=None)
@given(UND_EDGES)
def test_triangles_match_bruteforce(spark, raw_edges):
    edges = {(min(a, b), max(a, b)) for a, b in raw_edges}
    df = spark.createDataFrame(sorted(edges), "a long, b long")
    got = sorted(tuple(r) for r in triangles(df).collect())
    want = sorted(
        (a, b, c)
        for a, b, c in itertools.combinations(sorted({n for e in edges for n in e}), 3)
        if (a, b) in edges and (b, c) in edges and (a, c) in edges
    )
    assert got == want


def _pagerank_py(edges, iters, r0, damp_num=85, damp_den=100):
    """The exact integer recurrence of graph_ops.pagerank_ranks: only
    nodes with out-edges are seeded; each iteration keeps exactly the
    nodes receiving an in-edge from a currently-ranked source."""
    deg: dict[int, int] = {}
    for s, _ in edges:
        deg[s] = deg.get(s, 0) + 1
    ranks = {n: r0 for n in deg}
    base = (damp_den - damp_num) * r0
    for _ in range(iters):
        contrib = {n: ranks[n] // deg[n] for n in ranks if n in deg}
        nxt: dict[int, int] = {}
        for s, d in edges:
            if s in contrib:
                nxt[d] = nxt.get(d, 0) + contrib[s]
        ranks = {n: (base + damp_num * tot) // damp_den for n, tot in nxt.items()}
    return ranks


@settings(max_examples=8, deadline=None)
@given(DIR_EDGES, st.integers(min_value=1, max_value=3))
def test_pagerank_matches_integer_recurrence(spark, edges, iters):
    df = spark.createDataFrame(sorted(edges), "src long, dst long")
    got = dict(pagerank_ranks(df, iters=iters, r0=1_000_000).collect())
    assert got == _pagerank_py(sorted(edges), iters, 1_000_000)
