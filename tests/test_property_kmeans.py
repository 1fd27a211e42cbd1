"""Property tests for the shared integer-Lloyd kernel (operators/kmeans.py).

The ANN codebooks (operators/similarity.train_codebooks, one chain keyed
by book) and the k-means battery queries all ride this kernel, and
every downstream oracle assumes its determinism contract: integer
squared-distance argmin with lowest-cid tie-breaks, half-up integer-mean
updates over a non-negative domain, and emptied clusters carrying their
previous centroid. A pure-Python replay of that contract on
hypothesis-generated corpora must match the Spark result exactly —
independent of DuckDB, so a bug that broke BOTH engine twins the same
way would still be caught here. The keyed form must equal one un-keyed
run per key.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from wd2sql_spark.operators.kmeans import lloyd_centroids


def _py_lloyd(vecs: dict[int, list[int]], seeds: dict[int, list[int]], iters: int):
    cent = {cid: list(c) for cid, c in seeds.items()}
    dim = len(next(iter(vecs.values())))
    for _ in range(iters):
        members: dict[int, list[int]] = {}
        for vid in sorted(vecs):
            iv = vecs[vid]
            best = None
            for cid in sorted(cent):
                d = sum((a - b) * (a - b) for a, b in zip(iv, cent[cid]))
                if best is None or d < best[0] or (d == best[0] and cid < best[1]):
                    best = (d, cid)
            members.setdefault(best[1], []).append(vid)
        new = {}
        for cid in cent:
            vids = members.get(cid)
            if not vids:
                new[cid] = cent[cid]  # emptied cluster keeps its centroid
                continue
            new[cid] = [
                (2 * sum(vecs[v][d] for v in vids) + len(vids)) // (2 * len(vids))
                for d in range(dim)
            ]
        cent = new
    return cent


@pytest.fixture(scope="module")
def _spark(spark):
    return spark


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(
    data=st.lists(
        st.lists(st.integers(min_value=0, max_value=2_000_000), min_size=4, max_size=4),
        min_size=2,
        max_size=12,
    ),
    k=st.integers(min_value=1, max_value=4),
    iters=st.integers(min_value=1, max_value=3),
)
def test_lloyd_matches_python_reference(_spark, data, k, iters):
    spark = _spark
    vecs = {i: v for i, v in enumerate(data)}
    k = min(k, len(vecs))
    seeds = {i: list(vecs[i]) for i in range(k)}

    vdf = spark.createDataFrame(
        [(i, v) for i, v in vecs.items()], "vec_id long, iv array<bigint>"
    )
    sdf = spark.createDataFrame(
        [(i, v) for i, v in seeds.items()], "cid long, c array<bigint>"
    )
    got = {
        int(r["cid"]): [int(x) for x in r["c"]]
        for r in lloyd_centroids(vdf, sdf, iters).collect()
    }
    want = _py_lloyd(vecs, seeds, iters)
    assert got == want


@st.composite
def _books(draw):
    """1-3 books, each with its own width, vectors and seeds. Seeds are
    drawn independently of the vectors, up to 4 of them over as few as
    one vector, so clusters are emptied and must keep their seed."""
    books = []
    for _ in range(draw(st.integers(min_value=1, max_value=3))):
        width = draw(st.integers(min_value=1, max_value=5))
        vec = st.lists(
            st.integers(min_value=0, max_value=2_000_000), min_size=width, max_size=width
        )
        vecs = draw(st.lists(vec, min_size=1, max_size=6))
        seeds = draw(st.lists(vec, min_size=1, max_size=4))
        books.append(({i: v for i, v in enumerate(vecs)}, {i: v for i, v in enumerate(seeds)}))
    return books


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(books=_books(), iters=st.integers(min_value=1, max_value=2))
def test_keyed_lloyd_equals_per_book_runs(_spark, books, iters):
    spark = _spark

    def centroids(df):
        return {int(r["cid"]): [int(x) for x in r["c"]] for r in df.collect()}

    vdf = spark.createDataFrame(
        [(b, i, v) for b, (vecs, _) in enumerate(books) for i, v in vecs.items()],
        "book int, vec_id long, iv array<bigint>",
    )
    sdf = spark.createDataFrame(
        [(b, i, c) for b, (_, seeds) in enumerate(books) for i, c in seeds.items()],
        "book int, cid long, c array<bigint>",
    )
    keyed: dict[int, dict[int, list[int]]] = {}
    for r in lloyd_centroids(vdf, sdf, iters, key="book").collect():
        keyed.setdefault(r["book"], {})[int(r["cid"])] = [int(x) for x in r["c"]]

    for b, (vecs, seeds) in enumerate(books):
        alone = centroids(
            lloyd_centroids(
                vdf.filter(vdf.book == b).drop("book"),
                sdf.filter(sdf.book == b).drop("book"),
                iters,
            )
        )
        assert keyed[b] == alone == _py_lloyd(vecs, seeds, iters), b
