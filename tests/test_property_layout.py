"""Property checks of the Z-order (Morton) arithmetic in
operators/layout.py: the Spark expression, the DuckDB SQL text, and a
pure-Python bit interleave must agree bit-for-bit, and the scaling must
stay inside [0, 2**bits).
"""

from __future__ import annotations

import duckdb
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from wd2sql_spark.operators.layout import scale_to_bits, zorder_sql, zorder_value

BITS = 8
U = st.integers(min_value=0, max_value=2**BITS - 1)


def ref_morton(u1: int, u2: int, bits: int) -> int:
    z = 0
    for i in range(bits):
        z |= ((u1 >> i) & 1) << (2 * i)
        z |= ((u2 >> i) & 1) << (2 * i + 1)
    return z


@settings(max_examples=5, deadline=None)
@given(st.lists(st.tuples(U, U), min_size=1, max_size=12))
def test_spark_morton_matches_reference(spark, pts):
    df = spark.createDataFrame(pts, "u1 long, u2 long")
    got = sorted(
        tuple(r)
        for r in df.select(
            "u1", "u2", zorder_value([F.col("u1"), F.col("u2")], BITS).alias("z")
        ).collect()
    )
    want = sorted((u1, u2, ref_morton(u1, u2, BITS)) for u1, u2 in pts)
    assert got == want


@settings(max_examples=25, deadline=None)
@given(st.lists(st.tuples(U, U), min_size=1, max_size=12))
def test_sql_morton_matches_reference(pts):
    con = duckdb.connect()
    con.register("pts", pd.DataFrame(pts, columns=["u1", "u2"]))
    got = sorted(
        tuple(r)
        for r in con.execute(
            f"SELECT u1, u2, {zorder_sql(['u1', 'u2'], BITS)} AS z FROM pts"
        ).fetchall()
    )
    want = sorted((u1, u2, ref_morton(u1, u2, BITS)) for u1, u2 in pts)
    assert got == want


def test_scale_to_bits_bounds(spark):
    df = spark.createDataFrame([(i,) for i in (0, 1, 499, 500, 1000)], "x long")
    rows = df.select(
        scale_to_bits(
            F.col("x"), F.lit(0).cast("long"), F.lit(1000).cast("long"), BITS
        ).alias("u")
    ).collect()
    us = [r.u for r in rows]
    assert us == [0, 0, 127, 127, 255]
    # constant column: greatest(span, 1) guard keeps div defined
    one = df.select(
        scale_to_bits(F.col("x"), F.lit(5).cast("long"), F.lit(5).cast("long"), BITS).alias("u")
    ).collect()
    assert all(isinstance(r.u, int) for r in one)


def ref_hilbert(n: int, x: int, y: int) -> int:
    """Canonical xy2d (reflection about the FULL grid, n-1-x)."""
    d, s = 0, n // 2
    while s > 0:
        rx = 1 if (x & s) > 0 else 0
        ry = 1 if (y & s) > 0 else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x, y = n - 1 - x, n - 1 - y
            x, y = y, x
        s //= 2
    return d


@settings(max_examples=5, deadline=None)
@given(st.lists(st.tuples(U, U), min_size=2, max_size=12))
def test_spark_hilbert_matches_reference(spark, pts):
    from wd2sql_spark.operators.layout import hilbert_value

    df = spark.createDataFrame(pts, "u1 long, u2 long")
    got = sorted(
        tuple(r)
        for r in df.select(
            "u1", "u2", hilbert_value(F.col("u1"), F.col("u2"), BITS).alias("h")
        ).collect()
    )
    want = sorted((u1, u2, ref_hilbert(2**BITS, u1, u2)) for u1, u2 in pts)
    assert got == want


@settings(max_examples=25, deadline=None)
@given(st.lists(st.tuples(U, U), min_size=2, max_size=12))
def test_sql_hilbert_ctes_match_reference(pts):
    """MULTI-row inputs on purpose: DuckDB 1.0.0's list_reduce lambda
    computed this fold correctly on one row and wrongly on several (the
    reason hilbert_ctes unrolls CTE projections instead)."""
    from wd2sql_spark.operators.layout import hilbert_ctes

    con = duckdb.connect()
    con.register("pts", pd.DataFrame(pts, columns=["u1", "u2"]))
    frag, last = hilbert_ctes("pts", ["u1", "u2"], "u1", "u2", BITS)
    got = sorted(
        tuple(r)
        for r in con.execute(f"WITH {frag} SELECT u1, u2, hd FROM {last}").fetchall()
    )
    want = sorted((u1, u2, ref_hilbert(2**BITS, u1, u2)) for u1, u2 in pts)
    assert got == want


def test_hilbert_reference_is_a_true_hilbert_walk():
    """Bijective on the 16×16 grid AND unit-step: consecutive indices are
    grid neighbours — the locality property the layout audit banks on
    (Z-order fails this at every quadrant seam)."""
    n = 16
    d2xy = {}
    for x in range(n):
        for y in range(n):
            d2xy[ref_hilbert(n, x, y)] = (x, y)
    assert sorted(d2xy) == list(range(n * n))
    assert all(
        abs(d2xy[i][0] - d2xy[i + 1][0]) + abs(d2xy[i][1] - d2xy[i + 1][1]) == 1
        for i in range(n * n - 1)
    )
