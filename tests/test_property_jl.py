"""Property checks of the Johnson–Lindenstrauss projection
(operators/similarity.py::jl_signs/jl_project): the Spark fold, the
oracle's SQL sign derivation, and a pure-Python reference must agree
bit-for-bit, and projecting a basis vector must read off a sign column.
"""

from __future__ import annotations

import hashlib

import duckdb
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from wd2sql_spark.operators.similarity import jl_project, jl_signs

OUT, IN = 4, 8

VEC = st.lists(
    st.floats(
        min_value=-8, max_value=8, allow_nan=False, allow_infinity=False, width=32
    ),
    min_size=IN,
    max_size=IN,
)


def ref_project(vec: list[float], signs: list[list[int]]) -> list[float]:
    out = []
    for row in signs:
        acc = 0.0
        for s, x in zip(row, vec):
            acc += float(s) * x  # same order as the Spark/SQL left-fold
        out.append(acc)
    return out


def test_signs_match_sql_derivation():
    """jl_signs' Python hashlib derivation == the oracle's SQL md5 text
    (the exact fragment JL_ORACLE embeds)."""
    py = jl_signs(OUT, IN)
    con = duckdb.connect()
    sql = con.execute(
        f"""SELECT j, list_transform(range(0, {IN}), i ->
               CASE WHEN substr(md5('jl:' || j || ':' || i), 1, 1) <= '7'
                    THEN 1 ELSE -1 END) AS sv
            FROM (SELECT unnest(range(0, {OUT})) AS j) ORDER BY j"""
    ).fetchall()
    assert [list(r[1]) for r in sql] == py


def test_basis_vectors_read_off_sign_columns(spark):
    signs = jl_signs(OUT, IN)
    rows = [(i, [1.0 if k == i else 0.0 for k in range(IN)]) for i in range(IN)]
    df = spark.createDataFrame(rows, "i long, v array<float>")
    got = {
        r.i: list(r.y)
        for r in df.select("i", jl_project(F.col("v"), signs).alias("y")).collect()
    }
    for i in range(IN):
        assert got[i] == [float(signs[j][i]) for j in range(OUT)]


@settings(max_examples=5, deadline=None)
@given(st.lists(VEC, min_size=1, max_size=4))
def test_spark_projection_matches_reference(spark, vecs):
    signs = jl_signs(OUT, IN)
    df = spark.createDataFrame(list(enumerate(vecs)), "i long, v array<float>")
    got = {
        r.i: list(r.y)
        for r in df.select("i", jl_project(F.col("v"), signs).alias("y")).collect()
    }
    import struct

    for i, vec in enumerate(vecs):
        f32 = [struct.unpack("f", struct.pack("f", x))[0] for x in vec]
        assert got[i] == ref_project(f32, signs), i


@settings(max_examples=10, deadline=None)
@given(st.lists(VEC, min_size=1, max_size=4))
def test_sql_projection_matches_reference(vecs):
    import numpy as np

    signs = jl_signs(OUT, IN)
    con = duckdb.connect()
    con.register(
        "embeddings",
        pd.DataFrame(
            {
                "vec_id": range(len(vecs)),
                "embedding": [np.array(v, dtype="float32") for v in vecs],
            }
        ),
    )
    got = con.execute(
        f"""WITH signs AS (
              SELECT j, list_transform(range(0, {IN}), i ->
                       CASE WHEN substr(md5('jl:' || j || ':' || i), 1, 1) <= '7'
                            THEN CAST(1 AS DOUBLE) ELSE CAST(-1 AS DOUBLE) END) AS sv
              FROM (SELECT unnest(range(0, {OUT})) AS j))
            SELECT e.vec_id,
                   list(list_sum(list_transform(range(1, {IN} + 1),
                          k -> CAST(e.embedding[k] AS DOUBLE) * s.sv[k]))
                        ORDER BY s.j) AS y
            FROM embeddings e CROSS JOIN signs s
            GROUP BY e.vec_id ORDER BY e.vec_id"""
    ).fetchall()
    import struct

    for vec_id, y in got:
        f32 = [struct.unpack("f", struct.pack("f", x))[0] for x in vecs[vec_id]]
        assert list(y) == ref_project(f32, signs), vec_id
