"""Property-based cross-engine checks of the two hash primitives the
round-3 oracles rest on (VERDICT r2 task 7):

1. SimHash bit arithmetic — Spark's 56 conditional sums + sign
   accumulator (operators/dedup.simhash_from_shingles) must produce the
   same BIGINT as the DuckDB twin built by queries/llm_dedup._simhash_sql
   for arbitrary shingle multisets. The dedup_simhash oracle assumes this.
2. LSH bucket fold — Spark's per-plane zip_with/aggregate projection sign
   pattern (operators/similarity.lsh_bucket) must produce the same bucket
   id as queries/llm_similarity._lsh_bucket_sql for arbitrary finite
   vectors. The sim_lsh_topk and sim_cosine_near_dup oracles assume this.

Same harness shape as test_property_text.py: hypothesis drives both
engines on identical inputs and asserts exact equality.
"""

from __future__ import annotations

import duckdb
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from wd2sql_spark.operators.dedup import SIMHASH_BITS, simhash_from_shingles
from wd2sql_spark.operators.similarity import hyperplanes, lsh_bucket
from wd2sql_spark.queries.llm_similarity import _lsh_bucket_sql

SHINGLE = st.text(
    alphabet=st.sampled_from(list("abcXYZ 0.,!é中")), min_size=1, max_size=12
)


def _simhash_duck_sql() -> str:
    """The sums+acc tail of llm_dedup._simhash_sql, over a registered
    (doc_id, shingle) relation instead of the shingle CTE."""
    bit_sums = ", ".join(
        f"SUM(((strpos('0123456789abcdef', substr(md5(shingle), {1 + j // 4}, 1)) - 1) "
        f"// {2 ** (3 - j % 4)}) % 2 * 2 - 1) AS s{j}"
        for j in range(SIMHASH_BITS)
    )
    acc = " + ".join(
        f"(CASE WHEN s{j} > 0 THEN CAST({2**j} AS BIGINT) ELSE 0 END)"
        for j in range(SIMHASH_BITS)
    )
    return (
        f"WITH sums AS (SELECT doc_id, {bit_sums} FROM sh GROUP BY doc_id) "
        f"SELECT doc_id, {acc} AS simhash FROM sums"
    )


@settings(max_examples=6, deadline=None)
@given(
    st.dictionaries(
        st.integers(min_value=0, max_value=9),
        st.lists(SHINGLE, min_size=1, max_size=20, unique=True),
        min_size=1,
        max_size=5,
    )
)
def test_simhash_bits_match_oracle_form(spark, docs):
    rows = [(i, s) for i, shingles in docs.items() for s in shingles]
    sdf = spark.createDataFrame(rows, ["doc_id", "shingle"])
    spark_out = {r["doc_id"]: r["simhash"] for r in simhash_from_shingles(sdf).collect()}
    con = duckdb.connect()
    con.register("sh", pd.DataFrame(rows, columns=["doc_id", "shingle"]))
    duck_out = {r[0]: r[1] for r in con.execute(_simhash_duck_sql()).fetchall()}
    con.close()
    assert spark_out == duck_out


DIM = 8
PLANES = hyperplanes(DIM, 4)
COMPONENT = st.floats(
    min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False, width=32
)


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.lists(COMPONENT, min_size=DIM, max_size=DIM), min_size=1, max_size=8
    )
)
def test_lsh_bucket_fold_matches_oracle_form(spark, vecs):
    rows = [(i, v) for i, v in enumerate(vecs)]
    sdf = spark.createDataFrame(rows, ["vec_id", "embedding"])
    spark_out = {
        r["vec_id"]: r["bucket"]
        for r in sdf.select(
            "vec_id", lsh_bucket(F.col("embedding"), PLANES).alias("bucket")
        ).collect()
    }
    con = duckdb.connect()
    con.register("t", pd.DataFrame({"vec_id": [r[0] for r in rows], "embedding": [r[1] for r in rows]}))
    duck_out = {
        r[0]: r[1]
        for r in con.execute(
            f"SELECT vec_id, {_lsh_bucket_sql('embedding', r=4, dim=DIM)} AS b FROM t"
        ).fetchall()
    }
    con.close()
    assert spark_out == duck_out


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.lists(COMPONENT, min_size=DIM, max_size=DIM), min_size=1, max_size=6
    ),
    st.integers(min_value=1, max_value=3),
)
def test_lsh_bucket_table_slice_matches_oracle_form(spark, vecs, start):
    """The multi-table near-dup form slices planes[start:start+r] on both
    sides; the SQL twin's ``start`` offset must select the same table."""
    table_planes = hyperplanes(DIM, start + 2)[start:]
    rows = [(i, v) for i, v in enumerate(vecs)]
    sdf = spark.createDataFrame(rows, ["vec_id", "embedding"])
    spark_out = {
        r["vec_id"]: r["bucket"]
        for r in sdf.select(
            "vec_id", lsh_bucket(F.col("embedding"), table_planes).alias("bucket")
        ).collect()
    }
    con = duckdb.connect()
    con.register(
        "t",
        pd.DataFrame(
            {"vec_id": [r[0] for r in rows], "embedding": [r[1] for r in rows]}
        ),
    )
    duck_out = {
        r[0]: r[1]
        for r in con.execute(
            f"SELECT vec_id, {_lsh_bucket_sql('embedding', r=2, dim=DIM, start=start)} AS b FROM t"
        ).fetchall()
    }
    con.close()
    assert spark_out == duck_out


# ---------------------------------------------------------------------------
# Half-up integer division — the (2N+M) div (2M) primitive that
# exact_avg_at / exact_sum_at (queries/_determinism.py) and the k-means
# centroid update (queries/llm_cluster._update) rest on. Spark's `div`
# truncates toward zero and DuckDB's `//` floors; the battery only ever
# applies the pattern to NON-NEGATIVE operands, where the two agree and
# both equal round-half-up(N/M). This pins all three facts.
# ---------------------------------------------------------------------------


@settings(max_examples=30, deadline=None)
@given(
    st.integers(min_value=0, max_value=2**40),
    st.integers(min_value=1, max_value=2**20),
)
def test_halfup_int_division_matches_across_engines(spark, n, m):
    from fractions import Fraction

    sdf = spark.createDataFrame([(n, m)], ["n", "m"])
    got_spark = sdf.select(
        F.call_function(
            "div", F.lit(2) * F.col("n") + F.col("m"), F.lit(2) * F.col("m")
        ).alias("r")
    ).collect()[0].r
    got_duck = duckdb.sql(f"SELECT (2*{n}::BIGINT + {m}) // (2*{m}) AS r").fetchone()[0]
    # round-half-up on the exact rational
    expect = int((Fraction(2 * n + m, 2 * m)).__floor__())
    assert got_spark == got_duck == expect


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.integers(min_value=-(2**40), max_value=2**40),
        min_size=1,
        max_size=20,
        unique=True,
    )
)
def test_cms_bucket_matches_oracle_form(spark, user_ids):
    """Count-Min's salted bucket (queries/sketches._cms_bucket) must equal
    the _CMS_BUCKET SQL fragment for arbitrary user ids and every hash
    row — the sketch_countmin_heavy_hitters oracle assumes this."""
    from wd2sql_spark.queries.sketches import CMS_D, CMS_W, _cms_bucket

    df = spark.createDataFrame([(u,) for u in user_ids], "user_id long")
    got = {
        (r.user_id, r.r): r.b
        for r in df.select(
            "user_id",
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
        .select("user_id", F.col("rb.r").alias("r"), F.col("rb.b").alias("b"))
        .collect()
    }
    con = duckdb.connect()
    con.register("u", pd.DataFrame({"user_id": user_ids}))
    want = {
        (uid, r): b
        for uid, r, b in con.execute(
            f"""SELECT user_id, rs.r,
                   CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR) || ':' || rs.r), 1, 8))
                     AS BIGINT) % {CMS_W} AS b
                FROM u CROSS JOIN (SELECT unnest(range(0, {CMS_D})) AS r) rs"""
        ).fetchall()
    }
    assert got == want
