"""Property-based cross-engine checks of the two primitives the LLM
battery's oracles rest on:

1. Tokenization equivalence — Spark's one-pass ``split(trim(lower(t)),
   '\\s+')`` must produce the same token arrays as the DuckDB oracles'
   collapse-then-split (``string_split(trim(regexp_replace(lower(t),
   '\\s+', ' ', 'g')), ' ')``) for adversarial whitespace (tabs,
   newlines, runs, leading/trailing). Every shingle/minhash/simhash
   oracle assumes this.
2. Dot-product bit-equality — Spark's ``aggregate``/``zip_with`` left
   fold over doubles must equal DuckDB's ``list_sum(list_transform(...))``
   to the last bit for arbitrary finite floats, since cosine scores are
   hash-compared after round-6. Every similarity oracle assumes this.
"""

from __future__ import annotations

import math

import duckdb
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from wd2sql_spark.operators.dedup import tokens
from wd2sql_spark.operators.similarity import dot

TEXT = st.text(
    alphabet=st.sampled_from(list("ab XY.,-\t\n\r") + [" "] * 4),
    max_size=40,
)


@settings(max_examples=10, deadline=None)
@given(st.lists(TEXT, min_size=1, max_size=50))
def test_tokenization_matches_oracle_form(spark, texts):
    rows = [(i, t) for i, t in enumerate(texts)]
    sdf = spark.createDataFrame(rows, ["i", "t"])
    spark_out = {
        r["i"]: list(r["toks"]) for r in sdf.select("i", tokens(F.col("t")).alias("toks")).collect()
    }
    con = duckdb.connect()
    con.register("t", pd.DataFrame(rows, columns=["i", "t"]))
    duck_out = {
        r[0]: list(r[1])
        for r in con.execute(
            "SELECT i, string_split(trim(regexp_replace(lower(t), '\\s+', ' ', 'g')), ' ') FROM t"
        ).fetchall()
    }
    con.close()
    assert spark_out == duck_out


FLOAT = st.floats(
    min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False, width=32
)


@settings(max_examples=10, deadline=None)
@given(st.lists(st.tuples(FLOAT, FLOAT), min_size=1, max_size=64))
def test_dot_fold_bit_identical_across_engines(spark, pairs):
    a = [p[0] for p in pairs]
    b = [p[1] for p in pairs]
    sdf = spark.createDataFrame([(a, b)], ["a", "b"])
    spark_dot = sdf.select(dot(F.col("a"), F.col("b")).alias("d")).collect()[0]["d"]

    con = duckdb.connect()
    con.register("t", pd.DataFrame({"a": [a], "b": [b]}))
    duck_dot = con.execute(
        "SELECT list_sum(list_transform(range(1, len(a)+1),"
        " k -> CAST(a[k] AS DOUBLE) * CAST(b[k] AS DOUBLE))) FROM t"
    ).fetchone()[0]
    con.close()

    # Exact bit equality, not approx — this is the invariant the oracles use.
    assert (spark_dot == duck_dot) or (math.isnan(spark_dot) and math.isnan(duck_dot)), (
        spark_dot,
        duck_dot,
        spark_dot - duck_dot,
    )


# ---------------------------------------------------------------------------
# PII regex parity — the scrub_pii_stats oracle assumes Java regex (Spark)
# and RE2 (DuckDB) find the SAME spans for the three patterns. They are
# written in the dialect intersection (character classes + bounded
# repetition, no \b / lookaround); hypothesis drives adversarial text —
# near-misses, embedded matches, pattern fragments — through both engines
# and asserts identical match lists AND identical redacted strings.
# ---------------------------------------------------------------------------

PII_CHUNK = st.sampled_from(
    [
        "user@example.com", "a.b-c_d%e+f@ex-ample.co.uk", "u@e.c",  # near-miss: 1-char TLD
        "@nope", "x@y.", "555-123-4567", "55-123-4567", "555-1234-567",
        "10.0.3.99", "1.2.3", "999.999.999.999", "a1.2.3.4b", " ", "word",
        "x@@y.com", "..", "-", "0" * 12,
    ]
)


@settings(max_examples=15, deadline=None)
@given(st.lists(PII_CHUNK, min_size=1, max_size=12))
def test_pii_regexes_match_identically_across_engines(spark, chunks):
    from wd2sql_spark.queries.llm_decontam import EMAIL_RE, IP_RE, PHONE_RE

    text = "".join(chunks)
    sdf = spark.createDataFrame([(text,)], ["t"])
    con = duckdb.connect()
    con.register("t", pd.DataFrame({"t": [text]}))
    for pat in (EMAIL_RE, PHONE_RE, IP_RE):
        s_matches, s_red = sdf.select(
            F.regexp_extract_all(F.col("t"), F.lit(pat), F.lit(0)).alias("m"),
            F.regexp_replace(F.col("t"), pat, "<X>").alias("r"),
        ).collect()[0]
        d_matches, d_red = con.execute(
            f"SELECT regexp_extract_all(t, '{pat}'), regexp_replace(t, '{pat}', '<X>', 'g') FROM t"
        ).fetchone()
        assert list(s_matches) == list(d_matches), (pat, text)
        assert s_red == d_red, (pat, text)
    con.close()
