"""Property-based cross-engine check of the ID codec: arbitrary id-like
strings must encode IDENTICALLY through the SQL template
(``encode_wid_sql``, rendered as the DuckDB oracle ``ENCODE_WID_SQL_CASE``,
the registered Spark SQL function and the ETL's SQL plan), evaluated in
both Spark and DuckDB, and through the independent pure-Python model of
id.rs (``tests/id_model.py``).
The reference parses the digit run with a full-string integer parse
(id.rs:6-24), so trailing garbage, suffixes on non-lexeme kinds, and
overflow must all yield NULL in BOTH engines — the class of disagreement
this test exists to catch (an unanchored regex once made Spark prefix-
parse 'Q42abc' to 42 while SQL returned NULL)."""

from __future__ import annotations

import duckdb
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from tests.id_model import enc
from wd2sql_spark.functions.ids import ENCODE_WID_SQL_CASE, encode_wid_sql

# Mix of well-formed ids, near-misses (trailing garbage, wrong-kind
# suffixes, doubled suffixes), and adversarial soup over the id alphabet.
ID = st.one_of(
    st.from_regex(r"[QPL][0-9]{1,12}", fullmatch=True),
    st.from_regex(r"L[0-9]{1,6}-[FS][0-9]{1,4}", fullmatch=True),
    st.from_regex(r"[QPLX][0-9]{0,6}[A-Za-z\-]{0,3}[0-9]{0,3}", fullmatch=True),
    st.from_regex(r"[QP][0-9]{1,4}-[FS][0-9]{1,3}", fullmatch=True),
    st.from_regex(r"[QPL][0-9]{18,21}", fullmatch=True),  # int64 overflow zone
    st.from_regex(r"L[0-9]{1,3}-[FS][0-9]{6,12}", fullmatch=True),  # form-index overflow zone
    st.text(alphabet="QPLFS-0123456789", max_size=12),
)


@settings(max_examples=12, deadline=None)
@given(st.lists(ID, min_size=1, max_size=60))
def test_codec_matches_sql_twin(spark, ids):
    sdf = spark.createDataFrame([(i,) for i in ids], ["id"])
    model_out = [(i, enc(i)) for i in ids]
    # The template over an input expression, as the ETL renders it over
    # struct fields and lambda variables.
    encoded = encode_wid_sql("named_struct('v', id).v")
    spark_sql_out = [(r["id"], r["encoded"]) for r in sdf.selectExpr("id", f"{encoded} AS encoded").collect()]

    con = duckdb.connect()
    con.register("t", pd.DataFrame({"id": ids}))
    duck_out = [
        (r[0], r[1])
        for r in con.execute(f"SELECT id, {ENCODE_WID_SQL_CASE} AS encoded FROM t").fetchall()
    ]
    con.close()

    assert sorted(model_out, key=str) == sorted(duck_out, key=str) == sorted(spark_sql_out, key=str)
