"""Wikidata ID codec: typed ID strings → one signed-64 key space.

Re-expresses the reference's encoding (id.rs:6-24, documented
README.md:68-86) as one SQL template over its input expression
(:func:`encode_wid_sql`) — no UDF, so encoding stays a Catalyst built-in
inside whole-stage codegen and is usable in join keys without breaking
pushdown. Spark plans, the registered ``encode_wid`` SQL function and the
DuckDB oracles all render that template:

    Q<n>       → n
    P<n>       → n + 1_000_000_000
    L<n>       → n + 2_000_000_000
    L<n>-F<m>  → (n + 2_000_000_000) + m * 100_000_000_000
    L<n>-S<m>  → (n + 2_000_000_000) + m * 100_000_000_000 + 10_000_000_000

Examples (README.md:72-83): Q42→42, P31→1000000031, L99-F2→202000000099,
L99-S1→112000000099. All encodings < 2^63 → Spark LongType is safe (the
reference uses u64 but never exceeds the signed range for real IDs).
Unparseable/unknown shapes yield NULL (the ETL drops or quarantines those
records, mirroring the reference's per-record skip, main.rs:206-215).
"""

from __future__ import annotations

from pyspark.sql import SparkSession

# First key of the property range (P<n> → n + P_OFFSET).
P_OFFSET = 1_000_000_000


# The codec as SQL text, a template over its input expression. Each kind's
# pattern is anchored at BOTH ends: the reference parses the digit run
# with a full-string integer parse (id.rs:6-24), so trailing garbage
# ("Q42abc") and suffixes on non-lexeme kinds ("Q42-F1") yield NULL, not a
# prefix parse. Digit counts are BOUNDED (12 for ids, 7 for form/sense
# indices — far beyond any real Wikidata id): they keep every reachable
# encoding < 2^60, so the arithmetic stays inside int64 — an unbounded
# parse of an adversarial id like 'L1-F99999999' would overflow, and
# under ANSI mode (Spark 4 default) overflow THROWS, killing the job
# instead of skipping the record. TRY_CAST, not CAST: ANSI CAST('')
# throws. [0-9] instead of \d because Spark SQL string literals treat
# backslash as an escape.
_ENCODE_WID_SQL = """
CASE
  WHEN {id} LIKE 'Q%' THEN TRY_CAST(regexp_extract({id}, '^Q([0-9]{1,12})$', 1) AS BIGINT)
  WHEN {id} LIKE 'P%' THEN TRY_CAST(regexp_extract({id}, '^P([0-9]{1,12})$', 1) AS BIGINT) + 1000000000
  WHEN {id} LIKE 'L%-F%' THEN TRY_CAST(regexp_extract({id}, '^L([0-9]{1,12})-F[0-9]{1,7}$', 1) AS BIGINT) + 2000000000
       + TRY_CAST(regexp_extract({id}, '^L[0-9]{1,12}-F([0-9]{1,7})$', 1) AS BIGINT) * 100000000000
  WHEN {id} LIKE 'L%-S%' THEN TRY_CAST(regexp_extract({id}, '^L([0-9]{1,12})-S[0-9]{1,7}$', 1) AS BIGINT) + 2000000000
       + TRY_CAST(regexp_extract({id}, '^L[0-9]{1,12}-S([0-9]{1,7})$', 1) AS BIGINT) * 100000000000 + 10000000000
  WHEN {id} LIKE 'L%' THEN TRY_CAST(regexp_extract({id}, '^L([0-9]{1,12})$', 1) AS BIGINT) + 2000000000
  ELSE NULL
END
"""


def encode_wid_sql(id_sql: str) -> str:
    """SQL text encoding the string expression ``id_sql`` to its BIGINT
    key, NULL when it is no id. ``id_sql`` (a column name, field or
    function call) is pasted unparenthesized, once per arm: pass a field,
    not an expression worth evaluating once."""
    return _ENCODE_WID_SQL.replace("{id}", id_sql)


def entity_url_id_sql(url_sql: str) -> str:
    """SQL text of the id at the end of an entity URL (e.g. globe/unit
    fields: ``http://www.wikidata.org/entity/Q2`` → ``Q2``), for
    :func:`encode_wid_sql`. The literal ``"1"`` (Wikidata's "no unit")
    and empty values have no such id and yield ``''``, which encodes to
    NULL, matching the reference's nullable unit_id (value.rs:231-241)."""
    return f"regexp_extract({url_sql}, '([QPL][0-9]+(-[FS][0-9]+)?)$', 1)"


ENCODE_WID_SQL_CASE = encode_wid_sql("id")


def register_sql_function(spark: SparkSession) -> None:
    """Register ``encode_wid(id STRING) → BIGINT`` as a Spark SQL scalar
    function (SQL-body UDF, Spark 4+), so ad-hoc ``spark.sql`` users get
    the codec too."""
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION encode_wid(id STRING) RETURNS BIGINT RETURN "
        + ENCODE_WID_SQL_CASE.replace("\n", " ")
    )
