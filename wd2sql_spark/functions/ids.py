"""Wikidata ID codec: typed ID strings → one signed-64 key space.

Re-expresses the reference's encoding (/root/reference/src/id.rs:6-24,
documented README.md:68-86) as pure Catalyst expressions, built from
``Column`` objects (:func:`encode_wid`) or from SQL text
(:func:`encode_wid_sql`) — no UDF, so encoding stays inside whole-stage
codegen and is usable in join keys without breaking pushdown:

    Q<n>       → n
    P<n>       → n + 1_000_000_000
    L<n>       → n + 2_000_000_000
    L<n>-F<m>  → (n + 2_000_000_000) + m * 100_000_000_000
    L<n>-S<m>  → (n + 2_000_000_000) + m * 100_000_000_000 + 10_000_000_000

Examples (README.md:72-83): Q42→42, P31→1000000031, L99-F2→202000000099,
L99-S1→112000000099. All encodings < 2^63 → Spark LongType is safe (the
reference uses u64 but never exceeds the signed range for real IDs).
"""

from __future__ import annotations

from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F

P_OFFSET = 1_000_000_000
L_OFFSET = 2_000_000_000
SENSE_OFFSET = 10_000_000_000
FORM_FACTOR = 100_000_000_000


def encode_wid(id_col: Column | str) -> Column:
    """Encode a Wikidata ID string column to its LongType key.

    Unparseable/unknown shapes yield NULL (the ETL routes those rows to the
    quarantine side, mirroring the reference's per-record skip,
    main.rs:206-215).
    """
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    kind = F.substring(c, 1, 1)
    # Patterns are anchored at BOTH ends per kind: the reference parses the
    # digit run with a full-string integer parse (id.rs:6-24), so trailing
    # garbage ("Q42abc") and suffixes on non-lexeme kinds ("Q42-F1") must
    # yield NULL, not a prefix parse.
    # Digit counts are BOUNDED in the pattern (12 for ids, 7 for form/
    # sense indices — far beyond any real Wikidata id): an unbounded parse
    # would overflow int64 in the encoding arithmetic for adversarial ids
    # like 'L1-F99999999', and under ANSI mode (Spark 4 default) overflow
    # THROWS, killing the job instead of quarantining the record
    # (main.rs:206-215 skips it). The bound keeps every reachable encoding
    # < 2^60, and over-long digit runs simply fail the regex → NULL.
    # try_cast, not cast: ANSI CAST('') throws; unmatched extracts are ''.
    qp_num = F.regexp_extract(c, r"^[QP](\d{1,12})$", 1).try_cast("long")
    l_num = F.regexp_extract(c, r"^L(\d{1,12})(-[FS]\d{1,7})?$", 1).try_cast("long")
    sub_kind = F.regexp_extract(c, r"^L\d{1,12}-([FS])\d{1,7}$", 1)
    sub_num = F.regexp_extract(c, r"^L\d{1,12}-[FS](\d{1,7})$", 1).try_cast("long")
    return (
        F.when(kind == "Q", qp_num)
        .when(kind == "P", qp_num + F.lit(P_OFFSET))
        .when(
            (kind == "L") & (sub_kind == "F"),
            l_num + F.lit(L_OFFSET) + sub_num * F.lit(FORM_FACTOR),
        )
        .when(
            (kind == "L") & (sub_kind == "S"),
            l_num + F.lit(L_OFFSET) + sub_num * F.lit(FORM_FACTOR) + F.lit(SENSE_OFFSET),
        )
        .when(kind == "L", l_num + F.lit(L_OFFSET))
        .otherwise(F.lit(None).cast("long"))
    )


# SQL text of the same codec, as a template over its input expression: the
# DuckDB oracle twin, the registered Spark SQL function and the ETL's SQL
# plan all render it. [0-9] instead of \d because Spark SQL string
# literals treat backslash as an escape. Digit-count bounds match
# encode_wid (12/7): they keep the arithmetic inside int64 — an unbounded
# parse would make the engine THROW on overflow for adversarial ids
# instead of yielding NULL.
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
    """SQL text encoding the string expression ``id_sql`` (a column name or
    function call; it is pasted unparenthesized) like :func:`encode_wid`."""
    return _ENCODE_WID_SQL.replace("{id}", id_sql)


def encode_entity_url_sql(url_sql: str) -> str:
    """SQL text encoding an entity URL (e.g. globe/unit fields:
    ``http://www.wikidata.org/entity/Q2``) to its key by the id at its
    end. The literal ``"1"`` (Wikidata's "no unit"), empty values and
    NULL have no such id and yield NULL, matching the reference's
    nullable unit_id (value.rs:231-241)."""
    return encode_wid_sql(f"regexp_extract({url_sql}, '([QPL][0-9]+(-[FS][0-9]+)?)$', 1)")


ENCODE_WID_SQL_CASE = encode_wid_sql("id")


def register_sql_function(spark: SparkSession) -> None:
    """Register ``encode_wid(id STRING) → BIGINT`` as a Spark SQL scalar
    function (SQL-body UDF, Spark 4+), so ad-hoc ``spark.sql`` users get
    the codec too."""
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION encode_wid(id STRING) RETURNS BIGINT RETURN "
        + ENCODE_WID_SQL_CASE.replace("\n", " ")
    )
