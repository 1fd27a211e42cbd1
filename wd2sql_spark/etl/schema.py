"""Declared schemas for the Wikidata entity dump and its claim payloads.

The input schema is DECLARED, never inferred (at 100 TB a schema-inference
pass would read the whole dump twice; and inference can't express "keep
datavalue.value as raw JSON"). ``datavalue.value`` is polymorphic in the
dump (plain string for string datatypes, object for quantity/time/
coordinate/entity), so it is declared ``StringType`` — Spark's Jackson
parser captures objects as their raw JSON text, which the type-dispatch
step re-parses with the union payload schema below. This two-phase parse is
the Spark-native restatement of the reference's ``simd_json`` parse +
``ClaimValueData`` decode (main.rs:198-215, value.rs:201-261).
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

# ---------------------------------------------------------------------------
# Input: one entity per dump line (FIXTURES.md §A; wikidata dump format)
# ---------------------------------------------------------------------------

LANG_TEXT = StructType(
    [StructField("language", StringType()), StructField("value", StringType())]
)

DATAVALUE = StructType(
    [
        StructField("type", StringType()),
        # raw JSON for object values, plain text for string values
        StructField("value", StringType()),
    ]
)

MAINSNAK = StructType(
    [
        StructField("snaktype", StringType()),
        StructField("property", StringType()),
        StructField("datatype", StringType()),
        StructField("datavalue", DATAVALUE),
    ]
)

CLAIM = StructType(
    [StructField("mainsnak", MAINSNAK), StructField("rank", StringType())]
)

CORRUPT_COL = "_corrupt_record"

ENTITY_SCHEMA = StructType(
    [
        StructField("id", StringType()),
        StructField("type", StringType()),
        StructField("labels", MapType(StringType(), LANG_TEXT)),
        StructField("descriptions", MapType(StringType(), LANG_TEXT)),
        StructField("claims", MapType(StringType(), ArrayType(CLAIM))),
        StructField(CORRUPT_COL, StringType()),
    ]
)

# ---------------------------------------------------------------------------
# Datavalue payload schema (for the second-phase from_json)
# ---------------------------------------------------------------------------

# Union of every datavalue type's payload fields, so the dispatch step
# parses ``datavalue.value`` exactly ONCE (six separate from_json calls
# on the same raw text, one per type, were the dominant dispatch cost —
# Jackson re-tokenized each claim payload up to six times). The
# multilingualtext shape is synthetic (the reference's MultilingualText
# arm, value.rs:222-229: keep the English text if present, else emit a
# none-table row — NOT a null string row). Field names are disjoint across
# types except ``precision``, shared by globecoordinate (double) and time
# (integer): declared DOUBLE here, cast back to int on the time path —
# integer JSON literals parse to exact doubles. Fields absent from a
# payload are simply null, which is what the per-type column expressions
# already expect.
MERGED_VALUE = StructType(
    [
        # monolingualtext
        StructField("text", StringType()),
        StructField("language", StringType()),
        # multilingualtext (synthetic)
        StructField("texts", MapType(StringType(), StringType())),
        # wikibase-entityid
        StructField("entity-type", StringType()),
        StructField("numeric-id", LongType()),
        StructField("id", StringType()),
        # globecoordinate
        StructField("latitude", DoubleType()),
        StructField("longitude", DoubleType()),
        StructField("precision", DoubleType()),
        StructField("globe", StringType()),
        # quantity (amounts arrive as signed decimal strings, "+42")
        StructField("amount", StringType()),
        StructField("lowerBound", StringType()),
        StructField("upperBound", StringType()),
        StructField("unit", StringType()),
        # time (e.g. "+2001-12-31T00:00:00Z")
        StructField("time", StringType()),
        StructField("calendarmodel", StringType()),
    ]
)
