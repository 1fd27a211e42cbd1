"""Source-connector tests: declared schemas, PERMISSIVE quarantine."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from wd2sql_spark.sources.readers import CORRUPT_COL, read_csv, read_jsonl, read_text

FIXTURE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures", "wd_dump.ndjson")

SCHEMA = StructType(
    [StructField("id", StringType()), StructField("type", StringType())]
)


def test_read_text_line_per_row(spark):
    df = read_text(spark, FIXTURE)
    assert df.columns == ["value"]
    assert df.count() == 15  # every line, framing included


def test_read_jsonl_quarantines_corrupt(spark):
    # Spark refuses queries that reference ONLY the corrupt column on an
    # uncached JSON/CSV relation; cache() is the documented workaround.
    df = read_jsonl(spark, FIXTURE, SCHEMA).cache()
    bad = df.filter(F.col(CORRUPT_COL).isNotNull()).count()
    good = df.filter(F.col(CORRUPT_COL).isNull() & F.col("id").isNotNull()).count()
    assert bad >= 1  # the malformed line + the [ ] framing rows, never fatal
    assert good == 11  # the well-formed entities


def test_read_csv_declared_schema(spark, tmp_path):
    p = tmp_path / "t.csv"
    p.write_text("a,b\n1,x\n2,y\nnot_a_number,z\n")
    schema = StructType([StructField("a", LongType()), StructField("b", StringType())])
    df = read_csv(spark, str(p), schema).cache()
    rows = {tuple(r) for r in df.select("a", "b").collect()}
    assert (1, "x") in rows and (2, "y") in rows
    assert df.filter(F.col(CORRUPT_COL).isNotNull()).count() == 1
