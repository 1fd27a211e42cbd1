"""Source connectors (§2-C "scans/sources").

The reference reads exactly one source: a line-oriented JSON dump from a
file or stdin (main.rs:122-137). Spark has no stdin source; the file/
directory readers here cover the batch path — the dump-directory pattern
replaces the reference's `bzcat | wd2sql -` pipe (README.md:59-61).

Rules applied to every reader:

- **Schemas are declared, never inferred.** Inference is a full extra pass
  over the data — at 100 TB that doubles the job. Callers pass a
  ``StructType``.
- **PERMISSIVE + corrupt-record column.** Per-record error tolerance
  (2-A#14, main.rs:177-219): bad rows land in ``_corrupt_record`` for
  quarantine, never abort the job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StringType, StructField, StructType

CORRUPT_COL = "_corrupt_record"


def _with_corrupt(schema: StructType) -> StructType:
    if CORRUPT_COL in schema.fieldNames():
        return schema
    return StructType(list(schema.fields) + [StructField(CORRUPT_COL, StringType(), True)])


def read_text(spark: SparkSession, path: str) -> DataFrame:
    """Raw lines, one row per line — the dump framing layer reads this."""
    return spark.read.text(path)


def read_jsonl(spark: SparkSession, path: str, schema: StructType) -> DataFrame:
    """NDJSON with a declared schema; corrupt rows quarantined, not fatal."""
    return (
        spark.read.schema(_with_corrupt(schema))
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .json(path)
    )


def read_csv(
    spark: SparkSession, path: str, schema: StructType, *, header: bool = True, sep: str = ","
) -> DataFrame:
    return (
        spark.read.schema(_with_corrupt(schema))
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .option("header", str(header).lower())
        .option("sep", sep)
        .csv(path)
    )


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Parquet carries its own schema; nothing to declare or infer."""
    return spark.read.parquet(path)

