"""Loading the driver's synthetic tables (TESTDATA.md).

All reads go through ``spark.read.parquet`` so Catalyst gets predicate
pushdown + column pruning into the scan for free. At 100 TB these would be
partitioned/bucketed managed tables; the API here is path-based only because
the fixtures are single parquet files.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from wd2sql_spark.session_cache import memo

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def file_key(*paths: str) -> tuple:
    """(path, mtime_ns, size) of each file: the memo key of a value read
    from files, so rewriting a file invalidates every memo built from
    it. A missing file (a directory holding only some of the tables)
    keys as ``(path, None, None)``."""
    out = []
    for p in paths:
        try:
            st = os.stat(p)
        except FileNotFoundError:
            out.append((p, None, None))
        else:
            out.append((p, st.st_mtime_ns, st.st_size))
    return tuple(out)


def sf_key(sf_dir: str) -> tuple:
    """Memo key of a value derived from the fixture tables in ``sf_dir``:
    the :func:`file_key` of every table file."""
    return file_key(*(_path(sf_dir, name) for name in TABLES))


def _path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table, memoized per (session, table) and keyed on
    the file's (path, mtime_ns, size).

    The memo buys the per-call build cost: every miss pays ~60-90 ms of
    py4j conf round-trips plus a parquet footer schema read, and a
    5-table query rebuilt per bench sample was paying ~0.4 s of pure
    driver-side overhead before any execution. Queries that join a table
    with ITSELF rename one side's columns (Spark's DeduplicateRelations
    handles the shared-plan case).

    Some generations of ``events.parquet`` carry TIMESTAMP(NANOS), which
    Spark's parquet reader rejects by default; the legacy conf reads it as
    LongType (nanoseconds since epoch) instead of erroring. It is a runtime
    SQL conf, so setting it here works under the driver's session too, and
    it is a no-op on µs-precision data. Use :func:`events` to get a proper
    timestamp column back either way.
    """
    path = _path(sf_dir, name)
    return memo(spark, f"catalog.table.{name}", file_key(path), lambda: _read_table(spark, path))


def _read_table(spark: SparkSession, path: str) -> DataFrame:
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # µs-era fixtures are written with isAdjustedToUTC=false, which Spark
    # by default infers as TIMESTAMP_NTZ — a type several chronon
    # functions (unix_micros, …) reject. Disabling NTZ inference makes the
    # scan surface plain TIMESTAMP (LTZ) directly — value-identical under
    # the pinned-UTC session (session.py), no extra Project above the
    # scan, and DuckDB sees the same naive microseconds. Both are runtime
    # SQL confs, so they take effect under the driver's session too.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    # Size shuffles to the actual parallelism, but ONLY when the session
    # still carries Spark's untouched 200-partition default — an explicit
    # operator choice (session.py sets cores; streaming/core.py scopes its
    # own value) is never overridden. Under an out-of-the-box session the
    # iterative queries (pagerank: ~29 exchanges) otherwise pay 200 tiny
    # tasks per exchange — pure scheduler overhead at any data size below
    # ~100 MB/partition; AQE still coalesces below this starting point.
    if spark.conf.get("spark.sql.shuffle.partitions", "200") == "200":
        spark.conf.set(
            "spark.sql.shuffle.partitions", str(spark.sparkContext.defaultParallelism)
        )
    return spark.read.parquet(path)


def events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events fixture with ``ts`` normalized to a timestamp (see
    :func:`events_ts`)."""
    return events_ts(table(spark, sf_dir, "events"))


def events_ts(raw: DataFrame) -> DataFrame:
    """``raw``, a batch or streaming read of the events fixture, with
    ``ts`` as a timestamp.

    Schema-adaptive: a nanos-era fixture surfaces ``ts`` as LongType under
    ``nanosAsLong`` and is truncated ns→µs (matching DuckDB's
    TIMESTAMP_NS→TIMESTAMP cast); a µs fixture already reads as a
    timestamp and passes through untouched."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    if isinstance(raw.schema["ts"].dataType, LongType):
        # integer `div`, NOT `/`: float division of ns-scale longs (~1.7e18)
        # exceeds double's 2^53 mantissa and lands ±1µs off.
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return raw
