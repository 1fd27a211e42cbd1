"""SparkSession construction.

The harness runs single-JVM ``local[N]`` but every setting here is chosen to
also be correct on a 1000-executor cluster: AQE on (runtime join-strategy
switch + skew-join splitting), explicit shuffle partitioning, Arrow enabled
for the few Pandas-UDF operators, and timestamps pinned to UTC so results
are stable across environments.

PySpark's DataFrame debugging (``spark.python.sql.dataFrameDebugging.enabled``)
is off. With it on, every ``functions.*`` and ``Column`` call is wrapped to
capture its Python call site: each call reads a conf over Py4J, sets and
clears a JVM thread-local and walks the Python stack. Spark's own
description of the conf warns of "a non-trivial performance overhead
because of the stack trace collection". One build of the staged ETL plan
(``etl.pipeline.unified_rows``) sends 6,499 Py4J commands with it on and
1,489 with it off, and takes 0.18 s instead of 0.33 s on a 4-core host;
every query build and streaming micro-batch pays the same per-call cost.
The only loss is the Python ``file:line`` fragment in error messages;
nothing in this package reads it.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(app_name: str = "wd2sql_spark", *, shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or fetch) the session.

    ``shuffle_partitions`` defaults to the core count: at test scale every
    shuffle fits in memory, and AQE coalesces small partitions anyway. On a
    real cluster this would be set to ~2-3x total cores; AQE's coalescing
    makes the exact number non-critical.
    """
    cpus = default_parallelism()
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # No console progress bars: bench.py's driver contract is a single
        # parseable JSON line on stdout, and progress frames interleaved
        # into a merged stdout+stderr capture corrupted round 3's bench.
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # Static conf: see the module docstring.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    return builder.getOrCreate()
