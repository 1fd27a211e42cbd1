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
because of the stack trace collection". Building the nine ``perfbench``
query-battery queries at sf0.001 sends 3,332 Py4J commands with it on and
1,362 with it off, and takes 1.16 s instead of 1.83 s on a 4-core host
(median of 5 warm builds); every streaming micro-batch pays the same
per-call cost. The staged ETL plan is built from SQL text
(``etl.pipeline``), so its 59 commands per build are the same either way.
The only loss is the Python ``file:line`` fragment in error messages;
nothing in this package reads it.

Spark's generated-code class cache (``spark.sql.codegen.cache.maxEntries``,
also static) holds 4096 classes instead of the default 100. The working set
is far larger than 100: a first pass over the nine ``perfbench``
query-battery queries compiles about 195 classes and one over the whole
registry about 2,280 at sf0.001 (counted with Spark's ``CodegenMetrics``),
so 4096 leaves about 1.8x headroom. At 100, every pass that interleaves
queries (the bench's warm and TPC-H passes, the oracle sweeps) evicted
almost every class and paid Janino compilation plus a fresh
interpret-then-JIT of the new classes on each warm run. At 4096 a second
pass over the registry compiles a few dozen classes instead of about
2,700, and Metaspace holds about 17 MB more.

Whole-stage-codegen classes are also named without their stage id
(``spark.sql.codegen.useIdInClassName=false``). The cache is keyed on the
generated source, and the id in the class name was the only part of it
that changed from run to run: AQE numbers a query's stages in the order
they are planned, which depends on which stage finishes first, so a warm
run could get the same pipelines under new ids and compile them again
(``semdedup_cluster_prune`` did, 2-4 classes on some warm passes). Without
the id, identical pipelines share one class within and across queries: a
first pass over the registry compiles about 2,000 classes instead of
2,280, and later passes compile a handful at most. The only loss is the
stage id in the class name that profilers and stack traces show. Plans
and results do not change.
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
        # See the module docstring.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        .config("spark.sql.codegen.useIdInClassName", "false")
    )
    return builder.getOrCreate()
