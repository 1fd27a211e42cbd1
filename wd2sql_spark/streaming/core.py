"""Structured-streaming building blocks.

The reference is a batch tool whose moral equivalent of streaming is its
constant-memory pipe + 1000-entity transaction cadence (main.rs:174,
223-237). Here that becomes real Structured Streaming: file sources →
the same transform DAGs → micro-batch sinks; watermarks bound state like
the reference's bounded buffers bound memory.

Test harness note: ``run_to_batch`` executes a streaming DataFrame to
completion with ``availableNow`` (process-everything-then-stop — the
batch-parity trigger) into a uniquely-named memory sink and returns the
result as a batch DataFrame, which is what lets streaming queries sit in
the same oracle-diff harness as everything else.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession

from wd2sql_spark.catalog import events_ts, table


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events fixture as a file-source stream with a proper event-time
    column.

    The stream source needs a declared schema; it is the batch table's
    (``catalog.table``, memoized per file, which also sets the timestamp
    read confs), so the stream adapts to the fixture generation the same
    way ``catalog.events`` does (:func:`catalog.events_ts`)."""
    # glob, not the bare file path: the file-stream source requires a
    # directory or glob (it watches the parent for new files).
    raw = spark.readStream.schema(table(spark, sf_dir, "events").schema).parquet(
        f"{sf_dir}/events*.parquet"
    )
    return events_ts(raw)


# Stateful operators create one state-store instance PER shuffle partition
# per store (a stream-stream join keeps four stores per partition), and the
# store setup cost dominates a small availableNow run: the fixture interval
# join is 5× faster at 8 partitions than at 32. On a real cluster the
# partition count is sized to state volume and cores — here it is a harness
# knob for running many short stateful queries back to back.
STREAM_SHUFFLE_PARTITIONS = 8


def run_to_batch(sdf: DataFrame, *, output_mode: str = "complete", name: str = "q") -> DataFrame:
    """Run a streaming DataFrame to completion (availableNow) into a memory
    sink; return the materialized result. Unique sink names keep repeated
    driver invocations independent. The shuffle-partition count is scoped
    to the run (set at start, restored after): a streaming query pins its
    state-store layout from the session config at START, so this is the
    one place the knob can be applied per-query."""
    spark = sdf.sparkSession
    qname = f"stream_{name}_{uuid.uuid4().hex[:8]}"
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(STREAM_SHUFFLE_PARTITIONS))
    try:
        q = (
            sdf.writeStream.format("memory")
            .queryName(qname)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        q.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return spark.table(qname)
