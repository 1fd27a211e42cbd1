"""Streaming semantics the single-batch fixture can't pin: real late-data
DROP across micro-batches, and foreachBatch micro-batch cadence (the
analog of the reference's 1000-entity transaction batching,
main.rs:223-237)."""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType, TimestampType

SCHEMA = StructType(
    [StructField("ts", TimestampType()), StructField("k", StringType())]
)


def _write_file(path, rows):
    with open(path, "w") as f:
        for ts, k in rows:
            f.write(json.dumps({"ts": ts, "k": k}) + "\n")


def test_late_data_dropped_across_microbatches(spark, tmp_path):
    """Three micro-batches (maxFilesPerTrigger=1): batch 0 takes the max
    event time to 10:05 → watermark 10:03; Spark 3.4+ filters late events
    with the PREVIOUS batch's watermark (watermarkForLateEvents lags
    eviction by one batch), so batch 1 is a spacer that lets 10:03 become
    the late-event bar; batch 2's 09:00 event then has window end
    10:00 < 10:03 → DROPPED (numRowsDroppedByWatermark=1). A batch engine
    or watermark-less stream would count it."""
    src = tmp_path / "src"
    src.mkdir()
    files = [
        ("a.json", [("2024-01-01T10:00:00", "x"), ("2024-01-01T10:05:00", "x")]),
        ("b.json", [("2024-01-01T10:10:00", "x")]),
        ("c.json", [("2024-01-01T09:00:00", "late"), ("2024-01-01T11:00:00", "x")]),
    ]
    now = time.time()
    for i, (name, rows) in enumerate(files):
        p = str(src / name)
        _write_file(p, rows)
        os.utime(p, (now - 100 + i * 10, now - 100 + i * 10))  # file order = batch order

    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
        .withWatermark("ts", "2 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("start"), "n")
    )
    qname = f"late_{uuid.uuid4().hex[:8]}"
    # update mode, not complete: watermark-based late-row dropping and
    # state eviction only apply in append/update (complete keeps all
    # state and counts late rows).
    q = (
        stream.writeStream.format("memory")
        .queryName(qname)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    dropped = sum(
        (p["stateOperators"][0].get("numRowsDroppedByWatermark", 0) if p["stateOperators"] else 0)
        for p in q.recentProgress
    )
    q.stop()
    got: dict[int, int] = {}
    for r in spark.table(qname).collect():  # update mode may emit a window
        got[r.start.hour] = max(got.get(r.start.hour, 0), r.n)  # more than once
    assert got.get(10) == 3 and got.get(11) == 1
    assert 9 not in got, f"late event leaked into a dead window: {got}"
    assert dropped == 1, f"expected exactly the late row dropped, got {dropped}"


def test_stateful_streak_carries_across_microbatches(spark, tmp_path):
    """The applyInPandasWithState streak tracker must carry the trailing
    run through group state: a streak of 4 'A's split 2|2 across two
    micro-batches reads as 4, where a per-batch fold would report 2."""
    from pyspark.sql.types import LongType

    from wd2sql_spark.streaming.stateful import track_streaks

    schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("ts", TimestampType()),
            StructField("event_id", LongType()),
            StructField("event_type", StringType()),
        ]
    )
    src = tmp_path / "streaks"
    src.mkdir()
    batches = [
        [(1, "2024-01-01T10:00:00", 1, "A"), (1, "2024-01-01T10:01:00", 2, "A")],
        [
            (1, "2024-01-01T10:02:00", 3, "A"),
            (1, "2024-01-01T10:03:00", 4, "A"),
            (1, "2024-01-01T10:04:00", 5, "B"),
        ],
    ]
    now = time.time()
    for i, rows in enumerate(batches):
        p = str(src / f"b{i}.json")
        with open(p, "w") as f:
            for uid, ts, eid, et in rows:
                f.write(
                    json.dumps({"user_id": uid, "ts": ts, "event_id": eid, "event_type": et})
                    + "\n"
                )
        os.utime(p, (now - 100 + i * 10, now - 100 + i * 10))

    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).json(str(src))
    qname = f"streaks_{uuid.uuid4().hex[:8]}"
    q = (
        track_streaks(stream)
        .writeStream.format("memory")
        .queryName(qname)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    q.stop()
    rows = spark.table(qname).collect()
    # update mode emits once per batch; the final state is the row with the
    # highest n_events.
    final = max(rows, key=lambda r: r.n_events)
    assert final.n_events == 5
    assert final.max_streak == 4, f"carry lost across batches: {rows}"


def test_foreach_batch_microbatch_cadence(spark, tmp_path):
    """foreachBatch sees one call per micro-batch with the full batch as a
    regular DataFrame — the streaming analog of txn batching (2-A#13)."""
    src = tmp_path / "src2"
    src.mkdir()
    for i in range(3):
        _write_file(str(src / f"f{i}.json"), [(f"2024-01-01T0{i}:00:00", f"k{i}")])

    seen: list[tuple[int, int]] = []

    def sink(df, epoch_id):
        seen.append((epoch_id, df.count()))

    q = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
        .writeStream.foreachBatch(sink)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    q.stop()
    assert len(seen) == 3, seen
    assert sum(n for _, n in seen) == 3


def test_checkpoint_restart_is_exactly_once(spark, tmp_path):
    """Stop/restart semantics: a file-source stream with a checkpoint
    processes each input file exactly once ACROSS separate query starts —
    the property that lets a production ingest restart after failure
    without duplicating or dropping data. Run 1 sees files written before
    it; run 2 (same checkpoint, new query object) must emit only the files
    added in between, and the union must be exact."""
    from pyspark.sql.types import LongType, StructField, StructType

    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    schema = StructType([StructField("v", LongType())])

    def write_file(name: str, lo: int, hi: int) -> None:
        (src / name).write_text("\n".join(f'{{"v": {i}}}' for i in range(lo, hi)) + "\n")

    def run_once() -> None:
        q = (
            spark.readStream.schema(schema)
            .json(str(src))
            .writeStream.format("parquet")
            .option("checkpointLocation", ckpt)
            .option("path", out)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        q.stop()

    write_file("a.json", 0, 10)
    run_once()
    first = sorted(r["v"] for r in spark.read.parquet(out).collect())
    assert first == list(range(10))

    write_file("b.json", 10, 20)
    run_once()
    both = sorted(r["v"] for r in spark.read.parquet(out).collect())
    assert both == list(range(20))  # a.json not reprocessed, b.json not missed
