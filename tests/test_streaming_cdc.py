"""Streaming CDC upsert sink (streaming/cdc_sink.py): the streamed
dimension state must equal a batch rebuild at every commit point, survive
micro-batch replays idempotently, and continue exactly-once across
separate query starts sharing a checkpoint."""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from wd2sql_spark.streaming.cdc_sink import (
    batch_partials,
    read_state,
    upsert_sink,
)

SCHEMA = StructType(
    [
        StructField("ts", TimestampType()),
        StructField("event_id", LongType()),
        StructField("event_type", StringType()),
        StructField("user_id", LongType()),
        StructField("value", DoubleType()),
    ]
)

ROWS = [
    # (ts, event_id, event_type, user_id, value) — user 1 spans batches,
    # user 2 lives in batch 0 only, user 3 appears late.
    ("2024-01-01T10:00:00", 1, "view", 1, 1.5),
    ("2024-01-01T10:01:00", 2, "click", 2, 2.25),
    ("2024-01-01T11:00:00", 3, "view", 1, 0.5),
    ("2024-01-01T11:30:00", 4, "purchase", 1, 10.0),
    ("2024-01-01T12:00:00", 5, "view", 3, 3.0),
    ("2024-01-01T12:30:00", 6, "click", 3, 1.0),
]


def _write_file(path, rows, mtime):
    with open(path, "w") as f:
        for ts, eid, et, uid, v in rows:
            f.write(
                json.dumps(
                    {"ts": ts, "event_id": eid, "event_type": et, "user_id": uid, "value": v}
                )
                + "\n"
            )
    os.utime(path, (mtime, mtime))


def _df(spark, rows):
    return spark.createDataFrame(
        [(r[0].replace("T", " "),) + r[1:] for r in rows],
        "ts string, event_id long, event_type string, user_id long, value double",
    ).selectExpr("CAST(ts AS TIMESTAMP) ts", "event_id", "event_type", "user_id", "value")


def _state_rows(df):
    return sorted(
        (r["user_id"], r["n_events"], r["units"], tuple(r["last_row"])) for r in df.collect()
    )


def _run_stream(spark, src, ckpt, state_dir):
    q = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
        .writeStream.foreachBatch(upsert_sink(state_dir))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .queryName(f"cdc_{uuid.uuid4().hex[:8]}")
        .start()
    )
    q.awaitTermination()
    q.stop()


def test_streamed_state_equals_batch_rebuild(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    state_dir = str(tmp_path / "state")
    now = time.time()
    for i, chunk in enumerate([ROWS[:2], ROWS[2:4], ROWS[4:]]):
        _write_file(str(src / f"f{i}.json"), chunk, now - 100 + i * 10)

    _run_stream(spark, src, str(tmp_path / "ckpt"), state_dir)

    got = _state_rows(read_state(spark, state_dir))
    want = _state_rows(batch_partials(_df(spark, ROWS)))
    assert got == want
    # Spot-check the fold itself: user 1 saw 3 events, 12.0 total value,
    # last row = the 11:30 purchase.
    u1 = [r for r in got if r[0] == 1][0]
    assert u1[1] == 3 and u1[2] == 12_000_000 and u1[3][2] == "purchase"


def test_replayed_batch_is_idempotent(spark, tmp_path):
    state_dir = str(tmp_path / "state")
    fn = upsert_sink(state_dir)
    fn(_df(spark, ROWS[:2]), 0)
    fn(_df(spark, ROWS[2:4]), 1)
    before = _state_rows(read_state(spark, state_dir))
    # foreachBatch is at-least-once: the same batch can be replayed after
    # a crash between sink completion and checkpoint commit. The replay
    # recomputes from the same base generation → identical state, no
    # double-counting.
    fn(_df(spark, ROWS[2:4]), 1)
    assert _state_rows(read_state(spark, state_dir)) == before
    assert before == _state_rows(batch_partials(_df(spark, ROWS[:4])))


def test_restart_continues_exactly_once(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    state_dir = str(tmp_path / "state")
    now = time.time()
    _write_file(str(src / "f0.json"), ROWS[:4], now - 100)
    _run_stream(spark, src, ckpt, state_dir)

    _write_file(str(src / "f1.json"), ROWS[4:], now - 50)
    _run_stream(spark, src, ckpt, state_dir)  # same checkpoint, new query

    got = _state_rows(read_state(spark, state_dir))
    assert got == _state_rows(batch_partials(_df(spark, ROWS)))
