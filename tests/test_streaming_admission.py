"""Streaming near-dup ADMISSION loop (streaming/admission.py): the write
half of the incremental-dedup story — probe, drop, admit, grow the index.

Contracts pinned here:
- sequential-equivalence: driving the drops through a real Structured
  Streaming query (foreachBatch, one file per trigger) admits exactly
  the same doc set as calling admit_batch on the same drops in order;
- cross-batch dedup: a doc near-duplicating an EARLIER batch's admit
  drops; within-batch groups keep their minimum doc_id;
- store ≡ rebuild: after the stream, the band store equals a fresh
  write_lsh_store over the admitted docs (the append-equals-rebuild
  property, now composed through the admission loop);
- replay idempotence: re-admitting an already-processed batch admits
  nothing (its docs match themselves in the store);
- crash healing: a compaction crash that left only ``bands.old`` does
  NOT reset the store (ADVICE r5 #1 — admit_batch recovers before the
  first-drop check), and crash-replay duplicate band rows compact back
  to the rebuild baseline (``compact_admission_store``).
"""

from __future__ import annotations

import json
import uuid

from pyspark.sql import functions as F

from wd2sql_spark.sinks.lsh_store import read_lsh_store, write_lsh_store
from wd2sql_spark.streaming.admission import admission_sink, admit_batch

BASE = "the quick brown fox jumps over the lazy dog again and again today"
VARIANT = BASE + " ok"  # near-dup of BASE (high shingle overlap)
OTHER = "completely different content about database engines and parquet files"

# three drops: batch 0 admits 1 (BASE) and 3 (OTHER); 2 is a within-batch
# near-dup of 1. batch 1's doc 4 near-dups batch 0's admitted doc 1 →
# drops; doc 5 is new. batch 2's doc 6 near-dups doc 5 → drops.
DROPS = [
    [(1, BASE), (2, VARIANT), (3, OTHER)],
    [(4, BASE), (5, OTHER + " with bucketed joins and zone maps everywhere")],
    [(6, OTHER + " with bucketed joins and zone maps everywhere ok")],
]
EXPECTED = {0: [1, 3], 1: [5], 2: []}


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_batch_sequence_admits_expected_set(spark, tmp_path):
    store = str(tmp_path / "store")
    got = {}
    for i, drop in enumerate(DROPS):
        docs = spark.createDataFrame(drop, "doc_id long, text string")
        got[i] = admit_batch(docs, store, min_est_jaccard=0.5)
    assert got == EXPECTED
    # store ≡ rebuild over the admitted docs
    admitted = [(d, t) for drop in DROPS for d, t in drop if d in {1, 3, 5}]
    rebuilt_path = str(tmp_path / "rebuilt")
    write_lsh_store(
        spark.createDataFrame(admitted, "doc_id long, text string"), rebuilt_path
    )
    assert _rows(read_lsh_store(spark, store)) == _rows(
        read_lsh_store(spark, rebuilt_path)
    )
    # replay idempotence: re-admitting batch 0 admits nothing new
    docs0 = spark.createDataFrame(DROPS[0], "doc_id long, text string")
    assert admit_batch(docs0, store, min_est_jaccard=0.5) == []


def test_streaming_drive_matches_batch_sequence(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    import os
    import time

    now = time.time()
    for i, drop in enumerate(DROPS):
        p = src / f"drop{i}.json"
        with open(p, "w") as f:
            for d, t in drop:
                f.write(json.dumps({"doc_id": d, "text": t}) + "\n")
        os.utime(p, (now - 100 + i * 10, now - 100 + i * 10))

    store = str(tmp_path / "store")
    log: dict[int, list[int]] = {}
    q = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
        .writeStream.foreachBatch(
            admission_sink(
                store,
                min_est_jaccard=0.5,
                compact_every=2,  # exercises the periodic maintenance wiring
                log=lambda b, ids: log.__setitem__(b, ids),
            )
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .queryName(f"admit_{uuid.uuid4().hex[:8]}")
        .start()
    )
    q.awaitTermination()
    q.stop()
    assert log == EXPECTED
    admitted_ids = sorted(i for ids in log.values() for i in ids)
    stored_ids = sorted(
        int(r[0])
        for r in read_lsh_store(spark, store).select("doc_id").distinct().collect()
    )
    assert stored_ids == admitted_ids == [1, 3, 5]
    # the mid-stream compaction left no stray generations behind
    import os as _os

    assert not _os.path.exists(f"{store}/bands.old")
    assert not _os.path.exists(f"{store}/bands.compacting")


def test_compaction_crash_between_drops_still_dedupes(spark, tmp_path):
    """ADVICE r5 #1: a compaction crash that completed live → .old but not
    compacted → live must not make the next admit_batch treat its drop as
    the first — near-dups of already-admitted docs must still drop."""
    import os

    store = str(tmp_path / "store")
    docs0 = spark.createDataFrame(DROPS[0], "doc_id long, text string")
    assert admit_batch(docs0, store, min_est_jaccard=0.5) == [1, 3]
    os.rename(f"{store}/bands", f"{store}/bands.old")
    docs1 = spark.createDataFrame(DROPS[1], "doc_id long, text string")
    # doc 4 near-dups batch-0's admitted doc 1 — drops only if the store
    # was recovered before the first-drop check
    assert admit_batch(docs1, store, min_est_jaccard=0.5) == [5]
    stored = sorted(
        int(r[0])
        for r in read_lsh_store(spark, store).select("doc_id").distinct().collect()
    )
    assert stored == [1, 3, 5]
    assert not os.path.exists(f"{store}/bands.old")


def test_crash_replay_duplicates_compact_to_rebuild_baseline(spark, tmp_path):
    """The at-least-once window can append the same doc's band rows twice
    (bit-identical); compact_admission_store restores store ≡ rebuild."""
    from wd2sql_spark.operators.dedup import minhash_band_index
    from wd2sql_spark.sinks.lsh_store import (
        append_band_index,
        compact_admission_store,
    )

    store = str(tmp_path / "store")
    for drop in DROPS:
        admit_batch(
            spark.createDataFrame(drop, "doc_id long, text string"),
            store,
            min_est_jaccard=0.5,
        )
    # simulate the crash-replay artifact: doc 5's survivor append ran twice
    dup = spark.createDataFrame(
        [d for d in DROPS[1] if d[0] == 5], "doc_id long, text string"
    )
    append_band_index(minhash_band_index(dup), store)

    admitted = [(d, t) for drop in DROPS for d, t in drop if d in {1, 3, 5}]
    baseline_path = str(tmp_path / "rebuilt")
    write_lsh_store(
        spark.createDataFrame(admitted, "doc_id long, text string"), baseline_path
    )
    baseline = _rows(read_lsh_store(spark, baseline_path))

    assert _rows(read_lsh_store(spark, store)) != baseline  # dups present
    compact_admission_store(spark, store)
    assert _rows(read_lsh_store(spark, store)) == baseline
