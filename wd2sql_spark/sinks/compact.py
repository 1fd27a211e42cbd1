"""Compaction maintenance for the appendable LSH band store.

Admission appends (sinks/lsh_store.py) are the right write path —
the corpus is never re-hashed — but every append adds files per touched
partition, and appended files carry their OWN sort ranges, so over many
drops a partition accumulates small files with overlapping min/max
spans: scan listing cost grows and row-group skipping degrades toward
useless. The standard fix every table format schedules (Delta/Iceberg
OPTIMIZE, Hive compaction) is a periodic rewrite: read the store,
re-apply the canonical layout (range-spread + within-file sort), write
beside the live dataset, and swap.

``compact_dataset`` is that rewrite for a plain parquet directory:

- the rewrite job targets ``<dir>.compacting`` (a failed job leaves the
  live store untouched);
- the swap is two sequential renames (live → ``.old``, compacted →
  live). Each rename is atomic on POSIX, but the PAIR is not: a crash
  between them leaves no live directory. That window is recoverable, not
  safe-by-construction — ``recover_dataset`` (called automatically at
  the start of every compaction, and available to readers) restores the
  live dataset from whichever complete generation survives: ``.old`` if
  the second rename never happened, or nothing to do if the live dir
  exists. The ``.old`` generation is therefore kept until the NEW live
  dataset has been verified readable (a real ``spark.read`` + count),
  only then deleted;
- a layout that only re-arranges rows preserves the content bit-for-bit
  (pinned by tests/test_compact_recovery.py); the LSH store's layout
  also drops the duplicate rows a replayed append leaves, which on a
  store without replays changes nothing (tests/test_lsh_store.py).
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def recover_dataset(dataset_dir: str) -> str | None:
    """Crash recovery for an interrupted ``compact_dataset`` swap.

    Returns the action taken (``"restored_from_old"``) or ``None`` when
    no recovery was needed. Safe to call any time — e.g. by a store
    reader that finds the live directory missing.

    States after a crash, and their recovery:

    - live exists → healthy (``.compacting``/``.old`` leftovers are
      garbage from a failed run; callers may ignore or re-compact).
    - live missing, ``.old`` exists → crash landed between the two
      renames; restore ``.old`` → live. A complete ``.compacting``
      generation may also exist, but ``.old`` is the generation whose
      contents were verified by actual use, so it wins.
    - live missing, only ``.compacting`` → the first rename succeeded
      and the crash hit before the second; ``.old`` holds the data.
      (This state cannot coexist with "no .old": the first rename is
      what CREATES .old.) Nothing to restore from ``.compacting`` —
      it is promoted only by a successful swap.
    """
    live = dataset_dir.rstrip("/")
    old = live + ".old"
    if os.path.exists(live):
        return None
    if os.path.exists(old):
        os.rename(old, live)
        return "restored_from_old"
    return None


def compact_dataset(
    spark: SparkSession,
    dataset_dir: str,
    layout: Callable[[DataFrame], DataFrame],
    partition_by: list[str],
) -> None:
    """Rewrite ``dataset_dir`` (a partitioned parquet dataset) through
    ``layout`` and swap it in. Content is preserved exactly; only file
    boundaries and within-file order change.

    Crash-safety: the ``.old`` generation is retained until the swapped-in
    dataset passes a read check; an interrupted swap is healed by
    ``recover_dataset`` on the next call (or by any reader that invokes
    it). The unrecoverable-window claim of an earlier version was
    overstated — see the module docstring for the exact state machine.
    """
    recover_dataset(dataset_dir)
    live = dataset_dir.rstrip("/")
    tmp = live + ".compacting"
    old = live + ".old"
    shutil.rmtree(tmp, ignore_errors=True)
    df = spark.read.parquet(live)
    layout(df).write.partitionBy(*partition_by).parquet(tmp)
    shutil.rmtree(old, ignore_errors=True)
    os.rename(live, old)
    os.rename(tmp, live)
    # Verify the new generation actually reads before dropping the only
    # other complete copy. On failure, ROLL BACK in place: leaving the
    # unreadable generation as live would defeat recover_dataset (which
    # treats an existing live dir as healthy) and a retry would rewrite
    # FROM the bad generation and delete .old — discarding the last
    # verified copy. The failed generation is preserved beside the store
    # for debugging.
    try:
        spark.read.parquet(live).count()
    except Exception:
        failed = live + ".failed"
        shutil.rmtree(failed, ignore_errors=True)
        os.rename(live, failed)
        os.rename(old, live)
        raise
    shutil.rmtree(old, ignore_errors=True)
