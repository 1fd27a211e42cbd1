"""Crash-recovery contract of the compaction swap (ADVICE r3).

``compact_dataset`` swaps generations with two renames; a crash between
them leaves no live directory. ``recover_dataset`` must restore the
``.old`` generation, and compaction must keep ``.old`` on disk until the
new live dataset has passed a real read check.
"""

from __future__ import annotations

import os
import shutil

import pytest

from wd2sql_spark.sinks.compact import compact_dataset, recover_dataset


@pytest.fixture()
def store(spark, tmp_path):
    d = str(tmp_path / "store")
    spark.range(100).selectExpr("id", "id % 4 AS p").write.partitionBy("p").parquet(d)
    return d


def _rows(spark, d):
    return sorted(tuple(r) for r in spark.read.parquet(d).collect())


def test_recover_noop_when_live_exists(spark, store):
    assert recover_dataset(store) is None
    assert len(_rows(spark, store)) == 100


def test_recover_restores_old_after_crash_between_renames(spark, store):
    before = _rows(spark, store)
    # simulate the crash window: live was renamed to .old, second rename
    # never happened
    os.rename(store, store + ".old")
    assert not os.path.exists(store)
    assert recover_dataset(store) == "restored_from_old"
    assert _rows(spark, store) == before
    assert not os.path.exists(store + ".old")


def test_compact_heals_interrupted_swap_and_preserves_content(spark, store):
    before = _rows(spark, store)
    os.rename(store, store + ".old")  # interrupted prior swap
    compact_dataset(spark, store, lambda df: df.repartition(1), ["p"])
    assert _rows(spark, store) == before
    # a clean compaction leaves no stale generations behind
    assert not os.path.exists(store + ".old")
    assert not os.path.exists(store + ".compacting")


def test_compact_noop_layout_is_content_identical(spark, store):
    before = _rows(spark, store)
    compact_dataset(spark, store, lambda df: df.sortWithinPartitions("id"), ["p"])
    assert _rows(spark, store) == before


def test_store_readers_heal_interrupted_swap_on_open(spark, tmp_path):
    """ADVICE r4 #4: the LSH store's read path invokes recover_dataset,
    so a crash between compaction's two renames is healed on the first
    read — not only by the next compaction run."""
    from wd2sql_spark.sinks.lsh_store import read_lsh_store, write_lsh_store

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "beta gamma delta epsilon")],
        ["doc_id", "text"],
    )
    lsh_path = str(tmp_path / "lsh")
    write_lsh_store(docs, lsh_path)
    before = sorted(tuple(r) for r in read_lsh_store(spark, lsh_path).collect())
    os.rename(f"{lsh_path}/bands", f"{lsh_path}/bands.old")  # crash window
    healed = sorted(tuple(r) for r in read_lsh_store(spark, lsh_path).collect())
    assert healed == before


def test_failed_rewrite_leaves_live_untouched(spark, store):
    before = _rows(spark, store)

    def bad_layout(df):
        raise RuntimeError("rewrite job died")

    with pytest.raises(RuntimeError):
        compact_dataset(spark, store, bad_layout, ["p"])
    assert _rows(spark, store) == before
    shutil.rmtree(store + ".compacting", ignore_errors=True)
