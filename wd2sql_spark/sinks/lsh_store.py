"""Materialized MinHash-LSH index: the dedup index as a parquet store.

The incremental dedup path (operators/dedup.py::minhash_band_index /
incremental_index_probe) describes its corpus index as "the artifact
an incremental pipeline WRITES ONCE per corpus and reuses for every
subsequent drop". This sink IS that artifact: the band index written
partitioned by ``band`` and range-sorted by ``band_key`` within files,
so a delta probe prunes to its band partitions at the scan and parquet
min/max row-group statistics skip non-matching ``band_key`` ranges —
no session state, survives executor loss, serves cold from any cluster
that can read the path.

Layout (the MinHash shape is operators/dedup.py's ``K``/``BAND_SIZE``):
    <path>/bands/band=<b>/   (doc_id, band_key, mh0..mh{K-1})

Admission maintenance is an APPEND: a drop that passes dedup is banded
(``minhash_band_index`` over the delta only) and appended to the same layout —
``append_band_index`` — after which the store equals a full rebuild
over corpus+delta bit-for-bit (pinned by tests/test_lsh_store.py). The
corpus is never re-hashed. A probe is ``incremental_index_probe`` over
``read_lsh_store`` and the delta's band index, as streaming/admission.py
runs it; ``compact_admission_store`` is the periodic rewrite.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from wd2sql_spark.operators.dedup import MH_COLS, minhash_band_index


def _layout(idx: DataFrame) -> DataFrame:
    """Range-spread on (band, band_key): keeps full write parallelism
    (unlike a repartition-by-band, which would cap tasks at n_bands) while
    making every output file's band_key range tight for row-group
    skipping."""
    spark = idx.sparkSession
    n = spark.sparkContext.defaultParallelism
    return idx.repartitionByRange(n, "band", "band_key").sortWithinPartitions(
        "band", "band_key"
    )


def append_band_index(idx: DataFrame, path: str) -> None:
    """Append an already-banded index (``minhash_band_index`` rows) to
    the store at ``path``, creating it on first call. The one writer of
    the band layout: an admission drop appends its survivors' rows here,
    so store+append ≡ full rebuild over the union."""
    _layout(idx).write.mode("append").partitionBy("band").parquet(f"{path}/bands")


def write_lsh_store(docs: DataFrame, path: str) -> None:
    """Build the band index from ``docs`` (one tokenize→shingle→minhash
    pass) and write it as the store at a new ``path``: the rebuild
    baseline an admitted store is compared against."""
    append_band_index(minhash_band_index(docs), path)


def read_lsh_store(spark: SparkSession, path: str) -> DataFrame:
    """The store as the band-index relation, its columns selected by name
    in ``minhash_band_index``'s order (the partition column comes back
    last from the scan).

    Heals an interrupted compaction swap on open (ADVICE r4 #4): a crash
    between compact's two renames leaves no live ``bands`` dir but a
    complete ``.old`` generation — recover it here so the store is
    readable on FIRST read, not only after the next compaction run."""
    from wd2sql_spark.sinks.compact import recover_dataset

    recover_dataset(f"{path}/bands")
    return spark.read.parquet(f"{path}/bands").select("doc_id", "band", "band_key", *MH_COLS)


def compact_admission_store(spark: SparkSession, path: str) -> None:
    """Maintenance for a store grown by the streaming ADMISSION loop
    (streaming/admission.py): rewrite the band dataset through the
    canonical layout (range-spread + within-file band_key sort) with a
    full-row ``dropDuplicates``, and swap atomically. File counts shrink
    back to one write generation and per-file band_key ranges become
    tight again, so probe-time row-group skipping recovers.

    The admission loop's at-least-once window (crash after the append
    commits but before the streaming checkpoint does) can leave the SAME
    doc's band rows appended twice; the rows are bit-identical (the
    minhash arithmetic is deterministic), so probe results are unaffected
    — matches are DISTINCT pairs — but the store diverges from the
    rebuild baseline and carries dead weight. This compaction restores
    store ≡ rebuild-over-admitted exactly
    (tests/test_streaming_admission.py pins crash-replay → compact →
    baseline). Every band row carries its ``doc_id``, so on a store
    without replayed appends the ``dropDuplicates`` removes nothing and
    the content is unchanged (tests/test_lsh_store.py)."""
    from wd2sql_spark.sinks.compact import compact_dataset

    compact_dataset(
        spark, f"{path}/bands", lambda df: _layout(df.dropDuplicates()), ["band"]
    )

