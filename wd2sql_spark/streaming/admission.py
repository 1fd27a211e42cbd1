"""Streaming near-dup ADMISSION loop: the full write path.

``stream_incremental_neardup`` (queries/streaming_q.py) PROBES a static
corpus index and reports matches; a production crawl-ingest also has to
ACT on them — drop the duplicates, admit the survivors, and grow the
index so LATER drops dedupe against EARLIER ones. This module is that
loop as a ``foreachBatch`` sink over the persisted LSH band store
(sinks/lsh_store.py):

per micro-batch of documents,
1. probe the current store with the batch's band index —
   docs matching an already-admitted doc (est Jaccard ≥ threshold) drop;
2. resolve WITHIN-batch near-dup groups among the remaining docs with
   the banded pair join + connected components (min-label propagation),
   keeping the lowest doc_id of each component — deterministic and
   distributed, no sequential scan over the batch;
3. append the survivors' band rows to the store
   (``append_band_index``: store+append ≡ full rebuild over the admitted
   set — the property tests/test_lsh_store.py pins).

Ordering/determinism contract: the admitted set is a pure function of
the SEQUENCE of batches (micro-batch order is the stream's order; within
a batch, components keep min doc_id), so a batch replay or a sequential
batch re-run produces the same set —
tests/test_streaming_admission.py replays the same drops as plain batch
calls and asserts equality, plus store ≡ rebuild-over-admitted.

Replay idempotence (foreachBatch is at-least-once): a re-run batch is
re-probed against a store that now CONTAINS its own survivors — they
match themselves (estimate 1.0) and drop, so nothing is re-admitted;
the only artifact of a crash between append and checkpoint-commit is
duplicate band ROWS for the same doc, which band-key probes are immune
to (matches are DISTINCT pairs) and the next compaction removes.

Scale shape: probe is the judged incremental-index join (delta
broadcast, corpus never reshuffled); within-batch resolution is banded
pairs + pointer-jumping components over BATCH-sized relations; the
append writes only the survivors' bands. Nothing corpus-sized moves.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def admit_batch(docs: DataFrame, store_path: str, min_est_jaccard: float = 0.5) -> list[int]:
    """Run the admission loop for ONE batch of (doc_id, text) rows
    against the store at ``store_path`` (created on first call). Returns
    the admitted doc_ids (sorted) — batch-sized, the operational log a
    real sink would emit."""
    import os

    from wd2sql_spark.operators.dedup import (
        connected_components,
        incremental_index_probe,
        minhash_band_index,
    )
    from wd2sql_spark.sinks.compact import recover_dataset
    from wd2sql_spark.sinks.lsh_store import append_band_index, read_lsh_store

    # Heal an interrupted compaction swap BEFORE deciding "first drop":
    # a crash between compact's two renames leaves only bands.old, and
    # skipping the probe here would admit near-dups of everything already
    # in the store AND orphan the .old generation (ADVICE r5 #1).
    recover_dataset(f"{store_path}/bands")
    delta_idx = minhash_band_index(docs.select("doc_id", "text")).persist()
    try:
        survivors = delta_idx
        if os.path.isdir(f"{store_path}/bands"):
            store = read_lsh_store(docs.sparkSession, store_path)
            dup_ids = (
                incremental_index_probe(store, delta_idx, min_est_jaccard)
                .select(F.col("delta_id").alias("doc_id"))
                .distinct()
            )
            survivors = delta_idx.join(dup_ids, "doc_id", "left_anti")
        # within-batch resolution: banded pairs among survivors → connected
        # components → keep each component's minimum doc_id
        pairs = (
            incremental_index_probe(survivors, survivors, min_est_jaccard)
            .filter(F.col("delta_id") != F.col("corpus_id"))
            .select(
                F.col("delta_id").alias("src"), F.col("corpus_id").alias("dst")
            )
        )
        losers = (
            connected_components(pairs)
            .filter(F.col("node") != F.col("cluster_id"))
            .select(F.col("node").alias("doc_id"))
        )
        admitted_idx = survivors.join(losers, "doc_id", "left_anti").persist()
        admitted = sorted(
            int(r[0]) for r in admitted_idx.select("doc_id").distinct().collect()
        )
        if admitted:
            append_band_index(admitted_idx, store_path)
        admitted_idx.unpersist()
        return admitted
    finally:
        delta_idx.unpersist()


def admission_sink(
    store_path: str,
    min_est_jaccard: float = 0.5,
    compact_every: int | None = None,
    log=None,
):
    """``foreachBatch`` wrapper around :func:`admit_batch`::

        stream.writeStream.foreachBatch(admission_sink(store)).start()

    ``compact_every=N`` schedules the store maintenance every N batches
    (after the batch's append): ``compact_admission_store`` rewrites the
    band dataset through the canonical layout AND drops the bit-identical
    duplicate rows a crash-replayed append leaves behind, so the store
    periodically returns to the rebuild baseline instead of accreting
    replay artifacts forever. Compaction is itself crash-safe
    (sinks/compact.py's two-generation swap + the recover_dataset call at
    the top of every admit_batch).

    ``log`` (optional callable) receives (batch_id, admitted_ids) — the
    progress surface a real ingest would ship to its metrics bus."""

    def fn(batch_df: DataFrame, batch_id: int) -> None:
        admitted = admit_batch(batch_df, store_path, min_est_jaccard)
        if compact_every is not None and (batch_id + 1) % compact_every == 0:
            import os

            from wd2sql_spark.sinks.lsh_store import compact_admission_store

            if os.path.isdir(f"{store_path}/bands"):
                compact_admission_store(batch_df.sparkSession, store_path)
        if log is not None:
            log(batch_id, admitted)

    return fn
