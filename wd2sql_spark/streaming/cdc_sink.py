"""Streaming CDC upsert sink: maintain a keyed dimension table from an
event stream with a foreachBatch MERGE.

The reference writes each row exactly once into a fresh database and never
reconciles a later dump against an earlier load (append-only inserts,
main.rs:223-237 in /root/reference); queries/cdc.py adds the batch MERGE
half (snapshot diff + classification). This module is the STREAMING half a
production pipeline runs continuously: each micro-batch folds into a
persistent per-key state table (event count, exact integer value units,
last event row), the same state triple as the batch snapshots, so the
streamed dimension is bit-identical to a batch rebuild at any commit point.

Exactly-once without a table format: state lives as parquet GENERATIONS
(``v=<batchId>`` directories). A batch merges its partials into the newest
COMMITTED generation *older than itself* and writes the result as its own
generation; Spark's parquet committer marks completion with ``_SUCCESS``.
A batch replayed after a crash (foreachBatch is at-least-once; the stream
checkpoint commits AFTER the sink returns) recomputes from the same base
and overwrites the same directory — idempotent, so checkpoint + generation
store compose to exactly-once. Generations strictly older than the replay
base are pruned after commit; the base itself is kept because a replay of
the just-committed batch still needs it.

This is exactly the dataflow a warehouse MERGE INTO runs — Delta/Iceberg
turn the generation swap into a metadata commit; plain parquet makes it a
directory. Scale shape: the micro-batch side is a partial aggregate
(map-side combine shrinks it to |keys touched| rows before any exchange);
the merge is one full-outer join keyed identically on both sides; the
state rewrite is O(|keys|), not O(events). At 100 TB of accumulated keys
the state generation would be written bucketed by key (Spark's
``bucketBy``) so the per-batch join is co-located: one shuffle at write
time, none at join time.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

UNIT_SCALE = 1_000_000  # exact integer value units, same scale as queries/cdc.py


def batch_partials(df: DataFrame) -> DataFrame:
    """Per-user partial state for one micro-batch: the associative,
    commutative triple (count, integer units sum, max last_row tuple) —
    merging partials in any batch order yields the batch-rebuild state."""
    units = F.round(F.col("value") * UNIT_SCALE, 0).cast("long")
    return df.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(units).alias("units"),
        F.max(F.struct("ts", "event_id", "event_type")).alias("last_row"),
    )


def merge_state(state: DataFrame, partials: DataFrame) -> DataFrame:
    """MERGE: full-outer join on the key, fold each state column with its
    combiner (sum / sum / tuple-max). Both sides aggregate/arrive hashed
    by user_id, so the join adds no third exchange."""
    s, p = state.alias("s"), partials.alias("p")
    j = s.join(p, F.col("s.user_id") == F.col("p.user_id"), "full_outer")
    zero = F.lit(0).cast("long")
    return j.select(
        F.coalesce(F.col("s.user_id"), F.col("p.user_id")).alias("user_id"),
        (F.coalesce(F.col("s.n_events"), zero) + F.coalesce(F.col("p.n_events"), zero)).alias(
            "n_events"
        ),
        (F.coalesce(F.col("s.units"), zero) + F.coalesce(F.col("p.units"), zero)).alias("units"),
        # greatest() of the (ts, event_id, event_type) tuples; greatest
        # skips NULL operands, so one-sided rows keep their own last_row.
        F.greatest(F.col("s.last_row"), F.col("p.last_row")).alias("last_row"),
    )


def _generations(state_dir: str) -> list[int]:
    """Committed generation ids (``v=<n>`` dirs bearing ``_SUCCESS``)."""
    if not os.path.isdir(state_dir):
        return []
    out = []
    for name in os.listdir(state_dir):
        if name.startswith("v=") and os.path.exists(os.path.join(state_dir, name, "_SUCCESS")):
            out.append(int(name[2:]))
    return sorted(out)


def read_state(spark: SparkSession, state_dir: str) -> DataFrame | None:
    """The newest committed state generation, or None before any commit."""
    gens = _generations(state_dir)
    if not gens:
        return None
    return spark.read.parquet(os.path.join(state_dir, f"v={gens[-1]}"))


def upsert_sink(state_dir: str):
    """A ``foreachBatch`` function maintaining the keyed state under
    ``state_dir``. Usage::

        stream.writeStream.foreachBatch(upsert_sink(dir))
              .option("checkpointLocation", ckpt).trigger(...).start()
    """

    def fn(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        gens = _generations(state_dir)
        # Replay-stable base: the newest committed generation OLDER than
        # this batch. A replayed batch ignores its own earlier (committed
        # or partial) attempt and recomputes from the identical base.
        older = [g for g in gens if g < batch_id]
        part = batch_partials(batch_df)
        if older:
            base = spark.read.parquet(os.path.join(state_dir, f"v={older[-1]}"))
            new = merge_state(base, part)
        else:
            new = part
        new.write.mode("overwrite").parquet(os.path.join(state_dir, f"v={batch_id}"))
        # Prune strictly BELOW the base: the base must survive so a
        # post-commit replay of THIS batch can still rebuild v=batch_id.
        for g in older[:-1]:
            shutil.rmtree(os.path.join(state_dir, f"v={g}"), ignore_errors=True)

    return fn
