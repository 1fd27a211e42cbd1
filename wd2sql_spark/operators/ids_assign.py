"""Global contiguous id assignment without a global window.

The naive way to number a corpus (``row_number() OVER (ORDER BY ...)``
with no PARTITION BY) collapses to a single partition — the exact
anti-pattern that dies at scale. ``monotonically_increasing_id`` is
distributed but neither contiguous nor order-defined. The scale-correct
pattern (the DataFrame equivalent of RDD ``zipWithIndex``):

1. range-repartition + sort on the ordering key — one exchange, shard k's
   keys all precede shard k+1's;
2. count rows per partition (a count-only job; the driver sees ONE number
   per partition, bounded by the partition count like the inlined IVF
   codebook — never data);
3. prefix-sum those counts into per-partition offsets, broadcast the tiny
   offset map back, and add an IN-PARTITION ``row_number`` (window
   partitioned by partition id — state bounded by one partition, never
   global).

The final id depends only on the TOTAL ORDER of the key, not on where
Spark drew the range boundaries: partitions are key-disjoint and sorted
within, so concatenating them in partition order IS the global order.
That is what makes the result reproducible (and DuckDB-oracle-checkable)
even though the physical boundary sample is Spark's own.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from wd2sql_spark.session_cache import memo

# One (checkpointed layout, offsets, total) memoized per (session,
# ordering, cache_key): the range sampler, the eager checkpoint, and the
# per-partition count are three driver jobs that produce the SAME result
# on an unchanged input — per-call they were the whole warm cost of the
# global-rank family (window_ntile_distribution: 1.54 s driver-warm r8,
# dominated by layout rebuild, not the final pass). Callers own key
# completeness: the key must identify the input relation (a collision
# would hand out ranks from the wrong layout).


def assign_contiguous_ids(
    df: DataFrame,
    order_cols: list[str],
    *,
    id_col: str = "global_id",
    n_partitions: int = 32,
    cache_key: tuple | None = None,
) -> DataFrame:
    """Add ``id_col`` = 1-based dense rank of each row in the total order
    of ``order_cols`` (which must be a unique key — ties would make the
    order, and therefore the ids, ambiguous).

    Cost: one range exchange + one count-only job + one in-partition
    window. No single-partition stage anywhere; driver traffic is one
    long per partition."""
    out, _ = global_order_rank(
        df, order_cols, id_col=id_col, n_partitions=n_partitions, cache_key=cache_key
    )
    return out


def global_order_rank(
    df: DataFrame,
    order_cols: list[str],
    *,
    id_col: str = "global_id",
    n_partitions: int = 32,
    cache_key: tuple | None = None,
) -> tuple[DataFrame, int]:
    """:func:`assign_contiguous_ids` plus the TOTAL row count, for free —
    the prefix-sum step already collects every partition's count, so the
    total is their sum, not an extra job.

    This is the scale-safe building block for the whole global-rank
    distribution family (``ntile``/``cume_dist``/``percent_rank``): with
    (rank, total) in hand those are row-local arithmetic, so no
    single-partition global window ever enters the plan (VERDICT r4 #1)."""
    cols = [F.col(c) for c in order_cols]

    def _build() -> tuple[DataFrame, dict, int]:
        parts = (
            df.repartitionByRange(n_partitions, *cols)
            .sortWithinPartitions(*cols)
            .withColumn("_pid", F.spark_partition_id())
            # EAGER localCheckpoint pins the partition layout: the count
            # job and the numbering job MUST see identical partitions for
            # the baked offsets to be valid, and the range sampler
            # redraws boundaries per execution. A persist() is NOT
            # enough — an earlier revision persisted here and unpersisted
            # on the next call, which silently corrupted ids when a
            # caller composed several assignments into one plan (the
            # layout audit's three orderings): the unpersisted layouts
            # re-executed with fresh boundaries under stale offsets.
            # Checkpoint blocks are cleaned by the ContextCleaner when
            # the relation is unreferenced, so repeated battery runs stay
            # bounded.
            .localCheckpoint(eager=True)
        )
        counts = {
            r["_pid"]: r["n"]
            for r in parts.groupBy("_pid").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        offsets, acc = {}, 0
        for pid in sorted(counts):
            offsets[pid] = acc
            acc += counts[pid]
        return parts, offsets, acc

    parts, offsets, acc = memo(
        df.sparkSession,
        f"ids_assign.rank_layout.{','.join(order_cols)}",
        (cache_key, n_partitions) if cache_key is not None else None,
        _build,
    )
    offset_expr: Column = F.lit(0).cast("long")
    if offsets:
        pairs = [x for pid, off in offsets.items() for x in (F.lit(pid), F.lit(off))]
        offset_expr = F.element_at(F.create_map(*pairs), F.col("_pid")).cast("long")
    w = Window.partitionBy("_pid").orderBy(*cols)
    ranked = (
        parts.withColumn(
            id_col, (offset_expr + F.row_number().over(w)).cast("long")
        )
        .drop("_pid")
    )
    return ranked, acc
