"""Skew-mitigation join: manual key salting.

AQE's skew-join splitting (on in session.py) handles most skew at runtime,
but it only splits oversized PARTITIONS after a sort-merge shuffle; a
single pathological key that dwarfs every executor still needs salting —
the classic technique AQE cannot apply when the skewed side must first be
aggregated, or on engines/paths where AQE is off.

Mechanics: the big side gets a deterministic pseudo-random salt in
[0, n_salts); the other side is replicated n_salts times (one copy per
salt). The join key becomes (key, salt), so a hot key's rows spread over
``n_salts`` reducers instead of one. The join RESULT is identical to the
unsalted join — which is what makes the operator oracle-checkable.

Cost model: replication multiplies the small side's shuffle volume by
n_salts — choose n_salts ≈ (hot-key rows / target-partition rows), and
salt only when a key exceeds what one executor can sort (AQE's skew stats
or a pre-pass groupBy count tells you which keys those are).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

SALT = "_salt"


def salted_join(
    big: DataFrame,
    other: DataFrame,
    on: Column,
    *,
    salt_src: str,
    n_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Join ``big`` to ``other`` on ``on`` with the big side salted.

    ``salt_src``: a column of ``big`` used to derive the salt (any column
    with per-row variety under one join key — a line number, an id). Salt
    derivation is a pure hash, so the plan stays deterministic end-to-end.
    The sort-merge hint pins the strategy: broadcasting ``other`` would
    make salting a no-op and hide the technique under test.

    ``how`` is restricted to joins that replication preserves: with
    ``other`` copied once per salt, a right/full outer join would emit
    every unmatched ``other`` row n_salts times.
    """
    allowed = {"inner", "left", "left_outer", "left_semi", "left_anti"}
    if how not in allowed:
        raise ValueError(
            f"salted_join: how={how!r} is not replication-safe; "
            f"unmatched rows of the replicated side would duplicate. Use one of {sorted(allowed)}."
        )
    b = big.withColumn(SALT, F.pmod(F.xxhash64(F.col(salt_src)), F.lit(n_salts)).cast("int"))
    salts = F.array(*[F.lit(i) for i in range(n_salts)])
    o = other.withColumn(SALT, F.explode(salts))
    joined = b.join(o.hint("merge"), on & (b[SALT] == o[SALT]), how)
    return joined.drop(SALT)


def spread_rows(src: DataFrame, *cols) -> DataFrame:
    """Project ``src.select(*cols)`` and distribute it across the
    session's cores before a CPU-heavy stage (guide §2.5 "input skew":
    one unsplittable input file leaves the whole map stage on one task —
    repartition immediately after the read).

    The fixture tables are single-file single-row-group parquet, so EVERY
    scan is exactly one task regardless of split configuration; a fused
    Python codec pipeline placed directly over such a scan runs serially
    on one core of local[32]. This helper hash-repartitions the
    projection on ``doc_id`` (deterministic placement — no round-robin,
    per SPARK-38388's retry hazard and its sort-before-repartition cost)
    to the session's default parallelism, moving the rows once so the
    expensive per-row work runs wide.

    SCALE-ADAPTIVE, not a local-only constant: when ``src`` already
    carries at least that many partitions — the normal case at production
    scale, where the scan itself provides parallelism — it is a NO-OP and
    no exchange is added.

    The partition count is probed on ``src``, not on the projection: a
    projection keeps its source's partitioning, so the counts are equal
    by construction. The probe is driver-side plan analysis only (no
    job) but costs ~0.2 s of py4j/conversion the FIRST time on a given
    DataFrame object (cached on the object afterwards), so ``src``
    should be a long-lived relation such as the session-cached
    ``catalog.table()`` object.
    """
    df = src.select(*cols)
    target = src.sparkSession.sparkContext.defaultParallelism
    if src.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target, "doc_id")
