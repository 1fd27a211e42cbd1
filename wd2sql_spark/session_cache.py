"""The one session-scoped memo for derived values.

``memo(spark, slot, key, build)`` holds ONE value per (live session,
slot) under one rule: a call hits only when its ``key`` is ``==``-equal
to the held key; any other key releases the held value — unpersisting
every persisted DataFrame inside it — before ``build()`` runs. A
``None`` key never hits: a caller that cannot name its input's identity
(ad-hoc operator inputs, tests) builds fresh on every call, and each
call still releases the previous generation, so executor storage stays
bounded at one generation per slot however often a query re-runs.

Keys name the data a value was derived from. Values read from fixture
files key on the files' (path, mtime_ns, size) (``catalog.file_key`` and
``catalog.sf_key``), so rewriting a file invalidates every memo built
from it. ``build`` is where a site persists, counts or checkpoints.

Sessions: an entry holds a WEAK reference to its session, and a hit
requires it to resolve to the very session asking. A plain
``id(spark)`` can be recycled after a session is stopped and collected,
which would hand a NEW session DataFrames bound to a dead SparkContext;
a ``spark.newSession()`` never sees another session's value.

Not thread-safe by design: query construction is driver-single-threaded
in this codebase (the concurrent ETL writes share no memo).
"""

from __future__ import annotations

import weakref
from collections.abc import Callable
from typing import Any, TypeVar

from pyspark.sql import DataFrame, SparkSession

T = TypeVar("T")

# (id(session), slot) -> (weakref to the session, key, value)
_HELD: dict[tuple[int, str], tuple[weakref.ref, Any, Any]] = {}


def memo(spark: SparkSession, slot: str, key: Any, build: Callable[[], T]) -> T:
    """The value held for (``spark``, ``slot``) if its key ``== key``;
    otherwise release the held value and hold ``build()`` under ``key``."""
    full = (id(spark), slot)
    held = _HELD.pop(full, None)
    if held is not None:
        ref, held_key, value = held
        if key is not None and ref() is spark and held_key == key:
            _HELD[full] = held
            return value
        _release(value)
    for k in [k for k, (ref, _, _) in _HELD.items() if ref() is None]:
        _release(_HELD.pop(k)[2])
    value = build()
    _HELD[full] = (weakref.ref(spark), key, value)
    return value


def _release(value: Any) -> None:
    """Unpersist every persisted DataFrame reachable in a memo value —
    values may be a bare DataFrame or a tuple/list/dict of relations
    (multi-relation builds keep their intermediate persists in the value
    precisely so this sweep can release them). Plans that were never
    persisted are skipped: ``unpersist`` would canonicalize them against
    every cached plan for nothing."""
    if isinstance(value, (tuple, list)):
        for v in value:
            _release(v)
    elif isinstance(value, dict):
        for v in value.values():
            _release(v)
    elif isinstance(value, DataFrame) and value.is_cached:
        try:
            value.unpersist()
        except Exception:
            pass  # session already stopped; nothing to release


def clear_all_session_caches() -> None:
    """Drop every memoized value and release its persisted relations.

    Plan documentation calls this so each query plans against the
    reproducible fresh-build shape: a query whose memoized relation is
    already built plans against a differently-persisted subtree, and its
    Exchange census shifts with suite ordering. LOCALCHECKPOINT-backed
    values have no synchronous release API; dropping the reference here
    leaves their blocks to Spark's ContextCleaner after GC. Accordingly,
    ``cached_relation_count`` observes only PERSISTED relations, and
    checkpoint storage is bounded by the one-generation-per-slot rule."""
    while _HELD:
        _release(_HELD.popitem()[1][2])


def cached_relation_count(spark: SparkSession) -> int:
    """Number of logical relations currently pinned in the session's
    CacheManager — the battery-end hygiene assertion reads this. Counts
    PERSISTED relations only; localCheckpoint blocks are invisible to
    the CacheManager (see ``clear_all_session_caches``)."""
    jcm = spark._jsparkSession.sharedState().cacheManager()
    return 0 if jcm.isEmpty() else int(jcm.numCachedEntries())


def checkpoint(df: DataFrame) -> DataFrame:
    """``df.localCheckpoint(eager=True)`` with AQE off, so the LogicalRDD
    leaf keeps ``df``'s partitioning and ordering.

    Use instead of persist when the relation feeds an UNROLLED iterative
    plan (pagerank): a persisted relation keeps its whole build subtree
    in the logical plan, so each unrolled round re-prints — and AQE
    re-schedules — the build lineage (measured on pagerank at sf0.1:
    14 jobs/run, 2.1 s warm; checkpointed: 8 exchanges in the plan text,
    1.2 s warm).

    AQE is off for the materialization because a checkpoint created
    under AQE wraps an AdaptiveSparkPlan whose output partitioning is
    still unknown: the leaf reports UnknownPartitioning and every
    consumer join re-exchanges and re-sorts the relation — exactly the
    layout a repartition+sortWithinPartitions build paid to establish.
    Created non-adaptively, the leaf carries HashPartitioning + the
    per-partition ordering, and consumers (still planned WITH AQE) reuse
    it with no Exchange or Sort (Spark 4.1: AQE-on ckpt → Exchange+Sort
    above Scan ExistingRDD; AQE-off ckpt → bare Scan ExistingRDD under
    the join). The toggle briefly mutates the session-global AQE conf,
    so this relies on the driver-single-threaded contract above: a query
    planned concurrently on another driver thread would plan without AQE.
    """
    spark = df.sparkSession
    prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        return df.localCheckpoint(eager=True)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)
