"""The session memo (``session_cache.memo``): one value per (live session,
slot), a hit only on an ``==``-equal key, and a release of the held value
on any other key. The battery-level storage assertion lives in
test_persist_hygiene.py; these pin the rule on tiny relations, on a
rewritten fixture, and on the package's source.
"""

from __future__ import annotations

import ast
import os
import re
import shutil
from pathlib import Path

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

import wd2sql_spark
from tests.oracle_check import compare
from wd2sql_spark import session_cache
from wd2sql_spark.catalog import table
from wd2sql_spark.queries.registry import load_all_modules
from wd2sql_spark.session_cache import (
    cached_relation_count,
    checkpoint,
    clear_all_session_caches,
    memo,
)


def test_equal_key_returns_held_object(spark):
    clear_all_session_caches()
    built = []

    def build():
        built.append(1)
        return spark.range(10).persist()

    a = memo(spark, "t.reuse", ("k", 1), build)
    b = memo(spark, "t.reuse", ("k", 1), build)
    assert b is a
    assert len(built) == 1
    clear_all_session_caches()


def test_new_key_releases_old_value(spark):
    clear_all_session_caches()
    spark.catalog.clearCache()
    a = memo(spark, "t.replace", ("k1",), spark.range(10).persist)
    a.count()
    n0 = cached_relation_count(spark)
    b = memo(spark, "t.replace", ("k2",), spark.range(20).persist)
    b.count()
    assert b is not a
    assert not a.is_cached
    # the old generation was unpersisted: the count didn't grow
    assert cached_relation_count(spark) <= n0
    clear_all_session_caches()


def test_none_key_builds_fresh_and_releases(spark):
    clear_all_session_caches()
    spark.catalog.clearCache()
    a = memo(spark, "t.none", None, spark.range(5).persist)
    b = memo(spark, "t.none", None, spark.range(6).persist)
    assert b is not a
    assert not a.is_cached
    assert cached_relation_count(spark) == 1
    clear_all_session_caches()


def test_memo_is_per_session(spark):
    clear_all_session_caches()
    other = spark.newSession()
    a = memo(spark, "t.session", ("k",), lambda: object())
    b = memo(other, "t.session", ("k",), lambda: object())
    assert b is not a
    assert memo(spark, "t.session", ("k",), lambda: object()) is a
    assert memo(other, "t.session", ("k",), lambda: object()) is b
    clear_all_session_caches()


def test_checkpoint_preserves_partitioning(spark):
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    df = spark.range(100).select((F.col("id") % 7).alias("k"), "id")
    ck = checkpoint(df.repartition(4, "k").sortWithinPartitions("k"))
    assert spark.conf.get("spark.sql.adaptive.enabled") == aqe
    # LogicalRDD leaf: lineage truncated
    assert "ExistingRDD" in ck._jdf.queryExecution().executedPlan().toString()
    # the leaf keeps HashPartitioning(k): an aggregate on k needs no exchange
    agg = ck.groupBy("k").count()._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in agg
    assert ck.count() == 100


def test_clear_all_releases_everything(spark):
    clear_all_session_caches()
    spark.catalog.clearCache()
    memo(spark, "t.clear.df", ("v",), spark.range(3).persist)
    memo(spark, "t.clear.tuple", ("t",), lambda: (spark.range(4).persist(), spark.range(5).persist()))
    memo(spark, "t.clear.dict", ("d",), lambda: {"x": spark.range(6).persist()})
    assert cached_relation_count(spark) >= 4
    clear_all_session_caches()
    assert cached_relation_count(spark) == 0


def _rewrite(path: str, seed: int) -> None:
    """Rewrite a fixture file with a seeded two-thirds subset of its rows."""
    t = pq.read_table(path)
    keep = np.sort(np.random.default_rng(seed).choice(t.num_rows, t.num_rows * 2 // 3, replace=False))
    pq.write_table(t.take(keep), path)


def test_rewritten_fixture_invalidates_memos(spark, sf_dir, tmp_path):
    """Memos key on the fixture files' (path, mtime_ns, size): after the
    files change, the scan memo, a plan-memoized query and a query with a
    memoized persist all answer from the NEW files."""
    registry = load_all_modules()
    sf = str(tmp_path / "sf")
    shutil.copytree(sf_dir, sf)
    queries = ("agg_pricing_summary", "sessionize_gap30m_skewsafe")
    oracles = {
        "lineitem": "SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem",
        **{name: registry[name].oracle for name in queries},
    }

    def answers() -> dict[str, DataFrame]:
        li = table(spark, sf, "lineitem").select("l_orderkey", "l_linenumber", "l_quantity")
        return {"lineitem": li, **{name: registry[name].fn(spark, sf) for name in queries}}

    for df in answers().values():
        df.collect()
    _rewrite(os.path.join(sf, "lineitem.parquet"), seed=1)
    _rewrite(os.path.join(sf, "events.parquet"), seed=2)
    for name, df in answers().items():
        res = compare(name, df, oracles[name], sf)
        assert res.ok, (name, res.errors)
    clear_all_session_caches()


# The queries perfbench/query_battery.py runs.
BATTERY = (
    "agg_pricing_summary",
    "join_shipping_priority_topk",
    "agg_customer_order_distribution",
    "subq_sole_fault_suppliers",
    "flagship_semi_join_enrich",
    "sessionize_gap30m_skewsafe",
    "semdedup_cluster_prune",
    "join_basket_cooccurrence",
    "quality_repetition_metrics",
)


def _leaves(value):
    if isinstance(value, (tuple, list)):
        for v in value:
            yield from _leaves(v)
    elif isinstance(value, dict):
        for k in sorted(value):
            yield from _leaves(value[k])
    else:
        yield value


def test_equal_key_denotes_same_plan(spark, sf_dir):
    """A hit under a key must serve what a fresh build would build: for
    every memo the battery queries reach, two builds from a cleared memo
    under the same key are semantically the same plan."""
    registry = load_all_modules()
    for name in BATTERY:
        builds = []
        for _ in range(2):
            clear_all_session_caches()
            registry[name].fn(spark, sf_dir)
            builds.append({slot: (key, value) for (_, slot), (_, key, value) in session_cache._HELD.items()})
        first, second = builds
        assert first, name
        assert first.keys() == second.keys(), name
        for slot, (key, value) in first.items():
            key2, value2 = second[slot]
            assert key == key2, (name, slot)
            for a, b in zip(_leaves(value), _leaves(value2), strict=True):
                if isinstance(a, DataFrame):
                    assert a.sameSemantics(b), (name, slot)
                else:
                    assert a == b, (name, slot)
    clear_all_session_caches()


_HOLDER = re.compile(r"_\w*_(CACHE|PERSISTED)")


def test_no_ad_hoc_cache_holders():
    """``session_cache.memo`` is the package's one cache mechanism: no
    other module binds a module-level ``_*_CACHE``/``_*_PERSISTED`` holder
    or rebinds module state through ``global``."""
    pkg = Path(wd2sql_spark.__file__).parent
    bad = []
    for path in sorted(pkg.rglob("*.py")):
        if path == pkg / "session_cache.py":
            continue
        tree = ast.parse(path.read_text())
        for node in tree.body:
            if isinstance(node, ast.Assign):
                targets = node.targets
            elif isinstance(node, (ast.AnnAssign, ast.AugAssign)):
                targets = [node.target]
            else:
                continue
            for t in targets:
                for n in ast.walk(t):
                    if isinstance(n, ast.Name) and _HOLDER.fullmatch(n.id):
                        bad.append(f"{path.relative_to(pkg)}:{node.lineno} {n.id}")
        for node in ast.walk(tree):
            if isinstance(node, ast.Global):
                bad.append(f"{path.relative_to(pkg)}:{node.lineno} global {', '.join(node.names)}")
    assert not bad, bad
