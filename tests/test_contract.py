"""Driver-contract tests: entry() smoke, registry shape, oracle keys."""

from __future__ import annotations

import os

import __spark_entry__ as entry_mod
import wd2sql_spark


def test_imports_this_checkout():
    """A copy of the repo must test its own code, not another checkout's."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    for mod in (wd2sql_spark, entry_mod):
        assert os.path.abspath(mod.__file__).startswith(repo + os.sep), mod.__file__


def test_queries_and_oracles_align():
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    assert qs, "no queries registered"
    assert set(oracles) <= set(qs)
    for name, sql in oracles.items():
        assert isinstance(sql, str) and sql.strip().upper().startswith(("SELECT", "WITH")), name


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert df.columns == ["c_custkey", "c_name", "acctbal"]


def test_every_query_runs_at_smoke_sf(spark, sf_dir):
    qs = entry_mod.queries()
    for name, fn in qs.items():
        df = fn(spark, sf_dir)
        assert df.count() >= 0, name


def test_no_unhashable_result_columns(spark, sf_dir):
    """The driver's value-hasher factorizes result cells with pandas,
    which raises ``unhashable type`` on list/dict cells — the exact
    failure that cost scalar_array_fns its round-2 row (and
    agg_ordered_array_topn its round-1 row). Guard the whole registry:
    every query's RESULT schema must be scalar-only. Array/map/struct
    machinery stays exercised INSIDE queries; results stringify
    (array_join / to_json) at the boundary."""
    from pyspark.sql.types import ArrayType, BinaryType, MapType, StructType

    offenders = []
    for name, fn in entry_mod.queries().items():
        for f in fn(spark, sf_dir).schema.fields:
            if isinstance(f.dataType, (ArrayType, MapType, StructType, BinaryType)):
                offenders.append(f"{name}.{f.name}: {f.dataType.simpleString()}")
    assert offenders == [], offenders


def test_tpch22_power_run_names_resolve():
    """bench.py's TPC-H power run references one registered, oracled
    query per classic shape; a registry rename must fail here, not
    silently shrink the published tpch22_wall_time."""
    from bench import TPCH22

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    assert len(TPCH22) == 22 and len(set(TPCH22)) == 22
    for name in TPCH22:
        assert name in qs, name
        assert name in oracles, name
