"""Shard export sinks: global order / disjoint ranges for sorted shards,
pure-function membership for hash shards, and plan budgets (one exchange
each)."""

from __future__ import annotations

from pyspark.sql import functions as F

from wd2sql_spark.catalog import table
from wd2sql_spark.plans.audit import plan_report
from wd2sql_spark.sinks.shards import (
    shard_manifest,
    write_hash_shards,
    write_sorted_shards,
)

SF = "/root/testdata/sf0.001"
N_SHARDS = 8


def test_sorted_shards_are_disjoint_and_ordered(spark, tmp_path):
    docs = table(spark, SF, "documents").select("doc_id", "n_chars", "text")
    out = str(tmp_path / "sorted")
    write_sorted_shards(
        docs, out, order_col="n_chars", tiebreak_col="doc_id", n_shards=N_SHARDS
    )
    man = shard_manifest(spark, out, "n_chars").collect()
    assert 1 < len(man) <= N_SHARDS
    # pairwise non-overlapping key ranges in manifest order
    for a, b in zip(man, man[1:]):
        assert a["max_key"] <= b["min_key"], (a, b)
    # nothing lost or duplicated
    assert sum(r["n_rows"] for r in man) == docs.count()
    # rows inside one shard file really are sorted
    first = spark.read.parquet(man[0]["file"]).select("n_chars", "doc_id").collect()
    keys = [(r["n_chars"], r["doc_id"]) for r in first]
    assert keys == sorted(keys)


def test_sorted_shards_single_range_exchange(spark):
    docs = table(spark, SF, "documents").select("doc_id", "n_chars")
    plan = (
        docs.repartitionByRange(N_SHARDS, F.col("n_chars"), F.col("doc_id"))
        .sortWithinPartitions("n_chars", "doc_id")
    )
    rep = plan_report(plan)
    assert rep.shuffles == 1, rep.text  # exactly the one range exchange


def test_sorted_shards_support_rowgroup_skipping(spark, tmp_path):
    """The point of sorting: a range predicate on the order key must reach
    the parquet scan as a pushed filter, where sorted row-group min/max
    stats prune IO."""
    docs = table(spark, SF, "documents").select("doc_id", "n_chars", "text")
    out = str(tmp_path / "sorted-skip")
    write_sorted_shards(
        docs, out, order_col="n_chars", tiebreak_col="doc_id", n_shards=N_SHARDS
    )
    rd = spark.read.parquet(out).filter(F.col("n_chars") > 900)
    rep = plan_report(rd)
    assert any(
        "n_chars" in f and "GreaterThan" in f for f in rep.pushed_filters
    ), rep.pushed_filters


def test_hash_shards_membership_is_pure_function(spark, tmp_path):
    docs = table(spark, SF, "documents").select("doc_id", "text")
    out = str(tmp_path / "hashed")
    write_hash_shards(docs, out, id_col="doc_id", n_shards=N_SHARDS)
    rd = spark.read.parquet(out)
    # every shard directory materialized, total preserved
    assert rd.select("shard").distinct().count() == N_SHARDS
    assert rd.count() == docs.count()
    # membership recomputes identically from the id alone (engine-portable)
    expected = (
        F.conv(F.substring(F.md5(F.concat_ws(":", F.lit("shard"), F.col("doc_id"))), 1, 15), 16, 10)
        .cast("long")
        % N_SHARDS
    ).cast("int")
    mismatches = rd.filter(F.col("shard") != expected).count()
    assert mismatches == 0
    # a single-shard read prunes to that partition directory
    one = spark.read.parquet(out).filter(F.col("shard") == 3)
    assert one.count() == rd.filter(expected == 3).count()


def test_zvalue_interleaves_bits(spark):
    from wd2sql_spark.sinks.shards import zvalue

    df = spark.createDataFrame(
        [(0, 0), (1, 0), (0, 1), (3, 5), (65535, 65535)], "a long, b long"
    )
    got = {
        (r["a"], r["b"]): r["z"]
        for r in df.select("a", "b", zvalue(F.col("a"), F.col("b")).alias("z")).collect()
    }
    assert got == {
        (0, 0): 0,
        (1, 0): 1,
        (0, 1): 2,
        (3, 5): 39,  # a=011 -> bits 0,2; b=101 -> bits 1,5
        (65535, 65535): 2**32 - 1,
    }


def _per_file_spans(spark, path, col):
    man = shard_manifest(spark, path, col).collect()
    return [r["max_key"] - r["min_key"] for r in man]


def test_zorder_bounds_both_dimensions(spark, tmp_path):
    """The locality claim itself: single-column sorting leaves the
    SECONDARY column's per-file range at ~the global range, Z-ordering
    bounds BOTH columns' per-file ranges well below it."""
    from wd2sql_spark.sinks.shards import write_zordered_shards

    docs = table(spark, SF, "documents").select("doc_id", "n_chars", "text")
    glob = docs.agg(
        (F.max("doc_id") - F.min("doc_id")).alias("did_span"),
        (F.max("n_chars") - F.min("n_chars")).alias("nc_span"),
    ).collect()[0]

    sorted_out = str(tmp_path / "single-sort")
    write_sorted_shards(
        docs, sorted_out, order_col="doc_id", tiebreak_col="n_chars", n_shards=16
    )
    z_out = str(tmp_path / "zorder")
    write_zordered_shards(
        docs, z_out, col_a="doc_id", col_b="n_chars", n_shards=16
    )

    import statistics

    # single sort: secondary column unbounded per file (~ global span)
    sec = statistics.mean(_per_file_spans(spark, sorted_out, "n_chars"))
    assert sec > 0.8 * glob["nc_span"], (sec, glob["nc_span"])
    # z-order: both columns bounded per file
    za = statistics.mean(_per_file_spans(spark, z_out, "doc_id"))
    zb = statistics.mean(_per_file_spans(spark, z_out, "n_chars"))
    assert za <= 0.75 * glob["did_span"], (za, glob["did_span"])
    assert zb <= 0.75 * glob["nc_span"], (zb, glob["nc_span"])
    assert zb < sec
    # and nothing was lost in the rewrite
    assert spark.read.parquet(z_out).count() == docs.count()


def test_zorder_single_exchange(spark):
    from wd2sql_spark.sinks.shards import zvalue

    docs = table(spark, SF, "documents").select("doc_id", "n_chars")
    stats = docs.agg(
        F.min("doc_id").alias("amin"),
        F.max("doc_id").alias("amax"),
        F.min("n_chars").alias("bmin"),
        F.max("n_chars").alias("bmax"),
    )
    plan = (
        docs.join(F.broadcast(stats))
        .withColumn("_z", zvalue(F.col("doc_id") - F.col("amin"), F.col("n_chars") - F.col("bmin")))
        .repartitionByRange(16, F.col("_z"))
        .sortWithinPartitions("_z")
    )
    rep = plan_report(plan)
    # the min/max side is a broadcast of a 1-row aggregate; the data pays
    # exactly one range exchange
    assert rep.shuffles <= 2, rep.text  # 1-row agg exchange + range exchange
    assert rep.broadcasts == 1


def test_zvalue_matches_python_reference(spark):
    """Property check: the Catalyst power-of-two-multiply interleave equals
    the obvious Python bit-interleave for arbitrary 16-bit inputs."""
    import random

    from wd2sql_spark.sinks.shards import zvalue

    rng = random.Random(42)
    rows = [(rng.randrange(0, 65536), rng.randrange(0, 65536)) for _ in range(200)]
    rows += [(0, 0), (65535, 0), (0, 65535), (65535, 65535)]

    def py_z(a: int, b: int) -> int:
        z = 0
        for i in range(16):
            z |= ((a >> i) & 1) << (2 * i)
            z |= ((b >> i) & 1) << (2 * i + 1)
        return z

    df = spark.createDataFrame(rows, "a long, b long")
    got = df.select("a", "b", zvalue(F.col("a"), F.col("b")).alias("z")).collect()
    for r in got:
        assert r["z"] == py_z(r["a"], r["b"]), (r["a"], r["b"])
