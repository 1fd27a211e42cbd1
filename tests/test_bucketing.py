"""Bucketed co-located joins: pay the shuffle once at write time, then
join big-big with ZERO exchanges — the plan is under test, and the result
is cross-checked against the plain (unbucketed) join."""

from __future__ import annotations

import uuid

from pyspark.sql import functions as F

from wd2sql_spark.catalog import table
from wd2sql_spark.plans.audit import plan_report
from wd2sql_spark.sinks.bucketed import drop_table, write_bucketed

SF = "/root/testdata/sf0.001"


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    run = uuid.uuid4().hex[:8]
    lt, ot = f"lineitem_b_{run}", f"orders_b_{run}"
    write_bucketed(
        table(spark, SF, "lineitem").select("l_orderkey", "l_extendedprice"),
        lt,
        str(tmp_path / lt),
        bucket_col="l_orderkey",
        n_buckets=8,
    )
    write_bucketed(
        table(spark, SF, "orders").select("o_orderkey", "o_orderpriority"),
        ot,
        str(tmp_path / ot),
        bucket_col="o_orderkey",
        n_buckets=8,
    )
    try:
        l, o = spark.table(lt), spark.table(ot)
        # hint pins sort-merge so auto-broadcast can't hide the exchange
        # elision being tested.
        joined = l.join(o.hint("merge"), l["l_orderkey"] == o["o_orderkey"])
        rep = plan_report(joined)
        assert "SortMergeJoin" in rep.text
        assert rep.shuffles == 0, f"bucketed join still shuffles:\n{rep.text[:1500]}"

        # Same rows as the plain path (bucketing is physical-only).
        plain = table(spark, SF, "lineitem").join(
            table(spark, SF, "orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        assert joined.count() == plain.count()
    finally:
        drop_table(spark, lt)
        drop_table(spark, ot)


def test_bucket_pruning_on_point_lookup(spark, tmp_path):
    """A point lookup on the bucket key should scan one bucket's files
    (bucket pruning shows up as 'SelectedBucketsCount: 1 out of 8')."""
    run = uuid.uuid4().hex[:8]
    ot = f"orders_bp_{run}"
    write_bucketed(
        table(spark, SF, "orders").select("o_orderkey", "o_totalprice"),
        ot,
        str(tmp_path / ot),
        bucket_col="o_orderkey",
        n_buckets=8,
    )
    try:
        # autoBucketedScan rewrites a lone scan to non-bucketed ("disabled
        # by query planner") because it can't see the pruning win; pin the
        # bucketed scan on to exercise pruning.
        spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
        df = spark.table(ot).filter(F.col("o_orderkey") == 7)
        rep = plan_report(df)
        assert "SelectedBucketsCount: 1 out of 8" in rep.text, rep.text[:1500]
        assert df.count() >= 0
    finally:
        spark.conf.unset("spark.sql.sources.bucketing.autoBucketedScan.enabled")
        drop_table(spark, ot)
