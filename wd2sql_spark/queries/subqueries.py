"""Subquery battery: the TPC-H shapes SQLite answers via IN/EXISTS/scalar
subqueries (the reference's documented query surface is IN-subquery driven,
README.md:129-143 in /root/reference — SURVEY §2-B Q2 generalized).

Catalyst rewrites every correlated form here into a join
(`RewritePredicateSubquery`), so the Spark side declares the join directly
— the physical plan we'd want at 100 TB is explicit:

- IN / EXISTS          → left-semi join (dim side broadcast when small)
- scalar agg subquery  → aggregate-then-broadcast-join (one row)
- correlated per-group → pre-aggregate on the correlation key, equi-join

Determinism: money sums via ``exact_sum`` (see _determinism.py);
``l_quantity`` is integer-valued in the fixtures so its double SUM/AVG is
exact in both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from wd2sql_spark.catalog import sf_key, table
from wd2sql_spark.queries._determinism import exact_sum_at
from wd2sql_spark.queries.registry import query
from wd2sql_spark.session_cache import memo

IN_AGG_ORACLE = """
SELECT c.c_name, o.o_orderkey, round(o.o_totalprice, 2) AS totalprice, SUM(l.l_quantity) AS sum_qty
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE o.o_orderkey IN (
    SELECT l_orderkey FROM lineitem GROUP BY l_orderkey HAVING SUM(l_quantity) > 300)
GROUP BY c.c_name, o.o_orderkey, o.o_totalprice
ORDER BY totalprice DESC, o_orderkey
"""


@query("subq_in_agg_large_orders", oracle=IN_AGG_ORACLE, category="subqueries")
def subq_in_agg_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: IN over a grouped-HAVING subquery. The subquery
    aggregate IS the output aggregate: the final per-order sum_qty equals
    the HAVING sum the subquery already computed (orderkey is the group
    key in both), so the qualifying (orderkey, sum_qty) rows join
    straight onto orders⋈customer — ONE lineitem pass, where the naive
    decorrelation (spelled out in the oracle) re-scans and re-aggregates
    lineitem a second time for the output sum. The surviving order set
    is tiny (HAVING > 300) and broadcasts."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    l = table(spark, sf_dir, "lineitem")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .filter(F.col("sum_qty") > 300)
    )
    return (
        o.join(F.broadcast(big), o["o_orderkey"] == big["l_orderkey"])
        .join(c, F.col("o_custkey") == c["c_custkey"])
        .select(
            "c_name",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("totalprice"),
            "sum_qty",
        )
        .orderBy(F.col("totalprice").desc(), "o_orderkey")
    )


EXISTS_ORACLE = """
SELECT o.o_orderpriority, count(*) AS order_count
FROM orders o
WHERE EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey
      AND l.l_shipdate >= o.o_orderdate + INTERVAL 90 DAY)
GROUP BY o.o_orderpriority
ORDER BY o.o_orderpriority
"""


@query("subq_exists_late_ship", oracle=EXISTS_ORACLE, category="subqueries")
def subq_exists_late_ship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: correlated EXISTS with an inequality across both
    sides → left-semi join with a compound condition. lineitem is projected
    to 2 columns before the join so the shuffle moves minimal bytes."""
    o = table(spark, sf_dir, "orders")
    l = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    cond = (o["o_orderkey"] == l["l_orderkey"]) & (
        l["l_shipdate"] >= F.col("o_orderdate") + F.expr("INTERVAL 90 DAY")
    )
    return (
        o.join(l, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


SCALAR_AVG_ORACLE = """
SELECT ((2 * SUM(CAST(round(l.l_extendedprice * 1000000, 0) AS BIGINT)) + 70000) // 140000) / 100.0
       AS avg_yearly
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_brand = 'Brand#11'
  AND l.l_quantity < (
    SELECT 0.2 * AVG(l2.l_quantity) FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)
"""


@query("subq_scalar_avg_part", oracle=SCALAR_AVG_ORACLE, category="subqueries")
def subq_scalar_avg_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated scalar AVG per part. Decorrelated into
    a per-partkey WINDOW average over the brand-filtered fact: partkey
    determines brand, so every lineitem row of a qualifying part survives
    the broadcast semi-filter and the window partition holds exactly the
    subquery's row set — the per-part avg is identical. One lineitem
    scan + one partkey exchange of the brand-filtered rows, where the
    join-back form aggregated the FULL fact (every part, filter above
    the aggregate) and scanned lineitem twice. AVG(l_quantity) is exact
    (integer-valued doubles)."""
    l = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#11").select("p_partkey")
    qty_cut = F.lit(0.2) * F.avg("l_quantity").over(Window.partitionBy("l_partkey"))
    return (
        l.join(F.broadcast(p), l["l_partkey"] == p["p_partkey"])
        .withColumn("qty_cut", qty_cut)
        .filter(F.col("l_quantity") < F.col("qty_cut"))
        .agg(exact_sum_at(F.col("l_extendedprice"), 6, 2, div=7).alias("avg_yearly"))
    )


GLOBAL_AVG_ORACLE = """
WITH cut AS (
  SELECT SUM(CAST(round(c_acctbal * 1000000, 0) AS BIGINT)) / 1000000.0 / count(*) AS avg_bal
  FROM customer WHERE c_acctbal > 0.0)
SELECT c.c_mktsegment, count(*) AS numcust,
       ((2 * SUM(CAST(round(c.c_acctbal * 1000000, 0) AS BIGINT)) + 10000) // 20000) / 100.0 AS totacctbal
FROM customer c, cut
WHERE c.c_acctbal > cut.avg_bal
GROUP BY c.c_mktsegment
ORDER BY c.c_mktsegment
"""


@query("subq_scalar_global_avg", oracle=GLOBAL_AVG_ORACLE, category="subqueries")
def subq_scalar_global_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 flavor: uncorrelated scalar subquery (global average) used
    as a filter threshold. The 1-row aggregate is cross-joined (broadcast
    nested loop of a single row — free) against the scan. The threshold is
    computed in exact integer units so both engines derive the identical
    double (a plain AVG of doubles is order-sensitive)."""
    c = table(spark, sf_dir, "customer")
    cut = c.filter(F.col("c_acctbal") > 0.0).agg(
        (
            F.sum(F.round(F.col("c_acctbal") * 1000000, 0).cast("long")) / F.lit(1000000.0)
            / F.count(F.lit(1))
        ).alias("avg_bal")
    )
    return (
        c.crossJoin(F.broadcast(cut))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("numcust"),
            exact_sum_at(F.col("c_acctbal"), 6, 2).alias("totacctbal"),
        )
        .orderBy("c_mktsegment")
    )


MAX_REV_ORACLE = """
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         SUM(CAST(round(l_extendedprice * (1 - l_discount) * 1000000, 0) AS BIGINT)) AS rev_units
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey)
SELECT s.s_suppkey, s.s_name, round(r.rev_units / 1000000.0, 2) AS total_revenue
FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
WHERE r.rev_units = (SELECT MAX(rev_units) FROM revenue)
ORDER BY s.s_suppkey
"""


@query("subq_max_revenue_supplier", oracle=MAX_REV_ORACLE, category="subqueries")
def subq_max_revenue_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: scalar MAX over a derived aggregate, reused twice.
    The revenue aggregate is computed once — PERSISTED for the session
    (r9: without the persist, the plan embedded the fact scan+aggregate
    subtree under BOTH consumers and AQE did NOT reuse the exchange —
    two lineitem passes per run, measured) — and its global MAX is a
    1-row aggregate broadcast back over it (no single-partition window —
    at scale the per-supplier aggregate is still millions of rows).
    Equality against MAX keeps ties, exactly like the SQL form, and
    compares exact integer units so the tie set matches the oracle
    bit-for-bit."""
    l = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    s = table(spark, sf_dir, "supplier")
    revenue = memo(
        spark,
        "subqueries.q15_revenue",
        sf_key(sf_dir),
        l.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
            F.sum(
                F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 1000000, 0).cast("long")
            ).alias("rev_units")
        ).persist,
    )
    max_units = revenue.agg(F.max("rev_units").alias("max_units"))
    top = revenue.crossJoin(F.broadcast(max_units)).filter(
        F.col("rev_units") == F.col("max_units")
    )
    return (
        s.join(F.broadcast(top), s["s_suppkey"] == top["supplier_no"])
        .select(
            "s_suppkey",
            "s_name",
            F.round(F.col("rev_units") / F.lit(1000000.0), 2).alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


WAITING_ORACLE = """
SELECT s.s_name,
       CAST(COUNT(DISTINCT l1.l_orderkey) AS BIGINT) AS numwait
FROM lineitem l1
JOIN supplier s ON s.s_suppkey = l1.l_suppkey
WHERE l1.l_returnflag = 'R'
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_returnflag = 'R')
GROUP BY s.s_name
ORDER BY numwait DESC, s_name
LIMIT 10
"""


@query("subq_sole_fault_suppliers", oracle=WAITING_ORACLE, category="subqueries")
def subq_sole_fault_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers who were the SOLE returner on
    multi-supplier orders (the fixture has no receipt/commit dates, so
    ``l_returnflag = 'R'`` plays the "kept waiting" role).

    The two correlated subqueries — EXISTS (another supplier in the
    order) and NOT EXISTS (another supplier ALSO at fault) — decorrelate
    into grouped aggregation over ONE lineitem scan. Since r9 the
    aggregate is TWO stacked codegen HashAggregates instead of one
    ObjectHashAggregate pair of ``collect_set``s: shuffle the narrow
    (orderkey, suppkey, is-R) projection once by ``l_orderkey``, then
    collapse partition-locally to per-(order, supplier) ``max(is-R)``
    and roll that up per order — ``hashpartitioning(l_orderkey)``
    satisfies BOTH groupings, so the plan holds exactly one fact
    Exchange and zero object-based aggregates (the collect_set form's
    ObjectHashAggregate runs interpreted on both sides of the shuffle
    and was the whole residual cost: quiet A/B min 1.40 → 0.74 s at
    sf0.1). No ``count_distinct`` anywhere, so no distinct-Expand
    doubling the shuffle (the r7 form's pair of count_distincts was both
    the bench-worst 2.1 s and a source of run-to-run plan
    nondeterminism). When ``n_fault_supp = 1`` the sole fault supplier
    is recoverable as ``max(fault suppkey)`` in the SAME rollup, so
    there is still no faults-side self-join and no distinct in the final
    per-supplier count. At 100 TB: one fact pass, one fact-sized shuffle
    of three narrow columns, one broadcast, one ~|suppliers|-row
    rollup; the shuffle ships raw lines instead of set buffers —
    comparable bytes (≤7 lines/order vs one ~8·|set|-byte buffer), paid
    back many times over by keeping both aggregates in whole-stage
    codegen."""
    l = table(spark, sf_dir, "lineitem")
    per_supp = (
        l.select(
            "l_orderkey",
            "l_suppkey",
            (F.col("l_returnflag") == "R").alias("is_fault"),
        )
        .repartition("l_orderkey")
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max("is_fault").alias("fault"))
    )
    ord_stats = per_supp.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_supp"),
        F.sum(F.col("fault").cast("int")).alias("n_fault_supp"),
        F.max(F.when(F.col("fault"), F.col("l_suppkey"))).alias("fault_suppkey"),
    )
    s = table(spark, sf_dir, "supplier")
    return (
        ord_stats.filter((F.col("n_supp") >= 2) & (F.col("n_fault_supp") == 1))
        .join(F.broadcast(s), F.col("fault_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).cast("bigint").alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(10)
    )


SALES_OPPORTUNITY_ORACLE = """
WITH cutoff AS (
  SELECT CAST(SUM(CAST(round(c_acctbal * 100, 0) AS BIGINT)) AS DOUBLE)
         / (COUNT(*) * 100.0) AS avg_bal
  FROM customer WHERE c_acctbal > 0.0
)
SELECT c.c_mktsegment,
       COUNT(*) AS numcust,
       SUM(CAST(round(c.c_acctbal * 100, 0) AS BIGINT)) / 100.0 AS totacctbal
FROM customer c, cutoff
WHERE c.c_acctbal > cutoff.avg_bal
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderpriority = '1-URGENT')
GROUP BY c.c_mktsegment
ORDER BY c.c_mktsegment
"""


@query(
    "subq_sales_opportunity_antijoin",
    oracle=SALES_OPPORTUNITY_ORACLE,
    category="subqueries",
)
def subq_sales_opportunity_antijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (fixtures carry no c_phone, so the country-code
    IN-list becomes the market segment): rich customers with no URGENT
    order — a global scalar AVG cutoff + correlated NOT EXISTS,
    decorrelated to a 1-row broadcast cross join + left-ANTI join against
    the custkeys of urgent orders (the priority filter pushes to the
    orders scan BEFORE the anti-join).

    Scale shape: the cutoff aggregate is partial+final over customer (one
    scan, 1-row result broadcast); the anti-join projects orders to its
    custkey column only, so the shuffle moves 8 bytes/row; the final
    segment aggregate is ~|segments| rows. The cutoff comparison divides
    identical integer sums in both engines, and acctbal carries exactly 2
    decimals so its rounded integer-cents sum is exact (rule 1,
    _determinism.py)."""
    c = table(spark, sf_dir, "customer")
    cutoff = (
        c.filter(F.col("c_acctbal") > 0.0)
        .agg(
            (
                F.sum(F.round(F.col("c_acctbal") * F.lit(100), 0).cast("long")).cast(
                    "double"
                )
                / (F.count(F.lit(1)) * F.lit(100.0))
            ).alias("avg_bal")
        )
    )
    o_keys = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
    )
    return (
        c.join(F.broadcast(cutoff))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(o_keys, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            (
                F.sum(F.round(F.col("c_acctbal") * F.lit(100), 0).cast("long"))
                / F.lit(100.0)
            ).alias("totacctbal"),
        )
        .orderBy("c_mktsegment")
    )
