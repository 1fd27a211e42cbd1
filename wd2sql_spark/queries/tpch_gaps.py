"""The nine TPC-H shapes the battery lacked: Q2, Q4, Q6, Q11, Q12, Q15,
Q16, Q17, Q20 — completing all 22 classic shapes (Q1/3/5/7/8/9/10/13/14/
18/19/21/22 live in aggregates.py / joins.py / subqueries.py).

The reference delegates its entire query half to SQLite over the typed
EAV tables (README.md:103-157 in /root/reference); this battery is the
generalized relational surface that schema is designed for, expressed as
the Catalyst plans we'd want at 100 TB.

Fixture adaptations (documented per query): the driver's tables carry no
partsupp, no l_shipmode/commitdate/receiptdate, and no p_mfgr/container —
lineitem plays the part↔supplier supply relation (Q2/Q11/Q16/Q20),
"late" is l_shipdate > o_orderdate + 30 days (Q4), and l_linestatus
stands in for the shipmode axis (Q12). The SHAPES — correlated mins,
EXISTS with cross-table inequality, threshold-over-global-scalar,
conditional counts, argmax-over-aggregate, excluded-set distinct counts,
correlated-avg predicates, nested semi-joins — are the TPC-H ones.

Determinism: money aggregates sum in integer 10^-4 units (ep·(1-disc)
carries exactly 4 decimals) and divide once at the end — both engines do
the same exact integer SUM and one identical IEEE division. Quantity
sums are integer-valued doubles (exact). MIN/MAX are selections, not
arithmetic — bit-identical in both engines, no rounding needed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from wd2sql_spark.catalog import sf_key, table
from wd2sql_spark.queries._determinism import exact_sum_at
from wd2sql_spark.queries.registry import query
from wd2sql_spark.session_cache import memo

# ---------------------------------------------------------------------------
# Q2 — minimum-cost supplier (correlated scalar MIN subquery)
# ---------------------------------------------------------------------------

MIN_COST_ORACLE = """
WITH supply AS (
  SELECT l.l_partkey, l.l_suppkey, MIN(l.l_extendedprice) AS cost
  FROM lineitem l
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN nation n   ON n.n_nationkey = s.s_nationkey
  JOIN region r   ON r.r_regionkey = n.n_regionkey AND r.r_name = 'EUROPE'
  GROUP BY l.l_partkey, l.l_suppkey
),
best AS (
  SELECT l_partkey, MIN(cost) AS min_cost FROM supply GROUP BY l_partkey
)
SELECT s.s_acctbal, s.s_name, n.n_name, p.p_partkey, p.p_name, sp.cost AS min_cost
FROM supply sp
JOIN best b     ON b.l_partkey = sp.l_partkey AND sp.cost = b.min_cost
JOIN part p     ON p.p_partkey = sp.l_partkey
                AND p.p_type = 'LARGE' AND p.p_size <= 3
JOIN supplier s ON s.s_suppkey = sp.l_suppkey
JOIN nation n   ON n.n_nationkey = s.s_nationkey
ORDER BY s.s_acctbal DESC, n.n_name, s.s_name, p.p_partkey
LIMIT 100
"""


@query("subq_min_cost_supplier", oracle=MIN_COST_ORACLE, category="subqueries")
def subq_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: for each qualifying part, the region supplier(s)
    offering the minimum cost — a correlated scalar MIN subquery. With no
    partsupp table, MIN(l_extendedprice) per (part, supplier) is the
    supply cost (a pure selection — bit-identical cross-engine, no
    rounding needed).

    Decorrelation: the per-part MIN is a window MIN over the aggregated
    supply relation (partition by part key), then cost = min_cost keeps
    the argmin supplier(s) — no self-join, so lineitem is scanned ONCE
    and the plan has no sort-merge join on a float key. (The r8 version
    joined supply against a second aggregate of itself; Catalyst
    duplicated the whole fact subtree — two scans, two agg pipelines —
    and shuffled both sides on (cost, partkey) for the SMJ.)

    The highly selective part predicate (p_type='LARGE' AND p_size<=3)
    is applied BELOW the supply aggregate as a broadcast join on
    l_partkey — result-identical because both the group keys and the
    window partition are per-part, so dropping non-qualifying parts
    early drops exactly the groups a later part join would discard
    anyway (VERDICT r8 what's-wrong #3). The dimension attributes
    (p_name, s_name, s_acctbal, n_name) ride THROUGH the aggregate as
    extra group keys: they are functionally dependent on the part/supp
    keys, so group cardinality is unchanged, and the post-aggregate
    join-back (two more broadcast builds) disappears. At 100 TB the
    only data-sized shuffle is lineitem on the group keys, shrunk by
    the part selectivity before it happens and map-side combined; the
    window sees only the aggregated supply relation."""
    l = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    p = (
        table(spark, sf_dir, "part")
        .filter((F.col("p_type") == "LARGE") & (F.col("p_size") <= 3))
        .select("p_partkey", "p_name")
    )
    region_supp = (
        s.join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), F.col("n_regionkey") == r["r_regionkey"])
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    supply = (
        l.select("l_partkey", "l_suppkey", "l_extendedprice")
        .join(F.broadcast(p), l["l_partkey"] == F.col("p_partkey"))
        .join(F.broadcast(region_supp), l["l_suppkey"] == F.col("s_suppkey"))
        .groupBy("p_partkey", "p_name", "s_suppkey", "s_name", "s_acctbal", "n_name")
        .agg(F.min("l_extendedprice").alias("cost"))
    )
    best_w = Window.partitionBy("p_partkey")
    return (
        supply.withColumn("min_cost", F.min("cost").over(best_w))
        .filter(F.col("cost") == F.col("min_cost"))
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_name", "min_cost")
        .orderBy(F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# Q4 — order-priority checking (EXISTS with cross-table inequality)
# ---------------------------------------------------------------------------

PRIORITY_CHECK_ORACLE = """
SELECT o.o_orderpriority, COUNT(*) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1996-07-01'
  AND o.o_orderdate <  TIMESTAMP '1996-10-01'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY)
GROUP BY o.o_orderpriority
ORDER BY o.o_orderpriority
"""


@query("subq_order_priority_check", oracle=PRIORITY_CHECK_ORACLE, category="subqueries")
def subq_order_priority_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: orders in a quarter having at least one late line
    item, counted by priority. The fixture has no commit/receipt dates,
    so "late" is l_shipdate > o_orderdate + 30 days — an EXISTS whose
    predicate references BOTH tables, the shape that forces a semi-join
    (not a pre-aggregated IN list).

    Plan: the quarter filter is pushed into the orders scan, the
    left-semi join carries the inequality in its condition, and the
    tiny surviving priority histogram is a final single-stage agg. One
    shuffle on the order key at any scale."""
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    l = table(spark, sf_dir, "lineitem")
    late = o.join(
        l,
        (o["o_orderkey"] == l["l_orderkey"])
        & (l["l_shipdate"] > o["o_orderdate"] + F.expr("INTERVAL 30 DAYS")),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# Q6 — forecast revenue change (single-scan filtered aggregate)
# ---------------------------------------------------------------------------

FORECAST_ORACLE = """
SELECT SUM(CAST(round(l_extendedprice * l_discount * 10000, 0) AS BIGINT)) / 10000.0
         AS revenue,
       COUNT(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1997-01-01'
  AND l_discount >= 0.05 AND l_discount <= 0.07
  AND l_quantity < 24
"""


@query("agg_forecast_revenue", oracle=FORECAST_ORACLE, category="aggregations")
def agg_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: the canonical predicate-pushdown aggregate — every
    filter (date range, discount band, quantity cap) reaches the parquet
    scan, and the whole query is one scan + one partial/final agg with
    NO join and NO data-sized shuffle. ep·disc carries exactly 4
    decimals, so the integer-unit sum is exact in both engines and the
    final /10⁴ is one identical IEEE division."""
    l = table(spark, sf_dir, "lineitem")
    units = F.sum(
        F.round(F.col("l_extendedprice") * F.col("l_discount") * 10000, 0).cast("long")
    )
    return (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            (units / F.lit(10000.0)).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# ---------------------------------------------------------------------------
# Q11 — important supply value (threshold over an uncorrelated global scalar)
# ---------------------------------------------------------------------------

SUPPLY_VALUE_ORACLE = """
WITH per_nation AS (
  SELECT n.n_name,
         SUM(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 10000, 0)
             AS BIGINT)) AS units
  FROM lineitem l
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN nation n   ON n.n_nationkey = s.s_nationkey
  GROUP BY n.n_name
),
total AS (SELECT SUM(units) AS total_units FROM per_nation)
SELECT p.n_name, p.units / 10000.0 AS supply_value
FROM per_nation p, total t
WHERE p.units * 20 > t.total_units
ORDER BY supply_value DESC, p.n_name
"""


@query("subq_important_supply_value", oracle=SUPPLY_VALUE_ORACLE, category="subqueries")
def subq_important_supply_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: per-group value filtered against a FRACTION of
    the global total — an uncorrelated scalar subquery. Adapted to the
    fixture: supply value per NATION over lineitem⋈supplier (no
    partsupp), HAVING value > 5% of the global total.

    The threshold compare happens in integer units (units·20 >
    total_units), so the 5% boundary can never be a float coin-flip.
    Plan: one shuffle for the nation agg (the supplier dim broadcasts);
    the global total is a window-sum OVER the per-nation aggregate — a
    single-partition exchange of ≤ |nation| rows (25, dim-bounded at any
    scale), NOT a second pass over the fact. The earlier
    re-aggregate-and-broadcast form planned the whole fact join+aggregate
    subtree twice (once under the broadcast build), doubling the lineitem
    work."""
    l = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    units = F.sum(
        F.round(
            F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")) * 10000, 0
        ).cast("long")
    )
    per_nation = (
        l.join(F.broadcast(s), l["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .groupBy("n_name")
        .agg(units.alias("units"))
    )
    total_units = F.sum("units").over(Window.partitionBy())
    return (
        per_nation.withColumn("total_units", total_units)
        .filter(F.col("units") * 20 > F.col("total_units"))
        .select("n_name", (F.col("units") / F.lit(10000.0)).alias("supply_value"))
        .orderBy(F.col("supply_value").desc(), "n_name")
    )


# ---------------------------------------------------------------------------
# Q12 — shipping modes vs priority (conditional counts)
# ---------------------------------------------------------------------------

SHIP_PRIORITY_ORACLE = """
SELECT l.l_linestatus,
       COUNT(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                  THEN 1 END) AS high_line_count,
       COUNT(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                  THEN 1 END) AS low_line_count
FROM orders o
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
  AND l.l_shipdate <  TIMESTAMP '1997-01-01'
GROUP BY l.l_linestatus
ORDER BY l.l_linestatus
"""


@query("agg_ship_priority_modes", oracle=SHIP_PRIORITY_ORACLE, category="aggregations")
def agg_ship_priority_modes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: conditional CASE-counts of high- vs low-priority
    orders per shipping category (the fixture has no l_shipmode;
    l_linestatus plays the categorical axis). Counts only — no float
    arithmetic anywhere.

    Plan: the date filter prunes the lineitem scan; orders⋈lineitem is
    the one data-sized shuffle; the CASE logic rides the aggregate's
    partial/final split so each executor emits two counters per group."""
    o = table(spark, sf_dir, "orders")
    l = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .groupBy("l_linestatus")
        .agg(
            F.count(F.when(high, 1)).alias("high_line_count"),
            F.count(F.when(~high, 1)).alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


# ---------------------------------------------------------------------------
# Q15 — top supplier (argmax over an aggregated view)
# ---------------------------------------------------------------------------

TOP_SUPPLIER_ORACLE = """
WITH revenue AS (
  SELECT l_suppkey,
         SUM(CAST(round(l_extendedprice * (1 - l_discount) * 10000, 0)
             AS BIGINT)) AS units
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate <  TIMESTAMP '1996-07-01'
  GROUP BY l_suppkey
)
SELECT s.s_suppkey, s.s_name, r.units / 10000.0 AS total_revenue
FROM revenue r
JOIN supplier s ON s.s_suppkey = r.l_suppkey
WHERE r.units = (SELECT MAX(units) FROM revenue)
ORDER BY s.s_suppkey
"""


@query("subq_top_supplier_revenue", oracle=TOP_SUPPLIER_ORACLE, category="subqueries")
def subq_top_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: the supplier(s) achieving MAX revenue over an
    aggregated view — argmax via an uncorrelated scalar subquery, ties
    kept. Revenue is compared as the exact integer-unit sum, so "equals
    the max" is never a float-boundary question.

    Plan: one shuffle aggregates revenue per supplier; the relation is
    PERSISTED for the session (r9: the "AQE reuses the exchange"
    assumption was measured FALSE — without the persist the plan
    embedded the fact scan+aggregate under both consumers, two lineitem
    passes per run); the MAX re-aggregates the cached relation and
    broadcasts one row; supplier names broadcast in. The CREATE VIEW of
    the spec is exactly this materialized CTE."""
    l = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier")
    units = F.sum(
        F.round(
            F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")) * 10000, 0
        ).cast("long")
    )
    revenue = memo(
        spark,
        "tpch_gaps.q15_revenue",
        sf_key(sf_dir),
        l.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-07-01").cast("timestamp"))
        )
        .groupBy("l_suppkey")
        .agg(units.alias("units"))
        .persist,
    )
    best = revenue.agg(F.max("units").alias("max_units"))
    return (
        revenue.join(F.broadcast(best))
        .filter(F.col("units") == F.col("max_units"))
        .join(F.broadcast(s), F.col("l_suppkey") == s["s_suppkey"])
        .select(
            "s_suppkey", "s_name", (F.col("units") / F.lit(10000.0)).alias("total_revenue")
        )
        .orderBy("s_suppkey")
    )


# ---------------------------------------------------------------------------
# Q16 — supplier variety per part attribute (excluded-set distinct count)
# ---------------------------------------------------------------------------

SUPPLIER_VARIETY_ORACLE = """
SELECT p.p_brand, p.p_type, p.p_size,
       COUNT(DISTINCT l.l_suppkey) AS supplier_cnt
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_brand <> 'Brand#1'
  AND p.p_type NOT LIKE 'PROMO%'
  AND p.p_size IN (1, 2, 3, 4, 5)
  AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p.p_brand, p.p_type, p.p_size
ORDER BY supplier_cnt DESC, p.p_brand, p.p_type, p.p_size
"""


@query("agg_supplier_variety", oracle=SUPPLIER_VARIETY_ORACLE, category="aggregations")
def agg_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct-supplier counts per part attribute
    triple, with a NOT-IN excluded supplier set (negative balance plays
    the spec's complaint filter; lineitem is the part↔supplier link in
    lieu of partsupp). The excluded set is non-null by construction, so
    NOT IN is exactly an anti-join in both engines.

    Plan: part filters broadcast-semi into the fact scan, the excluded
    set broadcasts as an anti-join (no shuffle), and the one data-sized
    shuffle is the distinct-count agg on the attribute triple."""
    l = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (~F.col("p_type").like("PROMO%"))
        & (F.col("p_size").isin(1, 2, 3, 4, 5))
    )
    bad = table(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        l.join(F.broadcast(bad), l["l_suppkey"] == bad["s_suppkey"], "left_anti")
        .join(F.broadcast(p), l["l_partkey"] == p["p_partkey"])
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct(F.col("l_suppkey")).alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size")
    )


# ---------------------------------------------------------------------------
# Q17 — small-quantity-order revenue (correlated AVG predicate)
# ---------------------------------------------------------------------------

SMALL_QTY_ORACLE = """
WITH qty AS (
  SELECT l_partkey, SUM(l_quantity) AS sum_qty, COUNT(*) AS cnt
  FROM lineitem GROUP BY l_partkey
)
SELECT ((2 * SUM(CAST(round(l.l_extendedprice * 100, 0) AS BIGINT)) + 7) // 14)
         / 100.0 AS avg_yearly
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
            AND p.p_brand = 'Brand#3' AND p.p_type = 'SMALL'
JOIN qty q  ON q.l_partkey = l.l_partkey
WHERE 5 * l.l_quantity * q.cnt < q.sum_qty
"""


@query("subq_small_quantity_revenue", oracle=SMALL_QTY_ORACLE, category="subqueries")
def subq_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue from line items whose quantity is below
    20% of the part's average — the classic correlated-AVG predicate.
    Decorrelated: pre-aggregate (sum_qty, cnt) per part ONCE, broadcast
    it back, and express qty < 0.2·avg as 5·qty·cnt < sum_qty — pure
    integer arithmetic (quantities are integer-valued), so the 20%
    boundary is exact in both engines. The /7.0 "average yearly" is
    integer half-up via the exact_sum_at pattern.

    Plan: one shuffle for the per-part stats; both the stats and the
    filtered part dim broadcast into a single pass over lineitem."""
    l = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").filter(
        (F.col("p_brand") == "Brand#3") & (F.col("p_type") == "SMALL")
    )
    qty = l.groupBy(F.col("l_partkey").alias("q_partkey")).agg(
        F.sum("l_quantity").alias("sum_qty"), F.count(F.lit(1)).alias("cnt")
    )
    return (
        l.join(F.broadcast(p), l["l_partkey"] == p["p_partkey"])
        .join(F.broadcast(qty), l["l_partkey"] == F.col("q_partkey"))
        .filter(F.lit(5) * F.col("l_quantity") * F.col("cnt") < F.col("sum_qty"))
        .agg(exact_sum_at(F.col("l_extendedprice"), scale=2, out_scale=2, div=7).alias("avg_yearly"))
    )


# ---------------------------------------------------------------------------
# Q20 — suppliers with an excess share (nested semi-join chain)
# ---------------------------------------------------------------------------

EXCESS_SHARE_ORACLE = """
WITH part_total AS (
  SELECT l.l_partkey, SUM(l.l_quantity) AS total_qty
  FROM lineitem l
  JOIN part p ON p.p_partkey = l.l_partkey AND p.p_name LIKE 'blue%'
  WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
    AND l.l_shipdate <  TIMESTAMP '1997-01-01'
  GROUP BY l.l_partkey
),
supp_part AS (
  SELECT l.l_suppkey, l.l_partkey, SUM(l.l_quantity) AS supp_qty
  FROM lineitem l
  JOIN part p ON p.p_partkey = l.l_partkey AND p.p_name LIKE 'blue%'
  WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
    AND l.l_shipdate <  TIMESTAMP '1997-01-01'
  GROUP BY l.l_suppkey, l.l_partkey
)
SELECT DISTINCT s.s_name, n.n_name
FROM supp_part sp
JOIN part_total pt ON pt.l_partkey = sp.l_partkey
JOIN supplier s    ON s.s_suppkey = sp.l_suppkey
JOIN nation n      ON n.n_nationkey = s.s_nationkey
WHERE 10 * sp.supp_qty > 3 * pt.total_qty
ORDER BY s.s_name, n.n_name
"""


@query("subq_excess_share_suppliers", oracle=EXCESS_SHARE_ORACLE, category="subqueries")
def subq_excess_share_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers holding an outsized share of a part
    family's flow — the spec's availqty > 50%-of-shipped nested subquery,
    adapted (no partsupp) to "shipped > 30% of the part's yearly total".
    The share test 10·supp_qty > 3·total_qty is integer-exact.

    Plan: ONE aggregation per (suppkey, partkey) — a single fact
    shuffle — then the per-part total is a WINDOW-SUM over that same
    small relation partitioned by l_partkey (one |supp_part|-row
    exchange). The earlier re-aggregate-and-broadcast form planned the
    whole lineitem join+aggregate subtree twice (once under the
    broadcast build) — the same defect class fixed on Q11
    (subq_important_supply_value) this round."""
    l = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").filter(F.col("p_name").like("blue%"))
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    supp_part = (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .join(F.broadcast(p.select("p_partkey")), l["l_partkey"] == F.col("p_partkey"))
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("supp_qty"))
    )
    total_qty = F.sum("supp_qty").over(Window.partitionBy("l_partkey"))
    return (
        supp_part.withColumn("total_qty", total_qty)
        .filter(F.lit(10) * F.col("supp_qty") > F.lit(3) * F.col("total_qty"))
        .join(F.broadcast(s), F.col("l_suppkey") == s["s_suppkey"])
        .join(F.broadcast(n), F.col("s_nationkey") == n["n_nationkey"])
        .select("s_name", "n_name")
        .distinct()
        .orderBy("s_name", "n_name")
    )
