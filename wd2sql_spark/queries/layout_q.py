"""Storage-layout battery: Z-order clustering vs linear sort, scored by
the min/max data-skipping arithmetic that parquet pruning actually uses.

The audit assigns every ``orders`` row to a write bucket under two
layouts — Morton-interleaved (o_custkey, o_totalprice-cents) vs a plain
o_custkey sort — and computes each bucket's min/max span per dimension,
i.e. exactly the footer stats a 100 TB table's files would carry. A
2-D box predicate (top quarter of both normalized dims) then counts how
many buckets/rows each layout can PRUNE without reading. The measured
result on this fixture: the linear layout prunes only along its sort
dimension (12/16 buckets), the Z-order layout bounds both dimensions
and prunes 15/16 — the entire case for ZORDER-style clustering at
ingestion time, stated as data instead of doctrine.

Everything is integer arithmetic (min-max scale with integral div, bit
interleave, bucket div), so the DuckDB oracle repeats it textually and
the driver hash-checks the full layout computation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wd2sql_spark.catalog import sf_key, table
from wd2sql_spark.operators.layout import scale_to_bits, zorder_sql, zorder_value
from wd2sql_spark.queries.registry import query
from wd2sql_spark.session_cache import memo

# The three ranked layouts (hilbert/zorder/linear file assignments) are
# pure functions of the fixture, and building each one runs an eager
# range-exchange + checkpoint + per-partition count collect
# (operators/ids_assign.py). In production these layouts are WRITTEN
# datasets scored once; memoizing the ranked relations per session is the
# read-the-written-layout equivalent — the IVF-index / charlm
# cached-artifact precedent. Measured: 2.7 s → sub-second warm at sf0.1.

BITS = 8  # per-dimension resolution: u in [0, 255]
Z_BUCKET = 4096  # 2^(2*BITS) / 16 -> 16 z-buckets
LIN_BUCKET = 16  # 2^BITS / 16 -> 16 linear buckets
BOX_LO = 192  # audit predicate: u1 >= 192 AND u2 >= 192 (top quarter each)

_CENTS = "CAST(round(o_totalprice * 100) AS BIGINT)"

ZORDER_ORACLE = f"""
WITH stats AS (
  SELECT MIN(o_custkey) AS mn1, MAX(o_custkey) AS mx1,
         MIN({_CENTS}) AS mn2, MAX({_CENTS}) AS mx2
  FROM orders),
base AS (
  SELECT ((o_custkey - mn1) * 255) // greatest(mx1 - mn1, 1) AS u1,
         (({_CENTS} - mn2) * 255) // greatest(mx2 - mn2, 1) AS u2
  FROM orders CROSS JOIN stats),
zb AS (SELECT u1, u2, {zorder_sql(["u1", "u2"], BITS)} AS z FROM base),
pairs AS (
  SELECT 'zorder' AS layout, z // {Z_BUCKET} AS bucket, u1, u2 FROM zb
  UNION ALL
  SELECT 'linear' AS layout, u1 // {LIN_BUCKET} AS bucket, u1, u2 FROM zb),
cells AS (
  SELECT layout, bucket, COUNT(*) AS n,
         MIN(u1) AS mn_u1, MAX(u1) AS mx_u1,
         MIN(u2) AS mn_u2, MAX(u2) AS mx_u2
  FROM pairs GROUP BY 1, 2),
flag AS (
  SELECT layout, n,
         CASE WHEN mx_u1 < {BOX_LO} OR mx_u2 < {BOX_LO} THEN 1 ELSE 0 END AS pruned
  FROM cells)
SELECT layout,
       CAST(COUNT(*) AS BIGINT) AS buckets_total,
       CAST(SUM(pruned) AS BIGINT) AS buckets_pruned,
       CAST(SUM(n) AS BIGINT) AS rows_total,
       CAST(SUM(n * pruned) AS BIGINT) AS rows_pruned
FROM flag
GROUP BY layout
ORDER BY layout
"""


@query("layout_zorder_skipping", oracle=ZORDER_ORACLE, category="storage-layout")
def layout_zorder_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order vs linear layout, scored by 2-D min/max pruning.

    Plan: ONE corpus scan — the 1-row min/max stats relation broadcasts
    back onto the scan (no collect), the Morton key is a pure
    shift/mask projection inside codegen, and a 2x explode routes each
    row to its bucket under both layouts so a single tiny shuffle
    (32 bucket keys) produces every bucket's footer-style span stats.
    At 100 TB this is the write-path cost model: the audit's per-bucket
    spans ARE the parquet footer stats the layout would produce."""
    o = table(spark, sf_dir, "orders")
    stats = o.agg(
        F.min("o_custkey").cast("long").alias("mn1"),
        F.max("o_custkey").cast("long").alias("mx1"),
        F.min(F.round(F.col("o_totalprice") * 100).cast("long")).alias("mn2"),
        F.max(F.round(F.col("o_totalprice") * 100).cast("long")).alias("mx2"),
    )
    base = o.crossJoin(F.broadcast(stats)).select(
        scale_to_bits(F.col("o_custkey"), F.col("mn1"), F.col("mx1"), BITS).alias("u1"),
        scale_to_bits(
            F.round(F.col("o_totalprice") * 100).cast("long"),
            F.col("mn2"),
            F.col("mx2"),
            BITS,
        ).alias("u2"),
    )
    zb = base.select("u1", "u2", zorder_value([F.col("u1"), F.col("u2")], BITS).alias("z"))
    pairs = zb.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("zorder").alias("layout"),
                    F.call_function("div", F.col("z"), F.lit(Z_BUCKET)).alias("bucket"),
                ),
                F.struct(
                    F.lit("linear").alias("layout"),
                    F.call_function("div", F.col("u1"), F.lit(LIN_BUCKET)).alias("bucket"),
                ),
            )
        ).alias("lb"),
        "u1",
        "u2",
    )
    cells = pairs.groupBy(
        F.col("lb.layout").alias("layout"), F.col("lb.bucket").alias("bucket")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.max("u1").alias("mx_u1"),
        F.max("u2").alias("mx_u2"),
    )
    pruned = F.when((F.col("mx_u1") < BOX_LO) | (F.col("mx_u2") < BOX_LO), 1).otherwise(0)
    return (
        cells.select("layout", "n", pruned.alias("pruned"))
        .groupBy("layout")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("buckets_total"),
            F.sum("pruned").cast("bigint").alias("buckets_pruned"),
            F.sum("n").cast("bigint").alias("rows_total"),
            F.sum(F.col("n") * F.col("pruned")).cast("bigint").alias("rows_pruned"),
        )
        .orderBy("layout")
    )


NB_FILES = 20  # equal-row files per layout (non-power-of-4: quadrant
# boundaries land mid-file, which is where Hilbert and Z-order differ)


def _hilbert_oracle() -> str:
    from wd2sql_spark.operators.layout import hilbert_ctes

    hil_frag, hil_last = hilbert_ctes(
        "base", ["o_orderkey", "u1", "u2"], "u1", "u2", BITS
    )
    rn = "((ROW_NUMBER() OVER (ORDER BY {k}) - 1) * {nb}) // total"
    return f"""
WITH stats AS (
  SELECT MIN(o_custkey) AS mn1, MAX(o_custkey) AS mx1,
         MIN({_CENTS}) AS mn2, MAX({_CENTS}) AS mx2
  FROM orders),
base AS (
  SELECT o_orderkey,
         ((o_custkey - mn1) * 255) // greatest(mx1 - mn1, 1) AS u1,
         (({_CENTS} - mn2) * 255) // greatest(mx2 - mn2, 1) AS u2
  FROM orders CROSS JOIN stats),
{hil_frag},
keyed AS (
  SELECT o_orderkey, u1, u2, hd, {zorder_sql(["u1", "u2"], BITS)} AS z
  FROM {hil_last}),
nn AS (SELECT COUNT(*) AS total FROM keyed),
pairs AS (
  SELECT 'hilbert' AS layout,
         {rn.format(k="hd, u1, u2, o_orderkey", nb=NB_FILES)} AS bucket, u1, u2
  FROM keyed CROSS JOIN nn
  UNION ALL
  SELECT 'zorder', {rn.format(k="z, u1, u2, o_orderkey", nb=NB_FILES)}, u1, u2
  FROM keyed CROSS JOIN nn
  UNION ALL
  SELECT 'linear', {rn.format(k="u1, u2, o_orderkey", nb=NB_FILES)}, u1, u2
  FROM keyed CROSS JOIN nn),
cells AS (
  SELECT layout, bucket, COUNT(*) AS n,
         MIN(u1) AS mn_u1, MAX(u1) AS mx_u1,
         MIN(u2) AS mn_u2, MAX(u2) AS mx_u2
  FROM pairs GROUP BY 1, 2),
flag AS (
  SELECT layout, n,
         (mx_u1 - mn_u1 + 1) * (mx_u2 - mn_u2 + 1) AS span_area,
         CASE WHEN mx_u1 < {BOX_LO} OR mx_u2 < {BOX_LO} THEN 1 ELSE 0 END AS pruned
  FROM cells)
SELECT layout,
       CAST(COUNT(*) AS BIGINT) AS buckets_total,
       CAST(SUM(n) AS BIGINT) AS rows_total,
       CAST(SUM(span_area) AS BIGINT) AS sum_span_area,
       CAST(SUM(pruned) AS BIGINT) AS buckets_pruned,
       CAST(SUM(n * pruned) AS BIGINT) AS rows_pruned
FROM flag
GROUP BY layout
ORDER BY layout
"""


HILBERT_ORACLE = _hilbert_oracle()


@query("layout_hilbert_locality", oracle=HILBERT_ORACLE, category="storage-layout")
def layout_hilbert_locality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert vs Z-order vs linear clustering under the REAL writer
    discipline — range-partition the sort key into equal-ROW files — and
    a file count (20) that is not a power of 4, so file boundaries land
    mid-quadrant: exactly where the two curves differ. Z-order's quadrant
    seams put far-apart cells in one file (its curve jumps across the
    grid); Hilbert's unit-step walk cannot, so its files carry tighter
    min/max footer stats. Scored two ways on the same fixture: the
    summed per-file bounding-box AREA (the tightness of the footer stats
    for ANY future predicate — measured 89.8k for Hilbert vs 143.4k for
    Z-order at sf0.1, 1.6x) and the rows a 2-D box predicate prunes
    (135.0k vs 127.5k of 150k). Linear sort posts the smallest area —
    its files are extreme slivers, perfect on the sort dimension and
    full-range on the other — which is why its box pruning is the worst
    of the three (112.5k): area alone rewards degenerate boxes, pruning
    exposes them. The per-quadrant variant of this audit (16 files =
    4^2) makes Hilbert and Z-order IDENTICAL — both curves fill aligned
    quadrants contiguously — which is why the file count here matters
    and toy benchmarks that bucket on power-of-4 boundaries see no
    difference.

    The Hilbert index runs as ONE F.aggregate fold per row (the shift
    amount rides in the accumulator because shiftright needs a literal;
    a Python unroll would nest each level's x/y ~4x per level — an
    exponential expression tree). File assignment uses the scalable
    contiguous-id assigner (range exchange + driver prefix-sum,
    operators/ids_assign.py) — no single-partition window. The oracle
    unrolls the same fold as chained CTEs, NOT a list_reduce lambda,
    which DuckDB 1.0.0 vectorizes incorrectly on multi-row input
    (operators/layout.py::hilbert_ctes); a pure-Python xy2d pins both
    engines in tests/test_property_layout.py."""
    from wd2sql_spark.operators.ids_assign import assign_contiguous_ids
    from wd2sql_spark.operators.layout import hilbert_value

    o = table(spark, sf_dir, "orders")
    stats = o.agg(
        F.min("o_custkey").cast("long").alias("mn1"),
        F.max("o_custkey").cast("long").alias("mx1"),
        F.min(F.round(F.col("o_totalprice") * 100).cast("long")).alias("mn2"),
        F.max(F.round(F.col("o_totalprice") * 100).cast("long")).alias("mx2"),
    )
    base = o.crossJoin(F.broadcast(stats)).select(
        "o_orderkey",
        scale_to_bits(F.col("o_custkey"), F.col("mn1"), F.col("mx1"), BITS).alias("u1"),
        scale_to_bits(
            F.round(F.col("o_totalprice") * 100).cast("long"),
            F.col("mn2"),
            F.col("mx2"),
            BITS,
        ).alias("u2"),
    )
    keyed = base.select(
        "o_orderkey",
        "u1",
        "u2",
        hilbert_value(F.col("u1"), F.col("u2"), BITS).alias("hd"),
        zorder_value([F.col("u1"), F.col("u2")], BITS).alias("z"),
    )
    keyed = memo(spark, "layout_q.hilbert_keyed", sf_key(sf_dir), keyed.persist)
    total = F.broadcast(keyed.agg(F.count(F.lit(1)).alias("total")))

    def bucketed(layout: str, order_cols: list[str]):
        ids = memo(
            spark,
            f"layout_q.ids.{layout}",
            sf_key(sf_dir),
            lambda: assign_contiguous_ids(keyed, order_cols),
        )
        return ids.crossJoin(total).select(
            F.lit(layout).alias("layout"),
            F.call_function(
                "div", (F.col("global_id") - 1) * NB_FILES, F.col("total")
            ).alias("bucket"),
            "u1",
            "u2",
        )

    pairs = (
        bucketed("hilbert", ["hd", "u1", "u2", "o_orderkey"])
        .unionByName(bucketed("zorder", ["z", "u1", "u2", "o_orderkey"]))
        .unionByName(bucketed("linear", ["u1", "u2", "o_orderkey"]))
    )
    cells = pairs.groupBy("layout", "bucket").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("u1").alias("mn_u1"),
        F.max("u1").alias("mx_u1"),
        F.min("u2").alias("mn_u2"),
        F.max("u2").alias("mx_u2"),
    )
    span_area = (F.col("mx_u1") - F.col("mn_u1") + 1) * (F.col("mx_u2") - F.col("mn_u2") + 1)
    pruned = F.when((F.col("mx_u1") < BOX_LO) | (F.col("mx_u2") < BOX_LO), 1).otherwise(0)
    return (
        cells.select("layout", "n", span_area.alias("span_area"), pruned.alias("pruned"))
        .groupBy("layout")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("buckets_total"),
            F.sum("n").cast("bigint").alias("rows_total"),
            F.sum("span_area").cast("bigint").alias("sum_span_area"),
            F.sum("pruned").cast("bigint").alias("buckets_pruned"),
            F.sum(F.col("n") * F.col("pruned")).cast("bigint").alias("rows_pruned"),
        )
        .orderBy("layout")
    )
