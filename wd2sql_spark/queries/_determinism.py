"""Cross-engine determinism helpers for floating-point aggregates.

Double-precision SUM is order-sensitive, and Spark and DuckDB will not sum
partitions in the same order — so ``round(SUM(price*(1-disc)), 2)`` can flip
on a rounding boundary between the two engines. Two rules make a money
aggregate bit-identical in both engines:

1. If the summed values carry ≤k exact decimals, ``round(SUM(x), k)`` is
   safe: the true total sits ON a k-decimal point, never on a boundary, and
   reorder noise (≪ half-gap) cannot move it across one.
2. Otherwise, sum exactly in integer units: per-row ``round(x·10^s)`` is
   deterministic (same IEEE operands → same double in both engines), the
   integer SUM is associative/exact, and the final division by ``10^s`` is
   a single deterministic IEEE op. This is the classic money-in-cents
   pattern, at scale s.

``exact_sum`` implements rule 2 on the Spark side; oracles use the textual
twin ``SUM(CAST(round(x * 10^s, 0) AS BIGINT)) / 10^s.0``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def exact_sum(expr: Column, scale: int = 6) -> Column:
    """Order-insensitive exact sum of ``expr`` in 10^-scale units → DOUBLE.

    SQL twin: ``SUM(CAST(round(expr * POW10, 0) AS BIGINT)) / POW10.0``.
    """
    pow10 = 10**scale
    return F.sum(F.round(expr * F.lit(pow10), 0).cast("long")) / F.lit(float(pow10))


def _int_div(a: Column, b: Column) -> Column:
    """Exact LONG integral division via Spark's ``div`` operator (JVM long
    arithmetic, truncation toward zero — same as DuckDB's ``//`` on
    BIGINT). Unlike the former ``(a - pmod(a, b)) / b`` double expression,
    exactness does NOT depend on a < 2^53 (ADVICE r2)."""
    return F.call_function("div", a.cast("long"), b.cast("long"))


def exact_avg_at(expr: Column, scale: int = 6, out_scale: int = 4) -> Column:
    """Mean of ``expr`` rounded HALF-UP at ``out_scale`` decimals, computed
    ENTIRELY in integer arithmetic so the rounding decision is exact and
    identical in any engine (no double ever sees a half boundary):

        N = S·10^max(out-scale, 0)   M = n·10^max(scale-out, 0)
        rounded = (2N + M) div (2M)          -- integer truncating division
        result  = rounded / 10^out           -- one exact final IEEE op

    where S is the integer-units sum. Requires non-negative sums (all
    users aggregate non-negative measures; with them, truncation equals
    floor and both engines' integer division agree).

    SQL twin: ``((2*N + M) // (2*M)) / 10^out.0`` with
    ``N = SUM(CAST(round(expr*10^scale, 0) AS BIGINT)) * 10^max(out-scale,0)``
    and ``M = COUNT(*) * 10^max(scale-out,0)``.
    """
    s = F.sum(F.round(expr * F.lit(10**scale), 0).cast("long"))
    n = F.count(F.lit(1))
    num = s * F.lit(10 ** max(out_scale - scale, 0))
    den = n * F.lit(10 ** max(scale - out_scale, 0))
    rounded = _int_div(F.lit(2) * num + den, F.lit(2) * den)
    return rounded / F.lit(float(10**out_scale))


def exact_sum_at(
    expr: Column, scale: int = 6, out_scale: int = 2, div: int = 1
) -> Column:
    """``round(SUM(expr) / div, out_scale)`` computed entirely in integer
    arithmetic — the rounded-sum twin of :func:`exact_avg_at`.

    ``round(exact_sum(x, s), k)`` with k < true decimal count of the
    summand is NOT cross-engine safe: the total S/10^s can land exactly on
    a k-decimal half boundary (x.xx5), where Spark (HALF_UP on the
    double's shortest decimal repr) and DuckDB (rounding the binary value)
    can disagree. Here the half-up decision is made on exact integers:

        value   = S / (div · 10^scale)
        N       = S · 10^max(out-scale, 0)
        M       = div · 10^max(scale-out, 0)
        rounded = (2N + M) div (2M)
        result  = rounded / 10^out

    Requires non-negative sums. Returns NULL on empty/all-NULL input
    (like SUM) — coalesce afterwards if 0.0 is wanted.

    SQL twin (scale=6, out=2, div=1):
    ``((2 * SUM(CAST(round(x * 1000000, 0) AS BIGINT)) + 10000) // 20000)
    / 100.0``.
    """
    s = F.sum(F.round(expr * F.lit(10**scale), 0).cast("long"))
    return round_units_at(s, scale, out_scale, div)


def round_units_at(units: Column, scale: int = 6, out_scale: int = 2, div: int = 1) -> Column:
    """Half-up rounding of an ALREADY-SUMMED integer-units total — the
    merge-side counterpart of :func:`exact_sum_at` for two-level (partial →
    final) aggregations, where each partial carries an exact long sum in
    10^-scale units and the final stage sums the partials before rounding.
    Same integer arithmetic, same SQL twin."""
    num = units * F.lit(10 ** max(out_scale - scale, 0))
    den = F.lit(div * 10 ** max(scale - out_scale, 0))
    rounded = _int_div(F.lit(2) * num + den, F.lit(2) * den)
    return rounded / F.lit(float(10**out_scale))
