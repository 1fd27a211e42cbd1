"""The corpus-count-derived banding knob (VERDICT r5 task #1).

Three contracts:

1. cross-engine arithmetic — ``auto_band_bits`` equals DuckDB's
   ``LEAST(cap, GREATEST(floor, CEIL(LOG2(GREATEST(n, 2)))))`` for any
   corpus count (property-tested), so every oracle's ``knob`` CTE prices
   the band width bit-identically to the Spark side;
2. the schedule — floor at fixture sizes (driver hashes unchanged), then
   log₂N growth, then the documented 28-bit cap of the 56-bit hash;
3. engagement end-to-end — on a >16 k-doc corpus (where the knob leaves
   the 14-bit floor: 15-bit bands × 3) ``dedup_simhash`` still
   hash-matches its oracle, proving BOTH engines moved the knob, not
   just one.
"""

from __future__ import annotations

import duckdb
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from wd2sql_spark.operators.dedup import (
    BAND_BITS_CAP,
    SIMHASH_BAND_BITS,
    auto_band_bits,
    simhash_banding,
)

_DUCK_KNOB = (
    "SELECT LEAST({cap}, GREATEST({floor}, "
    "CAST(CEIL(LOG2(GREATEST({n}, 2))) AS INT)))"
)


def _duck_knob(n: int, floor: int = SIMHASH_BAND_BITS, cap: int = BAND_BITS_CAP) -> int:
    return duckdb.sql(_DUCK_KNOB.format(n=n, floor=floor, cap=cap)).fetchone()[0]


# The hazardous inputs: exact powers of two (log2 must come out exact, or
# ceil jumps a whole bit) and their neighbors, plus the schedule edges.
_EDGES = [1, 2, 3, 500, 5000, 16384, 16385, 40000, 320000, 1_280_000]
_EDGES += [2**k + d for k in (14, 20, 28, 40, 52) for d in (-1, 0, 1)]


@pytest.mark.parametrize("n", _EDGES)
def test_knob_arithmetic_matches_duckdb_at_edges(n):
    assert auto_band_bits(n) == _duck_knob(n)


@settings(max_examples=200, deadline=None)
@given(st.integers(min_value=1, max_value=2**52))
def test_knob_arithmetic_matches_duckdb(n):
    assert auto_band_bits(n) == _duck_knob(n)


def test_banding_schedule():
    # floor: the driver fixtures (≤ 5000 docs) keep the r5 4×14 layout
    assert simhash_banding(500) == (14, 4)
    assert simhash_banding(5000) == (14, 4)
    assert simhash_banding(16384) == (14, 4)
    # engagement: one doc past 2^14 widens the bands
    assert simhash_banding(16385) == (15, 3)
    # the 64× and 256× scale rungs
    assert simhash_banding(320_000) == (19, 2)
    assert simhash_banding(1_280_000) == (21, 2)
    # the documented ceiling: 2 bands exhaust the 56-bit hash at 28 bits
    assert simhash_banding(2**28) == (28, 2)
    assert simhash_banding(2**40) == (28, 2)


BASE = (
    "shared base text about spark catalyst partition pruning and "
    "shuffle exchanges in distributed query engines"
)


def test_simhash_knob_engages_cross_engine(spark, tmp_path):
    """17 000 docs → ceil(log2 n)=15 > the 14-bit floor: both engines must
    band 3×15 (not 4×14) and still agree bit-for-bit."""
    import pandas as pd

    from tests.oracle_check import compare
    from wd2sql_spark.queries import load_all_modules

    assert auto_band_bits(17_000) == 15
    rows = []
    for i in range(17_000):
        if i < 30:  # 10 near-dup groups of 3 → guaranteed non-empty result
            text = f"{BASE} variant{i // 3} tail{i % 3}"
        else:
            text = f"alpha{i} beta{i} gamma{i} delta{i} epsilon{i} zeta{i}"
        rows.append((i, text, "en", f"src{i % 7}", len(text)))
    pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    ).to_parquet(tmp_path / "documents.parquet", index=False)

    q = load_all_modules()["dedup_simhash"]
    res = compare("dedup_simhash", q.fn(spark, str(tmp_path)), q.oracle, str(tmp_path))
    assert res.ok, res.errors
    assert res.row_count == (20, 20)
