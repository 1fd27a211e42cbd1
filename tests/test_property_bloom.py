"""Property-based checks of the Bloom prefilter arithmetic
(queries/profiling.py — join_bloom_prefilter_semi).

The query's correctness rests on two facts, neither of which its oracle
exercises directly (the oracle asserts the plain semi-join result, so a
broken filter only surfaces as missing rows):

1. The k salted probe positions Spark computes (`_bloom_positions`,
   pmod(xxhash64(key, salt), m) since round 4 — the bloom internals never
   appear in the oracle, so the cross-engine md5 rule doesn't apply and
   the JVM-cheap hash wins) equal a pure-Python XXH64 twin for arbitrary
   keys — pinning Spark's long/int hash paths (the long column uses
   XXH64's 8-byte fast path, the int salt literal the 4-byte path, seeds
   chained left to right from 42) and pmod's non-negative contract.
2. NO FALSE NEGATIVES end-to-end: for any key set, building the word
   array through the query's own explode→bit_or aggregation and probing
   through its own element_at/shiftleft test accepts every member key.
   This is the property that makes the prefilter semantically invisible;
   an off-by-one in the 1-based element_at or the pos%64 shift would
   silently drop matching fact rows.
"""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from wd2sql_spark.queries.profiling import (
    _BLOOM_BITS,
    _BLOOM_PROBES,
    _bloom_positions,
    _one_shifted,
)

KEY = st.integers(min_value=-(2**31), max_value=2**31 - 1)


_M = (1 << 64) - 1
_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _fmix(h: int) -> int:
    h ^= h >> 33
    h = (h * _P2) & _M
    h ^= h >> 29
    h = (h * _P3) & _M
    h ^= h >> 32
    return h


def _xxh64_long(l: int, seed: int) -> int:
    """XXH64 single-long fast path — Spark's XXH64.hashLong."""
    l &= _M
    h = (seed + _P5 + 8) & _M
    h ^= (_rotl((l * _P2) & _M, 31) * _P1) & _M
    h = (_rotl(h, 27) * _P1 + _P4) & _M
    return _fmix(h)


def _xxh64_int(i: int, seed: int) -> int:
    """XXH64 single-int path — Spark's XXH64.hashInt (4-byte, NOT the
    long path: an IntegerType salt literal is hashed as 4 bytes)."""
    h = (seed + _P5 + 4) & _M
    h ^= ((i & 0xFFFFFFFF) * _P1) & _M
    h = (_rotl(h, 23) * _P2 + _P3) & _M
    return _fmix(h)


def _py_positions(key: int) -> list[int]:
    """Pure-Python twin of profiling._bloom_positions:
    pmod(xxhash64(CAST(key AS LONG), j), m) with seeds chained from 42."""
    out = []
    for j in range(_BLOOM_PROBES):
        h = _xxh64_int(j, _xxh64_long(key, 42))
        signed = h - (1 << 64) if h >= (1 << 63) else h
        out.append(((signed % _BLOOM_BITS) + _BLOOM_BITS) % _BLOOM_BITS)
    return out


@settings(max_examples=10, deadline=None)
@given(st.lists(KEY, min_size=1, max_size=20, unique=True))
def test_probe_positions_match_python_xxh64(spark, keys):
    sdf = spark.createDataFrame([(k,) for k in keys], ["k"])
    got = {
        r["k"]: [r[f"p{j}"] for j in range(_BLOOM_PROBES)]
        for r in sdf.select(
            "k",
            *[
                p.alias(f"p{j}")
                for j, p in enumerate(_bloom_positions(F.col("k")))
            ],
        ).collect()
    }
    assert got == {k: _py_positions(k) for k in keys}


@settings(max_examples=5, deadline=None)
@given(st.lists(KEY, min_size=1, max_size=50, unique=True))
def test_members_always_pass_the_filter(spark, keys):
    dim = spark.createDataFrame([(k,) for k in keys], ["k"])
    words_rows = (
        dim.select(F.explode(F.array(*_bloom_positions(F.col("k")))).alias("pos"))
        .groupBy((F.col("pos") / 64).cast("int").alias("w"))
        .agg(F.bit_or(_one_shifted(F.col("pos"))).alias("bits"))
        .collect()
    )
    words = [0] * (_BLOOM_BITS // 64)
    for r in words_rows:
        words[r["w"]] = r["bits"]
    words_lit = F.array(*[F.lit(w).cast("long") for w in words])

    tests = []
    for pos in _bloom_positions(F.col("k")):
        word = F.element_at(words_lit, ((pos / 64).cast("int") + 1))
        tests.append(word.bitwiseAND(_one_shifted(pos)) != 0)
    accepted = dim.filter(tests[0] & tests[1] & tests[2])
    assert accepted.count() == len(keys)  # every member passes: no false negatives
