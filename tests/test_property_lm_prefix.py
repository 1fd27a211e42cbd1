"""Property-based checks for the two round-3 additions whose guarantees
are algebraic, not fixture-specific:

1. Prefix-filter LOSSLESSNESS — for ANY corpus, the PPJoin-style
   prefix-filtered join must return exactly the pairs the uncapped
   inverted-index join returns at the same threshold. The fixture sweep
   proves it for one dataset; this proves the prefix-length arithmetic
   (p = n - ceil(t·n) + 1 under an arbitrary global order) on
   adversarial corpora: single-shingle docs, identical docs, empty-ish
   docs below the shingle width.
2. Char-bigram LM integer arithmetic — the Spark expression tree
   (floored integer probabilities, half-up integer mean) must equal a
   pure-Python reference of the SAME formulas on arbitrary unicode-ish
   text, including multi-byte characters where a bytes-vs-chars
   confusion in substring/length would diverge.
"""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from wd2sql_spark.operators import dedup as D

WORDS = ["aa", "bb", "cc", "dd", "ee"]
DOC = st.lists(st.sampled_from(WORDS), min_size=0, max_size=8).map(" ".join)


@settings(max_examples=8, deadline=None)
@given(st.lists(DOC, min_size=2, max_size=12))
def test_prefix_filter_lossless_on_random_corpora(spark, texts):
    rows = [(i, t) for i, t in enumerate(texts)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        (r["d1"], r["d2"])
        for r in D.jaccard_pairs_prefix_filter(docs).collect()
    }
    want = {
        (r["d1"], r["d2"])
        for r in D.jaccard_pairs(docs, max_doc_freq=None).collect()
        if r["jaccard"] >= 0.5
    }
    assert got == want


CHARS = list("ab x.,éß界")  # multi-byte chars catch bytes-vs-chars bugs
TEXT = st.text(alphabet=st.sampled_from(CHARS), min_size=2, max_size=30)


def _charlm_reference(rows):
    """Pure-Python twin of quality_charlm_score: fit on the 10%
    md5-bucket sample (full-corpus fallback when the sample is empty),
    score every doc with the coalesce-to-zero smoothed formula."""
    import hashlib

    def in_sample(doc_id):
        return int(hashlib.md5(str(doc_id).encode()).hexdigest()[:8], 16) % 100 < 10

    fit_rows = [r for r in rows if in_sample(r[0])] or rows
    n2: dict[str, int] = {}
    chars: set[str] = set()
    for _, t in fit_rows:
        for i in range(len(t)):
            chars.add(t[i])
            if i + 1 < len(t):
                n2[t[i : i + 2]] = n2.get(t[i : i + 2], 0) + 1
    n1: dict[str, int] = {}
    for bg, c in n2.items():
        n1[bg[0]] = n1.get(bg[0], 0) + c
    v = len(chars)
    out = {}
    for doc_id, t in rows:
        p6s = [
            (1_000_000 * (n2.get(t[i : i + 2], 0) + 1)) // (n1.get(t[i], 0) + v)
            for i in range(len(t) - 1)
        ]
        if not p6s:
            continue
        s, n = sum(p6s), len(p6s)
        avg6 = (2 * s + n) // (2 * n)
        out[doc_id] = (n, s, avg6 / 1_000_000.0)
    return out


@settings(max_examples=6, deadline=None)
@given(st.lists(TEXT, min_size=1, max_size=8))
def test_charlm_matches_pure_python_reference(spark, tmp_path_factory, texts):
    from wd2sql_spark.queries.llm_quality import quality_charlm_score

    rows = [(i, t) for i, t in enumerate(texts)]
    base = tmp_path_factory.mktemp("charlm")
    spark.createDataFrame(rows, ["doc_id", "text"]).write.mode("overwrite").parquet(
        str(base / "documents.parquet")
    )
    got = {
        r["doc_id"]: (r["n_bigrams"], r["sum_p6"], r["lm_score"])
        for r in quality_charlm_score(spark, str(base)).collect()
    }
    assert got == _charlm_reference(rows)
