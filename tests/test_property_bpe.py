"""Property-based checks of BPE vocabulary induction (operators/bpe.py)
against a pure-Python reference on hypothesis-generated corpora.

The oracle sweep proves Spark == DuckDB on the fixed fixture corpus;
these drive the merge ALGEBRA over arbitrary tiny corpora, where the
cross-engine hazards live:

1. the greedy left-to-right non-overlapping merge (the Spark left-fold
   and the oracle's run-alternation are two different formulations of
   it — both must equal the reference's imperative scan, including the
   ``aaaa`` → [aa, aa] overlap case);
2. the argmax tie-break (count DESC, then lexicographic (l, r));
3. the collapse case — a corpus that runs out of pairs mid-training
   must yield fewer rows, not a crash or a phantom merge.
"""

from __future__ import annotations

from collections import Counter

import duckdb
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from wd2sql_spark.operators.bpe import bpe_merges
from wd2sql_spark.queries.llm_tokenize import _bpe_oracle

ROUNDS = 3

WORD = st.text(alphabet="abc", min_size=1, max_size=6)
TEXT = st.lists(WORD, min_size=1, max_size=8).map(" ".join)
CORPUS = st.lists(TEXT, min_size=1, max_size=6)


def ref_bpe(texts: list[str], rounds: int) -> list[tuple[int, str, str, int]]:
    wf = Counter(w for t in texts for w in t.split(" ") if w)
    words = {w: list(w) for w in wf}
    out: list[tuple[int, str, str, int]] = []
    for rank in range(1, rounds + 1):
        pc: Counter = Counter()
        for w, syms in words.items():
            for a, b in zip(syms, syms[1:]):
                pc[(a, b)] += wf[w]
        if not pc:
            break
        (left, right), cnt = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        out.append((rank, left, right, cnt))
        for w, syms in words.items():
            new: list[str] = []
            i = 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == left and syms[i + 1] == right:
                    new.append(left + right)
                    i += 2
                else:
                    new.append(syms[i])
                    i += 1
            words[w] = new
    return out


@settings(max_examples=8, deadline=None)
@given(CORPUS)
def test_spark_bpe_matches_reference(spark, texts):
    docs = spark.createDataFrame([(t,) for t in texts], "text string")
    got = sorted(tuple(r) for r in bpe_merges(docs, rounds=ROUNDS).collect())
    assert got == sorted(ref_bpe(texts, ROUNDS))


@settings(max_examples=15, deadline=None)
@given(CORPUS)
def test_oracle_bpe_matches_reference(texts):
    con = duckdb.connect()
    con.register("documents", pd.DataFrame({"text": texts}))
    got = sorted(tuple(r) for r in con.execute(_bpe_oracle(ROUNDS)).fetchall())
    assert got == sorted(ref_bpe(texts, ROUNDS))


def ref_bpe_encode(texts: list[str], rounds: int) -> list[tuple[int, int, int, int]]:
    """Per-doc (doc_id, n_words, n_chars, n_tokens) after applying the
    first ``rounds`` learned merges, mirroring the degenerate-corpus
    contract: running out of pairs mid-training empties the vocab (and
    therefore the result) in both engines."""
    wf = Counter(w for t in texts for w in t.split(" ") if w)
    words = {w: list(w) for w in wf}
    for _ in range(rounds):
        pc: Counter = Counter()
        for w, syms in words.items():
            for a, b in zip(syms, syms[1:]):
                pc[(a, b)] += wf[w]
        if not pc:
            words = {}
            break
        (left, right), _ = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        for w, syms in words.items():
            new: list[str] = []
            i = 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == left and syms[i + 1] == right:
                    new.append(left + right)
                    i += 2
                else:
                    new.append(syms[i])
                    i += 1
            words[w] = new
    out = []
    for di, t in enumerate(texts):
        ws = [w for w in t.split(" ") if w and w in words]
        if ws:
            out.append(
                (di, len(ws), sum(len(w) for w in ws), sum(len(words[w]) for w in ws))
            )
    return out


@settings(max_examples=8, deadline=None)
@given(CORPUS)
def test_spark_bpe_encode_matches_reference(spark, texts):
    from wd2sql_spark.queries.llm_tokenize import encode_stats

    docs = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    got = sorted(tuple(r) for r in encode_stats(docs, rounds=ROUNDS).collect())
    assert got == sorted(ref_bpe_encode(texts, ROUNDS))


@settings(max_examples=15, deadline=None)
@given(CORPUS)
def test_oracle_bpe_encode_matches_reference(texts):
    from wd2sql_spark.queries.llm_tokenize import _bpe_encode_oracle

    con = duckdb.connect()
    con.register(
        "documents", pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    )
    got = sorted(tuple(r) for r in con.execute(_bpe_encode_oracle(ROUNDS)).fetchall())
    assert got == sorted(ref_bpe_encode(texts, ROUNDS))
