"""Tokenizer-training battery: distributed BPE vocabulary induction.

The missing tokenization half of the text battery (llm_text counts
BPE-ish tokens with a FIXED regex; this module LEARNS the merges). The
operator lives in operators/bpe.py; here it gets a full DuckDB oracle
that replays the identical R rounds — pair counting, lexicographic
argmax, greedy non-overlapping merge — in pure SQL, so the driver
hash-checks the whole iterative computation, not just a row count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wd2sql_spark.catalog import sf_key, table
from wd2sql_spark.operators.bpe import bpe_merges, bpe_vocab_encoded
from wd2sql_spark.queries.registry import query
from wd2sql_spark.session_cache import memo

BPE_ROUNDS = 4

# The encoded vocabulary is a TOKENIZER — trained once, applied to every
# later corpus batch. It is memoized per session like the IVF/PQ indexes;
# the training query (text_bpe_vocab_merges) deliberately does NOT use
# the memo, because training is the thing it measures.


def _bpe_oracle(rounds: int) -> str:
    """R unrolled BPE rounds as chained CTEs.

    The greedy merge is expressed by run-alternation instead of the
    Spark side's left fold: candidate positions i where
    (syms[i], syms[i+1]) equals the argmax pair conflict only when they
    are CONSECUTIVE (which forces left == right), so taking the 1st,
    3rd, … member of each consecutive run reproduces the left-to-right
    non-overlapping pass exactly (equivalence property-tested against a
    pure-Python reference in tests/test_property_bpe.py)."""
    ctes = [
        """w0 AS (
  SELECT ROW_NUMBER() OVER (ORDER BY w) AS wid,
         CAST(cnt AS BIGINT) AS freq,
         regexp_extract_all(w, '.') AS syms
  FROM (SELECT w, COUNT(*) AS cnt
        FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        WHERE w <> '' GROUP BY w))"""
    ]
    for r in range(rounds):
        ctes.append(
            f"""p{r} AS (
  SELECT w.syms[t.i] AS l, w.syms[t.i + 1] AS r, SUM(w.freq) AS cnt
  FROM w{r} w, UNNEST(range(1, len(w.syms))) AS t(i)
  GROUP BY 1, 2),
best{r} AS (
  SELECT l, r, cnt FROM p{r} ORDER BY cnt DESC, l, r LIMIT 1)"""
        )
        if r < rounds - 1:
            ctes.append(
                f"""m{r} AS (
  SELECT w.wid, w.freq, t.i, w.syms[t.i] AS s,
         CASE WHEN t.i < len(w.syms)
                   AND w.syms[t.i] = b.l AND w.syms[t.i + 1] = b.r
              THEN 1 ELSE 0 END AS hit
  FROM w{r} w CROSS JOIN best{r} b, UNNEST(range(1, len(w.syms) + 1)) AS t(i)),
h{r} AS (
  SELECT wid, i,
         ROW_NUMBER() OVER (PARTITION BY wid, grp ORDER BY i) % 2 = 1 AS taken
  FROM (SELECT wid, i, i - ROW_NUMBER() OVER (PARTITION BY wid ORDER BY i) AS grp
        FROM m{r} WHERE hit = 1) q),
w{r + 1} AS (
  SELECT m.wid, any_value(m.freq) AS freq,
         list(CASE WHEN COALESCE(h.taken, FALSE) THEN b.l || b.r ELSE m.s END
              ORDER BY m.i) AS syms
  FROM m{r} m
  CROSS JOIN best{r} b
  LEFT JOIN h{r} h ON h.wid = m.wid AND h.i = m.i
  LEFT JOIN h{r} hp ON hp.wid = m.wid AND hp.i = m.i - 1 AND hp.taken
  WHERE hp.wid IS NULL
  GROUP BY m.wid)"""
            )
    selects = "\nUNION ALL\n".join(
        f"SELECT {r + 1} AS merge_rank, l AS left_sym, r AS right_sym,"
        f" CAST(cnt AS BIGINT) AS pair_count FROM best{r}"
        for r in range(rounds)
    )
    return "WITH " + ",\n".join(ctes) + "\n" + selects + "\nORDER BY merge_rank"


BPE_ORACLE = _bpe_oracle(BPE_ROUNDS)


@query("text_bpe_vocab_merges", oracle=BPE_ORACLE, category="llm-tokenize")
def text_bpe_vocab_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First 4 learned BPE merges over the documents corpus — weighted
    pair counts on the distinct-word relation, deterministic
    lexicographic tie-break, greedy non-overlapping merge application
    between rounds. The corpus is touched exactly once (the word-freq
    aggregate); the loop runs on the vocabulary, which is why tokenizer
    training fits the 100 TB regime (see operators/bpe.py)."""
    d = table(spark, sf_dir, "documents")
    return bpe_merges(d, text_col="text", rounds=BPE_ROUNDS).orderBy("merge_rank")


def _bpe_encode_oracle(rounds: int) -> str:
    """Per-document tokenization stats under the first ``rounds`` learned
    merges, fully unrolled: the same pair-count/argmax/run-alternation
    CTEs as :func:`_bpe_oracle`, but the merge is APPLIED in every round
    (w1..wN — learning skips the last rewrite) and w0 keeps the word
    string so the final vocab joins back onto the per-document word
    relation. Every CTE is ``MATERIALIZED``: DuckDB otherwise inlines each
    chained CTE at every reference, and the round-over-round fan-out runs
    it out of memory."""
    ctes = [
        """docw AS MATERIALIZED (
  SELECT doc_id, w
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
  WHERE w <> '')""",
        """w0 AS MATERIALIZED (
  SELECT ROW_NUMBER() OVER (ORDER BY w) AS wid, w,
         CAST(cnt AS BIGINT) AS freq,
         regexp_extract_all(w, '.') AS syms
  FROM (SELECT w, COUNT(*) AS cnt FROM docw GROUP BY w))""",
    ]
    for r in range(rounds):
        ctes.append(
            f"""p{r} AS MATERIALIZED (
  SELECT w.syms[t.i] AS l, w.syms[t.i + 1] AS r, SUM(w.freq) AS cnt
  FROM w{r} w, UNNEST(range(1, len(w.syms))) AS t(i)
  GROUP BY 1, 2),
best{r} AS MATERIALIZED (
  SELECT l, r, cnt FROM p{r} ORDER BY cnt DESC, l, r LIMIT 1),
m{r} AS MATERIALIZED (
  SELECT w.wid, w.freq, t.i, w.syms[t.i] AS s,
         CASE WHEN t.i < len(w.syms)
                   AND w.syms[t.i] = b.l AND w.syms[t.i + 1] = b.r
              THEN 1 ELSE 0 END AS hit
  FROM w{r} w CROSS JOIN best{r} b, UNNEST(range(1, len(w.syms) + 1)) AS t(i)),
h{r} AS MATERIALIZED (
  SELECT wid, i,
         ROW_NUMBER() OVER (PARTITION BY wid, grp ORDER BY i) % 2 = 1 AS taken
  FROM (SELECT wid, i, i - ROW_NUMBER() OVER (PARTITION BY wid ORDER BY i) AS grp
        FROM m{r} WHERE hit = 1) q),
w{r + 1} AS MATERIALIZED (
  SELECT m.wid, any_value(m.freq) AS freq,
         list(CASE WHEN COALESCE(h.taken, FALSE) THEN b.l || b.r ELSE m.s END
              ORDER BY m.i) AS syms
  FROM m{r} m
  CROSS JOIN best{r} b
  LEFT JOIN h{r} h ON h.wid = m.wid AND h.i = m.i
  LEFT JOIN h{r} hp ON hp.wid = m.wid AND hp.i = m.i - 1 AND hp.taken
  WHERE hp.wid IS NULL
  GROUP BY m.wid)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT d.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(length(d.w)) AS BIGINT) AS n_chars,
       CAST(SUM(len(wn.syms)) AS BIGINT) AS n_tokens
FROM docw d
JOIN w0 ON w0.w = d.w
JOIN w{rounds} wn ON wn.wid = w0.wid
GROUP BY d.doc_id
ORDER BY d.doc_id"""
    )


BPE_ENCODE_ORACLE = _bpe_encode_oracle(BPE_ROUNDS)


@query("text_bpe_encode_stats", oracle=BPE_ENCODE_ORACLE, category="llm-tokenize")
def text_bpe_encode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize the corpus under the first 4 learned BPE merges and
    report per-document (word count, char count, token count) — the
    ENCODE half of the tokenizer family (text_bpe_vocab_merges is the
    training half).

    The merge loop runs on the distinct-word vocabulary only (see
    operators/bpe.py::bpe_vocab_encoded); the corpus is tokenized by ONE
    join of the per-document word relation onto the encoded vocab —
    broadcast here (Heaps' law keeps the vocab sublinear in corpus
    size), a plain shuffle join on the word key if a 100 TB corpus'
    vocabulary outgrows the broadcast threshold. Token counts are
    row-local array lengths after that join, so the only corpus-sized
    shuffle is the final per-doc aggregate."""
    d = table(spark, sf_dir, "documents")
    vocab = memo(
        spark,
        "llm_tokenize.bpe_vocab",
        (sf_key(sf_dir), BPE_ROUNDS),
        lambda: bpe_vocab_encoded(d, text_col="text", rounds=BPE_ROUNDS),
    )
    return encode_stats(d, rounds=BPE_ROUNDS, vocab=vocab)


def encode_stats(d: DataFrame, rounds: int = BPE_ROUNDS, vocab: DataFrame | None = None) -> DataFrame:
    """Per-document (n_words, n_chars, n_tokens) under ``rounds`` learned
    merges — the composable body of text_bpe_encode_stats, also driven on
    hypothesis corpora by tests/test_property_bpe.py. ``vocab``: a
    prebuilt encoded vocabulary (the session-cached tokenizer); omitted,
    the merge loop runs fresh (the hypothesis-test path)."""
    if vocab is None:
        vocab = bpe_vocab_encoded(d, text_col="text", rounds=rounds)
    docw = d.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("w")
    ).filter(F.col("w") != "")
    return (
        docw.join(F.broadcast(vocab), "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_words"),
            F.sum(F.length("w")).cast("bigint").alias("n_chars"),
            F.sum(F.size("syms")).cast("bigint").alias("n_tokens"),
        )
        .orderBy("doc_id")
    )
