"""Text-analysis battery over ``documents``: token counting, quality
scoring, language-ID heuristics, fingerprinting, per-language corpus
stats — the scalar layer of an LLM-data pipeline.

Everything is Catalyst built-ins (regexp, higher-order list functions,
md5); each query has a full DuckDB oracle. Ratios are round-6 and derived
from integer counts, so both engines agree bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from wd2sql_spark.catalog import sf_key, table
from wd2sql_spark.session_cache import memo
from wd2sql_spark.queries.registry import query

# Tiny per-language stopword profiles for the heuristic classifier.
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "that", "it", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "für"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "es", "por", "con"],
    "fr": ["le", "la", "de", "et", "un", "est", "pour", "que", "dans", "ce"],
}


def _sql_list(words: list[str]) -> str:
    return "[" + ", ".join(f"'{w}'" for w in words) + "]"


TOKEN_STATS_ORACLE = f"""
WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS ts FROM documents)
SELECT doc_id,
       CAST(length(text) AS BIGINT)                       AS n_chars,
       CAST(len(ts) AS BIGINT)                            AS n_tokens,
       CAST(len(list_distinct(ts)) AS BIGINT)             AS n_unique_tokens,
       CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_bpe_ish,
       round(CAST(length(text) - len(ts) + 1 AS DOUBLE) / len(ts), 6) AS avg_token_len,
       round(CAST(len(list_distinct(ts)) AS DOUBLE) / len(ts), 6)    AS diversity,
       round(CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS DOUBLE)
             / length(text), 6)                           AS punct_ratio,
       round(CAST(len(list_filter(ts, x -> list_contains({_sql_list(STOPWORDS["en"])}, x))) AS DOUBLE)
             / len(ts), 6)                                AS stopword_ratio
FROM t
ORDER BY doc_id
"""


@query("text_token_stats", oracle=TOKEN_STATS_ORACLE, category="llm-text")
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting three ways (whitespace, distinct, BPE-ish regex of
    letter-runs/digit-runs/punct) plus length/diversity/punct/stopword
    ratios — the per-document feature vector for corpus filtering."""
    d = table(spark, sf_dir, "documents")
    ts = F.split(F.col("text"), " ")
    n_tokens = F.size(ts)
    n_chars = F.length("text")
    stop = F.array(*[F.lit(w) for w in STOPWORDS["en"]])
    return d.select(
        "doc_id",
        n_chars.cast("bigint").alias("n_chars"),
        n_tokens.cast("bigint").alias("n_tokens"),
        F.size(F.array_distinct(ts)).cast("bigint").alias("n_unique_tokens"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), F.lit(0)))
        .cast("bigint")
        .alias("n_bpe_ish"),
        F.round((n_chars - n_tokens + 1).cast("double") / n_tokens, 6).alias("avg_token_len"),
        F.round(F.size(F.array_distinct(ts)).cast("double") / n_tokens, 6).alias("diversity"),
        F.round(
            F.length(F.regexp_replace(F.col("text"), "[a-z0-9 ]", "")).cast("double") / n_chars, 6
        ).alias("punct_ratio"),
        F.round(
            F.size(F.filter(ts, lambda x: x.isin(STOPWORDS["en"]))).cast("double") / n_tokens, 6
        ).alias("stopword_ratio"),
    ).orderBy("doc_id")


QUALITY_ORACLE = """
WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS ts, length(text) AS nc FROM documents),
f AS (
  SELECT doc_id, lang,
         len(ts) AS nt,
         CAST(len(list_distinct(ts)) AS DOUBLE) / len(ts) AS diversity,
         CASE WHEN len(ts) BETWEEN 20 AND 80 THEN 1.0 ELSE 0.0 END AS len_ok
  FROM t
)
SELECT doc_id, lang,
       round(0.5 * diversity + 0.3 * len_ok + 0.2 * least(nt, 50) / 50.0, 6) AS quality,
       CASE WHEN round(0.5 * diversity + 0.3 * len_ok + 0.2 * least(nt, 50) / 50.0, 6) >= 0.5
            THEN 'keep' ELSE 'drop' END AS verdict
FROM f
ORDER BY doc_id
"""


def quality_projection(d: DataFrame) -> DataFrame:
    """The quality-score projection on any documents relation — shared by
    the batch query and its streaming twin (it is stateless, so the same
    expressions run per micro-batch unchanged)."""
    ts = F.split(F.col("text"), " ")
    nt = F.size(ts)
    diversity = F.size(F.array_distinct(ts)).cast("double") / nt
    len_ok = F.when(nt.between(20, 80), 1.0).otherwise(0.0)
    score = F.round(0.5 * diversity + 0.3 * len_ok + 0.2 * F.least(nt, F.lit(50)) / 50.0, 6)
    return d.select(
        "doc_id",
        "lang",
        score.alias("quality"),
        F.when(score >= 0.5, "keep").otherwise("drop").alias("verdict"),
    )


@query("text_quality_score", oracle=QUALITY_ORACLE, category="llm-text")
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite quality score (diversity + length-window + length ramp)
    with a keep/drop verdict — the filtering stage of a data pipeline."""
    return quality_projection(table(spark, sf_dir, "documents")).orderBy("doc_id")


def _langid_scores_sql() -> str:
    return ",\n       ".join(
        f"CAST(len(list_filter(ts, x -> list_contains({_sql_list(ws)}, x))) AS BIGINT) AS score_{lang}"
        for lang, ws in STOPWORDS.items()
    )


LANGID_ORACLE = f"""
WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS ts FROM documents),
s AS (
  SELECT doc_id, lang,
       {_langid_scores_sql()}
  FROM t
)
SELECT doc_id, lang AS lang_label, score_en, score_de, score_es, score_fr,
       CASE
         WHEN score_en >= score_de AND score_en >= score_es AND score_en >= score_fr THEN 'en'
         WHEN score_de >= score_es AND score_de >= score_fr THEN 'de'
         WHEN score_es >= score_fr THEN 'es'
         ELSE 'fr'
       END AS lang_pred
FROM s
ORDER BY doc_id
"""


@query("text_langid_stopwords", oracle=LANGID_ORACLE, category="llm-text")
def text_langid_stopwords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-profile language ID: per-language hit counts + argmax with
    a fixed preference order (en > de > es > fr on ties). A real pipeline
    would use char-n-gram profiles; the operator shape (vectorized scoring
    + argmax) is identical."""
    d = table(spark, sf_dir, "documents")
    ts = F.split(F.col("text"), " ")
    # NB: the lambda must be single-arg — a two-arg lambda (e.g. binding the
    # wordlist via a default arg) makes F.filter treat it as (value, index).
    def contains(ws: list[str]):
        return lambda x: x.isin(ws)

    scores = {lang: F.size(F.filter(ts, contains(ws))).cast("bigint") for lang, ws in STOPWORDS.items()}
    pred = (
        F.when(
            (scores["en"] >= scores["de"]) & (scores["en"] >= scores["es"]) & (scores["en"] >= scores["fr"]),
            "en",
        )
        .when((scores["de"] >= scores["es"]) & (scores["de"] >= scores["fr"]), "de")
        .when(scores["es"] >= scores["fr"], "es")
        .otherwise("fr")
    )
    return d.select(
        "doc_id",
        F.col("lang").alias("lang_label"),
        scores["en"].alias("score_en"),
        scores["de"].alias("score_de"),
        scores["es"].alias("score_es"),
        scores["fr"].alias("score_fr"),
        pred.alias("lang_pred"),
    ).orderBy("doc_id")


FINGERPRINT_ORACLE = """
WITH t AS (SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm FROM documents)
SELECT doc_id,
       md5(norm) AS exact_fp,
       md5(array_to_string(list_sort(list_distinct(string_split(norm, ' '))), ' ')) AS bow_fp
FROM t
ORDER BY doc_id
"""


@query("text_fingerprint", oracle=FINGERPRINT_ORACLE, category="llm-text")
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two document fingerprints: exact (md5 of normalized text) and
    bag-of-words (md5 of the sorted vocabulary) — the join keys for
    corpus-level dedup ledgers."""
    d = table(spark, sf_dir, "documents")
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    return d.select(
        "doc_id",
        F.md5(norm).alias("exact_fp"),
        F.md5(F.array_join(F.array_sort(F.array_distinct(F.split(norm, " "))), " ")).alias("bow_fp"),
    ).orderBy("doc_id")


LANG_STATS_ORACLE = """
SELECT lang, source,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       round(CAST(SUM(len(string_split(text, ' '))) AS DOUBLE) / COUNT(*), 6) AS avg_tokens
FROM documents
GROUP BY lang, source
ORDER BY lang, source
"""


@query("text_lang_stats", oracle=LANG_STATS_ORACLE, category="llm-text")
def text_lang_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(lang, source) corpus inventory: doc counts, char volume, mean
    tokens — the reporting layer over the corpus."""
    d = table(spark, sf_dir, "documents")
    return (
        d.groupBy("lang", "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            F.round(
                F.sum(F.size(F.split(F.col("text"), " "))).cast("double") / F.count("*"), 6
            ).alias("avg_tokens"),
        )
        .orderBy("lang", "source")
    )


KEYWORDS_ORACLE = """
WITH tok AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token FROM documents
),
tf AS (
  SELECT doc_id, token, COUNT(*) AS tf
  FROM tok WHERE length(token) >= 3
  GROUP BY doc_id, token
),
df AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
scored AS (
  SELECT tf.doc_id, tf.token, tf.tf, df.df,
         CAST(tf.tf AS DOUBLE) / df.df AS score
  FROM tf JOIN df ON tf.token = df.token
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                               ORDER BY score DESC, token) AS rn
  FROM scored
)
SELECT doc_id, token, tf, CAST(df AS BIGINT) AS df, round(score, 6) AS score, rn
FROM ranked WHERE rn <= 3
ORDER BY doc_id, rn
"""


@query("text_keywords_tfidf", oracle=KEYWORDS_ORACLE, category="llm-text")
def text_keywords_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic keywords per document by a TF-IDF-style score.

    Shape: term-frequency aggregate on (doc, token) — the corpus-sized
    shuffle — then document-frequency on token (vocabulary-sized, tiny in
    comparison) joined back broadcast-style, then per-doc top-k via
    row_number. Score is tf/df rather than tf·log(N/df): same ranking
    intent, but division of identical integers is bit-identical across
    engines while libm log differs in the last ulp — an oracle-able
    metric by construction. Token tiebreak makes the top-3 set exact."""
    d = table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(F.split(F.lower(F.col("text")), " ")).alias("token")
    ).filter(F.length("token") >= 3)

    # tf feeds BOTH the df aggregate and the scored join; unpersisted,
    # the tokenize+tf subtree planned under each consumer — two
    # documents scans per run (r9 executed-plan probe, no AQE exchange
    # reuse). Persisting the (doc, token, tf) relation — the inverted-
    # index build artifact a real pipeline materializes — makes it one
    # pass. (A window-count df over partitionBy(token) was tried and
    # REJECTED: it shuffles the full tf relation onto hot-token
    # partitions (guide §2.5 skew), measured slower than the map-side-
    # combined df aggregate + broadcast join, which is skew-immune.)
    tf = memo(
        spark,
        "llm_text.tfidf_tf",
        sf_key(sf_dir),
        tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf")).persist,
    )
    df = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    scored = tf.join(F.broadcast(df), "token").withColumn(
        "score", F.col("tf").cast("double") / F.col("df")
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), "token")
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "token", "tf", F.col("df").cast("bigint"), F.round("score", 6).alias("score"), "rn")
        .orderBy("doc_id", "rn")
    )


# BM25 retrieval scoring: fixed query terms (all present in the synthetic
# vocabulary), standard k1/b. The idf factor is the RATIONAL core of the
# BM25 idf — (N - df + 0.5)/(df + 0.5) WITHOUT the log: log is a libm
# call whose last ulp differs between engines, while the rational form is
# a division of identical doubles (and log is monotone, so rankings are
# preserved) — the same substitution text_keywords_tfidf makes for tf-idf.
# The three per-term components are summed in FIXED textual order, so the
# doubles go through identical IEEE ops on both sides.
BM25_TERMS = ("spark", "query", "join")
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOPK = 20

_BM25_TF = ",\n       ".join(
    f"CAST(len(list_filter(ts, x -> x = '{t}')) AS BIGINT) AS tf_{t}" for t in BM25_TERMS
)
_BM25_DF = ",\n         ".join(
    f"SUM(CASE WHEN tf_{t} > 0 THEN 1 ELSE 0 END) AS df_{t}" for t in BM25_TERMS
)
_BM25_PART = (
    "(CAST(g.n AS DOUBLE) - df_{t} + 0.5) / (df_{t} + 0.5)"
    " * (tf_{t} * {k1c}) / (tf_{t} + {k1} * (1.0 - {b} + {b} * dl / g.avgdl))"
)
_BM25_SCORE = " + ".join(
    _BM25_PART.format(t=t, k1=BM25_K1, k1c=BM25_K1 + 1.0, b=BM25_B) for t in BM25_TERMS
)

BM25_ORACLE = f"""
WITH t AS (
  SELECT doc_id, string_split(lower(text), ' ') AS ts FROM documents
),
tf AS (
  SELECT doc_id, CAST(len(ts) AS BIGINT) AS dl,
       {_BM25_TF}
  FROM t
),
g AS (
  SELECT COUNT(*) AS n, CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl,
         {_BM25_DF}
  FROM tf
),
scored AS (
  SELECT doc_id, dl, {", ".join(f"tf_{t}" for t in BM25_TERMS)},
         {_BM25_SCORE} AS score
  FROM tf CROSS JOIN g
)
SELECT doc_id, dl, {", ".join(f"tf_{t}" for t in BM25_TERMS)},
       round(score, 6) AS score,
       CAST(rn AS BIGINT) AS rn
FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rn FROM scored) z
WHERE rn <= {BM25_TOPK}
ORDER BY rn
"""


@query("text_bm25_topk", oracle=BM25_ORACLE, category="llm-text")
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{BM25_TOPK} documents by BM25 relevance to a fixed 3-term query
    — the retrieval-scoring shape of a decontamination / RAG-curation
    pass (score training docs against an eval query, drop or route the
    closest).

    Shape: one narrow projection computes per-doc token list, length, and
    the three term frequencies (no explode — ``list_filter`` counts
    in-place, so the fact-sized stage is a MAP, not a shuffle); a
    one-row global aggregate (N, avgdl, per-term df) broadcasts back; the
    score is a row-local expression and the only ordering work is the
    global top-k. At 100 TB: scan → broadcast → TakeOrderedAndProject,
    zero fact-sized shuffles. Determinism: see the constants' comment
    (rational idf, fixed-order float sum)."""
    d = table(spark, sf_dir, "documents")
    ts = F.split(F.lower(F.col("text")), " ")
    def tf_col(t: str):
        # NB: a `lambda x, t=t:` default-arg closure would change the
        # lambda's ARITY — pyspark passes (element, index) to two-arg
        # higher-order lambdas, silently binding t to the index.
        return F.size(F.filter(ts, lambda x: x == F.lit(t))).cast("bigint").alias(f"tf_{t}")

    tf = d.select(
        "doc_id",
        F.size(ts).cast("bigint").alias("dl"),
        *[tf_col(t) for t in BM25_TERMS],
    )
    g = tf.agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
        *[
            F.sum(F.when(F.col(f"tf_{t}") > 0, 1).otherwise(0)).alias(f"df_{t}")
            for t in BM25_TERMS
        ],
    )
    def part(t: str):
        idf = (F.col("n").cast("double") - F.col(f"df_{t}") + 0.5) / (F.col(f"df_{t}") + 0.5)
        sat = (F.col(f"tf_{t}") * F.lit(BM25_K1 + 1.0)) / (
            F.col(f"tf_{t}")
            + F.lit(BM25_K1) * (F.lit(1.0 - BM25_B) + F.lit(BM25_B) * F.col("dl") / F.col("avgdl"))
        )
        return idf * sat

    score = part(BM25_TERMS[0]) + part(BM25_TERMS[1]) + part(BM25_TERMS[2])
    scored = tf.crossJoin(F.broadcast(g)).withColumn("score", score)
    # Global top-k as orderBy+limit (TakeOrderedAndProject: per-partition
    # heap + driver merge of k·p rows) with the rank assigned AFTER the
    # limit — a bare row_number window would Exchange the whole scored
    # fact into one partition to rank it; here the single-partition window
    # sees only the {BM25_TOPK} survivors.
    w = Window.orderBy(F.col("score").desc(), "doc_id")
    return (
        scored.orderBy(F.col("score").desc(), "doc_id")
        .limit(BM25_TOPK)
        .withColumn("rn", F.row_number().over(w).cast("bigint"))
        .select(
            "doc_id", "dl", *[f"tf_{t}" for t in BM25_TERMS],
            F.round("score", 6).alias("score"), "rn",
        )
        .orderBy("rn")
    )
