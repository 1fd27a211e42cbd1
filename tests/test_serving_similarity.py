"""Edge-case and consistency tests for the serving-shaped ANN operators
(operators/similarity.py: pq_serving_topk, int8_serving_topk, ivfpq_topk).

The sf-fixture oracles prove exact behavior at three SFs; these pin the
corners the fixtures never hit — corpora smaller than the codebook /
centroid count (the MMR tiny-pool bug class from ADVICE r3) — and the
audit↔serving bit-identical-scores contract the shared helpers exist to
protect.
"""

from __future__ import annotations

from pyspark.sql import functions as F

import wd2sql_spark.operators.similarity as S


def _corpus(spark, n, dim=64):
    rows = [
        (i, [float(((i * 37 + d * 11) % 19) - 9) / 7.0 for d in range(dim)])
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")


def test_tiny_corpus_smaller_than_codebook(spark):
    # 5 vectors < 16 centroids and < 16 PQ codewords: LIMIT 16 yields
    # fewer, and every path must still rank the 4 non-self neighbors.
    emb = _corpus(spark, 5)
    q = emb.filter(F.col("vec_id") == 0)
    for fn in (
        lambda: S.pq_serving_topk(emb, q, k=5),
        lambda: S.int8_serving_topk(emb, q, k=5),
        lambda: S.ivfpq_topk(emb, q, k=5, nprobe=4),
    ):
        rows = fn().collect()
        assert 0 < len(rows) <= 4
        assert all(r["neighbor_id"] != 0 for r in rows)
        ranks = [r["rank"] for r in rows]
        assert ranks == list(range(1, len(rows) + 1))


def test_serving_scores_match_audit_twin(spark):
    # pq_serving's pq_cosine must be bit-identical to pq_topk's for the
    # same pairs — the contract the shared pq_query_luts/pq_adc_cosine
    # helpers enforce structurally.
    emb = _corpus(spark, 40)
    q = emb.filter(F.col("vec_id") < 2)
    audit = {
        (r["query_id"], r["neighbor_id"]): r["pq_cosine"]
        for r in S.pq_topk(emb, q, k=10).collect()
    }
    serving = {
        (r["query_id"], r["neighbor_id"]): r["pq_cosine"]
        for r in S.pq_serving_topk(emb, q, k=10).collect()
    }
    assert serving == audit  # same pairs, bit-identical scores


def test_int8_serving_matches_audit_twin(spark):
    emb = _corpus(spark, 40)
    q = emb.filter(F.col("vec_id") < 2)
    audit = {
        (r["query_id"], r["neighbor_id"]): r["q_cosine"]
        for r in S.quantized_topk(emb, q, k=10).collect()
    }
    serving = {
        (r["query_id"], r["neighbor_id"]): r["q_cosine"]
        for r in S.int8_serving_topk(emb, q, k=10).collect()
    }
    assert serving == audit


def test_ivfpq_is_pq_restricted_to_probed_lists(spark):
    # Metamorphic: with nprobe == n_centroids (probe EVERYTHING), IVFADC
    # degenerates to exactly the serving-PQ ranking.
    emb = _corpus(spark, 40)
    q = emb.filter(F.col("vec_id") < 2)
    full = S.pq_serving_topk(emb, q, k=5).collect()
    ivf_all = S.ivfpq_topk(emb, q, k=5, nprobe=S.N_CENTROIDS).collect()
    key = lambda r: (r["query_id"], r["rank"], r["neighbor_id"], r["pq_cosine"])  # noqa: E731
    assert sorted(map(key, ivf_all)) == sorted(map(key, full))


def test_distinct_adhoc_corpora_never_share_an_index(spark):
    # cache_key=None must BUILD FRESH (round-4 review finding): two
    # different corpora queried back-to-back in one session must not
    # leak each other's codes.
    a = _corpus(spark, 20)
    b = _corpus(spark, 30)
    qa = a.filter(F.col("vec_id") == 0)
    ra = {r["neighbor_id"] for r in S.int8_serving_topk(a, qa, k=30).collect()}
    rb = {r["neighbor_id"] for r in S.int8_serving_topk(b, qa, k=30).collect()}
    assert ra == set(range(1, 20))  # all of corpus A, nothing else
    assert rb == set(range(1, 30))  # all of corpus B — not A's stale index


def test_codes_store_holds_no_float_vectors(spark):
    # The one store PQ serving and IVFADC read is float-free: id, list id,
    # reconstruction norm and small-int codes, never a vector of floats.
    from pyspark.sql.types import ArrayType, DoubleType, FloatType

    emb = _corpus(spark, 20)
    _, _, store = S.pq_codes_store(emb, None)
    assert store.columns == ["neighbor_id", "cid", "acn"] + [f"code{m}" for m in range(S.N_SUB)]
    floats = [
        f.name
        for f in store.schema.fields
        if isinstance(f.dataType, ArrayType)
        and isinstance(f.dataType.elementType, (DoubleType, FloatType))
    ]
    assert not floats, floats
