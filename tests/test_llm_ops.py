"""Behavioral tests for the LLM-pipeline operators: approximation quality
(LSH recall, MinHash accuracy) that the exact-match oracles can't express."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from wd2sql_spark.catalog import table
from wd2sql_spark.operators import dedup as D
from wd2sql_spark.operators import similarity as S

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return table(spark, SF, "documents")


@pytest.fixture(scope="module")
def emb(spark):
    return table(spark, SF, "embeddings")


def test_lsh_topk_recall_vs_brute_force(spark, emb):
    queries = emb.filter(F.col("vec_id") < 10)
    brute = {
        (r.query_id, r.neighbor_id)
        for r in S.brute_force_topk(emb, queries, k=5).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id) for r in S.lsh_topk(emb, queries, k=5, r=4).collect()
    }
    recall = len(brute & approx) / len(brute)
    # r=4 → 16 buckets: a broken bucketer retrieves ~1/16 of true
    # neighbors. Near-random fixture embeddings give ~0.2 (3.5× chance,
    # measured); require ≥ 2× chance to pin the mechanism, not the data.
    assert recall >= 2 / 16, f"LSH recall at chance level: {recall}"


def test_ivf_topk_recall_vs_brute_force(spark, emb):
    queries = emb.filter(F.col("vec_id") < 10)
    brute = {
        (r.query_id, r.neighbor_id)
        for r in S.brute_force_topk(emb, queries, k=5).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in S.ivf_topk(emb, query_pred=F.col("vec_id") < 10, k=5, nprobe=4).collect()
    }
    recall = len(brute & approx) / len(brute)
    # nprobe/n_centroids = 1/4 of the corpus searched → random probing
    # retrieves ~25% of true neighbors; require clearly above that.
    assert recall >= 0.4, f"IVF recall at chance level: {recall}"


def test_pq_codes_are_exact_on_codebook_vectors(spark, emb):
    """A vector assembled FROM the trained codebook (row j = subspace
    centroid j concatenated across all subspaces) must encode to a
    zero-distance code in EVERY subspace — i.e. the chosen centroid's
    subvector equals the input's. This pins the slice arithmetic and the
    argmin with trained codebooks (r5): the chosen j may be lower than
    the row's own index only if two trained centroids coincide, so the
    assertion is on reconstruction equality, not index identity."""
    _, cb = S.train_codebooks(emb, None)
    rows = [
        (j, [x for m in range(8) for x in cb[m][j][1]]) for j in range(16)
    ]
    df = spark.createDataFrame(rows, "j int, embedding array<double>")
    codes = S.pq_codes(F.col("embedding"), cb)
    got = df.select("j", *[codes[m].alias(f"c{m}") for m in range(8)]).collect()
    for r in got:
        for m in range(8):
            chosen = cb[m][r[f"c{m}"]][1]
            assert chosen == cb[m][r.j][1], (r.j, m, r[f"c{m}"])
            assert r[f"c{m}"] <= r.j  # ties break to the lowest j


def test_pq_topk_recall_and_self_reconstruction(spark, emb):
    queries = emb.filter(F.col("vec_id") < 10)
    brute = {
        (r.query_id, r.neighbor_id)
        for r in S.brute_force_topk(emb, queries, k=5).collect()
    }
    rows = S.pq_topk(emb, queries, k=5).collect()
    approx = {(r.query_id, r.neighbor_id) for r in rows}
    recall = len(brute & approx) / len(brute)
    # 8 subspaces × 16 centroids on near-random embeddings: far above the
    # ~k/n chance floor; require a conservative bound to pin mechanism.
    assert recall >= 0.2, f"PQ recall at chance level: {recall}"
    # Retrieved neighbors that ARE codebook vectors reconstruct exactly;
    # the ADC cosine then equals the exact cosine up to fold regrouping
    # (8 subspace partials vs one 64-term fold → last-ulp, ≤1 rounding
    # step at the 6-decimal output).
    for r in rows:
        if r.neighbor_id < 16:
            assert abs(r.pq_cosine - r.exact_cosine) <= 1e-6 + 1e-12, (
                r.query_id,
                r.neighbor_id,
            )


def test_ivf_assignment_is_total_and_valid(spark, emb):
    """Every vector gets a list id that is a codebook cid (the seed
    vec_ids 0..15 at this SF), and the IVF index and the PQ codes store
    bin every vector into the same list: one list-id definition."""
    cents, _ = S.train_codebooks(emb, None)
    ivf = sorted(map(tuple, S.ivf_index(emb, None).select("vec_id", "cid").collect()))
    assert len(ivf) == emb.count()
    assert {cid for _, cid in ivf} <= {cid for cid, _ in cents} <= set(range(16))
    _, _, store = S.pq_codes_store(emb, None)
    assert sorted(map(tuple, store.select("neighbor_id", "cid").collect())) == ivf


def test_minhash_estimates_track_exact_jaccard(spark, docs):
    exact = {(r.d1, r.d2): r.jaccard for r in D.jaccard_pairs(docs).collect()}
    est = {(r.d1, r.d2): r.est_jaccard for r in D.minhash_lsh_pairs(docs).collect()}
    # every truly-high-similarity pair must be surfaced by LSH...
    high = {p for p, j in exact.items() if j >= 0.8}
    assert high <= set(est), f"missed high-sim pairs: {high - set(est)}"
    # ...and estimates on those pairs must be close (k=16 → σ≈0.1)
    for p in high:
        assert abs(est[p] - exact[p]) <= 0.35, (p, est[p], exact[p])


def test_simhash_close_for_near_dups(spark, docs):
    """The strongest Jaccard near-dup differs in at most a quarter of the
    SimHash bits (14 of 56)."""
    top = (
        D.jaccard_pairs(docs)
        .orderBy(F.col("jaccard").desc())
        .limit(1)
        .collect()[0]
    )
    if top.jaccard < 0.8:
        pytest.skip("fixture has no strong near-dup at this SF")
    sim = {r.doc_id: r.simhash for r in D.simhash_sig(docs).collect()}
    ham = bin(sim[top.d1] ^ sim[top.d2]).count("1")
    assert ham <= D.SIMHASH_BITS // 4, f"simhash hamming {ham} for jaccard {top.jaccard}"


def test_exact_dedup_idempotent(spark, docs):
    doubled = docs.unionByName(docs)
    groups = D.exact_duplicates(doubled)
    assert groups.filter(F.col("n_copies") != 2).count() == 0
    assert groups.count() == docs.count()


def test_multimodal_roundtrip(spark, docs):
    """Real-PNG round trip: every nonempty-text doc decodes back with
    the encoder's geometry, and the opaque text-blob path stays
    byte-exact through Arrow."""
    from wd2sql_spark.operators import multimodal as M

    decoded = M.fused_codec_pipeline(
        docs, M.png_builder(1), M.decode_images_stage(), schema=M.DECODED_SCHEMA
    )
    n_docs = docs.filter(F.octet_length("text") > 0).count()
    rows = decoded.collect()
    assert len(rows) == n_docs
    for r in rows:
        assert r["width"] == M.PNG_W
        assert r["height"] == M.PNG_H_BASE + r["doc_id"] % M.PNG_H_MOD
        assert (r["channels"], r["format"]) == (1, "png")
    # the opaque (non-image) blob path still carries bytes losslessly
    blobs = M.synthesize_blobs(docs)
    mismatched = blobs.join(docs.select("doc_id", "text"), "doc_id").filter(
        F.octet_length("content") != F.octet_length(F.encode("text", "utf-8"))
    )
    assert mismatched.count() == 0


def test_connected_components_long_chain_converges_fast(spark, monkeypatch):
    """Pointer jumping must make convergence O(log diameter): a 1024-node
    chain (diameter 1023) resolves to ONE component labeled 0 within 12
    rounds — one-hop-only propagation would need ~1023 and return wrong
    labels under the same cap. This is the adversarial-graph guarantee
    that makes the operator safe beyond shallow near-dup clusters."""
    monkeypatch.setattr(D, "CC_MAX_ROUNDS", 12)
    n = 1024
    edges = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], ["src", "dst"])
    comp = D.connected_components(edges)
    rows = comp.collect()
    assert len(rows) == n
    assert {r["cluster_id"] for r in rows} == {0}


def test_quantize_int8_zero_vector_yields_zeros(spark):
    """An all-zero embedding has scale 0; x/0 is NaN and round(NaN)
    .cast('int') aborts the job under ANSI mode (Spark 4 default). The
    guard must quantize the degenerate vector to zeros instead of killing
    the whole quantized_topk run (per-record tolerance, ADVICE r2)."""
    df = spark.createDataFrame(
        [(1, [0.0] * 4), (2, [1.0, -2.0, 0.5, 0.0])], ["vec_id", "embedding"]
    )
    rows = {
        r.vec_id: r.q8
        for r in df.select(
            "vec_id", S.quantize_int8(F.col("embedding")).alias("q8")
        ).collect()
    }
    assert rows[1] == [0, 0, 0, 0]
    assert rows[2][1] == -127  # max-magnitude component pins the scale


def test_kmeans_partitions_whole_corpus(spark, emb):
    from wd2sql_spark.queries.llm_cluster import K, cluster_kmeans_embeddings

    stats = cluster_kmeans_embeddings(spark, SF).collect()
    assert 1 <= len(stats) <= K
    assert sum(r.n_members for r in stats) == emb.count()
    assert all(r.inertia >= 0 for r in stats)


def test_kmeans_update_reduces_inertia(spark, emb):
    """One Lloyd update must not increase total inertia (each step of
    assign→update is non-increasing for squared-L2 k-means; the half-up
    integer rounding of centroids perturbs by <1 quantization unit per
    dim, far below the inertia scale)."""
    from pyspark.sql import functions as F
    from wd2sql_spark.queries.llm_cluster import K, _assign, _iv, _update

    vecs = emb.select("vec_id", _iv(F.col("embedding")).alias("iv"))
    seeds = (
        emb.orderBy("vec_id").limit(K)
        .select(F.col("vec_id").alias("cid"), _iv(F.col("embedding")).alias("c"))
    )
    a1 = _assign(vecs, seeds)
    i1 = a1.agg(F.sum("dist")).collect()[0][0]
    a2 = _assign(vecs, _update(a1))
    i2 = a2.agg(F.sum("dist")).collect()[0][0]
    assert i2 <= i1


def test_decontam_flags_planted_duplicate(spark, docs):
    """A corpus doc that IS an eval doc's text must be flagged with
    contam_ratio 1.0 — plant one and run the same pipeline."""
    from pyspark.sql import functions as F
    from wd2sql_spark.operators import dedup as DD
    from wd2sql_spark.queries.llm_decontam import DECONTAM_N, EVAL_MOD

    eval_text = docs.filter(F.col("doc_id") % EVAL_MOD == 0).orderBy("doc_id").first().text
    planted = docs.union(
        docs.sparkSession.createDataFrame(
            [(999_999, eval_text, "en", "plant", len(eval_text))], docs.schema.fieldNames()
        )
    )
    ev = (
        DD.doc_shingles(planted.filter(F.col("doc_id") % EVAL_MOD == 0), n=DECONTAM_N)
        .select("shingle").distinct().withColumn("_hit", F.lit(1))
    )
    hits = (
        DD.doc_shingles(planted.filter(F.col("doc_id") == 999_999), n=DECONTAM_N)
        .join(F.broadcast(ev), "shingle", "left")
        .agg(F.count(F.lit(1)).alias("n_sh"), F.count("_hit").alias("n_hit"))
        .collect()[0]
    )
    assert hits.n_sh == hits.n_hit and hits.n_sh > 0


def test_scrub_redacts_all_planted_pii(spark):
    """Every planted email/phone/IP must be matched by its pattern: docs
    with doc_id % 7 == 0 contribute exactly one email each, etc."""
    from wd2sql_spark.queries.llm_decontam import scrub_pii_stats
    import duckdb

    rows = scrub_pii_stats(spark, SF).collect()
    con = duckdb.connect()
    exp = con.execute(
        f"""SELECT SUM(CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END),
                   SUM(CASE WHEN doc_id % 11 = 0 THEN 1 ELSE 0 END),
                   SUM(CASE WHEN doc_id % 13 = 0 THEN 1 ELSE 0 END)
            FROM read_parquet('{SF}/documents.parquet')"""
    ).fetchone()
    assert sum(r.n_emails for r in rows) == exp[0]
    assert sum(r.n_phones for r in rows) == exp[1]
    assert sum(r.n_ips for r in rows) == exp[2]


def test_chunking_reconstructs_documents(spark, docs):
    """The non-overlapping prefix of each chunk (the first STRIDE chars)
    concatenated in chunk order must reproduce the document exactly —
    the invariant that makes overlapping chunks safe to de-overlap
    downstream. Checked via content md5s joined back to the corpus."""
    from wd2sql_spark.queries.llm_packing import STRIDE, chunk_docs_overlap

    chunks = chunk_docs_overlap(spark, SF)
    rebuilt = (
        chunks.join(docs.select("doc_id", "text"), "doc_id")
        .select(
            "doc_id",
            "text",
            F.expr(f"substring(text, chunk_start + 1, {STRIDE})").alias("piece"),
            "chunk_idx",
        )
        .groupBy("doc_id", "text")
        .agg(
            F.concat_ws(
                "",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("chunk_idx", "piece"))),
                    lambda t: t["piece"],
                ),
            ).alias("rebuilt")
        )
    )
    assert rebuilt.filter(F.col("rebuilt") != F.col("text")).count() == 0


def test_packing_invariants(spark):
    """Per shard: the window budget must cover the token stream
    (n_bins·CONTEXT ≥ total_tokens > (n_bins−1)·CONTEXT), utilization in
    (0, 1], and split docs can't exceed interior bin boundaries."""
    from wd2sql_spark.queries.llm_packing import CONTEXT, pack_sequences_bins

    for r in pack_sequences_bins(spark, SF).collect():
        assert r.n_bins * CONTEXT >= r.total_tokens > (r.n_bins - 1) * CONTEXT
        assert 0.0 < r.utilization <= 1.0
        assert r.n_split_docs <= r.n_bins - 1
        assert r.n_split_docs <= r.n_docs


def test_semdedup_prune_bounded_by_membership(spark):
    """Dropped docs are a strict subset of cluster members (the kept
    representative never drops), pair counts respect the block size, and
    every sampled vector lands in exactly one cluster."""
    from wd2sql_spark.queries.llm_cluster import semdedup_cluster_prune

    rows = semdedup_cluster_prune(spark, SF).collect()
    assert rows, "sample produced no clusters"
    for r in rows:
        assert 0 <= r.n_dropped < r.n_members
        assert r.n_dup_pairs <= r.n_members * (r.n_members - 1) // 2
        assert (r.sum_dot > 0) == (r.n_dup_pairs > 0)


def test_assign_contiguous_ids_dense_and_ordered(spark):
    """Ids are a dense 1..N permutation following the key order, for a
    partition count both smaller and larger than the data spread."""
    from wd2sql_spark.catalog import table
    from wd2sql_spark.operators.ids_assign import assign_contiguous_ids

    d = table(spark, "/root/testdata/sf0.001", "documents").select("doc_id", "n_chars")
    n = d.count()
    for parts in (4, 64):
        out = assign_contiguous_ids(d, ["n_chars", "doc_id"], n_partitions=parts)
        rows = out.orderBy("global_id").collect()
        assert [r["global_id"] for r in rows] == list(range(1, n + 1))
        keys = [(r["n_chars"], r["doc_id"]) for r in rows]
        assert keys == sorted(keys)


def test_incremental_matches_exact_copy_and_agrees_with_full_lsh(spark, docs):
    """A delta doc that is an exact copy of a corpus doc must match with
    est_jaccard == 1.0; and for a real split of the fixture, delta→corpus
    matches must be exactly the cross-split subset of the full-corpus
    LSH pairs (same arithmetic ⇒ same candidates)."""
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    copied = (
        corpus.limit(1)
        .select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
    )
    idx = D.minhash_band_index(corpus)
    got = D.incremental_index_probe(idx, D.minhash_band_index(copied)).collect()
    assert any(r["est_jaccard"] == 1.0 for r in got)

    delta = docs.filter(F.col("doc_id") % 10 == 0)
    inc = {
        (r["delta_id"], r["corpus_id"])
        for r in D.incremental_index_probe(
            idx, D.minhash_band_index(delta), min_est_jaccard=0.25
        ).collect()
    }
    full = {
        (r["d1"], r["d2"])
        for r in D.minhash_lsh_pairs(docs, min_est_jaccard=0.25).collect()
    }
    cross = {
        (a, b) if a % 10 == 0 else (b, a)  # (delta, corpus) order
        for (a, b) in full
        if (a % 10 == 0) != (b % 10 == 0)
    }
    assert inc == cross


def test_prefix_filter_jaccard_is_lossless(spark, docs):
    """The PPJoin prefix filter must find EXACTLY the pairs the uncapped
    inverted-index join finds at the same threshold — losslessness is the
    algorithm's defining property (any miss means the prefix length or the
    global order is wrong)."""
    got_pairs = {
        (r["d1"], r["d2"])
        for r in D.jaccard_pairs_prefix_filter(docs).collect()
    }
    # jaccard = common/union is a correctly-rounded ratio of small ints, so
    # the >= 0.5 cut matches the operator's integer 2*common >= union
    full = D.jaccard_pairs(docs, max_doc_freq=None).collect()
    want_pairs = {(r["d1"], r["d2"]) for r in full if r["jaccard"] >= 0.5}
    assert got_pairs == want_pairs
    assert got_pairs, "fixture should contain at least one J>=0.5 pair"


def test_prefix_filter_prefix_is_smaller_than_doc(spark, docs):
    """The candidate-side explode must expose strictly fewer shingles than
    the full inverted index for multi-shingle docs (p = n - ceil(n/2) + 1
    <= (n+1)//2 + ... < n for n >= 2) — the scale property that bounds the
    join."""
    sh = D.doc_shingles(docs)
    per_doc = sh.groupBy("doc_id").count().filter(F.col("count") >= 4)
    n_docs = per_doc.count()
    total_shingles = per_doc.agg(F.sum("count")).collect()[0][0]
    # prefix length for t=1/2 is n - ceil(n/2) + 1 = floor(n/2) + 1
    expected_prefix = per_doc.select(
        (F.floor(F.col("count") / 2) + 1).alias("p")
    ).agg(F.sum("p")).collect()[0][0]
    assert n_docs > 0
    assert expected_prefix < total_shingles


def test_charlm_score_flags_atypical_text(spark):
    """Fit-on-corpus char-bigram LM: a document made of characters that
    never co-occur in the rest of the corpus must score strictly lower
    than every natural-text document."""
    from wd2sql_spark.queries.llm_quality import quality_charlm_score
    import wd2sql_spark.catalog as C

    rows = [
        (1, "the quick brown fox jumps over the lazy dog near the river"),
        (2, "the lazy dog sleeps near the quick river fox every day"),
        (3, "a quick brown dog jumps over the lazy fox near a river"),
        (4, "zq xj qz jx zx qj zq xj qz jx zx qj zq xj qz jx"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    df.write.mode("overwrite").parquet("/tmp/charlm_fixture/documents.parquet")
    out = {
        r["doc_id"]: r["lm_score"]
        for r in quality_charlm_score(spark, "/tmp/charlm_fixture").collect()
    }
    assert out[4] < min(out[1], out[2], out[3])


def test_streaming_band_index_equals_batch(spark, docs, tmp_path):
    """minhash_band_index over a stream (row-local array_min folds) must be
    BIT-IDENTICAL to the same call over the batch frame (explode+groupBy)
    — the streaming incremental near-dup's oracle validity rests on this
    equality."""
    from wd2sql_spark.streaming.core import run_to_batch

    src = docs.select("doc_id", "text")
    src.write.parquet(str(tmp_path / "docs"))
    stream = spark.readStream.schema(src.schema).parquet(str(tmp_path / "docs"))
    assert stream.isStreaming
    got = run_to_batch(D.minhash_band_index(stream), output_mode="append", name="bandidx")
    a = sorted(map(tuple, D.minhash_band_index(src).collect()))
    b = sorted(map(tuple, got.collect()))
    assert a == b and a


def test_band_index_refuses_another_shape_before_any_job(spark, docs, monkeypatch):
    """The band store's shape is fixed: ``minhash_band_index(docs, k=8)``
    raises ValueError before it builds a signature plan or Spark runs a
    job."""
    built = []
    monkeypatch.setattr(D, "minhash_signatures_wide", lambda d: built.append(d))
    sc = spark.sparkContext
    group = "band-index-shape"
    sc.setJobGroup(group, "shape check")
    try:
        with pytest.raises(ValueError, match="k=16"):
            D.minhash_band_index(docs, k=8)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    assert built == []


# Jobs the six ANN queries below launch while their plans are built, in
# one fresh session at sf0.001: the first read of the embeddings file, one
# codebook training that every index shares, and one checkpoint per
# stored index (IVF index, PQ audit index, codes store). Training each
# index's codebooks separately cost 239 jobs at sf0.01 (73 per PQ index);
# encoding the corpus once more for a second PQ store costs one more.
ANN_COLD_BUILD_JOBS = 13


def test_ann_family_trains_once_per_cold_session(spark, monkeypatch):
    """Within the job budget, and the corpus is PQ-encoded once: the codes
    store is a projection of the audit index, not a second encoding."""
    from wd2sql_spark.queries.registry import load_all_modules
    from wd2sql_spark.session_cache import clear_all_session_caches

    encodes = []
    encode = S._pq_encoded
    monkeypatch.setattr(S, "_pq_encoded", lambda *a: encodes.append(a) or encode(*a))
    registry = load_all_modules()
    # The CacheManager is shared by every session of the context: a
    # relation an earlier test persisted (k-means' quantized vectors) is
    # substituted into the codebook trainer's plan and changes its jobs.
    clear_all_session_caches()
    spark.catalog.clearCache()
    fresh = spark.newSession()
    sc = fresh.sparkContext
    group = "ann-cold-build"
    sc.setJobGroup(group, "building the ANN query plans")
    try:
        for name in (
            "sim_ivf_topk",
            "sim_ivf_recall_audit",
            "sim_pq_topk",
            "sim_pq_recall_audit",
            "sim_pq_serving_topk",
            "sim_ivfpq_topk",
        ):
            registry[name].fn(fresh, SF)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    n = len(sc.statusTracker().getJobIdsForGroup(group))
    assert n <= ANN_COLD_BUILD_JOBS, n
    assert len(encodes) == 1, len(encodes)
