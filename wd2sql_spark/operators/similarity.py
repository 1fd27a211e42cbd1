"""Similarity search over embedding columns (array<float>).

Baseline: brute-force cosine top-k with Catalyst higher-order functions
(`zip_with` + `aggregate` — JVM-side left-fold, deterministic order, no
UDF). Scale path: random-hyperplane LSH bucketing so candidate generation
joins per-bucket instead of crossing the full corpus.

At 100 TB / billions of vectors: brute force is a broadcast of the query
set (small) against a full scan of the corpus — embarrassingly parallel,
one shuffle for the global top-k (per-partition top-k first via window
rank, so only n_queries·k rows per partition reach the shuffle). The LSH
variant trades recall for pruning: vectors land in 2^R sign-pattern
buckets; queries probe their own bucket (optionally multi-probe).
Hyperplanes are derived from md5 — no RNG state, any worker regenerates
them, and the whole plan stays deterministic.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from wd2sql_spark.operators.dedup import HEX_DIGITS
from wd2sql_spark.session_cache import memo


def _shape_key(cache_key: tuple | None, *shape) -> tuple | None:
    """Memo key of a value derived from the corpus ``cache_key`` names
    with these shape arguments; ``None`` (no identity: build fresh) stays
    ``None``."""
    return None if cache_key is None else (cache_key, *shape)


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ as a deterministic left-fold in array order (bit-identical
    to a sequential SQL loop — verified against DuckDB)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column, na: Column | None = None, nb: Column | None = None) -> Column:
    """cos(a,b), optionally with PRECOMPUTED norms: in a pairwise join the
    norms are per-vector quantities, so computing them per PAIR wastes
    O(pairs·dim) work — carry ``l2_norm`` as a column on each side and
    pass it here. The factored form runs the exact same IEEE ops in the
    same order (sqrt each side, then multiply), so results are
    bit-identical to the inline form and to the SQL oracles."""
    na = l2_norm(a) if na is None else na
    nb = l2_norm(b) if nb is None else nb
    return dot(a, b) / (na * nb)


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k of every query vector against the corpus.

    Output: (query_id, neighbor_id, cosine DOUBLE, rank BIGINT), rank 1..k,
    self-matches excluded, ties broken by neighbor id.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        l2_norm(F.col(vec_col)).alias("qn"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        l2_norm(F.col(vec_col)).alias("cn"),
    )
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                cosine(F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")), 6
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def hyperplanes(dim: int, r: int) -> list[list[float]]:
    """r deterministic pseudo-random hyperplanes: component (i, d) is
    derived from md5(f"{i}:{d}") mapped into [-7.5, 7.5]. Pure function of
    (dim, r) — no RNG, reproducible anywhere (incl. plain SQL)."""
    import hashlib

    planes = []
    for i in range(r):
        row = []
        for d in range(dim):
            h = hashlib.md5(f"{i}:{d}".encode()).hexdigest()
            row.append(HEX_DIGITS.index(h[0]) - 7.5)
        planes.append(row)
    return planes


def lsh_bucket(vec: Column | str, planes: list[list[float]]) -> Column:
    """Sign-pattern bucket id: bit i = [vec·plane_i > 0]. Plane arrays are
    single parsed SQL literals (see _centroid_struct_array on why).

    MEASURED DEAD END (r5), kept as a note: unrolling the 48×64 dot
    products into one giant literal multiply-add expression to get
    whole-stage codegen makes it 6× SLOWER (0.70 s → 4.1 s warm at
    sf0.1) — janino blows its recursion on the deep left-leaning tree
    and Spark falls back to interpreting ~3000 expression nodes per row,
    which loses to the HOF fold's tight interpreted loop. The
    ``aggregate``/``zip_with`` form below is the fast one."""
    if isinstance(vec, str):
        vec = F.col(vec)
    acc = F.lit(0).cast("bigint")
    for i, plane in enumerate(planes):
        lits = F.expr("array(" + ", ".join(f"CAST({x!r} AS DOUBLE)" for x in plane) + ")")
        proj = F.aggregate(
            F.zip_with(vec, lits, lambda x, y: x.cast("double") * y),
            F.lit(0.0),
            lambda a, v: a + v,
        )
        acc = acc + F.when(proj > 0, F.lit(2**i).cast("bigint")).otherwise(F.lit(0))
    return acc


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    r: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: candidates limited to the query's LSH bucket.

    With r hyperplanes the corpus splits into 2^r buckets → candidate set
    shrinks ~2^r× at some recall cost (same-bucket probability for angle θ
    is (1-θ/π)^r). Same output shape as brute_force_topk; rank is within
    retrieved candidates.
    """
    planes = hyperplanes(dim, r)
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        l2_norm(F.col(vec_col)).alias("cn"),
        lsh_bucket(vec_col, planes).alias("bucket"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        l2_norm(F.col(vec_col)).alias("qn"),
        lsh_bucket(vec_col, planes).alias("bucket"),
    )
    scored = (
        F.broadcast(q)
        .join(c, "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                cosine(F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")), 6
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


# Lloyd rounds for codebook training. Two rounds move the seeds to real
# cluster means (the big recall win); more buys little on the fixture
# corpora and each round adds a CTE pair to every oracle twin.
CODEBOOK_ITERS = 2


def train_codebooks(
    corpus: DataFrame,
    cache_key: tuple | None,
    n_centroids: int = 16,
    n_sub: int = 8,
    ks: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[list[tuple[int, list[float]]], list[list[tuple[int, list[float]]]]]:
    """K-MEANS-TRAINED codebooks of every ANN index, fetched to the
    driver: ``(ivf, pq)``. ``ivf`` is the IVF codebook, ``n_centroids``
    (cid, centroid) pairs over the full vector with cid = the seed
    vec_id. ``pq`` is ``n_sub`` lists of (j, subvector), one per
    product-quantization subspace with j = 0..ks−1 in seed order. Each
    subspace adapts to ITS OWN marginal distribution, the actual PQ
    training recipe (Jégou et al. 2011 §II.C trains one k-means per
    subquantizer; a full-dim codebook sliced per subspace measured WORSE
    recall than untrained at sf0.1 — 0.20 → 0.07).

    All 1 + n_sub codebooks are one Lloyd chain keyed by book (book 0 is
    the full vector, book m+1 is subspace m's slice): each round is one
    broadcast-assign and one (book, cid, dim) aggregate for every book,
    and one ``collect`` fetches them all. Training is ``CODEBOOK_ITERS``
    integer-exact rounds of the shared kernel (operators/kmeans.py:
    quantize to round(x·10⁶)+OFFSET, lowest-cid tie-breaks, half-up
    integer-mean updates, emptied clusters keep their previous centroid),
    seeded from each book's ``n_centroids`` resp. ``ks`` lowest-id
    vectors — by rank, NOT ``id < n``, since ids need not be dense from
    0. Every step is exact integer arithmetic, so the DuckDB twins
    re-derive the same codebooks bit-for-bit
    (queries/llm_similarity.TRAINED_CENT_CTES / TRAINED_PQ_CTES), which
    keeps the IVF/PQ oracles hash-exact. The final dequantize
    (c − OFFSET)/10⁶ is one correctly-rounded double division in Python,
    DuckDB, and Spark alike. At 100 TB you train on a sample — the
    mechanics are identical.

    The codebooks are memoized per (session, ``cache_key`` + shape), so
    every index over one corpus trains once; ``cache_key=None`` trains
    fresh."""

    def build():
        from wd2sql_spark.operators.kmeans import (
            OFFSET,
            SCALE,
            iv_quantize,
            lloyd_centroids,
        )

        sub = dim // n_sub
        full = corpus.select(
            F.col(id_col).alias("vec_id"), iv_quantize(F.col(vec_col)).alias("iv")
        )
        books = F.posexplode(
            F.array("iv", *[F.slice("iv", m * sub + 1, sub) for m in range(n_sub)])
        ).alias("book", "iv")
        vecs = full.select("vec_id", books)
        seeds = (
            full.orderBy("vec_id")
            .limit(max(n_centroids, ks))
            .select("vec_id", books)
            .withColumn("rn", F.row_number().over(Window.partitionBy("book").orderBy("vec_id")))
            .filter(F.col("rn") <= F.when(F.col("book") == 0, n_centroids).otherwise(ks))
            .select("book", F.col("vec_id").alias("cid"), F.col("iv").alias("c"))
        )
        rows = lloyd_centroids(vecs, seeds, CODEBOOK_ITERS, key="book").collect()
        if not rows:
            raise ValueError("train_codebooks: corpus is empty, no codebook")
        trained: list[list[tuple[int, list[float]]]] = [[] for _ in range(n_sub + 1)]
        for r in sorted(rows, key=lambda r: (r["book"], r["cid"])):
            trained[r["book"]].append(
                (int(r["cid"]), [(int(x) - OFFSET) / SCALE for x in r["c"]])
            )
        pq = [[(j, v) for j, (_, v) in enumerate(book)] for book in trained[1:]]
        return trained[0], pq

    return memo(
        corpus.sparkSession,
        "similarity.codebooks",
        _shape_key(cache_key, n_centroids, n_sub, ks, dim, id_col, vec_col),
        build,
    )


def _centroid_struct_array(centroids: list[tuple[int, list[float]]]) -> Column:
    """Codebook as ONE parsed SQL literal. Building it from per-component
    ``F.lit`` calls costs a py4j round-trip per float (k·dim ≈ thousands,
    ~1 s of driver time per plan); a single ``F.expr`` string is one call
    and the JVM parser ingests it in milliseconds. ``repr(float)`` →
    DOUBLE literal round-trips bit-exactly."""
    parts = []
    for cid, vec in centroids:
        arr = ", ".join(f"CAST({x!r} AS DOUBLE)" for x in vec)
        parts.append(f"named_struct('cid', CAST({cid} AS BIGINT), 'cv', array({arr}))")
    return F.expr("array(" + ", ".join(parts) + ")")


def ivf_assign(vec: Column, centroids: list[tuple[int, list[float]]]) -> Column:
    """Nearest-centroid id by cosine: score every codebook entry ONCE
    (``transform`` — a naive fold would evaluate each cosine twice, in the
    comparison and again in the taken branch), then ``array_max`` over
    (score, -cid) structs, whose lexicographic max is the highest score
    with the LOWEST cid on ties — matching SQL ``ORDER BY score DESC, cid
    LIMIT 1``."""
    scored = F.transform(
        _centroid_struct_array(centroids),
        lambda c: F.struct(
            cosine(vec, c["cv"]).alias("score"),
            (-c["cid"]).alias("negcid"),
        ),
    )
    return -F.array_max(scored)["negcid"]


# Per-session IVF index memo (session_cache.memo). The value holds the
# assigned+scored corpus as a localCheckpoint: the
# checkpoint truncates the plan to a LogicalRDD, so later invocations
# skip re-analyzing the ~n_centroids·dim inlined codebook literals
# (0.5-1 s of driver time per plan) AND skip re-scoring the corpus. This is the moral of IVF — the
# index is built once, queries only probe — expressed at toy scale.
# KNOWN LIMITS of the toy-scale expression: (a) localCheckpoint blocks
# live in executor storage, so on a cluster that loses executors the
# cached index dies with them (no lineage to recompute) — at 100 TB the
# index is a TABLE written partitioned by cid, which has neither problem
# (and would not carry the scores array per row); (b) the memo key is
# the caller's, so it must identify the corpus (queries pass
# catalog.sf_key, which changes when a fixture file is rewritten).


def ivf_index(
    corpus: DataFrame,
    cache_key: tuple | None,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, cv, cn, scores, cid) for :func:`ivf_topk`: each vector with
    its norm, its per-centroid cosine array, and the argmax list id,
    built once per (session, cache_key) and reused; built fresh without
    a ``cache_key``. The cache only changes WHEN the same deterministic
    plan runs."""

    def build() -> DataFrame:
        centroids, _ = train_codebooks(
            corpus, cache_key, n_centroids, id_col=id_col, vec_col=vec_col
        )
        scored_arr = F.transform(
            _centroid_struct_array(centroids),
            lambda cc: F.struct(
                cosine(F.col("cv"), cc["cv"], na=F.col("cn")).alias("score"),
                (-cc["cid"]).alias("negcid"),
            ),
        )
        return (
            corpus.select(
                F.col(id_col),
                F.col(vec_col).alias("cv"),
                l2_norm(F.col(vec_col)).alias("cn"),
            )
            .withColumn("scores", scored_arr)
            .withColumn("cid", -F.array_max(F.col("scores"))["negcid"])
            .localCheckpoint(eager=True)
        )

    return memo(
        corpus.sparkSession,
        "similarity.ivf_index",
        _shape_key(cache_key, n_centroids, id_col, vec_col),
        build,
    )


def ivf_topk(
    corpus: DataFrame,
    query_pred: Column,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cache_key: tuple | None = None,
) -> DataFrame:
    """Approximate top-k via an inverted-file index (IVF): corpus vectors
    are binned by nearest codebook centroid (narrow map, zero shuffle);
    each query probes its ``nprobe`` closest centroids and searches only
    those lists. At 100 TB, write the corpus partitioned by ``cid`` once
    and every later query prunes (n_centroids/nprobe)× of the data at the
    scan. Output shape matches :func:`brute_force_topk`; self-matches
    excluded.

    ``query_pred`` selects the query rows out of the corpus; it may
    reference only ``id_col`` (the index relation keeps the id under its
    original name; the vector is renamed). The per-centroid score array
    is computed ONCE on the corpus scan (:func:`ivf_index`) and both the
    inverted lists (argmax) and the query probes (explode + rank) derive
    from it — one codebook literal in the plan, and the per-vector norm
    computed once instead of once per centroid.
    """
    base = ivf_index(corpus, cache_key, n_centroids, id_col, vec_col)
    c = base.select(F.col(id_col).alias("neighbor_id"), "cv", "cn", "cid")
    # Top-nprobe of the 16 scores is row-local: a DESCENDING struct
    # sort orders by score desc then negcid desc (= cid ASC — the
    # exact ROW_NUMBER tie-break), so slice + explode replaces the
    # rank window and the probe side needs no shuffle at all.
    probes = (
        base.filter(query_pred)
        .select(
            F.col(id_col).alias("query_id"),
            F.col("cv").alias("qv"),
            F.col("cn").alias("qn"),
            F.explode(
                F.slice(F.sort_array(F.col("scores"), asc=False), 1, nprobe)
            ).alias("s"),
        )
        .select("query_id", "qv", "qn", (-F.col("s.negcid")).alias("cid"))
    )
    scored = (
        F.broadcast(probes)
        .join(c, "cid")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                cosine(F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")), 6
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def int8_norm(col: Column) -> Column:
    """sqrt of the exact integer sum of squares of an int8 array — the
    ONE definition of the quantized norm, shared by the audit path
    (:func:`quantized_topk`) and the serving store
    (:func:`int8_serving_index`) so their q_cosine values cannot
    diverge."""
    return F.sqrt(
        F.aggregate(
            F.transform(col, lambda x: (x * x).cast("long")),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        ).cast("double")
    )


def int8_dot(a: Column, b: Column) -> Column:
    """Exact integer dot product of two int8 arrays (single definition
    for audit + serving, like :func:`int8_norm`)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x * y).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def quantize_int8(vec: Column) -> Column:
    """Symmetric per-vector int8 quantization: scale = max|x|/127,
    q_i = round(x_i / scale). 4× memory cut for a stored ANN corpus (the
    difference between fitting an index in executor memory or not at
    billions of vectors). Cosine over quantized vectors needs NO dequant:
    the per-vector scale cancels in dot(q_a,q_b)/(|q_a||q_b|). All ops are
    round/division built-ins, so the quantized values — and therefore the
    approximate cosines — are bit-reproducible in any engine.

    An all-zero vector gives scale = 0 → x/scale = NaN, and round(NaN)
    .cast('int') aborts the whole job under ANSI mode (Spark 4 default) —
    one degenerate embedding must quantize to zeros instead, matching the
    per-record-tolerance rule the rest of the repo follows (ADVICE r2)."""
    scale = F.array_max(F.transform(vec, lambda x: F.abs(x.cast("double")))) / F.lit(127.0)
    return F.when(
        scale == 0, F.transform(vec, lambda x: F.lit(0).cast("int"))
    ).otherwise(F.transform(vec, lambda x: F.round(x.cast("double") / scale, 0).cast("int")))


def quantized_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cache_key: tuple | None = None,
) -> DataFrame:
    """Brute-force top-k over int8-quantized vectors: same plan shape as
    :func:`brute_force_topk` (broadcast queries, one corpus scan, windowed
    top-k), but the score is the integer-domain cosine — the memory-bound
    regime where the corpus is stored quantized. Output adds the exact
    cosine of each retrieved pair so recall/error can be audited.

    The quantized corpus side is PERSISTED (one generation per site):
    computing q8 + both norms is ~6 interpreted higher-order-fn passes
    per row, and the broadcast-nested-loop join would otherwise
    re-evaluate that projection per OUTPUT PAIR (n_queries× per corpus
    row — 1.5 s → 0.4 s warm at sf0.1). This is also the honest model:
    the serving regime stores the quantized corpus, it doesn't re-derive
    it per probe (int8_serving_index materializes the same relation)."""
    def side(df: DataFrame, idalias: str, v: str, qcol: str, n8: str, nx: str) -> DataFrame:
        q8 = quantize_int8(F.col(vec_col))
        return df.select(
            F.col(id_col).alias(idalias),
            F.col(vec_col).alias(v),
            q8.alias(qcol),
            int8_norm(q8).alias(n8),
            l2_norm(F.col(vec_col)).alias(nx),
        )

    q = side(queries, "query_id", "qv", "qq", "qqn", "qn")
    c = memo(
        corpus.sparkSession,
        "similarity.quantized_topk.corpus",
        _shape_key(cache_key, id_col, vec_col),
        side(corpus, "neighbor_id", "cv", "cq", "cqn", "cn").persist,
    )
    qdot = int8_dot(F.col("qq"), F.col("cq"))
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(qdot.cast("double") / (F.col("qqn") * F.col("cqn")), 6).alias("q_cosine"),
            F.round(
                cosine(F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")), 6
            ).alias("exact_cosine"),
        )
    )
    return ranked_topk(
        scored, "q_cosine", k, ["query_id", "neighbor_id", "q_cosine", "exact_cosine", "rank"]
    )


def _pq_struct_array(subbook: list[tuple[int, list[float]]]) -> Column:
    """One subspace's codebook as a single parsed SQL literal (same py4j
    rationale as :func:`_centroid_struct_array`)."""
    parts = []
    for j, vec in subbook:
        arr = ", ".join(f"CAST({x!r} AS DOUBLE)" for x in vec)
        parts.append(f"named_struct('j', CAST({j} AS INT), 'cv', array({arr}))")
    return F.expr("array(" + ", ".join(parts) + ")")


def _subvec(vec: Column, m: int, sub: int) -> Column:
    return F.slice(vec, m * sub + 1, sub)


def pq_codes(vec: Column, codebook: list[list[tuple[int, list[float]]]], dim: int = 64) -> list[Column]:
    """Per-subspace PQ codes of ``vec``: code_m = argmin_j ‖vec_m − c_mj‖²
    (squared-L2 as the deterministic left-fold; ties → lowest j, via the
    lexicographic ``array_min`` over (d2, j) structs — the exact
    ``ORDER BY d2, j LIMIT 1`` tie-break). A narrow map: encoding shuffles
    nothing and reduces each vector to n_sub small ints — the 32×
    compression (64×4 B floats → 8 codes) that lets a billion-vector
    corpus index live in executor memory."""
    n_sub = len(codebook)
    sub = dim // n_sub
    out = []
    for m, subbook in enumerate(codebook):
        vm = _subvec(vec, m, sub)
        scored = F.transform(
            _pq_struct_array(subbook),
            lambda c: F.struct(
                F.aggregate(
                    F.zip_with(
                        vm, c["cv"], lambda x, y: (x.cast("double") - y) * (x.cast("double") - y)
                    ),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                ).alias("d2"),
                c["j"].alias("j"),
            ),
        )
        out.append(F.array_min(scored)["j"])
    return out


def _pq_encoded(
    corpus: DataFrame,
    codebook: list[list[tuple[int, list[float]]]],
    dim: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """The PQ "stored index" relation: (neighbor_id, cv, cn, acn,
    code0..code{n_sub-1}) — each vector's codes, exact norm (for the
    error-audit column) and reconstruction norm (acn, from in-engine
    centroid-norm LUTs over the same literals — Python never does float
    math). One narrow map over the corpus scan."""
    n_sub = len(codebook)
    codes = pq_codes(F.col(vec_col), codebook, dim)
    cn2_luts = [
        F.transform(
            _pq_struct_array(sb),
            lambda c: F.aggregate(
                F.zip_with(c["cv"], c["cv"], lambda x, y: x * y),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ),
        )
        for sb in codebook
    ]
    acn2 = F.aggregate(
        F.array(*[F.element_at(cn2_luts[m], codes[m] + 1) for m in range(n_sub)]),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        l2_norm(F.col(vec_col)).alias("cn"),
        F.sqrt(acn2).alias("acn"),
        *[codes[m].alias(f"code{m}") for m in range(n_sub)],
    )


def pq_index(
    corpus: DataFrame,
    cache_key: tuple | None,
    n_sub: int = 8,
    ks: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[list[list[tuple[int, list[float]]]], DataFrame]:
    """Codebook + encoded corpus, built once per (session, cache_key) and
    held as a ``localCheckpoint`` — the IVF-index convention
    (:func:`ivf_index`, incl. its documented toy-scale limits): PQ's
    entire point is ENCODE ONCE, probe forever, and at 100 TB the encoded
    relation is a written table of (id, codes) that later queries scan
    INSTEAD of the float vectors. Higher-order-function encode runs
    outside whole-stage codegen (interpreted per-row), so re-encoding per
    query would also dominate wall time at toy scale. Built fresh
    without a ``cache_key``; the cache only changes WHEN the
    deterministic plan runs."""

    def build():
        _, codebook = train_codebooks(
            corpus, cache_key, n_sub=n_sub, ks=ks, dim=dim, id_col=id_col, vec_col=vec_col
        )
        enc = _pq_encoded(corpus, codebook, dim, id_col, vec_col).localCheckpoint(eager=True)
        return codebook, enc

    return memo(
        corpus.sparkSession,
        "similarity.pq_index",
        _shape_key(cache_key, n_sub, ks, dim, id_col, vec_col),
        build,
    )


def pq_query_luts(codebook: list[list[tuple[int, list[float]]]], vec_col: str, dim: int) -> list[Column]:
    """Per-subspace query lookup tables, LUT_m[j] = <q_m, c_mj> — the ONE
    definition shared by the audit (:func:`pq_topk`), serving
    (:func:`pq_serving_topk`), and IVFADC (:func:`ivfpq_topk`) paths, so
    a change to the fold or subvector slicing cannot silently break the
    bit-identical-scores contract between them.

    NB: binding a loop variable via a second lambda parameter default
    (``lambda cc, _m=m: ...``) is WRONG here — PySpark passes a 2-arg
    transform lambda (element, index), so the "default" gets overwritten
    by the array-index column. The closure factory keeps the lambda
    unary."""
    n_sub = len(codebook)
    sub = dim // n_sub

    def _lut(m: int):
        return lambda cc: dot(_subvec(F.col(vec_col), m, sub), cc["cv"])

    return [
        F.transform(_pq_struct_array(codebook[m]), _lut(m)).alias(f"lut{m}")
        for m in range(n_sub)
    ]


def pq_adc_dot(n_sub: int) -> Column:
    """ADC score: Σ_m LUT_m[code_m] as a fixed-order left-fold over the
    m-ordered array — single definition for all three PQ paths (the
    oracles replay exactly this order)."""
    return F.aggregate(
        F.array(
            *[F.element_at(F.col(f"lut{m}"), F.col(f"code{m}") + 1) for m in range(n_sub)]
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def ranked_topk(scored: DataFrame, score_col: str, k: int, out_cols: list[str]) -> DataFrame:
    """Per-query top-k tail shared by every similarity path: rank by
    (score DESC, neighbor_id) inside each query_id — planned as
    WindowGroupLimit, the per-partition top-k the plan audit pins."""
    w = Window.partitionBy("query_id").orderBy(F.col(score_col).desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select(*out_cols)
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_sub: int = 8,
    ks: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cache_key: tuple | None = None,
) -> DataFrame:
    """Approximate top-k by product quantization with asymmetric distance
    computation (ADC, Jégou et al., "Product Quantization for Nearest
    Neighbor Search", TPAMI 2011): the corpus is stored as n_sub small
    codes per vector (here 8 codes ≈ 8 B vs 256 B of floats — the 32×
    memory cut that decides whether a billion-vector index fits executor
    memory); each query builds an n_sub×ks lookup table of subspace dot
    products ONCE, and scoring a pair is n_sub table lookups instead of
    ``dim`` multiplies.

    approx_dot(q, x) = Σ_m LUT_m[code_m(x)]   (LUT_m[j] = ⟨q_m, c_mj⟩)
    approx_cos = approx_dot / (‖q‖ · approx_norm(x)),
    approx_norm² = Σ_m ‖c_m,code_m‖²  — i.e. the cosine of q with x's
    PQ reconstruction, never materializing the reconstruction.

    All folds are deterministic left-folds over inlined codebook
    literals, so the scores are bit-reproducible in any engine (full
    DuckDB oracle). Plan shape matches :func:`brute_force_topk` —
    broadcast queries, one scan of the ENCODED corpus (codes, not
    vectors, in the stored-index regime; pass ``cache_key`` to build the
    encoded relation once per session, see :func:`pq_index`),
    per-partition top-k into one shuffle. The exact cosine of each
    retrieved pair rides along for recall/error audits. Output:
    (query_id, neighbor_id, pq_cosine, exact_cosine, rank)."""
    codebook, c = pq_index(corpus, cache_key, n_sub, ks, dim, id_col, vec_col)

    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        l2_norm(F.col(vec_col)).alias("qn"),
        *pq_query_luts(codebook, vec_col, dim),
    )
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(pq_adc_dot(n_sub) / (F.col("qn") * F.col("acn")), 6).alias("pq_cosine"),
            F.round(
                cosine(F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")), 6
            ).alias("exact_cosine"),
        )
    )
    return ranked_topk(
        scored, "pq_cosine", k, ["query_id", "neighbor_id", "pq_cosine", "exact_cosine", "rank"]
    )


def pq_serving_index(
    corpus: DataFrame,
    cache_key: tuple | None,
    n_sub: int = 8,
    ks: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[list[list[tuple[int, list[float]]]], DataFrame]:
    """Codes-ONLY PQ store: (neighbor_id, acn, code0..code{n_sub-1}).

    The audit index (:func:`pq_index`) deliberately carries the float
    vector and its exact norm so every retrieval can report its true
    quantization error; this is the SERVING twin, where the whole point
    of PQ is that the float vectors are NOT resident — 8 small codes +
    one norm per vector (~16 B vs 256 B of floats, the 32x cut that
    decides whether a billion-vector index fits executor memory). The
    materialized rows hold nothing but id, reconstruction norm, and
    codes; a query plan over this relation cannot touch ``embedding``
    on the corpus side even by accident (pinned by
    tests/test_plan_audit.py::test_pq_serving_never_reads_corpus_vectors).
    Build scans the corpus once per (session, cache_key); at 100 TB this
    relation is the written parquet table queries scan instead of the
    vectors. Without a
    ``cache_key`` (no identity for this corpus) every call builds fresh:
    a shared sentinel key would hand a SECOND corpus in the same session
    the FIRST corpus's index."""

    def build():
        _, codebook = train_codebooks(
            corpus, cache_key, n_sub=n_sub, ks=ks, dim=dim, id_col=id_col, vec_col=vec_col
        )
        enc = (
            _pq_encoded(corpus, codebook, dim, id_col, vec_col)
            .select("neighbor_id", "acn", *[f"code{m}" for m in range(n_sub)])
            .localCheckpoint(eager=True)
        )
        return codebook, enc

    return memo(
        corpus.sparkSession,
        "similarity.pq_serving_index",
        _shape_key(cache_key, n_sub, ks, dim, id_col, vec_col),
        build,
    )


def pq_serving_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_sub: int = 8,
    ks: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cache_key: tuple | None = None,
) -> DataFrame:
    """:func:`pq_topk` in the serving regime: identical ADC arithmetic
    (same codebook, same fixed-order folds — the pq_cosine values are
    bit-identical to the audit path's), but the corpus side reads ONLY
    the codes-and-norm store; no exact cosine, because the store has no
    vectors to compute it from. The query side still reads its own raw
    vector — ADC is asymmetric by design (Jegou et al. 2011: quantize
    the corpus, not the queries). Output: (query_id, neighbor_id,
    pq_cosine, rank)."""
    codebook, c = pq_serving_index(corpus, cache_key, n_sub, ks, dim, id_col, vec_col)
    q = queries.select(
        F.col(id_col).alias("query_id"),
        l2_norm(F.col(vec_col)).alias("qn"),
        *pq_query_luts(codebook, vec_col, dim),
    )
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(pq_adc_dot(n_sub) / (F.col("qn") * F.col("acn")), 6).alias("pq_cosine"),
        )
    )
    return ranked_topk(scored, "pq_cosine", k, ["query_id", "neighbor_id", "pq_cosine", "rank"])


def ivfpq_serving_index(
    corpus: DataFrame,
    cache_key: tuple | None,
    n_centroids: int = 16,
    n_sub: int = 8,
    ks: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[list[tuple[int, list[float]]], list[list[tuple[int, list[float]]]], DataFrame]:
    """IVF+PQ serving store: (neighbor_id, cid, acn, code0..code{n_sub-1})
    — the FAISS IVFADC layout (Jegou et al. 2011 §V): each vector binned
    by its nearest coarse centroid AND stored as PQ codes, so a query
    prunes to nprobe lists at the scan and scores survivors by table
    lookup. No float vector in the stored rows; at 100 TB this is a
    parquet table partitioned by cid holding ~17 B/vector. Returns
    (coarse_centroids, pq codebook, store); built fresh without a
    ``cache_key``."""

    def build():
        centroids, codebook = train_codebooks(
            corpus, cache_key, n_centroids, n_sub, ks, dim, id_col, vec_col
        )
        enc = (
            _pq_encoded(corpus, codebook, dim, id_col, vec_col)
            .select(
                "neighbor_id",
                ivf_assign(F.col("cv"), centroids).alias("cid"),
                "acn",
                *[f"code{m}" for m in range(n_sub)],
            )
            .localCheckpoint(eager=True)
        )
        return centroids, codebook, enc

    return memo(
        corpus.sparkSession,
        "similarity.ivfpq_serving_index",
        _shape_key(cache_key, n_centroids, n_sub, ks, dim, id_col, vec_col),
        build,
    )


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
    n_sub: int = 8,
    ks: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cache_key: tuple | None = None,
) -> DataFrame:
    """IVF+PQ top-k (IVFADC): each query ranks the coarse centroids by
    cosine, probes its ``nprobe`` best lists, and ADC-scores ONLY the
    codes stored in those lists — composing :func:`ivf_topk`'s
    (n_centroids/nprobe)x scan pruning with :func:`pq_serving_topk`'s
    32x code compression, the both-axes shape a billion-vector serving
    index actually uses. Probe selection uses the same IEEE cosine and
    (score DESC, cid) tie order as the IVF oracle; scoring is the same
    fixed-order ADC fold as the PQ oracle, so the composite is fully
    hash-checkable. Candidates join on cid equality (a broadcast of
    |queries|·nprobe probe rows), never a cross join. Output:
    (query_id, neighbor_id, pq_cosine, rank)."""
    centroids, codebook, c = ivfpq_serving_index(
        corpus, cache_key, n_centroids, n_sub, ks, dim, id_col, vec_col
    )
    scored_arr = F.transform(
        _centroid_struct_array(centroids),
        lambda cc: F.struct(
            cosine(F.col("qv"), cc["cv"], na=F.col("qn")).alias("score"),
            cc["cid"].alias("cid"),
        ),
    )
    q0 = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        l2_norm(F.col(vec_col)).alias("qn"),
        *pq_query_luts(codebook, vec_col, dim),
    ).withColumn("probe", F.explode(scored_arr))
    w_probe = Window.partitionBy("query_id").orderBy(
        F.col("probe.score").desc(), F.col("probe.cid")
    )
    probes = (
        q0.withColumn("rn", F.row_number().over(w_probe))
        .filter(F.col("rn") <= nprobe)
        .select("query_id", "qn", F.col("probe.cid").alias("cid"),
                *[f"lut{m}" for m in range(n_sub)])
    )
    scored = (
        F.broadcast(probes)
        .join(c, "cid")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(pq_adc_dot(n_sub) / (F.col("qn") * F.col("acn")), 6).alias("pq_cosine"),
        )
    )
    return ranked_topk(scored, "pq_cosine", k, ["query_id", "neighbor_id", "pq_cosine", "rank"])


def int8_serving_index(
    corpus: DataFrame,
    cache_key: tuple | None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Int8 serving store: (neighbor_id, cq int8-array, cqn norm) — the
    4x-smaller resident corpus for :func:`int8_serving_topk`. Like
    :func:`pq_serving_index`, the materialized rows carry no float
    vector; the integer norm is precomputed so scoring is one integer
    zip-fold + one divide per pair. Built fresh without a ``cache_key``."""

    def build() -> DataFrame:
        q8 = quantize_int8(F.col(vec_col))
        return corpus.select(
            F.col(id_col).alias("neighbor_id"),
            q8.alias("cq"),
            int8_norm(q8).alias("cqn"),
        ).localCheckpoint(eager=True)

    return memo(
        corpus.sparkSession,
        "similarity.int8_serving_index",
        _shape_key(cache_key, id_col, vec_col),
        build,
    )


def int8_serving_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cache_key: tuple | None = None,
) -> DataFrame:
    """:func:`quantized_topk` in the serving regime: the corpus side is
    the stored int8 index (no float vectors resident), the query side
    quantizes its own raw vector, and the score is the same integer-
    domain cosine (per-vector scales cancel; values bit-identical to the
    audit path's q_cosine). Output: (query_id, neighbor_id, q_cosine,
    rank)."""
    c = int8_serving_index(corpus, cache_key, id_col, vec_col)
    q8 = quantize_int8(F.col(vec_col))
    q = queries.select(
        F.col(id_col).alias("query_id"),
        q8.alias("qq"),
        int8_norm(q8).alias("qqn"),
    )
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                int8_dot(F.col("qq"), F.col("cq")).cast("double")
                / (F.col("qqn") * F.col("cqn")),
                6,
            ).alias("q_cosine"),
        )
    )
    return ranked_topk(scored, "q_cosine", k, ["query_id", "neighbor_id", "q_cosine", "rank"])


def cosine_near_dup_pairs(
    emb: DataFrame,
    threshold: float = 0.9,
    block_col: str | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cache_key: tuple | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs.

    ``block_col`` restricts comparisons to equal-key blocks; the block key
    must be SIMILARITY-PRESERVING (an LSH bucket — see :func:`lsh_bucket` —
    or a cluster id), never an arbitrary metadata column: blocking turns
    O(n²) into Σ block² only if near-duplicates actually share a block.
    With no block_col every pair is compared (small corpora only).
    Output: (d1, d2, cosine DOUBLE), d1 < d2.
    """
    cols = [F.col(id_col), F.col(vec_col), l2_norm(F.col(vec_col)).alias("_nrm")]
    if block_col:
        cols.append(F.col(block_col).alias("_blk"))
    # Persist the normed+bucketed relation: BOTH sides of the self-join
    # read it, and without the cache Spark executes the bucketing subtree
    # twice (no common-subexpression elimination across join sides) —
    # measured 1.42 s → sub-second at sf0.1 with the 4×12-plane LSH form,
    # whose 48 projection folds dominate the build. One generation per
    # site, memoized under ``cache_key`` (the corpus identity, e.g.
    # catalog.sf_key); at 100 TB this relation is the materialized LSH
    # index table (sinks/lsh_store.py's pattern).
    base = memo(
        emb.sparkSession,
        "similarity.near_dup_pairs.base",
        _shape_key(cache_key, block_col, id_col, vec_col),
        emb.select(*cols).persist,
    )
    a = base.alias("a")
    b = base.alias("b")
    cond = F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    if block_col:
        cond = cond & (F.col("a._blk") == F.col("b._blk"))
    return (
        a.join(b, cond)
        .select(
            F.col(f"a.{id_col}").alias("d1"),
            F.col(f"b.{id_col}").alias("d2"),
            F.round(
                cosine(
                    F.col(f"a.{vec_col}"),
                    F.col(f"b.{vec_col}"),
                    F.col("a._nrm"),
                    F.col("b._nrm"),
                ),
                6,
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def jl_signs(out_dim: int, in_dim: int) -> list[list[int]]:
    """±1 Johnson–Lindenstrauss sign matrix (Achlioptas 2003: Rademacher
    entries satisfy the JL lemma with the same concentration as Gaussian
    ones), derived from md5 so it is a pure function of (out_dim, in_dim):
    entry (j, i) is +1 when the first hex digit of md5("jl:{j}:{i}") is
    0–7, else −1. No RNG state — any worker (or SQL engine: both Spark
    and DuckDB share md5 bit-for-bit) regenerates the identical matrix."""
    import hashlib

    return [
        [
            1 if hashlib.md5(f"jl:{j}:{i}".encode()).hexdigest()[0] <= "7" else -1
            for i in range(in_dim)
        ]
        for j in range(out_dim)
    ]


def jl_project(vec: Column, signs: list[list[int]]) -> Column:
    """Project ``vec`` onto len(signs) dimensions: output coordinate j is
    the deterministic left-fold dot of ``vec`` with sign row j (each sign
    row is a single parsed SQL literal). A ±1 multiply only flips the
    IEEE sign bit — exact — so every output coordinate is a fixed-order
    sum of exactly-representable doubles, bit-identical to the SQL twin.
    Row-local (no shuffle): at 100 TB the projection is a map over the
    corpus scan, done once at ingestion."""
    outs = []
    for row in signs:
        lits = F.expr(
            "array(" + ", ".join(f"CAST({s} AS DOUBLE)" for s in row) + ")"
        )
        outs.append(dot(vec, lits))
    return F.array(*outs)
