"""Deduplication operator family for LLM-training-data pipelines.

Five dedup strategies over a document table, all built from Catalyst
expressions (no Python UDFs — md5/regexp/higher-order functions are
JVM-side and codegen'd):

- exact:        hash-groupBy on normalized text
- n-gram Jaccard: shingle inverted index → pair intersection counts
- MinHash+LSH:  shingle → K md5-derived min-hashes → banded bucket join
- SimHash:      56-bit sign-aggregated fingerprint → hamming candidates
- embedding cosine: see operators/similarity.py

Scale notes (the 100 TB story): every strategy is shuffle-bounded by its
candidate-generation step, never by O(n²) pairs. The Jaccard inverted
index shuffles one row per (doc, shingle); MinHash-LSH shuffles one
signature row per doc then joins only within band buckets; SimHash bands
its hash into exact-match candidate buckets of at least 14 bits, wider as
the corpus grows (:func:`auto_band_bits`). Hot shingles (stop-phrases)
are the skew risk — AQE skew-join handles moderate skew, and a
`max_doc_freq` filter drops degenerate shingles entirely (standard
practice: a shingle in >X% of docs has no dedup signal).

MinHash signatures are lexicographic MINs of fixed-width md5-hex prefixes:
md5 is bit-identical everywhere, and on fixed-length hex strings
lexicographic order == numeric order, so the whole construction is
reproducible in any engine (this is what makes the DuckDB oracle possible).

This module owns the signature formats: the MinHash shape (``K`` seeds in
bands of ``BAND_SIZE`` over word ``SHINGLE_N``-grams, the columns
``MH_COLS``) is also the layout of the persisted band store
(sinks/lsh_store.py), so it is a set of constants, not parameters.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from wd2sql_spark.operators.skew import spread_rows
from wd2sql_spark.session_cache import memo

HEX_DIGITS = "0123456789abcdef"

SHINGLE_N = 3  # word n-gram width of every MinHash, SimHash and Jaccard path
K = 16  # MinHash seeds per signature
BAND_SIZE = 4  # seeds per LSH band: K // BAND_SIZE bands
MH_COLS = tuple(f"mh{s}" for s in range(K))  # the signature columns
JACCARD_T_NUM, JACCARD_T_DEN = 1, 2  # prefix-filter threshold t = 1/2
SIMHASH_BITS = 56  # md5 supplies 128; 56 keeps the int64 headroom and
#                    divides into 4 bands of 14 (bands > h ⇒ recall h ≤ 3)
SIMHASH_BANDS = 4
SIMHASH_BAND_BITS = SIMHASH_BITS // SIMHASH_BANDS
SIMHASH_MAX_HAMMING = 8  # SimHash pairs within this many differing bits
BAND_BITS_CAP = 28  # 2 bands × 28 bits exhausts the 56-bit hash; beyond
#                     2^28 (~268 M) docs per corpus this family needs a
#                     wider hash (documented ceiling, see auto_band_bits)
CC_MAX_ROUNDS = 20  # connected_components' round cap


def normalize_text(col: Column) -> Column:
    """Lowercase + collapse whitespace — the canonical form for exact and
    near dedup."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def tokens(col: Column) -> Column:
    """Whitespace tokens of the lowercased text. One regex pass: stripping
    edge whitespace then splitting on ``\\s+`` is equivalent to
    normalize_text + split-on-space (collapse-then-split ≡ split-on-runs)
    at half the scan cost. The edge strip must be a REGEX, not ``trim``:
    Spark's trim removes only ASCII spaces, so a leading tab/CR/newline
    would survive and ``split`` would emit a phantom empty first token
    that collapse-then-split (the oracle form) never produces — caught by
    tests/test_property_text.py."""
    return F.split(F.regexp_replace(F.lower(col), r"^\s+|\s+$", ""), r"\s+")


def shingles(tokens_col: Column, n: int) -> Column:
    """Distinct word n-gram shingles. Empty when the doc has < n tokens
    (matches SQL `range(1, len-n+2)` semantics)."""
    idx = F.sequence(F.lit(1), F.size(tokens_col) - F.lit(n - 1))
    grams = F.transform(idx, lambda i: F.array_join(F.slice(tokens_col, i, n), " "))
    return F.when(F.size(tokens_col) >= n, F.array_distinct(grams)).otherwise(
        F.array().cast("array<string>")
    )


def seeded_hash(col: Column, seed: int) -> Column:
    """Deterministic per-seed hash: the first 15 hex chars of
    md5(seed ':' value). 15 hex chars = 60 bits — collision-safe for
    min-hashing, and identical in any engine with md5."""
    return F.substring(F.md5(F.concat(F.lit(f"{seed}:"), col)), 1, 15)


def exact_duplicates(docs: DataFrame) -> DataFrame:
    """Exact dedup by normalized-text hash: one row per distinct content
    with the representative (min id) and the group size. The groupBy is a
    single hash shuffle on the 32-byte digest, never on the text itself —
    at 100 TB you shuffle ~32 B/doc, not documents."""
    h = F.md5(normalize_text(F.col("text")))
    return (
        docs.select(F.col("doc_id"), h.alias("content_hash"))
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").cast("bigint").alias("n_copies"))
    )


def doc_shingles(docs: DataFrame, n: int = SHINGLE_N) -> DataFrame:
    """(doc_id, shingle) inverted-index relation of a batch (doc_id,
    text) relation.

    The tokenize+shingle explode is the CPU-dominant step of every
    shingle-based dedup, and a small parquet input arrives as a handful
    of scan partitions (one ~15 MB file → one task under the 128 MB split
    size), serializing it on one core. ``skew.spread_rows`` pre-spreads
    the documents by id when the scan is narrower than the cluster — the
    shuffled payload is one text row per doc, negligible next to the
    explode it parallelizes. On a 100 TB corpus the scan already has
    thousands of splits and the spread is a no-op."""
    return spread_rows(docs, "doc_id", "text").select(
        "doc_id", F.explode(shingles(tokens(F.col("text")), n)).alias("shingle")
    )


def jaccard_pairs(
    docs: DataFrame,
    max_doc_freq: int | None = None,
    cache_key: tuple | None = None,
) -> DataFrame:
    """Exact ``SHINGLE_N``-gram Jaccard for every pair sharing ≥1 shingle.

    candidates = Σ_shingle C(df, 2); ``max_doc_freq`` caps df to keep the
    join linear when stop-phrases appear (dropped shingles lower recall
    only for boilerplate that matters least).
    Output: (d1, d2, jaccard DOUBLE) with d1 < d2.

    The inverted index carries xxhash64(shingle), not the shingle text:
    every downstream use (df cap, sizes, the pair self-join) is
    equality-only, so an 8-byte key does the same work as a ~25-byte
    string at a third of the shuffle volume — the same
    shuffle-digests-not-text rule the exact-dedup path follows. Collision
    risk merging two shingles is ~n²/2⁶⁵ (≈2e-9 at 10⁶ distinct
    shingles per partition-of-comparison) and only perturbs one pair
    count if the colliding shingles co-occur; the cross-engine sweep
    would surface it deterministically.
    """
    # Persist ONE relation — the final (df-capped) inverted index, which
    # feeds three consumers (sizes and both self-join sides); without
    # caching each would re-run the tokenize/shingle explode. The raw
    # index is deliberately NOT cached: with a cap it appears twice in
    # the filtered plan (df-count pass + semi-join probe), so the explode
    # runs twice inside the first materialization — cheaper than the
    # former raw-persist + eager-count + unpersist dance, which cost an
    # extra blocking job per call and, before r2's ADVICE, leaked a
    # duplicate (doc_id, shingle) cache into executor storage for the
    # life of the session. MEMORY_AND_DISK (the persist() default)
    # spills at scale, and the cached relation is (id, 8-byte hash) — a
    # small fraction of the corpus text.
    sh = doc_shingles(docs).select("doc_id", F.xxhash64("shingle").alias("shingle"))
    if max_doc_freq is not None:
        freq = sh.groupBy("shingle").agg(F.count("*").alias("df")).filter(F.col("df") <= max_doc_freq)
        sh = sh.join(freq.select("shingle"), "shingle", "left_semi")
    # cache_key: the corpus identity (e.g. catalog.sf_key)
    sh = memo(
        docs.sparkSession,
        "dedup.jaccard_shingles",
        (cache_key, max_doc_freq) if cache_key is not None else None,
        sh.persist,
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    common = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .agg(F.count("*").alias("common"))
    )
    s1 = sizes.alias("s1")
    s2 = sizes.alias("s2")
    return (
        common.join(s1, F.col("d1") == F.col("s1.doc_id"))
        .join(s2, F.col("d2") == F.col("s2.doc_id"))
        .select(
            "d1",
            "d2",
            (
                F.col("common").cast("double")
                / (F.col("s1.n_sh") + F.col("s2.n_sh") - F.col("common")).cast("double")
            ).alias("jaccard"),
        )
    )


def jaccard_pairs_prefix_filter(docs: DataFrame, cache_key: tuple | None = None) -> DataFrame:
    """Exact thresholded Jaccard join via PREFIX FILTERING (the PPJoin
    family, Xiao et al., WWW 2008): every pair with
    J ≥ t = t_num/t_den (``JACCARD_T_NUM``/``JACCARD_T_DEN`` = 1/2), found
    WITHOUT the df cap :func:`jaccard_pairs` needs.

    Order all shingles by a global total order (ascending document
    frequency — rarest first); a doc with |x| shingles exposes only its
    first p = |x| - ceil(t·|x|) + 1 shingles as its PREFIX. If
    J(x, y) ≥ t the two prefixes must share a shingle (pigeonhole on the
    overlap bound ⌈t/(1+t)·(|x|+|y|)⌉), so candidate generation joins
    prefixes only — LOSSLESS for any total order, which is why the order
    key can be the Spark-private (df, xxhash64) pair while the DuckDB
    oracle verifies plain all-pairs Jaccard.

    Scale: high-df boilerplate shingles sort LAST and never enter a
    prefix, so the stop-phrase C(df,2) blowup that forces jaccard_pairs'
    recall-losing cap simply cannot reach the join; candidate volume is
    Σ C(df_prefix, 2) over RARE shingles only. Threshold arithmetic is
    exact-integer on both sides (p via integer ceil; the verify predicate
    is common·t_den ≥ union·t_num — no double compare at the boundary).
    Output: (d1, d2, common, jaccard DOUBLE), d1 < d2, full set (no
    limit).

    ``cache_key``: when given, the rarity-ordered per-doc array relation
    is memoized per (session, key) — the PQ/IVF cached-artifact pattern —
    so repeated battery/bench runs rebuild only the candidate join;
    without it (ad-hoc inputs) every call rebuilds, and the previous
    call's persists are released first so storage stays bounded at one
    call's worth.
    """

    def build() -> tuple[DataFrame, DataFrame]:
        # the memo value carries every persisted intermediate (sh
        # included), so its release unpersists them all
        sh = doc_shingles(docs).select(
            "doc_id", F.xxhash64("shingle").alias("shingle")
        ).persist()
        freq = sh.groupBy("shingle").agg(F.count("*").alias("df"))
        # Per-doc shingle array in global rarity order. This ONE relation
        # serves prefix generation AND verification: the verify step
        # joins candidate pairs back to it and intersects the two arrays
        # ROW-LOCALLY (array_intersect over distinct elements), instead
        # of re-joining the corpus-sized inverted index twice —
        # candidates move two doc-sized array payloads once, the corpus
        # is never reshuffled.
        pd_rel = (
            sh.join(freq, "shingle")
            .groupBy("doc_id")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("df", "shingle"))),
                    lambda s: s["shingle"],
                ).alias("arr")
            )
            .persist()
        )
        return pd_rel, sh

    per_doc = memo(docs.sparkSession, "dedup.prefix_arr", cache_key, build)[0]
    t_num, t_den = JACCARD_T_NUM, JACCARD_T_DEN
    n_sh = F.size("arr")
    # p = n - ceil(t*n) + 1, with ceil done in integer arithmetic
    ceil_tn = F.floor((n_sh * F.lit(t_num) + F.lit(t_den - 1)) / F.lit(t_den))
    prefix = per_doc.select(
        "doc_id",
        n_sh.alias("nsh"),
        F.posexplode(F.slice(F.col("arr"), 1, (n_sh - ceil_tn + 1).cast("int"))).alias(
            "pi", "shingle"
        ),
    )
    # Two further LOSSLESS PPJoin prunes on each prefix collision, both
    # decided by integer cross-products (no division):
    # - LENGTH filter: J ≥ t ⟹ |x∩y| ≥ t·max(|x|,|y|) and |x∩y| ≤ min,
    #   so min·t_den ≥ max·t_num is necessary.
    # - POSITIONAL filter: if J ≥ t, the pair's FIRST common shingle in
    #   the global order collides inside both prefixes (the pigeonhole
    #   that makes prefix filtering complete), and every one of the
    #   α = ⌈t/(1+t)·(nx+ny)⌉ required common shingles sits at-or-after
    #   it in BOTH rarity-sorted arrays — so the suffix room
    #   min(nx−pi, ny−pj) (0-based pi) must be ≥ α:
    #   min(nx−pi, ny−pj)·(t_num+t_den) ≥ t_num·(nx+ny). A true pair's
    #   first-common collision always passes; late-position collisions
    #   (most of the volume — the prefix is ~n/2 long at t=1/2 but only
    #   positions ≤ ~n/3 can seed enough overlap) are dropped before the
    #   distinct + verify. Measured at 64×: 27.6 M raw collisions
    #   (26.2 M distinct pairs) → 8.4 M collisions / 8.0 M pairs after
    #   both prunes, 37.9 s → 16.2 s warm, e 1.13 → 0.77 (the all-pairs
    #   oracle proves nothing true was dropped).
    bound = F.least(
        F.col("pa.nsh") - F.col("pa.pi"), F.col("pb.nsh") - F.col("pb.pi")
    )
    cand = (
        prefix.alias("pa")
        .join(
            prefix.alias("pb"),
            (F.col("pa.shingle") == F.col("pb.shingle"))
            & (F.col("pa.doc_id") < F.col("pb.doc_id"))
            & (F.col("pa.nsh") * F.lit(t_den) >= F.col("pb.nsh") * F.lit(t_num))
            & (F.col("pb.nsh") * F.lit(t_den) >= F.col("pa.nsh") * F.lit(t_num))
            & (
                bound * F.lit(t_num + t_den)
                >= (F.col("pa.nsh") + F.col("pb.nsh")) * F.lit(t_num)
            ),
        )
        .select(F.col("pa.doc_id").alias("d1"), F.col("pb.doc_id").alias("d2"))
        .distinct()
    )
    paired = (
        cand.join(
            per_doc.select(F.col("doc_id").alias("d1"), F.col("arr").alias("arr1")), "d1"
        )
        .join(
            per_doc.select(F.col("doc_id").alias("d2"), F.col("arr").alias("arr2")), "d2"
        )
        .select(
            "d1",
            "d2",
            F.size(F.array_intersect("arr1", "arr2")).alias("common"),
            (F.size("arr1") + F.size("arr2")).alias("sz"),
        )
    )
    union = F.col("sz") - F.col("common")
    return paired.filter(F.col("common") * F.lit(t_den) >= union * F.lit(t_num)).select(
        "d1",
        "d2",
        F.col("common").cast("bigint").alias("common"),
        (F.col("common").cast("double") / union.cast("double")).alias("jaccard"),
    )


def minhash_signatures_wide(docs: DataFrame) -> DataFrame:
    """(doc_id, mh0..mh{K-1}): all K min-hashes in ONE aggregation over the
    (doc, shingle) relation — K conditional MIN columns instead of a K×
    seed-explode, so the shuffle carries one row per doc (K·15 bytes) and
    partial MIN collapses each map partition before it. Each value is the
    min over shingles of md5(seed ':' shingle)'s 15-hex-digit prefix."""
    sh = doc_shingles(docs)
    return sh.groupBy("doc_id").agg(
        *[F.min(seeded_hash(F.col("shingle"), s)).alias(c) for s, c in enumerate(MH_COLS)]
    )


def _minhash_signatures_rowlocal(docs: DataFrame) -> DataFrame:
    """:func:`minhash_signatures_wide` computed WITHOUT the
    explode+groupBy: each doc's K min-hashes are array_min folds over its
    own shingle array, so the signature is a stateless narrow map — the
    only form valid on a stream, where a per-doc aggregation would need
    state. Same values by construction (lexicographic array_min over the
    distinct shingles ≡ groupBy MIN over their exploded rows; docs with no
    shingle produce no row in either form — pinned by
    tests/test_llm_ops.py). In batch the aggregate form is 3–5× faster
    (ROADMAP), so :func:`minhash_band_index` uses this one only on a
    stream.

    The shingle ARRAY is materialized once per row in a child projection
    and the K seed folds read the column: inlining the
    tokenize→slice→array_distinct expression into every seed fold
    evaluated it K+1 times per row (K mins + the size filter), measured
    at 110 s for a 5 k-doc delta where this form takes 21 s (full
    materialization; a bare count() hides the difference entirely by
    pruning the mh columns — the SCALE.md count()-forcing trap).
    CollapseProject leaves the alias alone because a non-trivial
    expression referenced K times is not collapse-eligible, so the single
    evaluation survives optimization."""

    def mh_col(s: int) -> Column:
        # NB: a `lambda x, s=s:` default-arg closure would change the
        # lambda's ARITY — pyspark passes (element, index) to two-arg
        # higher-order lambdas, silently binding s to the index (the
        # text_bm25_topk gotcha); a factory keeps it one-argument.
        return F.array_min(
            F.transform(F.col("_shingles"), lambda el: seeded_hash(el, s))
        ).alias(MH_COLS[s])

    return (
        docs.select(F.col("doc_id"), shingles(tokens(F.col("text")), SHINGLE_N).alias("_shingles"))
        .filter(F.size("_shingles") > 0)
        .select(F.col("doc_id"), *[mh_col(s) for s in range(K)])
    )


def _banded(sig: DataFrame, *keep: str) -> DataFrame:
    """(doc_id, band, band_key, *keep): one row per (doc, band) of a wide
    signature (doc_id, mh0..mh{K-1}), the band key being the band's
    ``BAND_SIZE`` consecutive min-hashes joined by ``|`` (fixed-width
    hex, so the concatenation is injective). The ONE band-key definition
    of every MinHash-LSH path."""
    band_structs = F.array(
        *[
            F.struct(
                F.lit(bb).alias("band"),
                F.concat_ws(
                    "|", *[F.col(c) for c in MH_COLS[bb * BAND_SIZE : (bb + 1) * BAND_SIZE]]
                ).alias("band_key"),
            )
            for bb in range(K // BAND_SIZE)
        ]
    )
    return sig.select("doc_id", F.explode(band_structs).alias("bk"), *keep).select(
        "doc_id", F.col("bk.band").alias("band"), F.col("bk.band_key").alias("band_key"), *keep
    )


def _est_jaccard(a: str, b: str) -> Column:
    """Estimated Jaccard of the signatures aliased ``a`` and ``b``: the
    fraction of their K min-hashes that are equal."""
    eq = sum(
        (F.when(F.col(f"{a}.{c}") == F.col(f"{b}.{c}"), 1).otherwise(0) for c in MH_COLS),
        F.lit(0),
    )
    return (eq / F.lit(float(K))).alias("est_jaccard")


def minhash_lsh_pairs(
    docs: DataFrame,
    min_est_jaccard: float = 0.0,
    cache_key: tuple | None = None,
) -> DataFrame:
    """MinHash-LSH near-dup candidates with estimated Jaccard.

    Bands of ``BAND_SIZE`` consecutive seeds; docs sharing any full band
    bucket become candidates (probability 1-(1-j^r)^b); the estimate is
    the fraction of equal signature components. Only band buckets are
    joined — never all pairs. Built on the WIDE signature form: band keys
    are column concatenations (no per-band aggregate) and the estimate is
    a row-local sum of K column equalities after two doc-id joins (no
    per-seed join), so the only corpus-sized work is the one signature
    aggregation and the band-bucket join itself.
    Output: (d1, d2, est_jaccard DOUBLE), d1 < d2.
    """
    # sig feeds the band-key build AND both sides of the estimate join;
    # persist avoids re-running the shingle+md5 pipeline three times. The
    # signature relation is one ~K·16 B row per doc — small at any SF.
    # cache_key: the corpus identity (e.g. catalog.sf_key).
    sig = memo(
        docs.sparkSession,
        "dedup.minhash_sig",
        cache_key,
        minhash_signatures_wide(docs).persist,
    )
    bk = _banded(sig)
    a = bk.alias("a")
    b = bk.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .distinct()
    )
    est = (
        cand.join(sig.alias("sa"), F.col("d1") == F.col("sa.doc_id"))
        .join(sig.alias("sb"), F.col("d2") == F.col("sb.doc_id"))
        .select("d1", "d2", _est_jaccard("sa", "sb"))
    )
    return est.filter(F.col("est_jaccard") >= min_est_jaccard)


def minhash_band_index(
    docs: DataFrame, k: int = K, band_size: int = BAND_SIZE, n: int = SHINGLE_N
) -> DataFrame:
    """The persistable LSH index relation of a (doc_id, text) relation:
    one row per (doc, band) with the band's bucket key AND the full wide
    signature denormalized on.

    This is the artifact an incremental pipeline WRITES ONCE per corpus
    and reuses for every subsequent drop (parquet, bucketed/sorted by
    ``band_key`` so delta probes prune to matching buckets and a shuffle
    join co-locates for free). Carrying mh0..mh{K-1} on every band row
    costs K·15 B × n_bands per doc but makes each bucket row
    self-contained: a probe join yields both signatures row-locally, so
    no second corpus-sized join is needed to estimate Jaccard.

    The signature kernel follows the input: a stream gets the row-local
    array_min folds (:func:`_minhash_signatures_rowlocal`), a batch the
    aggregate (:func:`minhash_signatures_wide`). Same md5 arithmetic as
    :func:`minhash_lsh_pairs` — the two agree on candidates by
    construction.

    ``k``, ``band_size`` and ``n`` are kept for callers that pass the
    store's shape; any other value raises ``ValueError``."""
    if (k, band_size, n) != (K, BAND_SIZE, SHINGLE_N):
        raise ValueError(
            f"the MinHash shape is fixed at k={K}, band_size={BAND_SIZE}, n={SHINGLE_N}; "
            f"got k={k}, band_size={band_size}, n={n}"
        )
    if docs.isStreaming:
        sig = _minhash_signatures_rowlocal(docs)
    else:
        sig = minhash_signatures_wide(docs)
    return _banded(sig, *MH_COLS)


def incremental_index_probe(
    corpus_index: DataFrame,
    delta_index: DataFrame,
    min_est_jaccard: float = 0.0,
) -> DataFrame:
    """Near-duplicate matches of a NEW document drop against an EXISTING
    corpus index — the production dedup shape at 100 TB, where the corpus
    LSH is never recomputed per drop; only the delta is hashed
    (``minhash_band_index(delta_docs)``, a batch or a stream).

    ``corpus_index`` is :func:`minhash_band_index` output (in production:
    read back from the band store, sinks/lsh_store.py). The join is on
    (band, band_key) with the delta side BROADCAST — a typical daily
    drop's band rows fit in a broadcast up to millions of docs, so the
    corpus index is probed in place with ZERO corpus-side shuffle. Both
    signatures arrive on the joined row, so the Jaccard estimate is
    row-local — no follow-up join.

    Output: (delta_id, corpus_id, est_jaccard), one row per pair with
    est ≥ ``min_est_jaccard`` — the docs to reject from (or link to) the
    drop before it is admitted to the corpus. The pair determines the
    estimate, so ``dropDuplicates`` on the pair is the distinct; unlike
    ``distinct`` it is valid on a streaming delta in append mode."""
    return (
        corpus_index.alias("c")
        .join(
            F.broadcast(delta_index.alias("d")),
            (F.col("c.band") == F.col("d.band")) & (F.col("c.band_key") == F.col("d.band_key")),
        )
        .select(
            F.col("d.doc_id").alias("delta_id"),
            F.col("c.doc_id").alias("corpus_id"),
            _est_jaccard("c", "d"),
        )
        .filter(F.col("est_jaccard") >= min_est_jaccard)
        .dropDuplicates(["delta_id", "corpus_id"])
    )


def auto_band_bits(
    n_rows: int, floor_bits: int = SIMHASH_BAND_BITS, cap_bits: int = BAND_BITS_CAP
) -> int:
    """THE scale knob for every bucket-blocked near-dup operator, derived
    from the corpus size instead of hand-edited (VERDICT r5 task #1):

        bits = LEAST(cap, GREATEST(floor, CEIL(LOG2(n))))

    Per-bucket candidate pairs grow as N²/2^bits, so holding
    bits ≥ log₂N keeps the expected candidate mass ≤ N·(N/2^log₂N) = N —
    linear in the corpus BY CONSTRUCTION, which the 64× scale run showed
    a lagging constant silently loses (8-bit bands went near-quadratic
    at 320 k docs; SCALE.md "band-width lesson"). The floor preserves
    the small-corpus behavior (and the driver fixtures' hashes); the cap
    is the honest ceiling of the hash width the caller slices.

    ORACLE CONTRACT: DuckDB computes the identical value as
    ``LEAST(cap, GREATEST(floor, CAST(CEIL(LOG2(GREATEST(n, 2))) AS
    INT)))`` from the same COUNT(*). Both engines evaluate log2 in
    binary64: exact at powers of two, and for non-power-of-two integer
    n < 2^53 the ~1 ulp error cannot cross an integer boundary, so
    ceil agrees bit-for-bit."""
    import math

    return min(cap_bits, max(floor_bits, math.ceil(math.log2(max(n_rows, 2)))))


def simhash_banding(n_docs: int) -> tuple[int, int]:
    """(band_bits, n_bands) for a corpus of ``n_docs``: bits from
    :func:`auto_band_bits`, bands = whatever count of full bits-wide
    slices the 56-bit hash still affords (≥ 2). Growing bits trades
    guaranteed-recall radius (h ≤ bands−1 by pigeonhole) for collision
    mass, exactly the minhash band_size trade. At the floor this is the
    r5 constants (4 × 14); at 320 k docs it is 2 × 19."""
    bb = auto_band_bits(n_docs)
    return bb, max(2, SIMHASH_BITS // bb)


def simhash_from_shingles(sh: DataFrame) -> DataFrame:
    """``SIMHASH_BITS``-wide SimHash bit arithmetic over a (doc_id,
    shingle) relation.

    Bit j comes from hex digit j//4 of the shingle's md5 (bit 3-(j%4) of
    the nibble); the doc's bit is the sign of Σ(±1) over shingles. One
    aggregation with ``SIMHASH_BITS`` conditional sums — no UDF, fully
    reproducible in SQL (twin: queries/llm_dedup._simhash_sql;
    cross-engine equality is property-tested in
    tests/test_property_hash.py).
    Output: (doc_id, simhash BIGINT).
    """
    h = F.md5(F.col("shingle"))
    bit_sums = []
    for j in range(SIMHASH_BITS):
        nibble = F.instr(F.lit(HEX_DIGITS), F.substring(h, 1 + j // 4, 1)) - 1
        bit = F.floor(nibble / (2 ** (3 - j % 4))) % 2
        bit_sums.append(F.sum(bit * 2 - 1).alias(f"s{j}"))
    sums = sh.groupBy("doc_id").agg(*bit_sums)
    acc = F.lit(0).cast("bigint")
    for j in range(SIMHASH_BITS):
        acc = acc + F.when(F.col(f"s{j}") > 0, F.lit(2**j).cast("bigint")).otherwise(F.lit(0))
    return sums.select("doc_id", acc.alias("simhash"))


def simhash_sig(docs: DataFrame) -> DataFrame:
    """SimHash over distinct ``SHINGLE_N``-gram shingles: shingle explode
    + :func:`simhash_from_shingles`. Output: (doc_id, simhash BIGINT)."""
    return simhash_from_shingles(doc_shingles(docs))


def simhash_pairs(docs: DataFrame, cache_key: tuple | None = None) -> DataFrame:
    """SimHash near-dup pairs: candidates share at least one exact band
    of the 56-bit hash (bands > h pigeonhole ⇒ guaranteed recall for
    hamming ≤ bands−1, probabilistic above), then exact hamming over
    candidates, kept when at most ``SIMHASH_MAX_HAMMING``.

    BAND WIDTH IS THE SCALE KNOB — and since r6 it is AUTO-DERIVED from
    the corpus count (:func:`simhash_banding`). Per-band collision pairs grow as
    N²/2^band_bits. The 64× scale experiment measured the former 8-bit
    bands (256 buckets) at 52.8 s / e≈0.92 on 320k docs — the
    near-quadratic signature of an underbanded candidate join — where
    14-bit bands (16 384 buckets) hold the candidate set sparse (e≈0.6,
    single-digit seconds). The auto knob keeps band_bits ≥ log₂N so
    that lesson no longer depends on a human editing a constant: at
    ≤ 16 k docs it reproduces the r5 constants (4 × 14), at 320 k docs
    it chooses 2 × 19. The count that prices the knob is one
    parquet-metadata job, driver-side, corpus-size-independent.
    Output: (d1, d2, hamming BIGINT), d1 < d2.

    The signature relation feeds BOTH sides of the band self-join and
    costs a shingle explode + a 56-sum aggregate to build; without a
    persist Spark executes that subtree twice (no cross-join-side CSE —
    the cosine_near_dup_pairs lesson). One generation per site, memoized
    (with the knob count) under ``cache_key``, the corpus identity."""
    spark = docs.sparkSession
    band_bits, n_bands = simhash_banding(
        memo(spark, "dedup.simhash_pairs.count", cache_key, docs.count)
    )
    sig = memo(spark, "dedup.simhash_pairs.sig", cache_key, simhash_sig(docs).persist)
    mask = 2**band_bits - 1
    chunks = sig.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftright(F.col("simhash"), band_bits * c)
                        .bitwiseAND(F.lit(mask))
                        .alias("val"),
                    )
                    for c in range(n_bands)
                ]
            )
        ).alias("ck"),
    ).select("doc_id", "simhash", F.col("ck.chunk").alias("chunk"), F.col("ck.val").alias("val"))
    a = chunks.alias("a")
    b = chunks.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("d1"),
            F.col("b.doc_id").alias("d2"),
            F.col("a.simhash").alias("h1"),
            F.col("b.simhash").alias("h2"),
        )
        .distinct()
    )
    return cand.select(
        "d1", "d2", F.bit_count(F.col("h1").bitwiseXOR(F.col("h2"))).cast("bigint").alias("hamming")
    ).filter(F.col("hamming") <= SIMHASH_MAX_HAMMING)


def connected_components(edges: DataFrame) -> DataFrame:
    """Connected components of a (src, dst) edge relation by min-label
    propagation with pointer jumping, in at most ``CC_MAX_ROUNDS`` rounds.

    Returns (node, cluster_id) where cluster_id = the component's minimum
    node id. The label seed IS round 1: grouping the symmetrized edge
    list by endpoint yields min(node, min neighbor) directly, fusing the
    old distinct-nodes pre-job with the first adopt-min pass. Each loop
    round then min-aggregates three candidate relations in ONE shuffle —
    the node's own label, labels pushed across edges (adopt-min), and the
    label's label (pointer jump / path halving, as in pointer-jumping
    PRAM algorithms and the Kiveris-et-al star contractions) — so label
    distance to the component minimum roughly halves per round on top of
    the one-hop propagation, and convergence is O(log diameter) instead
    of O(diameter). A 1024-node chain converges in ~8 rounds rather than
    ~1024 — the property that makes the operator safe on adversarial
    graphs at corpus scale, not just on the shallow clusters of near-dup
    data.

    Per-round exchanges: the edge⋈label join is exchange-FREE (both sides
    stay hash-partitioned on the join key across ``localCheckpoint``,
    which preserves outputPartitioning), the jump self-join re-shuffles
    only the |nodes|-sized label relation, and the union's min-aggregate
    is the single data-sized shuffle. Convergence is observed on the
    aggregate itself by carrying each node's previous label through the
    union (tagged leg + max-ignoring-nulls), so no separate old⋈new join
    or probe job runs; the null-safe ``not changed`` check also exits
    after one round on an empty edge relation, where the observed SUM is
    NULL (ADVICE r2). ``localCheckpoint`` truncates per-iteration lineage
    so plan size stays constant (the classic iterative-algorithm failure
    on Spark is an exponentially growing logical plan, not the data).
    """
    sym = edges.select(F.col("src").alias("a"), F.col("dst").alias("b")).union(
        edges.select(F.col("dst").alias("a"), F.col("src").alias("b"))
    )
    sym = sym.repartition(F.col("a")).localCheckpoint(eager=True)
    # The seed is round 1's adopt-min and stays a LAZY plan over the
    # checkpointed edges: it appears three times in round 1's plan (one
    # per union leg), but each occurrence is a small zero-exchange
    # aggregate over the cached, pre-partitioned sym — cheaper at toy and
    # cluster scale alike than materializing it as its own checkpoint
    # job. From round 2 on, `labels` is always a checkpointed relation.
    labels = (
        sym.groupBy("a")
        .agg(F.min("b").alias("min_nbr"))
        .select(F.col("a").alias("node"), F.least(F.col("a"), F.col("min_nbr")).alias("lbl"))
    )
    lbl_type = labels.schema["lbl"].dataType.simpleString()
    for _ in range(CC_MAX_ROUNDS - 1):
        own = labels.select("node", "lbl", F.col("lbl").alias("old_lbl"))
        pushed = (
            sym.join(labels, sym["a"] == labels["node"])
            .select(F.col("b").alias("node"), "lbl")
            .withColumn("old_lbl", F.lit(None).cast(lbl_type))
        )
        jumped = (
            labels.join(
                labels.select(F.col("node").alias("p_node"), F.col("lbl").alias("p_lbl")),
                F.col("lbl") == F.col("p_node"),
            )
            .select("node", F.col("p_lbl").alias("lbl"))
            .withColumn("old_lbl", F.lit(None).cast(lbl_type))
        )
        obs = Observation()
        new_labels = (
            own.unionByName(pushed)
            .unionByName(jumped)
            .groupBy("node")
            .agg(F.min("lbl").alias("lbl"), F.max("old_lbl").alias("old_lbl"))
            .observe(
                obs,
                F.sum((F.col("lbl") != F.col("old_lbl")).cast("int")).alias("changed"),
            )
            .select("node", "lbl")
        )
        labels = new_labels.localCheckpoint(eager=True)
        if not obs.get["changed"]:
            break
    return labels.select("node", F.col("lbl").alias("cluster_id"))
