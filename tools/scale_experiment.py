"""Scale experiment: measure how the heavy operators scale with data size.

The correctness battery runs at toy scale; the 100 TB claim rests on the
SHAPE of each plan (linear scans, bucketed candidate generation, no
all-pairs joins). This tool turns that claim into a measurement: it
replicates the sf0.1 fixtures 8x and 64x as *distinct* data (remapped
keys, word-salted documents, noise-perturbed embeddings — NOT verbatim
copies, which would degenerate dedup into giant duplicate groups and
overstate pair counts quadratically), runs the heavy operators at each
size, and fits a per-query scaling exponent

    e = log(t_64x / t_8x) / log(8)

so e ~ 1 reads "scan/shuffle-linear" and e >> 1 reads "candidate blowup".
Results land in SCALE.md. Usage:

    PYTHONPATH=/root/repo python tools/scale_experiment.py [--scales 1,8,64]

Replication model (per replica r of N):

- TPC-H keys get ``key + r * 10^9`` so replicas join only within
  themselves and key-joined cardinalities scale exactly Nx — the same way
  TPC-H SF scales facts and big dims while nation/region stay fixed.
- events: user_id/event_id offset the same way — Nx users, constant
  sessions/user, so sessionization work scales Nx.
- documents: every token gets a ``~r`` suffix for r > 0, so shingle /
  minhash / simhash similarity ACROSS replicas is ~0 and near-dup
  candidate sets scale Nx (the "more distinct data" model of growth);
  n_chars is recomputed from the salted text.
- embeddings: vectors for r > 0 get deterministic per-component noise
  (xxhash64-derived, +-0.1) so ANN bucket/list occupancy grows the way a
  larger real corpus's would instead of stacking N identical points on
  every centroid; query vectors (vec_id < 3) stay replica-0 only, so
  top-k probes run against an Nx corpus.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

BASE = "/root/testdata/sf0.1"
OUT_ROOT = "/tmp/scale"


def force(df) -> None:
    """Fully materialize every output column via the noop sink.

    ``count()`` is NOT a faithful forcing function: Catalyst prunes
    projected expressions a count doesn't need, and eliminates a left
    join to an aggregated (unique-key) relation outright — semdedup's
    entire pairwise stage vanished under count() (2.8 s "measured",
    347 s real). The noop write evaluates every column of every row."""
    df.write.format("noop").mode("overwrite").save()
KEY_CAP = 10**9  # > any base key; 64 replicas stay far under int64

# int64 key columns to offset per replica (int32 dim keys — nationkey,
# regionkey — are shared dimensions and must NOT be remapped).
KEY_COLS = {
    "customer": ("c_custkey",),
    "supplier": ("s_suppkey",),
    "part": ("p_partkey",),
    "orders": ("o_orderkey", "o_custkey"),
    "lineitem": ("l_orderkey", "l_partkey", "l_suppkey"),
    "events": ("event_id", "user_id"),
    "documents": ("doc_id",),
    "embeddings": ("vec_id",),
}
FIXED_DIMS = ("region", "nation")

# One representative per heavy family: scan-bound aggregate, shuffle joins,
# window, sessionization/funnel, the dedup battery, ANN, and the composed
# curation pass. Chosen to cover every shape whose 100x behavior the plan
# audit argues about.
SCALE_QUERIES = (
    "agg_pricing_summary",
    "join_multiway_local_supplier_volume",
    "window_topk_per_group",
    "sessionize_gap30m",
    "funnel_view_click_purchase",
    "dedup_exact",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_cluster_components",
    "sim_bruteforce_topk",
    "sim_ivf_topk",
    "curation_pipeline_summary",
    "sessionize_gap30m_skewsafe",
    "text_keywords_tfidf",
    "quality_segment_dedup_rebuild",
    "chunk_docs_overlap",
    "pack_sequences_bins",
    "semdedup_cluster_prune",
    "cluster_kmeans_embeddings",
    "decontam_ngram_overlap",
    "join_market_share",
    # round-3 additions: iterative graph kernels (pagerank's per-iteration
    # join+agg, triangle enumeration's two-hop edge join), BM25's
    # explode+broadcast-idf retrieval scoring, and the SCD2 merge's
    # full-outer snapshot diff — each a distinct growth-class risk.
    "graph_pagerank_iter",
    "graph_triangle_count",
    "text_bm25_topk",
    "cdc_scd2_merge",
    # PQ-ADC scan (encode is a narrow map; scoring is broadcast × scan),
    # hybrid RRF (both runs must stay scan-shaped; fusion is k-row), the
    # incremental index probe (delta broadcast against an Nx corpus
    # index), and the HLL cell→rollup double aggregate.
    "sim_pq_topk",
    "retrieval_hybrid_rrf",
    "dedup_incremental_delta",
    "agg_hll_sketch_rollup",
    # prefix-filtered Jaccard: the candidate join is bounded by RARE-
    # shingle df only — the exponent must stay near-linear without the
    # df cap the plain Jaccard path needs; charlm is two scans + a
    # broadcast model (expect e ~ 1).
    "dedup_jaccard_prefix_filter",
    "quality_charlm_score",
    # DSIR: two fits (15% + 10% of a scan each) + a narrow two-lookup
    # scoring scan + TakeOrdered — expect e ~ 1 like charlm.
    "sample_dsir_importance",
    # phrase retrieval: the trigram argmax explode is the linear part;
    # the positional legs are term-df-sized (the judged risk).
    "retrieval_phrase_match",
    # leakage-safe split: the dedup candidate join + closure plus one
    # broadcast join over the corpus.
    "split_leakage_safe",
    # MMR: one brute-force top-N pass + a pool-sized greedy.
    "retrieval_mmr_diversified",
    # round-5: the global-rank distribution family after the single-
    # partition-window removal (range exchange + per-partition counts +
    # row-local arithmetic — expect e ~ 1, where the old global window
    # would serialize the whole table through one task).
    "window_ntile_distribution",
    # r5: char-level exact-substring span dedup — fingerprint shuffle +
    # per-doc span merge; expect scan-linear like the other window passes.
    "dedup_substring_spans",
)


def _salted_documents(df: DataFrame) -> DataFrame:
    """Suffix every token with ``~rrr`` (FIXED-WIDTH, zero-padded) for
    replicas r > 0 (keeps replica 0 bit-identical to the base corpus) and
    recompute n_chars.

    Fixed width matters for the char-level operators (VERDICT r6 task #6):
    a variable-width ``~r`` suffix (1–3 digits across 256 replicas) shifts
    every substring-window alignment by a replica-dependent amount, so
    ``dedup_substring_spans``'s duplicated-window relation grew 7.6× for a
    4× doc step — the rung measured fixture geometry, not the operator.
    Zero-padding makes every salted replica's text the same length, so the
    window geometry is identical across replicas and the exponent reads
    the operator."""
    salted = F.when(F.col("rep") == 0, F.col("text")).otherwise(
        F.regexp_replace(
            F.col("text"),
            r"(\S+)",
            F.concat(F.lit("$1~"), F.lpad(F.col("rep").cast("string"), 3, "0")),
        )
    )
    return df.withColumn("text", salted).withColumn("n_chars", F.length("text").cast("long"))


def _perturbed_embeddings(df: DataFrame) -> DataFrame:
    """Add deterministic per-component noise in [-0.1, 0.1) to replicas
    r > 0 so the copies are distinct points, not N-high stacks."""
    noise = lambda i: (  # noqa: E731
        F.pmod(F.xxhash64(F.col("vec_id"), i, F.col("rep")), F.lit(2000)).cast("double")
        / 10000.0
        - 0.1
    )
    perturbed = F.transform(
        "embedding",
        lambda x, i: F.when(F.col("rep") == 0, x).otherwise((x + noise(i)).cast("float")),
    )
    return df.withColumn("embedding", perturbed)


def generate(
    spark: SparkSession, out_dir: str, n: int, tables: tuple[str, ...] | None = None
) -> None:
    """Write an ``n``-times-replicated copy of every fixture into
    ``out_dir`` (single Generate per table — one scan, no shuffle).
    ``tables`` restricts generation (the 256× knob rung only needs
    documents + embeddings)."""
    from wd2sql_spark.catalog import TABLES, table

    os.makedirs(out_dir, exist_ok=True)
    for t in tables if tables is not None else TABLES:
        dest = os.path.join(out_dir, f"{t}.parquet")
        df = table(spark, BASE, t)
        if t not in FIXED_DIMS:
            df = df.withColumn("rep", F.explode(F.sequence(F.lit(0), F.lit(n - 1))))
            for k in KEY_COLS.get(t, ()):
                # rep and the literal are int32; the product overflows under
                # ANSI mode — do the offset arithmetic in LONG
                df = df.withColumn(
                    k, F.col(k) + F.col("rep").cast("long") * F.lit(KEY_CAP).cast("long")
                )
            if t == "documents":
                df = _salted_documents(df)
            if t == "embeddings":
                df = _perturbed_embeddings(df)
            df = df.drop("rep")
            # a few output files per table so downstream scans get splits
            # without relying on row-group splitting of one giant file
            df = df.repartition(min(32, max(1, n)))
        df.write.mode("overwrite").parquet(dest)


def bench_etl_scaling(spark: SparkSession, mults: tuple[int, ...] = (16, 64)) -> dict:
    """Warm ETL wall time at several dump sizes → sustained MB/s per size.

    Flat MB/s across a 4x size step reads "the staged single-pass plan is
    scan-linear"; a dropping rate would expose a super-linear stage
    (bench.py measures one size per round — this measures the slope)."""
    import shutil
    import tempfile

    from wd2sql_spark.etl.pipeline import wd2spark
    from wd2sql_spark.etl.synthdump import N, write_dump

    out: dict[str, dict[str, float]] = {}
    root = tempfile.mkdtemp(prefix="scale-etl-")
    try:
        # one small untimed run compiles the plan's codegen
        wdump = os.path.join(root, "warm-dump")
        write_dump(wdump, n=N // 4, shards=8)
        wd2spark(spark, wdump, os.path.join(root, "warm-out"), layout="store")
        for m in mults:
            dump = os.path.join(root, f"dump-x{m}")
            nbytes = write_dump(dump, n=m * N, shards=64)
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            wd2spark(spark, dump, os.path.join(root, f"out-x{m}"), layout="store")
            cold = time.perf_counter() - t0
            # min-of-3: this host's co-tenant load inflates single samples
            # up to 3x (see bench.py methodology); noise only adds time
            warm = float("inf")
            for i in range(3):
                t0 = time.perf_counter()
                wd2spark(
                    spark, dump, os.path.join(root, f"out{i + 2}-x{m}"), layout="store"
                )
                warm = min(warm, time.perf_counter() - t0)
                shutil.rmtree(os.path.join(root, f"out{i + 2}-x{m}"), ignore_errors=True)
            mb = nbytes / 1e6
            out[f"x{m}"] = {
                "input_mb": round(mb, 1),
                "warm_s": round(warm, 2),
                "cold_s": round(cold, 2),
                "warm_mb_per_s": round(mb / warm, 1),
            }
            print(f"[etl] x{m}: {mb:.0f} MB warm {warm:.1f}s = {mb/warm:.1f} MB/s", flush=True)
            shutil.rmtree(dump, ignore_errors=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return out


_ETL_CORES_CHILD = """
import json, os, shutil, sys, time
root, m, repo = sys.argv[1], int(sys.argv[2]), sys.argv[3]
sys.path.insert(0, repo)
from wd2sql_spark.session import get_spark
from wd2sql_spark.etl.pipeline import wd2spark
from wd2sql_spark.etl.synthdump import N, write_dump
spark = get_spark("etl-cores")
dump = os.path.join(root, "dump")
meta = os.path.join(root, "dump.meta")
if os.path.exists(meta):
    nbytes = int(open(meta).read())
else:
    nbytes = write_dump(dump, n=m * N, shards=64)
    open(meta, "w").write(str(nbytes))
tag = os.environ["SPARK_GRAFT_CPUS"]
wd2spark(spark, dump, os.path.join(root, f"warm-{tag}"), layout="store")
best = float("inf")
for i in range(3):
    out = os.path.join(root, f"out-{tag}-{i}")
    t0 = time.perf_counter()
    wd2spark(spark, dump, out, layout="store")
    best = min(best, time.perf_counter() - t0)
    shutil.rmtree(out, ignore_errors=True)
shutil.rmtree(os.path.join(root, f"warm-{tag}"), ignore_errors=True)
print(json.dumps({"cores": int(tag), "input_mb": round(nbytes / 1e6, 1),
                  "warm_s": round(best, 2),
                  "mb_per_s": round(nbytes / 1e6 / best, 1)}))
"""


def bench_etl_cores(cores: tuple[int, ...] = (8, 16, 32), mult: int = 16) -> dict:
    """ETL horizontal-scaling evidence (VERDICT r5 task #5): the 100 TB
    story is parallelism, so measure MB/s at FIXED input while the core
    count varies. Each core count needs its own JVM (``local[N]`` is
    fixed at session build), so a child process per rung shares one
    64-shard dump; warm min-of-3 inside each child. Near-proportional
    MB/s growth reads 'the staged plan parallelizes'; a flat line would
    expose a serial stage (the single-threaded reference's ~35 MB/s is
    the per-core yardstick)."""
    import subprocess
    import tempfile

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    root = tempfile.mkdtemp(prefix="etl-cores-")
    script = _ETL_CORES_CHILD
    out: dict[str, dict] = {}
    try:
        for c in cores:
            env = dict(os.environ, SPARK_GRAFT_CPUS=str(c), SPARK_GRAFT_DRIVER_MEM="24g")
            res = subprocess.run(
                [sys.executable, "-c", script, root, str(mult), repo],
                env=env,
                capture_output=True,
                text=True,
                timeout=1800,
            )
            line = [l for l in res.stdout.splitlines() if l.startswith("{")][-1]
            out[f"cores{c}"] = json.loads(line)
            print(f"[etl-cores] {out[f'cores{c}']}", flush=True)
    finally:
        import shutil

        shutil.rmtree(root, ignore_errors=True)
    return out


def bench_skew(spark: SparkSession, base_scale: int = 64, frac_mod: int = 4) -> dict:
    """Hyperactive-user skew demo: remap 1/frac_mod of ALL events to one
    user, then time plain vs two-level sessionization on uniform and
    skewed inputs. The plain form's user_id window must sort the whole
    hot user's history in ONE task; the two-level form bounds that task
    at events/user/day."""
    from wd2sql_spark.catalog import TABLES
    from wd2sql_spark.queries import load_all_modules

    registry = load_all_modules()
    src = os.path.join(OUT_ROOT, f"x{base_scale}")
    skew = os.path.join(OUT_ROOT, f"x{base_scale}skew")
    if not os.path.exists(os.path.join(skew, "_DONE")):
        os.makedirs(skew, exist_ok=True)
        for t in TABLES:
            dst = os.path.join(skew, f"{t}.parquet")
            if t == "events":
                ev = spark.read.parquet(os.path.join(src, "events.parquet"))
                ev = ev.withColumn(
                    "user_id",
                    F.when(F.pmod(F.xxhash64("event_id"), F.lit(frac_mod)) == 0, F.lit(0)).otherwise(
                        F.col("user_id")
                    ),
                )
                ev.write.mode("overwrite").parquet(dst)
            elif not os.path.exists(dst):
                os.symlink(os.path.join(src, f"{t}.parquet"), dst)
        with open(os.path.join(skew, "_DONE"), "w") as fh:
            fh.write("ok\n")

    out: dict[str, dict[str, float]] = {}
    for variant, d in (("uniform", src), ("skewed", skew)):
        for q in ("sessionize_gap30m", "sessionize_gap30m_skewsafe"):
            fn = registry[q].fn
            force(fn(spark, d))
            best = float("inf")
            for _ in range(2):
                t0 = time.perf_counter()
                force(fn(spark, d))
                best = min(best, time.perf_counter() - t0)
            out.setdefault(q, {})[variant] = round(best, 3)
            print(f"[skew] {variant} {q}: {best:.2f}s", flush=True)
        spark.catalog.clearCache()
    return out


def bench_streaming(spark: SparkSession, scales: tuple[int, ...] = (8, 64)) -> dict:
    """Structured Streaming ingest rate: the watermarked 1-hour tumbling
    aggregation (stream_tumbling_counts) run to completion with
    availableNow over the scaled events fixtures. Wall time includes the
    full micro-batch lifecycle (state store, checkpoint, memory sink), so
    rows/s is an honest end-to-end streaming number, not a batch rate."""
    from wd2sql_spark.catalog import table
    from wd2sql_spark.queries import load_all_modules

    registry = load_all_modules()
    out: dict[str, dict[str, float]] = {}
    for n in scales:
        d = os.path.join(OUT_ROOT, f"x{n}")
        rows = table(spark, d, "events").count()
        fn = registry["stream_tumbling_counts"].fn
        fn(spark, d).count()  # cold: plan + state-store + codegen setup
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            fn(spark, d).count()
            best = min(best, time.perf_counter() - t0)
        out[f"x{n}"] = {
            "events": rows,
            "warm_s": round(best, 2),
            "events_per_s": round(rows / best),
        }
        print(f"[stream] x{n}: {rows} events in {best:.2f}s = {rows / best:,.0f}/s", flush=True)
    return out


KNOB_QUERIES = ("dedup_simhash", "multimodal_phash_near_dup", "sim_cosine_near_dup")


def bench_knob(spark: SparkSession, scales: tuple[int, ...] = (8, 64, 256)) -> dict:
    """The auto-banding rungs (VERDICT r5 task #1): run the three
    bucket-blocked near-dup queries at 8×/64×/256× documents+embeddings
    and record the knob each rung actually chose, so SCALE.md can show
    the band width ENGAGING (14 bits at fixture sizes → 19/21 bits at
    320 k / 1.28 M docs) together with the e ≤ 1 exponents it buys.
    Every rung replicates documents/embeddings only (own ``x{n}docs``
    dirs) — these queries read nothing else, so the run is self-contained
    and cheap regardless of whether the full-fixture rungs exist."""
    from wd2sql_spark.catalog import table
    from wd2sql_spark.operators.dedup import auto_band_bits, simhash_banding
    from wd2sql_spark.queries import load_all_modules

    registry = load_all_modules()
    out: dict[str, dict] = {}
    for n in scales:
        d = os.path.join(OUT_ROOT, f"x{n}docs")
        marker = os.path.join(d, "_DONE")
        if not os.path.exists(marker):
            t0 = time.perf_counter()
            generate(spark, d, n, tables=("documents", "embeddings"))
            with open(marker, "w") as fh:
                fh.write("ok\n")
            print(f"[gen] x{n}: {time.perf_counter() - t0:.1f}s", flush=True)
        n_docs = table(spark, d, "documents").count()
        n_emb = table(spark, d, "embeddings").count()
        bb, nb = simhash_banding(n_docs)
        rung: dict = {
            "docs": n_docs,
            "embeddings": n_emb,
            "simhash_band_bits": bb,
            "simhash_bands": nb,
            "cosine_r": auto_band_bits(n_emb),
            "queries": {},
        }
        for q in KNOB_QUERIES:
            spark.catalog.clearCache()
            fn = registry[q].fn
            force(fn(spark, d))  # cold: codegen + the query's own caches
            best = float("inf")
            for _ in range(2):
                t0 = time.perf_counter()
                force(fn(spark, d))
                best = min(best, time.perf_counter() - t0)
            # Output size matters for the unlimited pair queries: the
            # salted replicas defeat the aHash (pixel thresholding is
            # insensitive to the token suffix), so cross-replica images
            # GENUINELY collide and the answer itself grows superlinearly
            # — a time-vs-input exponent alone would misread output-bound
            # growth as a plan defect. Record rows out so e can be judged
            # against the work actually produced.
            n_out = fn(spark, d).count()
            rung["queries"][q] = {
                "warm_s": round(best, 2),
                "output_rows": n_out,
                "us_per_output_row": round(1e6 * best / max(n_out, 1), 2),
            }
            print(
                f"[knob] x{n} {q}: {best:.2f}s, {n_out} rows out (bb={bb} nb={nb})",
                flush=True,
            )
        out[f"x{n}"] = rung
    # fitted exponents between consecutive rungs: vs input rows and,
    # for the unlimited pair queries, vs output rows
    for q in KNOB_QUERIES:
        for a, b in zip(scales, scales[1:]):
            qa, qb = out[f"x{a}"]["queries"][q], out[f"x{b}"]["queries"][q]
            e = math.log(qb["warm_s"] / qa["warm_s"]) / math.log(b / a)
            ent = out.setdefault("exponents", {}).setdefault(q, {})
            ent[f"e{a}_{b}"] = round(e, 2)
            if qa["output_rows"] != qb["output_rows"] and qa["output_rows"] > 0:
                eo = math.log(qb["warm_s"] / qa["warm_s"]) / math.log(
                    qb["output_rows"] / qa["output_rows"]
                )
                ent[f"e_out{a}_{b}"] = round(eo, 2)
    return out


def bench_extras(
    spark: SparkSession,
    queries: tuple[str, ...],
    scales: tuple[int, ...] = (8, 64, 256),
) -> dict:
    """Docs-only rungs for an arbitrary query subset, with output-row
    accounting (the bench_knob shape, parameterized): for unbounded-output
    operators the honest exponent is judged against the work PRODUCED,
    not just the input — so record rows out and a µs/output-row rate at
    every rung alongside the warm wall time."""
    from wd2sql_spark.catalog import table
    from wd2sql_spark.queries import load_all_modules

    registry = load_all_modules()
    out: dict[str, dict] = {}
    for n in scales:
        d = os.path.join(OUT_ROOT, f"x{n}docs")
        marker = os.path.join(d, "_DONE")
        if not os.path.exists(marker):
            t0 = time.perf_counter()
            generate(spark, d, n, tables=("documents", "embeddings"))
            with open(marker, "w") as fh:
                fh.write("ok\n")
            print(f"[gen] x{n}: {time.perf_counter() - t0:.1f}s", flush=True)
        rung: dict = {"docs": table(spark, d, "documents").count(), "queries": {}}
        for q in queries:
            spark.catalog.clearCache()
            fn = registry[q].fn
            force(fn(spark, d))
            best = float("inf")
            for _ in range(2):
                t0 = time.perf_counter()
                force(fn(spark, d))
                best = min(best, time.perf_counter() - t0)
            n_out = fn(spark, d).count()
            rung["queries"][q] = {
                "warm_s": round(best, 2),
                "output_rows": n_out,
                "us_per_output_row": round(1e6 * best / max(n_out, 1), 2),
            }
            print(f"[extras] x{n} {q}: {best:.2f}s, {n_out} rows out", flush=True)
        out[f"x{n}"] = rung
    for q in queries:
        for a, b in zip(scales, scales[1:]):
            qa, qb = out[f"x{a}"]["queries"][q], out[f"x{b}"]["queries"][q]
            e = math.log(qb["warm_s"] / qa["warm_s"]) / math.log(b / a)
            ent = out.setdefault("exponents", {}).setdefault(q, {})
            ent[f"e{a}_{b}"] = round(e, 2)
            if qa["output_rows"] not in (0, qb["output_rows"]):
                ent[f"e_out{a}_{b}"] = round(
                    math.log(qb["warm_s"] / qa["warm_s"])
                    / math.log(qb["output_rows"] / qa["output_rows"]),
                    2,
                )
    return out


def bench_admission(
    spark: SparkSession,
    scale: int = 256,
    n_batches: int = 16,
    compact_every: int = 4,
) -> dict:
    """The admission WRITE loop at the 256× rung (VERDICT r6 task #5):
    stream the x{scale}docs corpus (~1.28 M docs at 256×) through
    ``admission_sink``'s batch function as ``n_batches`` sequential
    xxhash64-bucketed drops with periodic compaction engaged, recording
    per-batch wall time, admitted count, and store size — the probe+
    append cost CURVE as the store grows from empty to corpus-sized.
    Ends with the store ≡ rebuild-over-admitted proof at full size
    (exceptAll both ways — the tests/test_lsh_store.py property, now at
    1000× the unit-test corpus)."""
    import shutil
    import tempfile

    from wd2sql_spark.catalog import table
    from wd2sql_spark.operators.dedup import minhash_band_index
    from wd2sql_spark.sinks.lsh_store import read_lsh_store
    from wd2sql_spark.streaming.admission import admission_sink

    d = os.path.join(OUT_ROOT, f"x{scale}docs")
    marker = os.path.join(d, "_DONE")
    if not os.path.exists(marker):
        t0 = time.perf_counter()
        generate(spark, d, scale, tables=("documents", "embeddings"))
        with open(marker, "w") as fh:
            fh.write("ok\n")
        print(f"[gen] x{scale}: {time.perf_counter() - t0:.1f}s", flush=True)
    docs = table(spark, d, "documents").select("doc_id", "text")
    n_docs = docs.count()

    store = tempfile.mkdtemp(prefix="admission-256x-")
    admitted_log: list[list[int]] = []
    sink = admission_sink(store, compact_every=compact_every,
                          log=lambda bid, ids: admitted_log.append(ids))
    batches: list[dict] = []
    store_rows = 0
    try:
        for b in range(n_batches):
            batch = docs.filter(F.pmod(F.xxhash64("doc_id"), F.lit(n_batches)) == b)
            t0 = time.perf_counter()
            sink(batch, b)
            wall = time.perf_counter() - t0
            new_rows = spark.read.parquet(f"{store}/bands").count()
            n_batch = batch.count()
            batches.append(
                {
                    "batch": b,
                    "batch_docs": n_batch,
                    "admitted": len(admitted_log[-1]),
                    "store_rows_after": new_rows,
                    "wall_s": round(wall, 2),
                    "rows_per_s": round(n_batch / wall),
                    "compacted": (b + 1) % compact_every == 0,
                }
            )
            store_rows = new_rows
            print(f"[admission] {batches[-1]}", flush=True)

        # store ≡ rebuild over the admitted set, at full size
        all_admitted = sorted(i for ids in admitted_log for i in ids)
        adm_df = spark.createDataFrame([(i,) for i in all_admitted], ["doc_id"])
        rebuild = minhash_band_index(docs.join(adm_df, "doc_id"))
        stored = read_lsh_store(spark, store)
        t0 = time.perf_counter()
        extra = stored.exceptAll(rebuild.select(*stored.columns)).count()
        missing = rebuild.select(*stored.columns).exceptAll(stored).count()
        proof_s = time.perf_counter() - t0
        print(
            f"[admission] store≡rebuild: extra={extra} missing={missing} "
            f"({proof_s:.1f}s over {store_rows} band rows)",
            flush=True,
        )
        return {
            "corpus_docs": n_docs,
            "n_batches": n_batches,
            "compact_every": compact_every,
            "admitted_total": len(all_admitted),
            "store_band_rows": store_rows,
            "store_equals_rebuild": extra == 0 and missing == 0,
            "equality_proof_s": round(proof_s, 1),
            "batches": batches,
        }
    finally:
        shutil.rmtree(store, ignore_errors=True)


def bench_probe_latency(
    spark: SparkSession,
    store_scales: tuple[int, ...] = (4, 64, 256),
    delta_docs: int = 5000,
) -> dict:
    """The admission READ half vs store size (VERDICT r7 task #7): the
    r7 rung proved APPEND cost flat as the store grows; this measures the
    incremental PROBE — one fixed ~5 k-doc delta banded once, joined
    (delta broadcast) against stores built from 4×/64×/256× corpora
    (≈20 k → 1.28 M docs ≈ 76 k → 4.9 M band rows). The probe plan never
    reshuffles the store: band-partitioned scan, broadcast-hash join on
    (band, band_key), row-local Jaccard estimate — so latency should
    track the store SCAN, sublinearly in rows (e ≤ ~0.1 would read
    "probe cost is delta-bound, store-size-insensitive at this range";
    the honest expectation is scan-linear growth in the scan term with a
    large fixed component)."""
    import shutil
    import tempfile

    from wd2sql_spark.catalog import table
    from wd2sql_spark.operators.dedup import (
        incremental_index_probe,
        minhash_band_index,
    )
    from wd2sql_spark.sinks.lsh_store import append_band_index, read_lsh_store

    # fixed delta from the BASE fixture (store-scale-independent)
    base_docs = table(spark, BASE, "documents").select("doc_id", "text")
    n_base = base_docs.count()
    mod = max(1, n_base // delta_docs)
    delta = base_docs.filter(F.pmod(F.xxhash64("doc_id"), F.lit(mod)) == 0)
    delta_idx = minhash_band_index(delta).persist()
    n_delta = delta_idx.select("doc_id").distinct().count()  # materialize

    rungs: list[dict] = []
    for n in store_scales:
        d = os.path.join(OUT_ROOT, f"x{n}docs")
        marker = os.path.join(d, "_DONE")
        if not os.path.exists(marker):
            t0 = time.perf_counter()
            generate(spark, d, n, tables=("documents", "embeddings"))
            with open(marker, "w") as fh:
                fh.write("ok\n")
            print(f"[gen] x{n}: {time.perf_counter() - t0:.1f}s", flush=True)
        docs = table(spark, d, "documents").select("doc_id", "text")
        store = os.path.join(OUT_ROOT, f"probe-store-x{n}")
        built = os.path.join(store, "_DONE")
        build_s = None
        if not os.path.exists(built):
            shutil.rmtree(store, ignore_errors=True)
            t0 = time.perf_counter()
            append_band_index(minhash_band_index(docs), store)
            build_s = time.perf_counter() - t0
            with open(built, "w") as fh:
                fh.write("ok\n")
        stored = read_lsh_store(spark, store)
        store_rows = stored.count()

        def best_of(fn, k=3):
            fn()  # cold: codegen + footer caches / cache build
            best = float("inf")
            for _ in range(k):
                t0 = time.perf_counter()
                fn()
                best = min(best, time.perf_counter() - t0)
            return best

        probe_df = incremental_index_probe(stored, delta_idx, min_est_jaccard=0.5)
        matches = probe_df.count()
        disk = best_of(probe_df.count)
        # serving regime: a long-lived admission service keeps the store
        # persisted between batches — the probe then scans executor
        # memory, the regime the flat-latency expectation belongs to
        cached = stored.persist()
        cached_probe = incremental_index_probe(cached, delta_idx, min_est_jaccard=0.5)
        mem = best_of(cached_probe.count)
        cached.unpersist()
        rungs.append(
            {
                "store_scale": n,
                "store_docs": docs.count(),
                "store_band_rows": store_rows,
                "store_build_s": None if build_s is None else round(build_s, 1),
                "delta_docs": n_delta,
                "probe_matches": matches,
                "probe_disk_warm_s": round(disk, 3),
                "probe_cached_warm_s": round(mem, 3),
            }
        )
        print(f"[probe] {rungs[-1]}", flush=True)
    delta_idx.unpersist()
    out: dict = {"rungs": rungs}
    if len(rungs) >= 2:
        for key in ("probe_disk_warm_s", "probe_cached_warm_s"):
            if rungs[-2][key] > 0:
                e = math.log(rungs[-1][key] / rungs[-2][key]) / math.log(
                    rungs[-1]["store_band_rows"] / rungs[-2]["store_band_rows"]
                )
                out[f"e_{key}"] = round(e, 3)
                print(f"[probe] e({key}, last step) = {e:.3f}", flush=True)
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--scales", default="1,8,64")
    ap.add_argument("--queries", default=None, help="comma-separated subset")
    ap.add_argument("--etl", action="store_true", help="also measure ETL throughput scaling")
    ap.add_argument("--etl-only", action="store_true")
    ap.add_argument("--etl-mults", default="16,64", help="dump-size multipliers for --etl/--etl-only")
    ap.add_argument("--skew-only", action="store_true")
    ap.add_argument("--stream-only", action="store_true")
    ap.add_argument("--knob-only", action="store_true", help="auto-banding rungs incl. 256x docs")
    ap.add_argument("--extras-only", action="store_true", help="docs-only rungs for --queries with output-row accounting")
    ap.add_argument("--admission-only", action="store_true", help="admission write loop to a 256x store with compaction")
    ap.add_argument("--probe-only", action="store_true", help="incremental probe latency vs store size (4x/64x/256x)")
    ap.add_argument("--etl-cores-only", action="store_true", help="ETL MB/s at local[8/16/32]")
    ap.add_argument("--json-out", default="/tmp/scale/results.json")
    args = ap.parse_args()
    scales = tuple(int(s) for s in args.scales.split(","))
    names = tuple(args.queries.split(",")) if args.queries else SCALE_QUERIES

    if args.etl_cores_only:
        # no parent SparkSession: each rung builds its own local[N] child
        res = bench_etl_cores()
        path = args.json_out.replace(".json", "-etl-cores.json")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(res, fh, indent=2)
        print(f"[done] wrote {path}", flush=True)
        return

    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "24g")
    from wd2sql_spark.catalog import TABLES, table
    from wd2sql_spark.queries import load_all_modules
    from wd2sql_spark.session import get_spark

    spark = get_spark("wd2sql_spark-scale")
    registry = load_all_modules()

    if args.stream_only:
        res = bench_streaming(spark)
        path = args.json_out.replace(".json", "-stream.json")
        with open(path, "w") as fh:
            json.dump(res, fh, indent=2)
        print(f"[done] wrote {path}", flush=True)
        return

    if args.knob_only:
        res = bench_knob(spark)
        path = args.json_out.replace(".json", "-knob.json")
        with open(path, "w") as fh:
            json.dump(res, fh, indent=2)
        print(f"[done] wrote {path}", flush=True)
        return

    if args.extras_only:
        res = bench_extras(spark, names)
        path = args.json_out.replace(".json", "-extras.json")
        with open(path, "w") as fh:
            json.dump(res, fh, indent=2)
        print(f"[done] wrote {path}", flush=True)
        return

    if args.probe_only:
        res = bench_probe_latency(spark)
        path = args.json_out.replace(".json", "-probe.json")
        with open(path, "w") as fh:
            json.dump(res, fh, indent=2)
        print(f"[done] wrote {path}", flush=True)
        return

    if args.admission_only:
        res = bench_admission(spark)
        path = args.json_out.replace(".json", "-admission.json")
        with open(path, "w") as fh:
            json.dump(res, fh, indent=2)
        print(f"[done] wrote {path}", flush=True)
        return

    if args.skew_only:
        res = bench_skew(spark)
        path = args.json_out.replace(".json", "-skew.json")
        with open(path, "w") as fh:
            json.dump(res, fh, indent=2)
        print(f"[done] wrote {path}", flush=True)
        return

    if args.etl_only:
        etl = bench_etl_scaling(spark, tuple(int(m) for m in args.etl_mults.split(",")))
        path = args.json_out.replace(".json", "-etl.json")
        with open(path, "w") as fh:
            json.dump(etl, fh, indent=2)
        print(f"[done] wrote {path}", flush=True)
        return

    for n in scales:
        d = os.path.join(OUT_ROOT, f"x{n}")
        marker = os.path.join(d, "_DONE")
        if os.path.exists(marker):
            print(f"[gen] x{n}: cached", flush=True)
            continue
        t0 = time.perf_counter()
        generate(spark, d, n)
        with open(marker, "w") as fh:
            fh.write("ok\n")
        print(f"[gen] x{n}: {time.perf_counter() - t0:.1f}s", flush=True)

    results: dict[str, dict[int, float]] = {q: {} for q in names}
    rows: dict[int, dict[str, int]] = {}
    for n in scales:
        d = os.path.join(OUT_ROOT, f"x{n}")
        rows[n] = {t: table(spark, d, t).count() for t in TABLES}
        for q in names:
            # Isolate each query's storage: a previous query's persisted
            # relations (e.g. the incremental-dedup LSH index over the 64x
            # corpus) otherwise occupy executor storage memory and evict /
            # spill THIS query's shuffles — measured to inflate the HLL
            # rollup from 2.1 s to 10.9 s at x64 and flip its fitted
            # exponent from 0.32 to a phantom 1.36. The query's own caches
            # are rebuilt by the untimed cold run, so warm stays warm.
            spark.catalog.clearCache()
            fn = registry[q].fn
            force(fn(spark, d))  # cold: analysis + codegen + cache builds
            best = float("inf")
            for _ in range(2):
                t0 = time.perf_counter()
                force(fn(spark, d))
                best = min(best, time.perf_counter() - t0)
            results[q][n] = round(best, 3)
            print(f"[run] x{n} {q}: {results[q][n]}s", flush=True)
        # per-sf_dir persisted relations (shingles, IVF index) must not
        # occupy executor storage while the next, larger scale runs
        spark.catalog.clearCache()

    payload: dict = {"scales": scales, "rows": rows, "queries": results}
    if args.etl:
        payload["etl"] = bench_etl_scaling(spark)
    os.makedirs(os.path.dirname(args.json_out), exist_ok=True)
    with open(args.json_out, "w") as fh:
        json.dump(payload, fh, indent=2)
    for q in names:
        t = results[q]
        if scales[-1] in t and scales[-2] in t and t[scales[-2]] > 0:
            e = math.log(t[scales[-1]] / t[scales[-2]]) / math.log(scales[-1] / scales[-2])
            print(f"[exp] {q}: e={e:.2f}  {t}", flush=True)
    print(f"[done] wrote {args.json_out}", flush=True)


if __name__ == "__main__":
    main()
