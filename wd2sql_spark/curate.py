"""Materializing curation pipeline: documents parquet → curated training
corpus on disk, in ONE Spark job.

``python -m wd2sql_spark.curate IN OUT [--shards N]`` (or
:func:`curate` programmatically) runs the full chain the query battery
verifies statistically — benchmark holdout → quality filter → 5-gram
decontamination → exact dedup → reproducible train/eval split — and
WRITES the surviving corpus as hash-sharded parquet plus a
``manifest.json`` of per-stage counters.

Two properties make this more than a script:

- **No drift from the verified queries.** Every stage reuses the single
  definition the hash-checked queries use (``queries/curation._kept``,
  ``operators/dedup.doc_shingles``, ``llm_sampling.md5_bucket``), so the
  written corpus's (lang, split) accounting EQUALS the output of the
  oracle-verified ``curation_pipeline_decontam`` query —
  tests/test_curate.py asserts exact equality.
- **One pass, counters ride the write.** Stage counts come from
  ``df.observe`` at three points of the same plan (post-quality,
  post-decontam, final), accumulating on executors during the single
  write job — the reference's running entity counters done the
  Spark-native way, not extra count() passes. The only data-sized
  exchanges are the content-digest dedup shuffle and the shard
  partition; the benchmark shingle set travels as one broadcast. At
  100 TB this is one corpus read, one digest shuffle, one shard
  shuffle, one write.

The reference has no curation surface (its job is the wikidata ETL,
main.rs:95-255 in /root/reference); this is the LLM-pipeline counterpart
built from the same engine pieces.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

from pyspark.sql import Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from wd2sql_spark.operators.dedup import doc_shingles
from wd2sql_spark.queries.curation import _BENCH_MOD, _CONTAM_DROP, EVAL_PCT, _kept
from wd2sql_spark.queries.llm_decontam import DECONTAM_N
from wd2sql_spark.queries.llm_sampling import md5_bucket


def curate(
    spark: SparkSession,
    in_path: str,
    out_dir: str,
    *,
    n_shards: int = 16,
    bench_mod: int = _BENCH_MOD,
    contam_drop: float = _CONTAM_DROP,
    eval_pct: int = EVAL_PCT,
) -> dict:
    """Run the pipeline; return the manifest (also written to
    ``out_dir/manifest.json``). Refuses an existing ``out_dir`` like the
    wikidata ETL (etl/pipeline.py guard, after main.rs:98-104)."""
    if os.path.exists(out_dir):
        raise FileExistsError(f"output already exists: {out_dir}")

    docs = spark.read.parquet(in_path)
    bench = docs.filter(F.col("doc_id") % bench_mod == 0)
    corpus_in = docs.filter(F.col("doc_id") % bench_mod != 0)

    # Quality stage (+ content hash). NOTE on observation placement: a
    # node consumed by TWO subtrees of one job (``kept`` feeds both the
    # shingle explode and the join below) executes twice, so an
    # Observation on it would double-count — counters go on
    # single-consumer nodes only (the join output and the final
    # projection). The recompute itself mirrors the verified query's
    # plan; a production run at scale could persist ``kept`` to trade
    # memory for the second pass.
    kept = _kept(corpus_in)

    # Decontamination: benchmark shingles broadcast; per-doc overlap
    # ratio; drop at the threshold. Same body as the verified
    # curation_pipeline_decontam query.
    ev = (
        doc_shingles(bench, n=DECONTAM_N)
        .select("shingle")
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    contam = (
        doc_shingles(kept, n=DECONTAM_N)
        .join(F.broadcast(ev), "shingle", "left")
        .groupBy("doc_id")
        .agg((F.count("_hit").cast("double") / F.count(F.lit(1))).alias("ratio"))
    )
    # The left join preserves kept rows exactly once (contam is per-doc
    # pre-aggregated), so quality-stage counters observe here.
    obs_kept = Observation("curate_kept")
    obs_clean = Observation("curate_clean")
    clean = (
        kept.join(contam, "doc_id", "left")
        .observe(
            obs_kept,
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("nt").alias("n_tokens"),
        )
        .filter(F.coalesce(F.col("ratio"), F.lit(0.0)) < contam_drop)
        .drop("ratio")
        .observe(obs_clean, F.count(F.lit(1)).alias("n_docs"))
    )

    # Exact dedup (keep the min doc_id per normalized-content digest —
    # the digest shuffle is the one data-sized exchange) + the
    # reproducible hash split + shard assignment.
    w = Window.partitionBy("content_hash")
    deduped = (
        clean.withColumn("keep_id", F.min("doc_id").over(w))
        .filter(F.col("doc_id") == F.col("keep_id"))
        .drop("keep_id")
    )
    split = F.when(md5_bucket(F.col("doc_id")) < eval_pct, "eval").otherwise("train")
    obs_final = Observation("curate_final")
    final = deduped.select(
        "doc_id", "lang", "text", "nt", "quality", "content_hash",
        split.alias("split"),
        md5_bucket(F.col("doc_id"), n_shards).cast("int").alias("shard"),
    ).observe(
        obs_final,
        F.count(F.when(F.col("split") == "train", 1)).alias("n_train"),
        F.count(F.when(F.col("split") == "eval", 1)).alias("n_eval"),
        F.sum(F.when(F.col("split") == "train", F.col("nt"))).alias("train_tokens"),
        F.sum(F.when(F.col("split") == "eval", F.col("nt"))).alias("eval_tokens"),
    )

    # ONE write: hash-shard layout under split=/shard= directories
    # (shard membership is a pure function of doc_id — the
    # reproducible-ablation contract), deterministic within-file order.
    corpus_path = os.path.join(out_dir, "corpus")
    (
        final.repartition(n_shards, "split", "shard")
        .sortWithinPartitions("split", "shard", "doc_id")
        .write.partitionBy("split", "shard")
        .parquet(corpus_path)
    )

    manifest = {
        "input": in_path,
        "stages": {
            "quality_kept": {
                "n_docs": int(obs_kept.get["n_docs"]),
                "n_tokens": int(obs_kept.get["n_tokens"] or 0),
            },
            "decontaminated": {"n_docs": int(obs_clean.get["n_docs"])},
            "final": {
                "n_train": int(obs_final.get["n_train"]),
                "n_eval": int(obs_final.get["n_eval"]),
                "train_tokens": int(obs_final.get["train_tokens"] or 0),
                "eval_tokens": int(obs_final.get["eval_tokens"] or 0),
            },
        },
        "params": {
            "n_shards": n_shards,
            "bench_mod": bench_mod,
            "contam_drop": contam_drop,
            "eval_pct": eval_pct,
            "quality_min": 0.5,
            "decontam_n": DECONTAM_N,
        },
        "corpus": corpus_path,
    }
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=2)
    return manifest


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(
        prog="python -m wd2sql_spark.curate",
        description="documents parquet -> curated, sharded training corpus",
    )
    p.add_argument("in_path", help="documents parquet (doc_id, lang, text, ...)")
    p.add_argument("out_dir", help="output directory (refused if it exists)")
    p.add_argument("--shards", type=int, default=16, metavar="N")
    args = p.parse_args(argv)

    from wd2sql_spark.session import get_spark

    manifest = curate(
        get_spark("wd2sql_spark-curate"), args.in_path, args.out_dir, n_shards=args.shards
    )
    print(json.dumps(manifest))
    return 0


if __name__ == "__main__":
    sys.exit(main())
