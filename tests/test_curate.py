"""Materializing curation pipeline (wd2sql_spark/curate.py).

The central assertion: the corpus curate() WRITES must agree exactly
with the hash-verified ``curation_pipeline_decontam`` query — same
stage definitions, so same (lang, split) accounting. Plus: manifest
counters (which ride the write as Observations) match the written data,
the layout is deterministic across runs, a split read back is the same
rows, and the existing-output guard refuses."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from wd2sql_spark.curate import curate
from wd2sql_spark.queries import load_all_modules

IN = "/root/testdata/sf0.001/documents.parquet"


@pytest.fixture(scope="module")
def run(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("curated") / "corpus_v1")
    manifest = curate(spark, IN, out, n_shards=4)
    return out, manifest


def test_accounting_matches_verified_query(spark, run):
    out, _ = run
    got = {
        (r["lang"], r["split"]): (r["n_docs"], r["n_tokens"])
        for r in (
            spark.read.parquet(os.path.join(out, "corpus"))
            .groupBy("lang", "split")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("nt").cast("bigint").alias("n_tokens"),
            )
            .collect()
        )
    }
    reg = load_all_modules()
    want = {
        (r["lang"], r["split"]): (r["n_docs"], r["n_tokens"])
        for r in reg["curation_pipeline_decontam"].fn(spark, "/root/testdata/sf0.001").collect()
    }
    assert got == want


def test_manifest_counters_match_written_data(spark, run):
    out, manifest = run
    df = spark.read.parquet(os.path.join(out, "corpus"))
    per_split = {
        r["split"]: (r["n"], r["t"])
        for r in df.groupBy("split")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("nt").cast("bigint").alias("t"))
        .collect()
    }
    fin = manifest["stages"]["final"]
    assert per_split.get("train", (0, 0)) == (fin["n_train"], fin["train_tokens"])
    assert per_split.get("eval", (0, 0)) == (fin["n_eval"], fin["eval_tokens"])
    # Stage monotonicity: quality >= decontaminated >= final total.
    kept = manifest["stages"]["quality_kept"]["n_docs"]
    clean = manifest["stages"]["decontaminated"]["n_docs"]
    assert kept >= clean >= fin["n_train"] + fin["n_eval"] > 0


def test_deterministic_across_runs(spark, run, tmp_path):
    out, manifest = run
    out2 = str(tmp_path / "corpus_v2")
    m2 = curate(spark, IN, out2, n_shards=4)
    assert m2["stages"] == manifest["stages"]
    a = spark.read.parquet(os.path.join(out, "corpus"))
    b = spark.read.parquet(os.path.join(out2, "corpus"))
    cols = sorted(a.columns)
    assert sorted(a.select(*cols).collect()) == sorted(b.select(*cols).collect())


def test_split_read_back_is_pruned_and_consistent(spark, run):
    out, manifest = run
    ev = spark.read.parquet(os.path.join(out, "corpus")).filter(
        F.col("split") == "eval"
    )
    assert ev.count() == manifest["stages"]["final"]["n_eval"]
    # Hash-shard membership is a pure function of doc_id — re-derivable
    # from the data alone (the reproducible-ablation contract).
    from wd2sql_spark.queries.llm_sampling import md5_bucket

    mism = ev.filter(
        md5_bucket(F.col("doc_id"), 4).cast("int") != F.col("shard")
    ).count()
    assert mism == 0


def test_refuses_existing_output(spark, run):
    out, _ = run
    with pytest.raises(FileExistsError):
        curate(spark, IN, out)
