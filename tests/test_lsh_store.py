"""The materialized LSH store: probing it must be bit-identical to the
in-memory incremental path, and the append-only admission maintenance
must leave the store equal to a full rebuild — the property that lets a
100 TB corpus never be re-hashed.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from wd2sql_spark.catalog import table
from wd2sql_spark.operators import dedup as D
from wd2sql_spark.sinks.lsh_store import (
    append_band_index,
    compact_admission_store,
    read_lsh_store,
    write_lsh_store,
)


@pytest.fixture(scope="module")
def split(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    delta = docs.filter(F.col("doc_id") % 10 == 0)
    return docs, corpus, delta


@pytest.fixture(scope="module")
def store(spark, split, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("lsh") / "store")
    _, corpus, _ = split
    write_lsh_store(corpus, path)
    return path


def test_probe_matches_in_memory_incremental(spark, split, store):
    _, corpus, delta = split
    got = sorted(
        (r.delta_id, r.corpus_id, r.est_jaccard)
        for r in D.incremental_index_probe(
            read_lsh_store(spark, store),
            D.minhash_band_index(delta),
            min_est_jaccard=0.25,
        ).collect()
    )
    want = sorted(
        (r.delta_id, r.corpus_id, r.est_jaccard)
        for r in D.incremental_index_probe(
            D.minhash_band_index(corpus),
            D.minhash_band_index(delta),
            min_est_jaccard=0.25,
        ).collect()
    )
    assert got == want and len(got) > 0


def test_append_equals_full_rebuild(spark, split, store, tmp_path_factory):
    docs, _, delta = split
    append_band_index(D.minhash_band_index(delta), store)
    appended = sorted(map(tuple, read_lsh_store(spark, store).collect()))
    rebuilt_path = str(tmp_path_factory.mktemp("lsh") / "rebuild")
    write_lsh_store(docs, rebuilt_path)
    rebuilt = sorted(map(tuple, read_lsh_store(spark, rebuilt_path).collect()))
    assert appended == rebuilt and len(appended) > 0


def test_store_layout_partitions_by_band(spark, store):
    raw = spark.read.parquet(f"{store}/bands")
    bands = {r.band for r in raw.select("band").distinct().collect()}
    assert bands == {0, 1, 2, 3}


def test_compaction_preserves_content_and_shrinks_files(spark, split, tmp_path_factory):
    """After admission appends without replays, compaction must leave the
    band index bit-identical while collapsing the per-append file
    accumulation."""
    docs, corpus, delta = split
    path = str(tmp_path_factory.mktemp("lsh-cpt") / "store")
    write_lsh_store(corpus, path)
    append_band_index(D.minhash_band_index(delta), path)

    def snap():
        return sorted(map(tuple, read_lsh_store(spark, path).collect()))

    before = snap()
    n_before = len(read_lsh_store(spark, path).inputFiles())
    compact_admission_store(spark, path)
    assert snap() == before
    assert len(read_lsh_store(spark, path).inputFiles()) < n_before
