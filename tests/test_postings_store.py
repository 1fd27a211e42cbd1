"""The materialized postings store: phrase serving must be bit-identical
to computing the match directly from the text, the scan must actually
prune to the phrase's bucket partitions, the Python bucket twin must
match the SQL expression, and append-only admission must equal a full
rebuild."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from wd2sql_spark.catalog import table
from wd2sql_spark.operators.postings import (
    build_postings,
    doc_positions,
    phrase_occurrences,
    term_bucket,
)
from wd2sql_spark.sinks.postings_store import (
    N_BUCKETS,
    append_to_postings_store,
    phrase_from_store,
    read_postings_store,
    write_postings_store,
)

PHRASE = "big order scan"  # occurs in 9 docs at sf0.001 (picked by data)


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return table(spark, sf_dir, "documents")


@pytest.fixture(scope="module")
def store(spark, docs, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("postings") / "store")
    write_postings_store(docs, path)
    return path


def _direct(docs, phrase):
    t0, t1, t2 = phrase.split(" ")
    pos = doc_positions(docs)
    leg0 = pos.filter(F.col("term") == t0)
    rest = pos.filter(F.col("term").isin([t1, t2]))
    occ = phrase_occurrences(leg0, rest, F.lit(t1), F.lit(t2))
    return occ.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_occurrences"),
        F.min("p").cast("bigint").alias("first_pos"),
    )


def test_store_serving_matches_direct(spark, docs, store):
    served = sorted(map(tuple, phrase_from_store(spark, store, PHRASE).collect()))
    direct = sorted(map(tuple, _direct(docs, PHRASE).collect()))
    assert served == direct and len(served) > 0


def test_python_bucket_twin_matches_sql(spark, docs):
    """term_bucket (driver-side pruning) must equal the md5_bucket column
    expression for every term in the corpus."""
    from wd2sql_spark.queries.llm_sampling import md5_bucket

    rows = (
        docs.select(F.explode(F.split("text", " ")).alias("term"))
        .distinct()
        .withColumn("b", md5_bucket(F.col("term"), N_BUCKETS))
        .collect()
    )
    assert rows and all(term_bucket(r["term"]) == r["b"] for r in rows)


def test_scan_prunes_to_phrase_buckets(spark, store):
    """The term-filtered read must carry bucket PartitionFilters
    (directory-level pruning — the whole point of the layout) and a term
    pushed filter (row-group skipping inside each bucket)."""
    from wd2sql_spark.plans.audit import plan_report

    terms = PHRASE.split(" ")
    served = phrase_from_store(spark, store, PHRASE)
    text = plan_report(served).text
    pf_lines = [
        ln for ln in text.splitlines() if "PartitionFilters" in ln and "bucket" in ln
    ]
    assert pf_lines, text
    # every phrase bucket named in the partition filter, nothing else
    for t in terms:
        assert str(term_bucket(t)) in " ".join(pf_lines)
    assert "term" in text  # pushed term filter reaches the scan


def test_append_equals_rebuild(spark, docs, tmp_path_factory):
    """store(corpus) + append(delta) must equal build(corpus ∪ delta)
    row-for-row — postings rows are per (term, doc), so disjoint doc sets
    admit by pure append."""
    path = str(tmp_path_factory.mktemp("postings-adm") / "store")
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    delta = docs.filter(F.col("doc_id") % 10 == 0)
    write_postings_store(corpus, path)
    append_to_postings_store(delta, path)
    stored = sorted(
        (r["term"], r["doc_id"], tuple(r["positions"]), r["bucket"])
        for r in read_postings_store(spark, path).collect()
    )
    rebuilt = sorted(
        (r["term"], r["doc_id"], tuple(r["positions"]), r["bucket"])
        for r in build_postings(docs).collect()
    )
    assert stored == rebuilt


def test_compaction_preserves_content_and_shrinks_files(spark, docs, tmp_path_factory):
    """After admission appends, compaction must leave the relation
    bit-identical while collapsing the per-append file accumulation."""
    from wd2sql_spark.sinks.postings_store import compact_postings_store

    path = str(tmp_path_factory.mktemp("postings-cpt") / "store")
    write_postings_store(docs.filter(F.col("doc_id") % 3 == 0), path)
    append_to_postings_store(docs.filter(F.col("doc_id") % 3 == 1), path)
    append_to_postings_store(docs.filter(F.col("doc_id") % 3 == 2), path)

    def snap():
        return sorted(
            (r["term"], r["doc_id"], tuple(r["positions"]), r["bucket"])
            for r in read_postings_store(spark, path).collect()
        )

    before = snap()
    n_files_before = len(read_postings_store(spark, path).inputFiles())
    compact_postings_store(spark, path)
    assert snap() == before
    assert len(read_postings_store(spark, path).inputFiles()) < n_files_before
