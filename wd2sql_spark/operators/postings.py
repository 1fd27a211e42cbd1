"""Positional inverted index (postings) operators.

The retrieval class BM25 cannot express: EXACT phrase matching needs
token positions, not term frequencies. The classic serving layout is the
positional inverted index — term → [(doc, positions…)] — intersected on
adjacent positions. Here the position relation is derived per query and
intersected with joins:

- :func:`doc_positions` — the narrow (doc_id, p, term) position relation
  (one posexplode over the scan).
- :func:`phrase_occurrences` — adjacency intersection: three legs of the
  position relation joined on (doc_id, p+i). Callers pre-filter the legs
  to the phrase terms, so the joined relations are term-selectivity-sized,
  never corpus-sized.

The reference has no retrieval surface (its query half is delegated
SQLite lookups, README.md:103-157 in /root/reference); this extends the
battery's BM25/ANN retrieval family with the positional member.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def doc_positions(docs: DataFrame) -> DataFrame:
    """(doc_id, p, term): 1-based token positions — narrow, no shuffle."""
    return docs.select(
        "doc_id", F.posexplode(F.split(F.col("text"), " ")).alias("p0", "term")
    ).select("doc_id", (F.col("p0") + 1).alias("p"), "term")


def phrase_occurrences(
    leg0: DataFrame, pos: DataFrame, t1: Column, t2: Column
) -> DataFrame:
    """(doc_id, p) of every occurrence of a 3-token phrase.

    ``leg0``: the position rows of the FIRST phrase token, each row also
    carrying ``t1``/``t2`` columns naming the next two tokens (constants
    or a broadcast 1-row phrase relation). ``pos``: the position relation
    the follow-up legs read (pre-filter it to the phrase terms — the legs
    join on (doc_id, p±i), so their inputs should be term-sized)."""
    p1 = pos.select(
        F.col("doc_id").alias("d1"), F.col("p").alias("p1"), F.col("term").alias("term1")
    )
    p2 = pos.select(
        F.col("doc_id").alias("d2"), F.col("p").alias("p2"), F.col("term").alias("term2")
    )
    # (doc, position) equi-join keys so the planner hashes on both — the
    # adjacency is part of the join, not a post-join filter blowup
    return (
        leg0.join(
            p1,
            (F.col("d1") == F.col("doc_id"))
            & (F.col("p1") == F.col("p") + 1)
            & (F.col("term1") == t1),
        )
        .join(
            p2,
            (F.col("d2") == F.col("doc_id"))
            & (F.col("p2") == F.col("p") + 2)
            & (F.col("term2") == t2),
        )
        .select("doc_id", "p")
    )
