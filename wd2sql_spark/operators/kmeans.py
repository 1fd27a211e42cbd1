"""Integer-exact Lloyd iterations — the shared k-means kernel.

One definition of quantize / assign / update, used by BOTH the k-means
battery queries (queries/llm_cluster.py) and ANN codebook training
(operators/similarity.train_codebooks, which trains the IVF codebook and
every PQ subspace as one chain keyed by book), so the two cannot drift.
The determinism playbook (see llm_cluster's module
docstring for the full argument): components quantize to exact integers,
distances are integer folds, the centroid update is a half-up integer
division over a non-negative domain (Spark ``div`` truncates toward
zero, DuckDB ``//`` floors — they agree only for non-negative operands,
hence the OFFSET), and argmins tie-break to the lowest cid. Both engines
take bit-identical branches at every step, so a DuckDB oracle can
re-derive the trained result exactly.

Grouping key: ``assign_int``, ``update_int`` and ``lloyd_centroids``
take an optional ``key`` column naming independent codebooks. With a key,
a vector is assigned only among its own key's centroids and each update
groups by (key, cid), so B codebooks train in one chain exactly as B
separate runs would; without one, the plan is the single-codebook plan.

Scale shape: assignment is ROW-LOCAL (the k centroids travel as one
broadcast row of (cid, vector) structs per key; each vector folds its
distance to all k inline — no shuffle of the corpus); each update is one
(cid, dim) hash aggregate with map-side partials plus a k-row
collect_list. An iteration costs O(1) shuffles regardless of corpus size.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

SCALE = 1_000_000
# Components live in ~[-0.6, 0.6]; the offset makes every quantized value
# positive so the half-up integer division needs no sign handling.
# Distances are invariant to a common offset.
OFFSET = 1_000_000


def iv_quantize(col: Column) -> Column:
    """array<long> quantized components: round(x·10⁶) + OFFSET."""
    return F.transform(
        col, lambda x: F.round(x.cast("double") * SCALE, 0).cast("long") + OFFSET
    )


def sqdist_int(a: Column, b: Column) -> Column:
    """Σ (aᵢ−bᵢ)² as an exact integer fold."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def assign_int(vecs: DataFrame, cent: DataFrame, key: str | None = None) -> DataFrame:
    """(vec_id, iv) × centroids(cid, c) → (vec_id, iv, cid, dist).

    The centroid relation collapses to ONE row carrying a sorted array of
    structs, broadcast onto the corpus; per-vector argmin is ``array_min``
    over (dist, cid) structs — lexicographic min = smallest distance,
    ties to the lowest cid, matching a SQL twin's ``ORDER BY dist, cid``
    rank. With ``key``, both inputs carry that column, the centroids
    collapse to one row per key, and the broadcast joins on it."""
    keys = [key] if key else []
    cent_row = cent.groupBy(*keys).agg(
        F.array_sort(F.collect_list(F.struct("cid", "c"))).alias("cents")
    )
    scored = F.transform(
        F.col("cents"),
        lambda c: F.struct(
            sqdist_int(F.col("iv"), c["c"]).alias("dist"), c["cid"].alias("cid")
        ),
    )
    amin = F.array_min(scored)
    cent_b = F.broadcast(cent_row)
    joined = vecs.join(cent_b, key) if key else vecs.crossJoin(cent_b)
    return joined.select(
        *keys, "vec_id", "iv", amin["cid"].alias("cid"), amin["dist"].alias("dist")
    )


def update_int(assigned: DataFrame, key: str | None = None) -> DataFrame:
    """Per-cluster centroid: half-up rounded per-dim mean, entirely in
    integer arithmetic — c = (2·Σv + n) div (2·n), exact and identical in
    both engines for the non-negative quantized values. With ``key``,
    clusters are (key, cid)."""
    keys = [key] if key else []
    dims = assigned.select(*keys, "cid", F.posexplode("iv").alias("dim", "v"))
    per = dims.groupBy(*keys, "cid", "dim").agg(
        F.count(F.lit(1)).alias("n"), F.sum("v").alias("s")
    )
    c = F.call_function(
        "div", F.lit(2) * F.col("s") + F.col("n"), F.lit(2) * F.col("n")
    )
    return (
        per.select(*keys, "cid", "dim", c.alias("c"))
        .groupBy(*keys, "cid")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "c"))), lambda t: t["c"]
            ).alias("c")
        )
    )


def lloyd_centroids(
    vecs: DataFrame, seeds: DataFrame, iters: int, key: str | None = None
) -> DataFrame:
    """``iters`` unrolled Lloyd rounds from ``seeds(cid, c)`` over
    ``vecs(vec_id, iv)`` → the final integer centroid relation (cid, c),
    or (key, cid, c) with one independent chain per ``key`` value.

    An emptied cluster KEEPS its previous centroid (LEFT JOIN + coalesce)
    so the codebook never shrinks — with small corpora and k=16 a seed
    can lose every member after the first reassignment, and both engines
    must agree on what that cluster's centroid is afterwards."""
    keys = [key] if key else []
    cent = seeds
    for _ in range(iters):
        upd = update_int(assign_int(vecs, cent, key).drop("dist"), key)
        cent = (
            cent.alias("p")
            .join(upd.alias("u"), [*keys, "cid"], "left")
            .select(*keys, "cid", F.coalesce(F.col("u.c"), F.col("p.c")).alias("c"))
        )
    return cent
