"""Workload ``query_battery``: a timed pass over registered queries.

The battery is four of the TPC-H shapes (``bench.TPCH22``) and five
queries of the heavy LLM/operator core (``bench.HEADLINE``), run over
seeded tables at scale :data:`SF`. Each timed operation builds one query
and forces it with a ``noop`` write; its work unit is one query, so
``work_per_s`` reads as queries per second. No ETL code runs here.

Set-up touches every table through ``catalog.table`` and runs the cold
pass: each query once, collected, and compared with its registered DuckDB
oracle under ``tests/oracle_check.compare``'s rules. After the timed
passes every query is collected and compared once more, so an answer that goes wrong only once the ``catalog`` and
``session_cache`` memos are warm is caught too. A query whose answer
differs in either check counts every one of its runs as failed.

The traced run alternates traced and untraced runs of each query (for
``trace.overhead_ratio``), splits each traced run into Python build,
Catalyst planning and execution with Spark's job, stage, task, shuffle
and GC counts, and then drives the streaming admission loop
(``streaming.admission.admit_batch``) over the ``documents`` table: the
base corpus in md5-bucketed drops, checked against the
``dedup_admission_evolution`` oracle, then one seeded token-salted replica.
"""

from __future__ import annotations

import os
import random
import statistics
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gen
from harness import Run
from spans import SparkProbe

SF = 0.01
SALTED_DROP_DOCS = 700
# Every query's first run pays codegen and JIT (≈1.35 s cold against
# ≈0.66 s warm per query on a 4-core host), and each run of the battery
# runs every query four times (cold, warm, timed, checked), so the battery
# is a subset sized to keep a whole run under a minute: four TPC-H shapes
# (scan-aggregate, join chain with top-k, outer join, EXISTS/NOT EXISTS
# subqueries) and five heavy queries (semi-join enrichment,
# sessionization, embedding dedup, basket co-occurrence, the Arrow
# repetition pass). MinHash dedup and PageRank cost ≈9 s of cold start
# together; the traced run's admission drops cover the MinHash operator.
TPCH_NUMBERS = (1, 3, 13, 21)
HEAVY = (
    "flagship_semi_join_enrich",
    "sessionize_gap30m_skewsafe",
    "semdedup_cluster_prune",
    "join_basket_cooccurrence",
    "quality_repetition_metrics",
)


def battery() -> tuple[tuple[str, ...], tuple[str, ...]]:
    from bench import HEADLINE, TPCH22

    missing = set(HEAVY) - set(HEADLINE)
    if missing:
        raise ValueError(f"not in bench.HEADLINE: {sorted(missing)}")
    return tuple(TPCH22[n - 1] for n in TPCH_NUMBERS), HEAVY


def prepare(run: Run) -> dict:
    d, _ = gen.cached(run.inputs, f"tables-s{run.seed}-sf{SF}", lambda p: gen.write_tables(p, run.seed, SF))
    return {"sf": os.path.join(d, "tables")}


class _Collected:
    """The Spark side of ``oracle_check.compare`` as already-collected
    rows, so the comparison runs without executing the query again."""

    def __init__(self, df) -> None:
        self.columns = list(df.columns)
        self.schema = df.schema
        self._rows = df.collect()

    def collect(self):
        return self._rows


def execute(run: Run, spark, inputs: dict) -> None:
    from tests.oracle_check import compare
    from wd2sql_spark.catalog import TABLES, table
    from wd2sql_spark.queries import load_all_modules

    sf = inputs["sf"]
    tpch, heavy = battery()
    family = {**{n: "tpch" for n in tpch}, **{n: "llm" for n in heavy}}
    registry = load_all_modules()
    tr = run.tracer

    def force(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    miss, hit = [], []
    for name in TABLES:
        with tr.span("catalog.table", op=f"miss-{name}"):
            t = time.perf_counter()
            table(spark, sf, name)
            miss.append(time.perf_counter() - t)
        with tr.span("catalog.table", op=f"hit-{name}"):
            t = time.perf_counter()
            table(spark, sf, name)
            hit.append(time.perf_counter() - t)
    run.layers["catalog.table_miss_s"] = statistics.median(miss)
    run.layers["catalog.table_hit_s"] = statistics.median(hit)

    def checked(name: str) -> tuple[float, bool]:
        """Run ``name`` once, collected; compare it with its oracle."""
        q = registry[name]
        t = time.perf_counter()
        got = _Collected(q.fn(spark, sf))
        dt = time.perf_counter() - t
        with run.excluded():
            res = compare(name, got, q.oracle, sf)
        return dt, run.check(res.ok, f"{name} differs from its DuckDB oracle: {res.errors[:3]}")

    correct: dict[str, bool] = {}
    for name in family:
        dt, correct[name] = checked(name)
        run.record(f"cold:{name}", dt, correct[name], timed=False)

    order = list(family)
    random.Random(run.seed).shuffle(order)
    # No untimed warm pass: the timed pass is each query's second run. On a
    # 4-core host that run is ≈1.1x its third on average (0.9-1.3x from run
    # to run, mostly noise); one more untimed run per query would add ≈9 s
    # to every run, which a benchmark pass repeats twenty-odd times.
    probe = SparkProbe(spark) if run.traced else None
    samples: dict[str, dict[str, list[float]]] = {"traced": {}, "untraced": {}}
    layer: dict[str, list[float]] = {}

    def note(key: str, value: float) -> None:
        layer.setdefault(key, []).append(value)

    # Whole passes only, so every run weighs each query the same.
    min_passes = 2 if run.traced else 1
    t0 = run.start_timed()
    p = 0
    while p < min_passes or time.perf_counter() - t0 < run.seconds:
        for i, name in enumerate(order):
            q = registry[name]
            traced = run.traced and (i + p) % 2 == 0
            if not traced:
                t = time.perf_counter()
                force(q.fn(spark, sf))
                dt = time.perf_counter() - t
            else:
                fam = family[name]
                t = time.perf_counter()
                with tr.span("query", op=f"{name}-{p}"):
                    with tr.span("queries.build"), probe.group(f"build-{name}") as g_build:
                        tb = time.perf_counter()
                        df = q.fn(spark, sf)
                        build_s = time.perf_counter() - tb
                    # Catalyst planning of the query alone. The noop write
                    # builds its own QueryExecution and plans the query
                    # again, so exec_s holds that second planning, as the
                    # untraced run does; plan_s is extra work here and is
                    # left out of the op's time.
                    with tr.span("spark.plan"):
                        tp = time.perf_counter()
                        df._jdf.queryExecution().executedPlan()
                        plan_s = time.perf_counter() - tp
                    with tr.span("spark.exec"), probe.group(f"exec-{name}") as g_exec:
                        te = time.perf_counter()
                        force(df)
                        exec_s = time.perf_counter() - te
                dt = time.perf_counter() - t - plan_s
                b, s = probe.stats(g_build), probe.stats(g_exec)
                note("queries.build_s", build_s)
                note("queries.build_jobs", b.jobs)
                note(f"spark.{fam}.plan_s", plan_s)
                note(f"spark.{fam}.exec_s", exec_s)
                note(f"spark.{fam}.jobs", s.jobs)
                note(f"spark.{fam}.stages", s.stages)
                note(f"spark.{fam}.tasks", s.tasks)
                note(f"spark.{fam}.shuffle_write_mb", s.shuffle_write_bytes / 1e6)
                note(f"spark.{fam}.gc_s", s.gc_ms / 1e3)
                note(f"spark.{fam}.failed_tasks", s.failed_tasks)
            samples["traced" if traced else "untraced"].setdefault(name, []).append(dt)
            run.record(name, dt, correct[name], batch=p)
        p += 1

    for name in order:
        dt, ok = checked(name)
        run.record(f"check:{name}", dt, ok, timed=False)
        if not ok:
            run.fail(name)

    if not run.traced:
        return
    # Means per query: a count summed over a family's queries and divided
    # by how many ran, so a change to one query moves its family's figure.
    run.layers.update({k: statistics.fmean(v) for k, v in layer.items()})
    both = [n for n in order if n in samples["traced"] and n in samples["untraced"]]
    if both:
        run.layers["trace.overhead_ratio"] = sum(statistics.fmean(samples["traced"][n]) for n in both) / sum(
            statistics.fmean(samples["untraced"][n]) for n in both
        )
    from wd2sql_spark.session_cache import cached_relation_count

    run.layers["session_cache.cached_relations"] = cached_relation_count(spark)
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    run.layers["session_cache.storage_mb"] = sum(i.memSize() + i.diskSize() for i in infos) / 1e6
    _admission(run, spark, probe, sf)


def _admission(run: Run, spark, probe: SparkProbe, sf: str) -> None:
    """Sequential admission drops into one LSH store: the base corpus
    split like ``dedup_admission_evolution`` (checked against its oracle),
    then one token-salted replica that shares no shingle with it."""
    import duckdb
    from pyspark.sql import functions as F

    from wd2sql_spark.operators.dedup import minhash_band_index
    from wd2sql_spark.queries.llm_dedup import ADMIT_DROPS, ADMIT_T, _admission_oracle
    from wd2sql_spark.queries.llm_sampling import md5_bucket
    from wd2sql_spark.streaming.admission import admit_batch

    store = os.path.join(run.tmp, "lsh")
    docs = spark.read.parquet(os.path.join(sf, "documents.parquet")).select("doc_id", "text")
    drops = [docs.filter(md5_bucket(F.col("doc_id"), ADMIT_DROPS) == b) for b in range(ADMIT_DROPS)]
    salted = os.path.join(run.tmp, "salted.parquet")
    rng = np.random.default_rng(run.seed)
    pq.write_table(pa.table(gen.documents(rng, SALTED_DROP_DOCS, first_id=10_000_000, salt="salt")), salted)
    drops.append(spark.read.parquet(salted).select("doc_id", "text"))

    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf}/documents.parquet')")
    want: dict[int, list[int]] = {}
    for doc_id, drop_id in con.sql(_admission_oracle()).fetchall():
        want.setdefault(drop_id, []).append(doc_id)
    con.close()

    batch_s, band_s, jobs, ratios = [], [], [], []
    for b, drop in enumerate(drops):
        offered = drop.count()
        with run.tracer.span("operators.minhash_band_index", op=f"drop-{b}"):
            t = time.perf_counter()
            minhash_band_index(drop, k=16, band_size=4, n=3).write.format("noop").mode("overwrite").save()
            band_s.append(time.perf_counter() - t)
        with run.tracer.span("streaming.admit_batch", op=f"drop-{b}"), probe.group(f"admit-{b}") as gid:
            t = time.perf_counter()
            ids = admit_batch(drop, store, min_est_jaccard=ADMIT_T)
            dt = time.perf_counter() - t
        batch_s.append(dt)
        jobs.append(probe.stats(gid).jobs)
        ratios.append(len(ids) / offered)
        # Base drops must match the oracle; the salted replica shares no
        # shingle with anything before it, so only its own near-dups drop.
        ok = ids == sorted(want.get(b, [])) if b < ADMIT_DROPS else 0 < len(ids) < offered
        run.record("admit_batch", dt, run.check(ok, f"admission drop {b} admitted {len(ids)} of {offered}"), timed=False)
    files = [os.path.join(d, n) for d, _, names in os.walk(store) for n in names if n.endswith(".parquet")]
    run.layers.update(
        {
            "operators.minhash_band_index_s": statistics.median(band_s),
            "streaming.admit_batch_s": statistics.median(batch_s),
            "streaming.jobs_per_batch": statistics.median(jobs),
            "streaming.admit_ratio": statistics.fmean(ratios),
            "sinks.lsh_store_mb": sum(map(os.path.getsize, files)) / 1e6,
            "sinks.store_files": len(files),
        }
    )
