"""Physical-plan regression tests: the plan itself is under test.

Budgets here encode the 100-TB design review (SURVEY §4): filters must
reach the parquet scan, scans must read only needed columns, shuffle
counts must not creep, and no row-at-a-time Python may enter any hot
path. A change that keeps results correct but breaks the plan fails here.
"""

from __future__ import annotations

import pytest

from wd2sql_spark.plans.audit import plan_report
from wd2sql_spark.queries import load_all_modules

REGISTRY = load_all_modules()

# Streaming queries execute on construction (run_to_batch); auditing their
# final batch plan would just re-audit the memory sink. Everything else is
# auditable lazily.
BATCH = [n for n in sorted(REGISTRY) if not n.startswith("stream_")]


@pytest.fixture(scope="module")
def reports(spark, sf_dir):
    return {n: plan_report(REGISTRY[n].fn(spark, sf_dir)) for n in BATCH}


def test_no_row_at_a_time_python_anywhere(reports):
    """UDFs are the slow path; row-at-a-time Python is never acceptable.
    The Python that IS allowed (multimodal decode, LSH bucketing) must go
    through Arrow-batched eval."""
    offenders = [n for n, r in reports.items() if r.python_eval]
    assert offenders == []


def test_shuffle_census_counts_unique_nodes(spark, sf_dir):
    """A persisted relation consumed by several joins prints its build
    subtree (same node ids) once per reference in formatted explain; the
    census must count each exchange ONCE — they execute once (VERDICT r4
    task #6: the prefix-filter join read 18 by occurrence, 5 by node)."""
    from pyspark.sql import functions as F

    from wd2sql_spark.plans.audit import plan_report

    base = (
        spark.range(1000)
        .groupBy((F.col("id") % 7).alias("k"))
        .agg(F.count(F.lit(1)).alias("n"))
        .persist()
    )
    try:
        two_refs = base.alias("a").join(base.alias("b"), "k").join(base.alias("c"), "k")
        r = plan_report(two_refs)
        # one exchange for the groupBy (printed 3x) + at most the join's
        # own exchanges; occurrence-counting would read >= 3 for the agg alone
        occurrences = r.text.split("\n\n")[0].count("Exchange (")
        assert r.shuffles + r.broadcasts < occurrences
        import re

        uniq = set(re.findall(r"(?<!Reused)Exchange \((\d+)\)", r.text.split("\n\n")[0]))
        assert r.shuffles + r.broadcasts == len(uniq)
    finally:
        base.unpersist()


def test_multiway_join_plan(reports):
    r = reports["join_multiway_local_supplier_volume"]
    assert any("EqualTo(r_name,EUROPE)" in f for f in r.pushed_filters)
    assert any("o_orderdate" in f and "GreaterThanOrEqual" in f for f in r.pushed_filters)
    # lineitem scan must be pruned to exactly the join keys + measures.
    li = next(s for s in r.scans if "l_extendedprice" in s["columns"])
    assert set(li["columns"]) == {"l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"}


def test_flagship_pushdown_and_broadcast(reports):
    r = reports["flagship_semi_join_enrich"]
    assert any("EqualTo(r_name,ASIA)" in f for f in r.pushed_filters)
    assert r.broadcasts >= 2  # dims ship to the fact, fact never shuffles
    assert r.shuffles <= 1  # only the final global sort may exchange


def test_point_lookup_is_pure_scan(reports):
    r = reports["point_lookup_by_label"]
    # scan + (at most) one range exchange for the output sort — no joins.
    assert r.shuffles <= 1 and r.broadcasts == 0
    assert any("EqualTo" in f for f in r.pushed_filters)


def test_agg_single_shuffle(reports):
    # Partial (map-side) aggregation means ONE exchange on the group key;
    # the trailing sort of the tiny result may add one more.
    r = reports["agg_pricing_summary"]
    assert r.shuffles <= 2


def test_pandas_eval_only_where_declared(reports):
    """Arrow-batched Python appears exactly in the operators that genuinely
    need Python (multimodal decode stubs; batch model inference, whose
    whole point is an Arrow-batched scoring map); everything else stays
    JVM-side."""
    allowed_prefixes = ("multimodal_", "inference_")
    # r10: the repetition fold is a DECLARED Arrow stage — all three
    # Gopher metrics are row-local, so one mapInPandas replaces two
    # corpus-sized shuffles + a window + a join (guide §4.2; the SQL-HOF
    # one-pass form measured 5× slower in r9).
    allowed_names = {"quality_repetition_metrics"}
    for n, r in reports.items():
        if r.pandas_eval:
            assert n.startswith(allowed_prefixes) or n in allowed_names, n


def test_subq_exists_prunes_lineitem(reports):
    """The EXISTS semi-join must move only (l_orderkey, l_shipdate) —
    shipping full lineitem rows into a semi-join is the classic 100-TB
    regression."""
    r = reports["subq_exists_late_ship"]
    li = next(s for s in r.scans if "l_shipdate" in s["columns"])
    assert set(li["columns"]) == {"l_orderkey", "l_shipdate"}


def test_subq_in_agg_broadcasts_key_set(reports):
    """Q18 shape: the surviving HAVING key set is tiny and must ship as a
    broadcast into the semi-join, never shuffle the orders side for it."""
    r = reports["subq_in_agg_large_orders"]
    assert r.broadcasts >= 1
    li = next(s for s in r.scans if "l_quantity" in s["columns"])
    assert set(li["columns"]) == {"l_orderkey", "l_quantity"}


def test_pivot_shuffle_budget(reports):
    """df.pivot compiles to pre-agg on (key, pivot-col) → pivot-agg on key:
    the FIRST exchange collapses the fact, the second moves only
    |keys|×|pivot values| rows — both fine at scale. Budget: those two
    plus the output sort, and dims must broadcast (no fact-side join
    shuffle)."""
    r = reports["pivot_status_by_nation"]
    assert r.shuffles <= 3, r.shuffles
    assert r.broadcasts >= 1


def test_unpivot_is_narrow(reports):
    """Wide→long expand is per-row: no join, no aggregate — only the
    presentation sort may exchange."""
    r = reports["unpivot_part_measures"]
    assert r.shuffles <= 1 and r.broadcasts == 0


def test_ivf_assignment_stays_jvm_and_pruned(reports):
    """IVF: codebook is inlined (no join/shuffle for assignment), corpus
    scan reads only (vec_id, embedding), probe set broadcasts."""
    r = reports["sim_ivf_topk"]
    assert not r.pandas_eval and not r.python_eval
    assert r.broadcasts >= 1
    for s in r.scans:
        assert set(s["columns"]) <= {"vec_id", "embedding", "label"}, s


def test_pq_topk_stays_jvm_pruned_and_broadcast(reports):
    """PQ-ADC: codebook and LUTs are inlined literals (no join/shuffle to
    encode or score), the query side broadcasts, scans read only
    (vec_id, embedding), and only the top-k window + output sort may
    exchange — both carry k-sized relations."""
    r = reports["sim_pq_topk"]
    assert not r.pandas_eval and not r.python_eval
    assert r.broadcasts >= 1
    assert r.shuffles <= 2, r.shuffles
    for s in r.scans:
        assert set(s["columns"]) <= {"vec_id", "embedding"}, s


def test_bruteforce_topk_per_partition_topk(reports):
    """Exact brute-force cosine: broadcast queries x ONE corpus scan, and
    the per-query top-k must run as WindowGroupLimit (per-partition top-k
    before the exchange) so only ~k rows per partition per query reach the
    shuffle — not the full |corpus| x |queries| pair relation. A Spark
    upgrade that stops planning WindowGroupLimit would silently
    reintroduce the full pair shuffle; this pin catches it
    (operators/similarity.ranked_topk makes the claim)."""
    r = reports["sim_bruteforce_topk"]
    assert not r.pandas_eval and not r.python_eval
    assert r.broadcasts >= 1
    assert "WindowGroupLimit" in r.text
    assert r.shuffles <= 2, r.shuffles
    for s in r.scans:
        assert set(s["columns"]) <= {"vec_id", "embedding"}, s


def test_lsh_topk_bucket_join_budget(reports):
    """LSH ANN: hyperplane signs are inlined literals (bucketing is pure
    codegen arithmetic, no join), candidates join only within equal
    bucket keys, and the same WindowGroupLimit top-k applies."""
    r = reports["sim_lsh_topk"]
    assert not r.pandas_eval and not r.python_eval
    assert "WindowGroupLimit" in r.text
    for s in r.scans:
        assert set(s["columns"]) <= {"vec_id", "embedding"}, s


def test_pq_serving_never_reads_corpus_vectors(reports):
    """The serving PQ path's corpus side is the codes store (a
    materialized leaf, no embedding column in its rows): the ONLY parquet
    scan allowed to read `embedding` is the query side, identified by its
    pushed vec_id<3 filter. An unfiltered embedding scan appearing here
    means the corpus vectors leaked back into the serving plan — the exact
    regression this query exists to forbid (32x memory story,
    operators/similarity.pq_codes_store)."""
    r = reports["sim_pq_serving_topk"]
    assert not r.pandas_eval and not r.python_eval
    assert "ExistingRDD" in r.text  # the codes-only store leaf
    for s in r.scans:
        if "embedding" in s["columns"]:
            assert any("vec_id" in f and "LessThan" in f for f in s["pushed"]), s
    assert r.shuffles <= 2, r.shuffles


def test_int8_serving_never_reads_corpus_vectors(reports):
    """Same pin for the int8 serving twin: corpus side is the stored
    (id, int8 codes, norm) leaf; only the vec_id<3 query scan may touch
    the float vectors."""
    r = reports["sim_int8_serving_topk"]
    assert not r.pandas_eval and not r.python_eval
    assert "ExistingRDD" in r.text
    for s in r.scans:
        if "embedding" in s["columns"]:
            assert any("vec_id" in f and "LessThan" in f for f in s["pushed"]), s
    assert r.shuffles <= 2, r.shuffles


def test_ivfpq_prunes_lists_and_reads_codes_only(reports):
    """IVFADC composite: candidates come from a broadcast equi-join of
    |queries|*nprobe probe rows onto the codes store's cid column — never
    a cross join — and the corpus side is the codes leaf (no embedding
    column). Only the query-side vec_id<3 scan may read float vectors."""
    r = reports["sim_ivfpq_topk"]
    assert not r.pandas_eval and not r.python_eval
    assert "ExistingRDD" in r.text
    assert "CartesianProduct" not in r.text
    assert r.broadcasts >= 1
    for s in r.scans:
        if "embedding" in s["columns"]:
            assert any("vec_id" in f and "LessThan" in f for f in s["pushed"]), s


def test_hybrid_rrf_fuses_k_row_lists_only(reports):
    """RRF: the two runs keep their scale shapes (BM25: scan → one-row
    broadcast → TakeOrderedAndProject; cosine: broadcast query × scan →
    windowed top-k); every exchange beyond those moves k-row lists. The
    budget pins that no fact-sized join/shuffle crept into the fusion."""
    r = reports["retrieval_hybrid_rrf"]
    assert not r.pandas_eval and not r.python_eval
    assert r.broadcasts >= 2  # BM25 global stats + semantic query side
    assert r.shuffles <= 4, r.shuffles
    for s in r.scans:
        assert set(s["columns"]) <= {"doc_id", "text", "vec_id", "embedding"}, s


def test_hll_rollup_shuffles_sketches_not_keys(reports):
    """Mergeable-sketch rollup: the cell pass exchanges ~|cells| 2 KB
    sketches (partial hll_sketch_agg is map-side), the rollup exchanges
    |types| rows, and only the exact-twin scoring pass pays the distinct
    expand. Scans read exactly (ts, user_id, event_type)."""
    r = reports["agg_hll_sketch_rollup"]
    assert not r.pandas_eval and not r.python_eval
    assert r.shuffles <= 5, r.shuffles
    for s in r.scans:
        assert set(s["columns"]) <= {"ts", "user_id", "event_type"}, s


def test_layout_zorder_single_scan_two_shuffles(reports):
    """Layout audit: ONE orders scan (stats broadcast back, no collect),
    the Morton key pure codegen arithmetic, the 2x-explode bucket routing
    shuffling only 32 bucket keys' worth of span stats. Scans read exactly
    the two layout dimensions."""
    r = reports["layout_zorder_skipping"]
    assert not r.pandas_eval and not r.python_eval
    assert r.broadcasts >= 1  # the 1-row min/max stats relation
    assert r.shuffles <= 4, r.shuffles
    for s in r.scans:
        assert set(s["columns"]) <= {"o_custkey", "o_totalprice"}, s


def test_theta_sketch_map_side_combinable(reports):
    """Theta retention: the sketch agg exchanges two fixed-size sketches
    (partial theta_sketch_agg is map-side); the exact twin shuffles
    (user_id, 2 bits). Scans read exactly (user_id, ts, event_type) with
    the event filter pushed down."""
    r = reports["sketch_theta_retention_sets"]
    assert not r.pandas_eval and not r.python_eval
    assert any("purchase" in f for f in r.pushed_filters)
    assert r.shuffles <= 3, r.shuffles
    for s in r.scans:
        assert set(s["columns"]) <= {"user_id", "ts", "event_type"}, s


def test_bpe_encode_corpus_join_is_broadcast(reports):
    """BPE encode: the merge loop runs on the checkpointed vocab relation;
    the corpus is tokenized by ONE broadcast join of (doc_id, word) onto
    the encoded vocab, so the only corpus-sized exchange is the final
    per-doc aggregate."""
    r = reports["text_bpe_encode_stats"]
    assert not r.pandas_eval and not r.python_eval
    assert r.broadcasts >= 1  # encoded vocab onto the doc-word relation
    assert r.shuffles <= 2, r.shuffles


def test_countmin_shuffles_cells_not_keys(reports):
    """CMS: the sketch build's exchange carries at most d·w partial cells
    per map task (map-side combined), never the user_id key space; the
    probe join broadcasts the ≤ d·w cell table. The exact top-k audit
    pass pays the one genuine key shuffle. Scans read only user_id."""
    r = reports["sketch_countmin_heavy_hitters"]
    assert not r.pandas_eval and not r.python_eval
    assert r.broadcasts >= 2  # cells onto probes, 1-row total
    assert r.shuffles <= 5, r.shuffles
    for s in r.scans:
        assert set(s["columns"]) <= {"user_id"}, s


def test_batch_inference_is_shuffle_free_map(reports):
    """Batch inference: one Arrow-batched 1→1 map over the scan — no
    shuffle beyond the output sort, no row-at-a-time Python. Scans read
    exactly (doc_id, text)."""
    r = reports["inference_batch_scores"]
    assert not r.python_eval
    assert r.pandas_eval  # the Arrow model stage
    assert r.shuffles <= 1, r.shuffles
    for s in r.scans:
        assert set(s["columns"]) <= {"doc_id", "text"}, s


def test_phash_near_dup_banded_not_all_pairs(reports):
    """Perceptual-hash near-dup: ONE Arrow pass computes the hashes
    (pandas eval is the legitimate multimodal decode path); the candidate
    join is banded on 8-bit chunks, never all-pairs, and the hamming
    verify is JVM bit arithmetic."""
    r = reports["multimodal_phash_near_dup"]
    assert not r.python_eval
    assert r.pandas_eval  # the Arrow decode/hash stage
    assert r.shuffles <= 6, r.shuffles


def test_ks_drift_single_type_exchange(reports):
    """KS drift: per-(type, value) counts map-side combine, then ONE
    event_type exchange feeds both cumulative windows, the frame-less
    totals, and the max aggregate. Scans read exactly
    (event_type, value, ts)."""
    r = reports["profile_ks_drift"]
    assert not r.pandas_eval and not r.python_eval
    assert r.shuffles <= 4, r.shuffles
    for s in r.scans:
        assert set(s["columns"]) <= {"event_type", "value", "ts"}, s


def test_jl_projection_is_row_local(reports):
    """JL audit: the projection is a pure map (no exchange introduced by
    jl_project); the pair join broadcasts the 10-vector side. Scans read
    exactly (vec_id, embedding)."""
    r = reports["sim_jl_projection_audit"]
    assert not r.pandas_eval and not r.python_eval
    assert r.broadcasts >= 1
    assert r.shuffles <= 2, r.shuffles
    for s in r.scans:
        assert set(s["columns"]) <= {"vec_id", "embedding"}, s


def test_salted_join_is_sort_merge_not_broadcast(reports):
    """Salting is pointless under a broadcast: the hint must pin
    sort-merge, and the join key must carry the salt (verified by the
    result matching the unsalted oracle while the plan shows no
    BroadcastHashJoin on the fact path)."""
    r = reports["join_skew_salted"]
    assert "SortMergeJoin" in r.text
    assert "BroadcastHashJoin" not in r.text


def test_shipping_priority_is_take_ordered(reports):
    """Q3 shape: global top-10 must compile to TakeOrderedAndProject
    (per-partition top-k + 10-row driver merge), never a full sort; all
    three filters reach the scans; lineitem reads only keys + measures +
    the filter column."""
    r = reports["join_shipping_priority_topk"]
    assert "TakeOrderedAndProject" in r.text
    assert any("c_mktsegment" in f and "BUILDING" in f for f in r.pushed_filters)
    assert any("l_shipdate" in f and "GreaterThan" in f for f in r.pushed_filters)
    li = next(s for s in r.scans if "l_extendedprice" in s["columns"])
    assert set(li["columns"]) == {"l_orderkey", "l_extendedprice", "l_discount", "l_shipdate"}


def test_sessionize_single_data_shuffle(reports):
    """lag→flag→running-sum→agg: ONE hash exchange on user_id serves the
    window AND the (user_id, session_seq) aggregate (HashPartitioning on a
    subset satisfies the agg's clustered distribution); only the
    presentation sort may add a range exchange."""
    r = reports["sessionize_gap30m"]
    assert r.shuffles <= 2, r.shuffles
    assert r.broadcasts == 0
    for s in r.scans:
        assert set(s["columns"]) <= {"user_id", "ts", "event_id", "event_type", "value"}, s


def test_sessionize_skewsafe_bounded_exchanges(reports):
    """Two-level sessionization: the ONE fact-sized exchange is on
    (user_id, day) — skew bounded by events/user/day. Everything after
    moves per-bucket or per-session partials: the tiny user_id bucket
    window, the part↔bucket join, the final (user, session) merge agg,
    and the presentation sort. Budget: ≤5 exchanges total (vs ≤2 for the
    plain form, whose single exchange is unbounded per user), and the
    same pruned scan column set. The persisted session-bucket partial
    relation feeds two consumers, each re-clustering the SMALL partials
    for its own keys (bucket window, join, merge agg, final sort); the
    observed exchange count is 6-7 depending on whether the persist
    cache and AQE statistics from earlier queries in the session shift
    the join strategy, so the budget is 8 — far below a second
    fact-sized exchange would read, and the skew property itself is
    measured end-to-end in SCALE.md."""
    r = reports["sessionize_gap30m_skewsafe"]
    assert r.shuffles <= 8, r.shuffles
    for s in r.scans:
        assert set(s["columns"]) <= {"user_id", "ts", "event_id", "event_type", "value"}, s


def test_ntile_distribution_no_global_window(reports):
    """The global-rank distribution family must NOT plan a single-
    partition global window (VERDICT r4 #1 — the last weak-at-100× plan):
    rank comes from the range-repartition + prefix-sum technique
    (operators/ids_assign.global_order_rank) and ntile/cume_dist/
    percent_rank are row-local arithmetic over (rank, total). Budget:
    the _pid window exchange + the presentation sort; zero
    SinglePartition stages; scan pruned to the two needed columns."""
    r = reports["window_ntile_distribution"]
    assert "SinglePartition" not in r.text
    assert r.shuffles <= 2, r.shuffles
    for s in r.scans:
        assert set(s["columns"]) <= {"o_orderkey", "o_totalprice"}, s


def test_funnel_single_data_shuffle(reports):
    """Both nested window passes and the per-user aggregate share
    HashPartitioning(user_id); the trailing single-row global agg moves
    ~one row per partition. Budget: the user_id exchange plus the
    single-partition exchange for the final agg."""
    r = reports["funnel_view_click_purchase"]
    assert r.shuffles <= 2, r.shuffles
    assert r.broadcasts == 0
    for s in r.scans:
        assert set(s["columns"]) <= {"user_id", "ts", "event_id", "event_type"}, s


def test_retention_single_fact_shuffle(reports):
    """Cohort assignment rides ONE user_id exchange; the distinct-count
    agg on the tiny (cohort, offset) space adds its expand exchange, plus
    the output sort."""
    r = reports["retention_daily_cohorts"]
    assert r.shuffles <= 3, r.shuffles
    assert r.broadcasts == 0
    for s in r.scans:
        assert set(s["columns"]) <= {"user_id", "ts"}, s


def test_downsample_is_partial_final_agg(reports):
    """Hourly rollup: map-side combine then one exchange on (bucket, type);
    count_distinct adds its expand-rewrite exchange, plus the output sort."""
    r = reports["ts_downsample_hourly"]
    assert r.shuffles <= 3, r.shuffles
    assert r.broadcasts == 0


def test_every_scan_prunes_columns(reports):
    """No scan may read every column of a wide table when the query uses a
    few: documents has 8+ columns; text queries should read < all."""
    r = reports["text_token_stats"]
    for s in r.scans:
        assert len(s["columns"]) <= 6, s


def test_quality_family_plans(reports):
    """The quality-filter battery must stay text-in-scan-only: every query
    reads exactly (doc_id, text), keeps all hashing/stat arithmetic
    JVM-side, and stays within its shuffle budget (per-doc stats pay one
    corpus-sized exchange per independent statistic, never a pair join)."""
    for n, budget in (
        # r10: the repetition fold is ONE declared Arrow stage (all three
        # metrics are row-local); its only exchange is the scale-adaptive
        # input spread (spread_rows — a no-op on multi-split input).
        ("quality_repetition_metrics", 1),
        ("quality_oov_vocab", 4),           # token tf + vocab rank + doc agg (+ sort)
        ("quality_boilerplate_windows", 4), # window df + per-doc agg (+ sort)
    ):
        r = reports[n]
        assert r.read_columns == {"doc_id", "text"}, n
        if n == "quality_repetition_metrics":
            assert r.pandas_eval and not r.python_eval, n
        else:
            assert not r.python_eval and not r.pandas_eval, n
        assert r.shuffles <= budget, (n, r.shuffles)


def test_spread_rows_projects_and_spreads_only_narrow_sources(spark):
    """``spread_rows(src, *cols)`` yields exactly ``src.select(*cols)``.
    Over a 1-partition source it adds ONE hash exchange on doc_id to the
    session's default parallelism; over a source that already has that
    many partitions it adds none."""
    import re

    from pyspark.sql import functions as F

    from wd2sql_spark.operators.skew import spread_rows

    target = spark.sparkContext.defaultParallelism

    def src(parts: int):
        return spark.range(0, 64, numPartitions=parts).select(
            F.col("id").alias("doc_id"), F.lit("t").alias("text"), F.lit(0).alias("junk")
        )

    narrow = spread_rows(src(1), "doc_id", "text")
    assert narrow.columns == ["doc_id", "text"]
    r = plan_report(narrow)
    assert r.shuffles == 1
    assert re.findall(r"hashpartitioning\((\w+)#\d+L?, (\d+)\)", r.text) == [
        ("doc_id", str(target))
    ]
    wide = spread_rows(src(target), "doc_id", "text")
    assert wide.columns == ["doc_id", "text"]
    assert plan_report(wide).shuffles == 0


def test_warm_battery_pass_compiles_no_classes(spark, sf_dir):
    """Spark's generated-code cache holds the query battery's working set
    and keys it on sources that do not change from run to run
    (``spark.sql.codegen.cache.maxEntries`` and ``useIdInClassName`` in
    ``session.get_spark``): after one pass over the nine ``perfbench``
    battery queries, one more interleaved pass compiles no class. At
    Spark's default of 100 entries the nine queries' ~195 classes evict
    each other and every warm pass recompiles most of them; with stage ids
    in class names, AQE's stage numbering made some warm runs of
    ``semdedup_cluster_prune`` compile 2-4 classes again."""
    from bench import TPCH22, codegen_compiles

    battery = [TPCH22[n - 1] for n in (1, 3, 13, 21)] + [
        "flagship_semi_join_enrich",
        "sessionize_gap30m_skewsafe",
        "semdedup_cluster_prune",
        "join_basket_cooccurrence",
        "quality_repetition_metrics",
    ]

    def one_pass() -> dict[str, int]:
        compiled = {}
        for name in battery:
            before = codegen_compiles(spark)
            REGISTRY[name].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            compiled[name] = codegen_compiles(spark) - before
        return {name: n for name, n in compiled.items() if n}

    one_pass()
    assert one_pass() == {}


def test_decontam_broadcasts_eval_set(reports):
    """Decontamination: the eval shingle set ships broadcast (a benchmark
    suite is MBs — never shuffle the corpus for the membership probe);
    both scans are pruned to (doc_id, text); the corpus pays one doc_id
    aggregate, plus the eval distinct / pre-spread / output sort."""
    r = reports["decontam_ngram_overlap"]
    assert r.broadcasts >= 1
    assert r.shuffles <= 4
    for s in r.scans:
        assert set(s["columns"]) <= {"doc_id", "text"}, s


def test_scrub_is_narrow_single_agg(reports):
    """PII scrub: per-row regex work stays in whole-stage codegen; the
    only exchanges are the tiny per-source aggregate and the output
    sort. Nothing corpus-sized moves."""
    r = reports["scrub_pii_stats"]
    assert not r.python_eval and not r.pandas_eval
    assert r.broadcasts == 0
    assert r.shuffles <= 2
    for s in r.scans:
        assert set(s["columns"]) <= {"doc_id", "text", "source"}, s


def test_mix_weights_single_scan(reports):
    """Domain mixing: ONE corpus scan feeds the per-source aggregate; the
    grand total is a full-frame window over the tiny result (an agg+join
    total would re-derive the aggregate's input and scan the corpus
    twice). Exchanges: the per-source aggregate and the single-partition
    window."""
    r = reports["mix_domain_weights"]
    assert len(r.scans) == 1
    assert r.shuffles <= 3


def test_kmeans_assignment_is_rowlocal(reports):
    """K-means: each assignment ships the codebook as ONE broadcast row
    (argmin via array_min — no join/window/shuffle per vector); shuffles
    are only the per-update (cid, dim) aggregates + collects, the final
    stats aggregate, and the output sort. Budget 8 for the 2-iteration
    unroll — a creeping per-vector exchange would blow straight past it."""
    r = reports["cluster_kmeans_embeddings"]
    assert not r.python_eval and not r.pandas_eval
    assert r.broadcasts >= 2
    assert r.shuffles <= 8
    # the persisted quantized working set means the corpus is scanned ONCE
    # no matter how many iterations unroll.
    assert len(r.scans) == 1
    for s in r.scans:
        assert set(s["columns"]) <= {"vec_id", "embedding"}, s


def test_chunking_is_narrow(reports):
    """Chunking must behave like a projection: sequence/posexplode/
    substring all run inside codegen with no exchange — the only
    shuffle allowed is the presentation ORDER BY. A second shuffle
    would mean the fan-out started moving data."""
    r = reports["chunk_docs_overlap"]
    assert not r.python_eval and not r.pandas_eval
    assert r.shuffles <= 1 and r.broadcasts == 0
    assert len(r.scans) == 1
    for s in r.scans:
        assert set(s["columns"]) <= {"doc_id", "text", "n_chars"}, s


def test_packing_single_shard_exchange(reports):
    """Per-shard packing pays ONE data exchange (hash by shard for the
    running-sum window); the per-shard aggregate must reuse that
    partitioning, leaving only the presentation sort."""
    r = reports["pack_sequences_bins"]
    assert not r.python_eval and not r.pandas_eval
    assert r.shuffles <= 2, r.shuffles
    assert len(r.scans) == 1
    for s in r.scans:
        assert set(s["columns"]) <= {"doc_id", "text"}, s


def test_semdedup_blocks_by_cluster(reports):
    """SemDeDup's centroid assignment is the k-means row-local broadcast
    (no per-vector exchange); the pairwise stage may shuffle only on the
    cluster block key plus the roll-up joins/sort. All arithmetic stays
    JVM-side."""
    r = reports["semdedup_cluster_prune"]
    assert not r.python_eval and not r.pandas_eval
    assert r.broadcasts >= 1
    assert r.shuffles <= 5, r.shuffles
    for s in r.scans:
        assert set(s["columns"]) <= {"vec_id", "embedding"}, s


def test_market_share_dims_broadcast(reports):
    """Q8 shape: part/nation/region/supplier chains broadcast; the shuffle
    budget covers lineitem⋈orders + the customer semi-join + the year agg
    + the output sort — never a fact-fact exchange beyond those."""
    r = reports["join_market_share"]
    assert any("EqualTo(p_type,PROMO)" in f for f in r.pushed_filters)
    assert any("EqualTo(r_name,ASIA)" in f for f in r.pushed_filters)
    assert r.broadcasts >= 4
    assert r.shuffles <= 4, r.shuffles


def test_profit_like_filter_prunes_before_join(reports):
    """Q9 shape: the p_name LIKE filter must reach the part scan (as a
    Contains pushdown) so the fact join sees a pre-pruned dim; two
    exchanges max (group agg + output sort)."""
    r = reports["join_profit_by_nation_year"]
    assert any("StringContains(p_name,widget)" in f for f in r.pushed_filters)
    assert r.shuffles <= 2, r.shuffles
    assert not r.python_eval and not r.pandas_eval


def test_custdist_priority_filter_pushed_into_join_side(reports):
    """Q13 shape: the priority predicate lives in the OUTER JOIN condition
    but must still push to the orders scan; two aggregate exchanges
    (custkey, c_count) plus the sort."""
    r = reports["agg_customer_order_distribution"]
    assert any("Not(EqualTo(o_orderpriority,4-NOT SPECIFIED))" in f for f in r.pushed_filters)
    assert r.shuffles <= 3, r.shuffles


def test_promo_ratio_no_keyed_shuffle(reports):
    """Q14 shape: a global conditional-sum ratio needs NO keyed exchange —
    partial per partition, single-partition final only. Date window pushed
    to the lineitem scan."""
    r = reports["agg_promo_revenue_ratio"]
    assert any("l_shipdate" in f and "GreaterThanOrEqual" in f for f in r.pushed_filters)
    assert r.shuffles <= 1, r.shuffles
    assert r.broadcasts >= 1  # part dim ships to the fact


def test_sales_opportunity_anti_join_prefiltered(reports):
    """Q22 shape: the urgent-priority filter pushes to the orders scan
    BEFORE the anti-join; the 1-row cutoff broadcasts; orders contributes
    only o_custkey to the join."""
    r = reports["subq_sales_opportunity_antijoin"]
    assert any("EqualTo(o_orderpriority,1-URGENT)" in f for f in r.pushed_filters)
    assert r.broadcasts >= 2  # scalar cutoff + anti-join key set (at test SF)
    assert r.shuffles <= 3, r.shuffles


def test_segment_dedup_text_in_scan_only(reports):
    """The C4-style removal operator reads exactly (doc_id, text), keeps
    all hashing JVM-side, and pays at most: digest frequency agg, the
    digest⋈segment join, the doc_id rebuild agg, and the output sort."""
    r = reports["quality_segment_dedup_rebuild"]
    assert r.read_columns == {"doc_id", "text"}
    assert not r.python_eval and not r.pandas_eval
    assert r.shuffles <= 4, r.shuffles


def test_forecast_revenue_pure_scan_agg(reports):
    """Q6 shape: every predicate (date window, discount band, quantity
    cap) reaches the parquet scan, no join anywhere, and the only
    exchange is the single-partition final aggregate."""
    r = reports["agg_forecast_revenue"]
    assert any("l_shipdate" in f and "GreaterThanOrEqual" in f for f in r.pushed_filters)
    assert any("l_discount" in f and "LessThanOrEqual" in f for f in r.pushed_filters)
    assert any("LessThan(l_quantity,24" in f for f in r.pushed_filters)
    assert r.shuffles <= 1 and r.broadcasts == 0, (r.shuffles, r.broadcasts)


def test_priority_check_quarter_pushed_to_orders(reports):
    """Q4 shape: the quarter window pushes to the orders scan; the EXISTS
    becomes one semi-join (the filtered quarter broadcasts at test SF) and
    the tiny priority histogram adds at most one keyed exchange + sort."""
    r = reports["subq_order_priority_check"]
    assert any("o_orderdate" in f and "GreaterThanOrEqual" in f for f in r.pushed_filters)
    assert r.shuffles <= 2, r.shuffles


def test_supply_value_single_fact_pass(reports):
    """Q11 shape: ONE pass over lineitem (nation agg); the global total
    is a window-sum OVER the per-nation aggregate, so the only exchanges
    are the nation agg and the ≤25-row single-partition window — no
    duplicated fact subtree, no 1-row broadcast build."""
    r = reports["subq_important_supply_value"]
    assert r.broadcasts == 2, r.broadcasts  # supplier, nation — nothing else
    assert r.shuffles <= 2, r.shuffles


def test_ship_priority_modes_single_join_shuffle(reports):
    """Q12 shape: date window pushed to the lineitem scan; the
    orders⋈lineitem join plus the two-group CASE-count agg fit in two
    exchanges."""
    r = reports["agg_ship_priority_modes"]
    assert any("l_shipdate" in f and "LessThan" in f for f in r.pushed_filters)
    assert r.shuffles <= 2, r.shuffles


def test_top_supplier_exchange_budget(reports):
    """Q15 shape: revenue agg (reused across the argmax branch at
    runtime), the 1-row MAX broadcast, supplier broadcast, output sort."""
    r = reports["subq_top_supplier_revenue"]
    assert any("l_shipdate" in f and "GreaterThanOrEqual" in f for f in r.pushed_filters)
    assert r.broadcasts >= 2
    assert r.shuffles <= 4, r.shuffles


def test_supplier_variety_filters_reach_part_scan(reports):
    """Q16 shape: brand/type/size predicates push into the part scan; the
    excluded supplier set is a broadcast anti-join (no shuffle); distinct
    count pays its two-phase exchange + sort."""
    r = reports["agg_supplier_variety"]
    assert any(f.startswith("In(p_size") for f in r.pushed_filters)
    assert any("Not(EqualTo(p_brand,Brand#1))" in f for f in r.pushed_filters)
    assert r.shuffles <= 3, r.shuffles


def test_small_quantity_stats_broadcast_back(reports):
    """Q17 shape: the per-part (sum_qty, cnt) stats aggregate once on
    l_partkey and broadcast back into a single lineitem pass; the global
    revenue agg is the only other exchange."""
    r = reports["subq_small_quantity_revenue"]
    assert any("EqualTo(p_brand,Brand#3)" in f for f in r.pushed_filters)
    assert r.broadcasts >= 2
    assert r.shuffles <= 2, r.shuffles


def test_excess_share_single_aggregation_chain(reports):
    """Q20 shape: the part-name prefix pushes to the part scan; ONE
    (suppkey, partkey) aggregation feeds both the share numerator and the
    re-aggregated per-part total (ReusedExchange at runtime); distinct +
    sort close the budget."""
    r = reports["subq_excess_share_suppliers"]
    assert any("StringStartsWith(p_name,blue)" in f for f in r.pushed_filters)
    assert r.broadcasts >= 3
    assert r.shuffles <= 5, r.shuffles


def test_dsir_scoring_is_narrow_topk(reports):
    """DSIR importance resampling: both fitted models are inlined literal
    lookup tables, so the scored relation is ONE narrow corpus scan (plus
    the session-cache persist) and the top-k is a TakeOrderedAndProject —
    no corpus-sized shuffle anywhere in the plan. The fits themselves run
    at build time (two tiny collect jobs) and never appear in the query
    plan."""
    r = reports["sample_dsir_importance"]
    assert r.shuffles == 0
    assert r.broadcasts == 0
    assert not r.pandas_eval and not r.python_eval


def test_waterfill_single_corpus_aggregate(reports):
    """Water-filling budget allocation: the corpus contributes exactly one
    map-side-combined per-language aggregate; every later step (prefix
    sums, saturation flags, allocation) runs on the |langs|-row policy
    relation. Budget: the aggregate exchange + the tiny single-partition
    windows and the presentation sort."""
    r = reports["mix_token_budget_waterfill"]
    assert len(r.scans) == 1
    assert r.shuffles <= 4


def test_phrase_match_legs_are_term_filtered(reports):
    """Exact phrase retrieval: the trigram argmax is one aggregate +
    1-row TakeOrdered; the three positional legs join on
    (doc_id, position±i) AFTER term filters, so no corpus-sized join
    input exists. Budget: the argmax exchange + three leg joins + the
    doc-level aggregate and presentation sort (the census varies ±1 with
    whether the persisted term-position extract is already cached)."""
    r = reports["retrieval_phrase_match"]
    assert r.shuffles <= 10
    assert not r.pandas_eval and not r.python_eval
    # the real scale claim: only doc_id/text reach any corpus scan
    for s in r.scans:
        assert set(s["columns"]) <= {"doc_id", "text"}


def test_split_leakage_reuses_dedup_machinery(reports):
    """The leakage-safe split's fact-sized work is the dedup candidate
    join + closure it shares with dedup_cluster_components; the per-doc
    split/audit adds only broadcast joins."""
    r = reports["split_leakage_safe"]
    assert r.broadcasts >= 2
    assert not r.pandas_eval and not r.python_eval
