"""Generate PLANS.md: the physical-plan inventory of the bench headline
queries.

For each query in ``bench.HEADLINE``, record the plan facts the 100-TB
design review cares about (SURVEY §4): shuffle count, broadcast count,
filters pushed into the parquet scans, columns actually read, and whether
any Python (row-at-a-time or Arrow-batched) appears in the plan. This is
the same evidence tests/test_plan_audit.py asserts budgets over, rendered
as a document so a reviewer can see the plan story without running Spark.

Plans are built lazily against sf0.001 (plan shape is SF-independent;
only AQE's runtime join demotions differ, and those are not recorded
here). ``tests/test_plans_doc.py`` regenerates in-memory and fails if the
checked-in file is stale.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF = "/root/testdata/sf0.001"


def build_doc(spark) -> str:
    from bench import HEADLINE
    from wd2sql_spark.plans.audit import plan_report
    from wd2sql_spark.queries import load_all_modules

    # Plans must be COLD-cache: once any overlapping plan fragment is
    # persisted (e.g. the minhash signature relation after another test
    # materializes it), CacheManager substitutes InMemoryRelation and the
    # Exchange census shifts — the same query reported 6 shuffles cold and
    # 9 under a warm cache. Clearing the catalog cache pins the documented
    # plan to the reproducible cold shape regardless of suite ordering.
    # The session memo must reset too: a memo HIT skips the
    # persist() a fresh build performs, and the persisted-vs-not subtree
    # plans differently (5 vs 4 unique shuffles on the prefix-filter join).
    from wd2sql_spark.session_cache import clear_all_session_caches

    spark.catalog.clearCache()
    clear_all_session_caches()
    reg = load_all_modules()
    lines = [
        "# PLANS — physical-plan inventory of the bench headline set",
        "",
        "Generated by `python tools/gen_plans.py` (lazy plans at sf0.001);",
        "`tests/test_plans_doc.py` keeps it fresh. Budgets over these same",
        "numbers are asserted in tests/test_plan_audit.py; this file is the",
        "human-readable evidence. `shuffles` counts UNIQUE shuffle-Exchange",
        "nodes in the plan (including the final output sort's range",
        "exchange) — formatted explain re-prints a shared persisted subtree",
        "once per consumer with the same node ids, and those exchanges",
        "execute once, so occurrences would overstate the work (the",
        "prefix-filter join printed 18 where 5 distinct exchanges run);",
        "ReusedExchange references are excluded for the same reason.",
        "`broadcasts` counts unique BroadcastExchange; `python` is any",
        "row-at-a-time Python eval (always none) and `pandas` any",
        "Arrow-batched eval.",
        "",
        "Note on the bench-tail `WindowExec: No Partition Defined` WARNs:",
        "they come from rank windows applied AFTER a `limit(k)` (e.g. the",
        "RRF fusion of two k-row runs, llm_retrieval.py, and the top-k",
        "keyword slice, llm_text.py), where the single partition sees only",
        "the k survivor rows — constant-size by construction, not a scale",
        "hazard. The one true global-order query (window_ntile_distribution)",
        "computes its rank distributively instead (operators/ids_assign.py)",
        "and plans NO SinglePartition stage (tests/test_plan_audit.py).",
        "",
        "| query | shuffles | broadcasts | python | pandas | scan columns | pushed filters (beyond IsNotNull) |",
        "|---|---|---|---|---|---|---|",
    ]
    for name in HEADLINE:
        q = reg.get(name)
        if q is None:
            continue
        if name.startswith("stream_"):
            # streaming queries execute on construction (run_to_batch);
            # their final DataFrame is the memory sink, whose plan says
            # nothing about the streaming pipeline — skip, like
            # tests/test_plan_audit.py's BATCH filter
            continue
        r = plan_report(q.fn(spark, SF))
        pushed = sorted(
            {f for f in r.pushed_filters if not f.startswith("IsNotNull")}
        )
        cols = ", ".join(sorted(r.read_columns))
        lines.append(
            "| {n} | {s} | {b} | {py} | {pd} | {c} | {p} |".format(
                n=name,
                s=r.shuffles,
                b=r.broadcasts,
                py="yes" if r.python_eval else "—",
                pd="yes" if r.pandas_eval else "—",
                c=cols if len(cols) <= 120 else cols[:117] + "…",
                p="; ".join(pushed) if pushed else "—",
            )
        )
    lines.append("")
    return "\n".join(lines)


def main() -> None:
    from wd2sql_spark.session import get_spark

    doc = build_doc(get_spark("gen-plans"))
    out = os.path.join(REPO, "PLANS.md")
    with open(out, "w") as f:
        f.write(doc)
    print(f"wrote {out} ({len(doc.splitlines())} lines)")


if __name__ == "__main__":
    main()
