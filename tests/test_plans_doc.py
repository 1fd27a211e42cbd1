"""PLANS.md freshness: regenerate in-memory and compare to the checked-in
file, so the plan inventory can't drift from the code (same contract as
tests/test_coverage_doc.py)."""

from __future__ import annotations

import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_plans_md_is_fresh(spark):
    import difflib

    from tools.gen_plans import build_doc

    with open(os.path.join(REPO, "PLANS.md")) as f:
        on_disk = f.read()
    built = build_doc(spark)
    if built != on_disk:
        diff = "\n".join(
            difflib.unified_diff(
                on_disk.splitlines(), built.splitlines(), "PLANS.md", "regenerated", lineterm=""
            )
        )
        raise AssertionError(
            "PLANS.md is stale — run `python tools/gen_plans.py`\n" + diff
        )
