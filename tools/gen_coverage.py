"""Generate COVERAGE.md: per-query driver-verification map.

Reads every CORRECTNESS_r{N}.json in the repo root plus the live query
registry and emits one row per registered query: which round last gave it a
driver row, and with what status. This stops each round from re-deriving
which of the registered queries are green where (VERDICT r2 task 9).

Statuses:
- ``green``      — rows, schema AND value-hash matched
- ``rows-only``  — driver ran the weaker no-oracle check and rows were sane
- ``FAIL``       — mismatch or error in its most recent driver row
- ``never``      — no driver row in any round yet (driver caps each run at
  ~50 registry entries; the default pytest oracle-checks every query)

Run directly (``python tools/gen_coverage.py``) to rewrite COVERAGE.md;
``tests/test_coverage_doc.py`` regenerates it in-memory and fails if the
checked-in file is stale.
"""

from __future__ import annotations

import glob
import json
import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_rounds() -> list[tuple[int, dict]]:
    rounds = []
    for path in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        with open(path) as f:
            rounds.append((int(m.group(1)), json.load(f)))
    return sorted(rounds)


def _status(row: dict) -> str:
    if row.get("err"):
        # the driver records no_oracle "errors" for rows-only entries
        if "no_oracle" in str(row["err"]):
            return "rows-only"
        return "FAIL"
    if row.get("rows_match") and row.get("schema_match") and row.get("hash_match"):
        return "green"
    return "FAIL"


def generate() -> str:
    import sys

    sys.path.insert(0, REPO)
    from wd2sql_spark.queries import load_all_modules

    registry = load_all_modules()
    rounds = _load_rounds()

    latest: dict[str, tuple[int, str]] = {}
    for rnum, data in rounds:
        for name, row in data.items():
            latest[name] = (rnum, _status(row))

    lines = [
        "# COVERAGE — driver-verified query map",
        "",
        "Generated by `python tools/gen_coverage.py` from CORRECTNESS_r*.json",
        "+ the live registry; `tests/test_coverage_doc.py` keeps it fresh.",
        "Each query's row shows the LATEST round in which the grading driver",
        "produced a CORRECTNESS row for it, and that row's status.",
        "",
    ]

    counts = {"green": 0, "rows-only": 0, "FAIL": 0, "never": 0}
    rows = []
    for name, q in registry.items():
        if name in latest:
            rnum, st = latest[name]
            rows.append((name, f"r{rnum}", st, "yes" if q.oracle else "no"))
        else:
            st = "never"
            rows.append((name, "—", "never", "yes" if q.oracle else "no"))
        counts[st] += 1

    checked = len(registry) - counts["never"]
    lines += [
        f"**{len(registry)} registered** — {checked} with a driver row "
        f"({counts['green']} green, {counts['rows-only']} rows-only, "
        f"{counts['FAIL']} FAIL), {counts['never']} never checked.",
        "",
        "| query | last round | status | oracle |",
        "|---|---|---|---|",
    ]
    for name, rnd, st, orc in rows:
        mark = {"green": "green", "rows-only": "rows-only", "FAIL": "**FAIL**", "never": "*never*"}[st]
        lines.append(f"| {name} | {rnd} | {mark} | {orc} |")

    lines += [
        "",
        "Every registered query with an oracle, whatever its row here, is",
        "oracle-checked at sf0.001 by `python -m pytest tests/test_oracle_diff.py`.",
        "",
    ]

    sweeps_path = os.path.join(REPO, "SWEEPS.json")
    if os.path.exists(sweeps_path):
        with open(sweeps_path) as f:
            sweeps = json.load(f)
        lines += [
            "## Local full-fidelity sweeps",
            "",
            "The driver caps each round at ~50 entries; locally,",
            "`python tests/oracle_check.py --sf <dir>` runs the SAME",
            "rows/schema/value comparison over every registered query.",
            "Recorded in `SWEEPS.json` when run:",
            "",
        ]
        for rnd in sorted(sweeps.get("rounds", {})):
            info = sweeps["rounds"][rnd]
            per_sf = ", ".join(f"{sf}: {st}" for sf, st in sorted(info["sweeps"].items()))
            lines.append(f"- **round {rnd}** ({info['registered']} registered): {per_sf}")
            if info.get("notes"):
                lines.append(f"  — {info['notes']}")
        lines.append("")
    return "\n".join(lines)


if __name__ == "__main__":
    out = os.path.join(REPO, "COVERAGE.md")
    text = generate()
    with open(out, "w") as f:
        f.write(text)
    print(f"wrote {out} ({len(text.splitlines())} lines)")
