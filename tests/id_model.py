"""Pure-Python model of the Wikidata id codec (id.rs:6-24), independent of
``functions/ids.py``: the reference the codec and ETL property tests
check Spark and DuckDB against."""

from __future__ import annotations

import re


def enc(s):
    """The key of id ``s``, or None when ``s`` is no id. Digit counts are
    bounded like the codec's (12 for ids, 7 for form/sense indices)."""
    if s is None:
        return None
    m = re.fullmatch(r"Q(\d{1,12})", s)
    if m:
        return int(m.group(1))
    m = re.fullmatch(r"P(\d{1,12})", s)
    if m:
        return int(m.group(1)) + 1_000_000_000
    m = re.fullmatch(r"L(\d{1,12})", s)
    if m:
        return int(m.group(1)) + 2_000_000_000
    m = re.fullmatch(r"L(\d{1,12})-F(\d{1,7})", s)
    if m:
        return int(m.group(1)) + 2_000_000_000 + int(m.group(2)) * 100_000_000_000
    m = re.fullmatch(r"L(\d{1,12})-S(\d{1,7})", s)
    if m:
        return (
            int(m.group(1))
            + 2_000_000_000
            + int(m.group(2)) * 100_000_000_000
            + 10_000_000_000
        )
    return None
