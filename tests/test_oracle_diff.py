"""Oracle-differential tests at sf0.001 (fast twin of the driver's sf0.01
run): every registered query with an oracle is compared against its DuckDB
SQL, so a change that breaks any query fails the default suite. The whole
registry takes about two minutes on a 4-core host.

Full-fidelity sweeps at sf0.01/sf0.1 remain available via the documented
entry point ``python tests/oracle_check.py`` (see SWEEPS.json).
"""

from __future__ import annotations

import pytest

from tests.oracle_check import compare
from wd2sql_spark.queries import load_all_modules

REGISTRY = load_all_modules()
ORACLED = [name for name, q in REGISTRY.items() if q.oracle is not None]


@pytest.mark.parametrize("name", ORACLED)
def test_oracle_match(spark, sf_dir, name):
    q = REGISTRY[name]
    res = compare(name, q.fn(spark, sf_dir), q.oracle, sf_dir)
    assert res.ok, res.errors
