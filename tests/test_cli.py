"""CLI contract test: the reference's one public invocation
(``wd2sql <JSON_FILE> <SQLITE_FILE>``, main.rs:35-40) as
``python -m wd2sql_spark <dump> <out> [--sqlite db]``, run in-process
against the golden fixture dump."""

from __future__ import annotations

import os
import sqlite3

from wd2sql_spark.__main__ import main

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "wd_dump.ndjson")


def test_cli_parquet_and_sqlite(spark, tmp_path):
    out = str(tmp_path / "out")
    db = str(tmp_path / "wd.db")
    rc = main([FIXTURE, out, "--sqlite", db])
    assert rc == 0

    # Parquet side: every output table landed.
    for name in ("meta", "string", "entity", "coordinates", "quantity",
                 "time", "none", "unknown", "quarantine"):
        assert os.path.isdir(os.path.join(out, name)), name
    assert spark.read.parquet(os.path.join(out, "meta")).count() == 11

    # SQLite side: reference-shaped, indexed, queryable (README.md:129-135
    # label lookup shape).
    conn = sqlite3.connect(db)
    try:
        n = conn.execute("SELECT count(*) FROM meta").fetchone()[0]
        assert n == 11
        row = conn.execute("SELECT id FROM meta WHERE label = 'universe'").fetchone()
        assert row == (1,)
        idx = {r[0] for r in conn.execute("SELECT name FROM sqlite_master WHERE type='index'")}
        assert "meta_label" in idx and "string_property_id" in idx
    finally:
        conn.close()


def test_cli_refuses_existing_sqlite(tmp_path):
    db = tmp_path / "wd.db"
    db.write_text("precious")
    rc = main([FIXTURE, str(tmp_path / "out2"), "--sqlite", str(db)])
    assert rc == 1
    assert db.read_text() == "precious"  # untouched, and no work was done
