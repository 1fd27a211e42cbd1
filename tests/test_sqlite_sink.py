"""SQLite parity sink tests: the fixture dump exported through
``wd2sqlite`` must be a database the reference's own README queries run
against — same tables, same columns, an index on every column, and the
conjunctive-semi-join query shape (README.md:129-143) answerable in
sqlite3 directly."""

from __future__ import annotations

import os
import sqlite3

import pytest

from wd2sql_spark.sinks.sqlite import TABLE_DDL, export_sqlite, wd2sqlite

FIXTURE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures", "wd_dump.ndjson")


@pytest.fixture(scope="module")
def db(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("sqlite") / "wd.db")
    counts = wd2sqlite(spark, FIXTURE, path)
    conn = sqlite3.connect(path)
    yield conn, counts
    conn.close()


def test_schema_parity(db):
    conn, _ = db
    tables = {r[0] for r in conn.execute("SELECT name FROM sqlite_master WHERE type='table'")}
    assert tables == set(TABLE_DDL)
    for name, cols in TABLE_DDL.items():
        got = [r[1] for r in conn.execute(f"PRAGMA table_info({name})")]
        assert got == [c for c, _ in cols], name


def test_index_per_column(db):
    conn, _ = db
    # main.rs:53-67 / value.rs:128-139: one index per column of every table.
    n_cols = sum(len(cols) for cols in TABLE_DDL.values())
    n_idx = conn.execute("SELECT count(*) FROM sqlite_master WHERE type='index'").fetchone()[0]
    assert n_idx == n_cols


def test_meta_rows_and_counts(db):
    conn, counts = db
    assert counts["meta"] == 11
    got = dict(
        (r[0], (r[1], r[2]))
        for r in conn.execute("SELECT id, label, description FROM meta")
    )
    assert got[1] == ("universe", "totality of everything")
    assert got[2] == (None, None)


def test_readme_conjunctive_query_shape(db):
    # README.md:129-131 pattern: meta ids narrowed by IN-subqueries on the
    # entity table. Fixture entity 1 has claim P31 -> Q42.
    conn, _ = db
    rows = conn.execute(
        "SELECT id FROM meta WHERE id IN "
        "(SELECT id FROM entity WHERE property_id = 1000000031 AND entity_id = 42)"
    ).fetchall()
    assert rows == [(1,)]


def test_time_overflow_exported_losslessly(db):
    conn, _ = db
    times = {r[0] for r in conn.execute("SELECT time FROM time")}
    # In-range timestamp formatted; the 13.8-Gyr date kept as raw text.
    assert any(t.startswith("1995-01-01") for t in times)
    assert any("13798000000" in t for t in times)


def test_not_null_parity(db):
    conn, _ = db
    for name, cols in TABLE_DDL.items():
        for c, typ in cols:
            if "NOT NULL" in typ:
                n = conn.execute(f"SELECT count(*) FROM {name} WHERE {c} IS NULL").fetchone()[0]
                assert n == 0, f"{name}.{c}"


def test_guard_refuses_existing(db, spark, tmp_path):
    p = tmp_path / "existing.db"
    p.write_text("not a db")
    with pytest.raises(FileExistsError):
        export_sqlite({}, str(p))

