"""SQLite parity sink: materialize the 8 ETL tables as the reference's
fully-indexed SQLite database.

Reference behavior replicated (cites into /root/reference/):

- table DDL from the type registry           value.rs:63-126, main.rs:42-51
- refuse an existing output file             main.rs:98-104
- durability pragmas off during load         main.rs:150-158
- batched transactions (1000-entity cadence) main.rs:165-168, 223-237
- one index per column, built AFTER load     main.rs:53-67, value.rs:128-139

Design note (SURVEY §7b): SQLite is single-writer, so the write side is
deliberately driver-side and sequential — ``df.toLocalIterator()`` streams
one Spark partition at a time to the driver (constant memory, like the
reference's BufReader loop), and ``executemany`` batches replace its
prepared-statement cache (value.rs:141-161). All the parallel work (parse,
explode, dispatch) stays on executors; only the final row stream crosses to
the driver. Spark's JDBC writer is NOT used: parallel JDBC writers would
deadlock on SQLite's single write lock, and no SQLite JDBC driver jar is
assumed present.
"""

from __future__ import annotations

import os
import sqlite3
from collections.abc import Callable, Iterable

from pyspark.sql import DataFrame

# table → ordered (column, SQLite type + constraints). Mirrors the CREATE
# TABLE text the reference generates: meta at main.rs:44, value tables from
# the VALUE_TYPES registry at value.rs:63-112 (shared leading pair
# value.rs:104-107).
TABLE_DDL: dict[str, tuple[tuple[str, str], ...]] = {
    "meta": (
        ("id", "INTEGER NOT NULL"),
        ("label", "TEXT"),
        ("description", "TEXT"),
    ),
    "string": (
        ("id", "INTEGER NOT NULL"),
        ("property_id", "INTEGER NOT NULL"),
        ("string", "TEXT NOT NULL"),
    ),
    "entity": (
        ("id", "INTEGER NOT NULL"),
        ("property_id", "INTEGER NOT NULL"),
        ("entity_id", "INTEGER NOT NULL"),
    ),
    "coordinates": (
        ("id", "INTEGER NOT NULL"),
        ("property_id", "INTEGER NOT NULL"),
        ("latitude", "REAL NOT NULL"),
        ("longitude", "REAL NOT NULL"),
        ("precision", "REAL NOT NULL"),
        ("globe_id", "INTEGER NOT NULL"),
    ),
    "quantity": (
        ("id", "INTEGER NOT NULL"),
        ("property_id", "INTEGER NOT NULL"),
        ("amount", "REAL NOT NULL"),
        ("lower_bound", "REAL"),
        ("upper_bound", "REAL"),
        ("unit_id", "INTEGER"),
    ),
    "time": (
        ("id", "INTEGER NOT NULL"),
        ("property_id", "INTEGER NOT NULL"),
        ("time", "DATETIME NOT NULL"),
        ("precision", "INTEGER NOT NULL"),
    ),
    "none": (
        ("id", "INTEGER NOT NULL"),
        ("property_id", "INTEGER NOT NULL"),
    ),
    "unknown": (
        ("id", "INTEGER NOT NULL"),
        ("property_id", "INTEGER NOT NULL"),
    ),
}

# The reference commits every 1000 *entities* (main.rs:223); rows-per-entity
# averages a few claims, so a few-thousand-row cadence is the same order.
COMMIT_EVERY_ROWS = 4000


def create_tables(conn: sqlite3.Connection) -> None:
    """CREATE TABLE batch at startup (main.rs:42-51, value.rs:114-126)."""
    for name, cols in TABLE_DDL.items():
        col_sql = ", ".join(f"{c} {t}" for c, t in cols)
        conn.execute(f"CREATE TABLE {name} ({col_sql})")


def create_indices(conn: sqlite3.Connection) -> None:
    """One single-column index per column on every table, built only after
    all data is loaded (main.rs:53-67, 246-249; value.rs:128-139)."""
    for name, cols in TABLE_DDL.items():
        for c, _ in cols:
            conn.execute(f"CREATE INDEX {name}_{c} ON {name} ({c})")


def set_load_pragmas(conn: sqlite3.Connection) -> None:
    """Durability off during bulk load (main.rs:150-158)."""
    conn.execute("PRAGMA synchronous = OFF")
    conn.execute("PRAGMA journal_mode = OFF")


def _time_rows(df: DataFrame) -> tuple[DataFrame, tuple[str, ...]]:
    """The Spark ``time`` table carries (time TIMESTAMP, precision,
    time_raw) — SURVEY §7a keeps out-of-range historical dates lossless.
    SQLite DATETIME is text affinity, so export the ISO form of the parsed
    timestamp and fall back to the raw Wikidata string (e.g. year -13e9)
    when the timestamp overflowed to NULL, matching the reference's
    chrono-formatted storage (value.rs:93-99, 242-248) without silent loss.
    """
    from pyspark.sql import functions as F

    out = df.select(
        "id",
        "property_id",
        F.coalesce(
            F.date_format("time", "yyyy-MM-dd HH:mm:ss"),
            F.regexp_replace("time_raw", r"^\+", ""),
        ).alias("time"),
        F.col("precision"),
    )
    return out, ("id", "property_id", "time", "precision")


def export_sqlite(
    tables: dict[str, DataFrame],
    db_path: str,
    *,
    commit_every: int = COMMIT_EVERY_ROWS,
    on_progress: Callable[[str, int], None] | None = None,
) -> dict[str, int]:
    """Write the ETL output tables to a fully-indexed SQLite DB; returns
    table → row count. ``tables`` is ``etl.pipeline.transform(...)`` output,
    the per-table projections of the unified rows (the ``quarantine``
    entry, absent from the reference schema, is ignored).
    ``on_progress(table, rows_so_far)`` fires once per commit — the batch
    analog of the reference's 1000-entity progress redraw
    (main.rs:223-237).
    """
    if os.path.exists(db_path):
        # main.rs:98-104: never clobber an existing database.
        raise FileExistsError(f"refusing to overwrite existing output: {db_path}")

    conn = sqlite3.connect(db_path)
    try:
        set_load_pragmas(conn)
        create_tables(conn)
        conn.execute("BEGIN")
        counts: dict[str, int] = {}
        for name, cols in TABLE_DDL.items():
            df = tables.get(name)
            if df is None:
                counts[name] = 0
                continue
            col_names: Iterable[str] = tuple(c for c, _ in cols)
            if name == "time":
                df, col_names = _time_rows(df)
            else:
                df = df.select(*col_names)
            sql = f"INSERT INTO {name} VALUES ({', '.join('?' for _ in col_names)})"
            n = 0
            batch: list[tuple] = []
            for row in df.toLocalIterator():
                batch.append(tuple(row))
                if len(batch) >= commit_every:
                    conn.executemany(sql, batch)
                    conn.execute("COMMIT")
                    conn.execute("BEGIN")
                    n += len(batch)
                    batch.clear()
                    if on_progress is not None:
                        on_progress(name, n)
            if batch:
                conn.executemany(sql, batch)
                n += len(batch)
            counts[name] = n
            if on_progress is not None:
                on_progress(name, n)
        conn.execute("COMMIT")
        create_indices(conn)
        conn.commit()
        return counts
    finally:
        conn.close()


def wd2sqlite(spark, dump_path: str, db_path: str) -> dict[str, int]:
    """The reference CLI contract end-to-end (§2-D): dump in, indexed
    SQLite DB out — ``wd2sql <JSON_FILE> <SQLITE_FILE>`` as
    ``wd2sqlite(spark, dump_path, db_path)``."""
    from wd2sql_spark.etl.pipeline import parse_entities, read_dump, transform

    return export_sqlite(transform(parse_entities(read_dump(spark, dump_path))), db_path)
