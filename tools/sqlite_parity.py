"""SQLite export parity at real volume (VERDICT r4 task #9).

``wd2sqlite`` is golden-tested at fixture scale (tests/test_sqlite_sink.py);
this tool proves the single-writer export path doesn't silently truncate
at bench-scale volume: it generates the SAME 16x dump the ETL bench uses
(~293 MB, 960k entities), writes BOTH outputs — the partitioned parquet
store (the distributed sink) and the fully-indexed SQLite DB (the
reference-compatible sink) — and asserts

- per-table row counts match between the two sinks, and
- a deterministic row sample (id % 997 == 0) hashes identically after
  canonicalizing each row to text (the ``time`` table compares through
  the same ISO/raw formatting the export applies).

Writes SQLITE_PARITY.json beside the repo root and prints one JSON line.

    PYTHONPATH=/root/repo python tools/sqlite_parity.py [--mult 16]
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import sqlite3
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _canon(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return repr(v)
    return str(v)


def _row_key(row: tuple) -> str:
    return "|".join(_canon(v) for v in row)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mult", type=int, default=16, help="dump size multiple of N")
    ap.add_argument("--mod", type=int, default=997, help="sample modulus for spot hashes")
    args = ap.parse_args()

    from wd2sql_spark.etl.pipeline import read_table, wd2spark
    from wd2sql_spark.etl.synthdump import N, write_dump
    from wd2sql_spark.session import get_spark
    from wd2sql_spark.sinks.sqlite import TABLE_DDL, _time_rows, wd2sqlite

    spark = get_spark("sqlite-parity")
    root = tempfile.mkdtemp(prefix="sqlite-parity-")
    report: dict = {"dump_entities": args.mult * N, "tables": {}, "ok": True}
    try:
        dump = os.path.join(root, "dump")
        nbytes = write_dump(dump, n=args.mult * N, shards=64)
        report["dump_mb"] = round(nbytes / 1e6, 1)

        store = os.path.join(root, "store")
        wd2spark(spark, dump, store, layout="store")

        db = os.path.join(root, "out.db")
        t0 = time.perf_counter()
        sqlite_counts = wd2sqlite(spark, dump, db)
        report["sqlite_export_sec"] = round(time.perf_counter() - t0, 2)
        report["sqlite_rows_total"] = sum(sqlite_counts.values())
        report["sqlite_rows_per_s"] = round(
            report["sqlite_rows_total"] / (time.perf_counter() - t0 + 1e-9), 1
        )

        conn = sqlite3.connect(db)
        try:
            for name, cols in TABLE_DDL.items():
                pq = read_table(spark, store, name)
                col_names = [c for c, _ in cols]
                if name == "time":
                    pq, col_names = _time_rows(pq)
                    col_names = list(col_names)
                else:
                    pq = pq.select(*col_names)
                pq_count = pq.count()
                (sq_count,) = conn.execute(f"SELECT COUNT(*) FROM {name}").fetchone()

                sample = sorted(
                    _row_key(tuple(r)) for r in pq.filter(f"id % {args.mod} = 0").collect()
                )
                pq_hash = hashlib.md5("\n".join(sample).encode()).hexdigest()
                sq_rows = sorted(
                    _row_key(r)
                    for r in conn.execute(
                        f"SELECT {', '.join(col_names)} FROM {name} WHERE id % {args.mod} = 0"
                    )
                )
                sq_hash = hashlib.md5("\n".join(sq_rows).encode()).hexdigest()

                entry = {
                    "parquet_rows": pq_count,
                    "sqlite_rows": sq_count,
                    "declared_rows": sqlite_counts.get(name, 0),
                    "sample_rows": len(sample),
                    "counts_match": pq_count == sq_count == sqlite_counts.get(name, 0),
                    "sample_hash_match": pq_hash == sq_hash,
                }
                report["tables"][name] = entry
                report["ok"] = report["ok"] and entry["counts_match"] and entry["sample_hash_match"]
        finally:
            conn.close()
    finally:
        shutil.rmtree(root, ignore_errors=True)

    out = os.path.join(REPO, "SQLITE_PARITY.json")
    with open(out, "w") as f:
        json.dump(report, f, indent=2)
        f.write("\n")
    print(json.dumps({"ok": report["ok"], "detail": out, "dump_mb": report.get("dump_mb")}))
    sys.exit(0 if report["ok"] else 1)


if __name__ == "__main__":
    main()
