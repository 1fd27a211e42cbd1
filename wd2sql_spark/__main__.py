"""CLI entry point — the reference's public contract as a module command.

The reference's entire user-facing API is one invocation
(``wd2sql <JSON_FILE> <SQLITE_FILE>``, main.rs:35-40, README.md:49-61 in
/root/reference). The Spark-native equivalent::

    python -m wd2sql_spark DUMP OUT_DIR [--sqlite DB] [--layout tables|store]

- ``DUMP``: a Wikidata-style entity dump — one JSON entity per line, ``[``/
  ``]`` framing and trailing commas tolerated. A file OR a directory of
  shards (``read.text`` range-splits large files, so one 1.5 TB dump
  parallelizes; the reference reads it on a single thread).
- ``OUT_DIR``: receives one parquet dataset per output table
  (``meta string entity coordinates quantity time none unknown
  quarantine``). Refuses to overwrite, matching main.rs:98-104.
- ``--sqlite DB``: additionally export the 8 reference tables to a
  fully-indexed SQLite database with the reference's exact DDL, pragmas,
  and batched-transaction cadence (sinks/sqlite.py). The parquet store is
  written first and the export reads it back, so the dump is parsed once.

stdin (the reference's ``bzcat … | wd2sql -`` mode, main.rs:122-135) is
not supported: a Spark job's input must be re-readable by executors; the
equivalent workflow is decompressing to a file or directory of shards
first (SURVEY §2-A#1).
"""

from __future__ import annotations

import argparse
import os
import sys


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(
        prog="python -m wd2sql_spark",
        description="Wikidata entity dump -> typed tables (parquet, optionally SQLite).",
    )
    p.add_argument("dump", help="entity dump file or directory of shards")
    p.add_argument("out_dir", help="output directory for the parquet tables")
    p.add_argument("--sqlite", metavar="DB", help="also export an indexed SQLite database")
    p.add_argument(
        "--layout",
        choices=("tables", "store"),
        default="tables",
        help="'tables' (default): standalone per-table parquet datasets; "
        "'store': ONE table-partitioned write (the reference's write-once "
        "row semantics), read back via etl.pipeline.read_table",
    )
    p.add_argument(
        "--progress",
        action="store_true",
        help="redraw live stage progress on stderr while the job runs "
        "(the reference's per-1000-entities status line, main.rs:108-118; "
        "the SQLite export additionally reports each commit batch)",
    )
    args = p.parse_args(argv)

    from wd2sql_spark.etl.pipeline import read_table, wd2spark
    from wd2sql_spark.session import get_spark

    if args.sqlite and os.path.exists(args.sqlite):
        # Fail before doing any work (main.rs:98-104: never clobber).
        print(f"error: refusing to overwrite existing output: {args.sqlite}", file=sys.stderr)
        return 1

    spark = get_spark("wd2sql_spark-cli")

    import contextlib

    if args.progress:
        from wd2sql_spark.etl.progress import JobProgress

        progress_cm = JobProgress(spark, label="wd2spark")
    else:
        progress_cm = contextlib.nullcontext()

    with progress_cm:
        paths = wd2spark(spark, args.dump, args.out_dir, layout=args.layout)
        for name in sorted(paths):
            print(f"wrote {name} -> {paths[name]}")

        if args.sqlite:
            from wd2sql_spark.sinks.sqlite import export_sqlite

            if args.layout == "store":
                tables = {name: read_table(spark, args.out_dir, name) for name in paths}
            else:
                tables = {name: spark.read.parquet(path) for name, path in paths.items()}
            on_progress = None
            if args.progress:
                def on_progress(table_name: str, n: int) -> None:
                    # the reference's per-commit cadence (main.rs:223-237)
                    print(f"[wd2sqlite] {table_name}: {n} rows", file=sys.stderr, flush=True)
            counts = export_sqlite(tables, args.sqlite, on_progress=on_progress)
            total = sum(counts.values())
            print(f"wrote sqlite {args.sqlite} ({total} rows over {len(counts)} tables)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
