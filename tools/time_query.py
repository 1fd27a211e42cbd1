"""Time individual registered queries with the bench's exact methodology.

Usage: python tools/time_query.py [--sf DIR] [--n N] [--cold] [--explain OUT]
                                  name [name ...]

For each named query: builds the plan, forces it with the guide §1.4 noop
sink (full materialization, no output cost), and reports min/median of N
warm samples with the 1-min loadavg next to each — the same estimator
bench.py publishes, so numbers here are comparable to the bench without
paying for the whole battery. ``--explain OUT`` additionally writes
``df.explain("formatted")`` to ``OUT/<name>.txt`` (the plans/r09 evidence
files).

The samples of one query run back to back, so they never evict each
other's generated classes. bench.py interleaves its passes over many
queries; while the session kept Spark's default 100-entry codegen cache,
those passes recompiled most classes on every warm run, so numbers from
this tool were not comparable with the bench's. With the cache sized in
``session.get_spark`` neither pays recompiles.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def loadavg1() -> float:
    try:
        with open("/proc/loadavg") as f:
            return float(f.read().split()[0])
    except OSError:
        return -1.0


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--n", type=int, default=5)
    ap.add_argument("--cold", action="store_true", help="report the first (cold) run too")
    ap.add_argument("--explain", default=None, metavar="OUT")
    args = ap.parse_args()

    from wd2sql_spark.queries import load_all_modules
    from wd2sql_spark.session import get_spark

    registry = load_all_modules()
    # Validate names BEFORE starting Spark (ADVICE r9 #5): a typo'd name
    # used to raise a bare KeyError after paying the session startup.
    unknown = [n for n in args.names if n not in registry]
    if unknown:
        import difflib

        for n in unknown:
            close = difflib.get_close_matches(n, registry, n=3)
            hint = f" (did you mean: {', '.join(close)}?)" if close else ""
            print(f"unknown query name: {n}{hint}", file=sys.stderr)
        sys.exit(2)

    spark = get_spark("time-query")

    def force(df):
        df.write.format("noop").mode("overwrite").save()

    for name in args.names:
        q = registry[name]
        spark.sparkContext.setJobDescription(f"time_query: {name}")
        if args.explain:
            os.makedirs(args.explain, exist_ok=True)
            df = q.fn(spark, args.sf)
            text = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            with open(os.path.join(args.explain, f"{name}.txt"), "w") as f:
                f.write(text)
        t0 = time.perf_counter()
        force(q.fn(spark, args.sf))
        cold = time.perf_counter() - t0
        samples = []
        for _ in range(args.n):
            t0 = time.perf_counter()
            force(q.fn(spark, args.sf))
            samples.append((time.perf_counter() - t0, loadavg1()))
        import statistics

        times = sorted(s[0] for s in samples)
        # statistics.median interpolates for even N (ADVICE r9 #5: the
        # upper-element pick biased even-N medians high); MIN remains the
        # primary steady-state estimator, as in bench.py.
        med = statistics.median(times)
        line = f"{name}: min={times[0]:.3f} med={med:.3f}"
        if args.cold:
            line += f" cold={cold:.3f}"
        line += "  samples=" + " ".join(f"{t:.3f}@{la:.1f}" for t, la in samples)
        print(line, flush=True)
        spark.sparkContext.setJobDescription(None)


if __name__ == "__main__":
    main()
