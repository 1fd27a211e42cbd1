"""Benchmark entry point.

    python3 perfbench/run.py --workload etl_dump --seed 1 --seconds 5 --trace 0

Runs one workload (``BENCHMARK.json`` lists them and says why each was
chosen) in a fresh process: generates or reuses the seeded inputs, starts
Spark, warms up untimed, runs closed-loop operations for ``--seconds``
seconds, checks every output, and prints one JSON object as the last line
of stdout::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` runs the same
loop with spans and Spark counters around the layer calls and reports the
per-layer metrics; the spans go to ``.perfbench_work/trace-*.json``.
Exits non-zero when an output check fails, and without a result line when
the program is missing.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from harness import ROOT, WORK, Run  # noqa: E402

WORKLOADS = ("etl_dump", "query_battery")


def _isolate_scratch() -> None:
    """Keep every file Spark, the JVM and Python's tempfile write inside
    the checkout's work directory."""
    import tempfile

    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # -XX:-UsePerfData: no hsperfdata file in /tmp from either JVM.
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' "
        f"--conf spark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')} pyspark-shell"
    )
    tempfile.tempdir = None


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()  # the gateway JVM exits on stdin EOF
    try:
        proc.wait(timeout=60)
    except Exception:  # noqa: BLE001 - subprocess.TimeoutExpired: make sure it is gone
        proc.kill()
        proc.wait(timeout=30)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    sys.path.insert(1, ROOT)
    try:
        importlib.import_module("wd2sql_spark.etl.pipeline")
    except ImportError as e:
        print(f"perfbench: the program is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2

    _isolate_scratch()
    run = Run(args.seed, args.seconds, bool(args.trace), T_PROCESS)
    os.makedirs(run.tmp, exist_ok=True)
    workload = importlib.import_module(args.workload)
    spark = None
    try:
        with run.excluded():
            inputs = workload.prepare(run)
        from wd2sql_spark.session import get_spark

        with run.tracer.span("session.get_spark"):
            t = time.perf_counter()
            spark = get_spark(f"perfbench-{args.workload}")
            run.layers["session.get_spark_s"] = time.perf_counter() - t
        workload.execute(run, spark, inputs)
        pids = ["self", spark.sparkContext._gateway.proc.pid]
        metrics = run.per_layer(pids) if run.traced else run.end_to_end()
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(run.tmp, ignore_errors=True)

    tag = f"{args.workload}-{args.seed}-t{args.trace}"
    with open(os.path.join(WORK, f"ops-{tag}.json"), "w") as f:
        json.dump({"setup_s": run.setup_s, "ops": run.ops, "layers": run.layers}, f)
    if run.traced:
        run.tracer.dump(os.path.join(WORK, f"trace-{tag}.json"), run.layers)
    correct = run.failed == 0
    print(json.dumps({"correct": correct, "attempted": run.attempted, "failed": run.failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
