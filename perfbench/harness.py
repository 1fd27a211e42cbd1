"""Run state shared by the workloads: the timed-op log, the set-up clock,
the tracer, and the metric definitions the result line reports."""

from __future__ import annotations

import os
import statistics
import sys
import time
from contextlib import contextmanager

from spans import Tracer, loadavg1, steal_s, vm_hwm_mb

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

# Per-layer metrics of a traced run, with units. A workload that bypasses
# a layer reports 0 for it: that is the prediction "no change here".
LAYER_UNITS = {
    "session.get_spark_s": "s",
    "etl.read_parse_s": "s",
    "etl.flatten_s": "s",
    "etl.write_s": "s",
    "etl.task_cpu_ratio": "ratio",
    "etl.entities": "count",
    "etl.corrupt_lines": "count",
    "etl.rows_out": "count",
    "etl.out_mb": "MB",
    "etl.out_bytes_ratio": "ratio",
    "plans.staged_shuffles": "count",
    "etl.read_table_s": "s",
    "lookup.rows_scanned_per_result": "ratio",
    "catalog.table_miss_s": "s",
    "catalog.table_hit_s": "s",
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    **{
        f"spark.{fam}.{m}": u
        for fam in ("tpch", "llm")
        for m, u in (
            ("plan_s", "s"),
            ("exec_s", "s"),
            ("jobs", "count"),
            ("stages", "count"),
            ("tasks", "count"),
            ("shuffle_write_mb", "MB"),
            ("gc_s", "s"),
            ("failed_tasks", "count"),
        )
    },
    "session_cache.cached_relations": "count",
    "session_cache.storage_mb": "MB",
    "operators.minhash_band_index_s": "s",
    "streaming.admit_batch_s": "s",
    "streaming.jobs_per_batch": "count",
    "streaming.admit_ratio": "ratio",
    "sinks.lsh_store_mb": "MB",
    "sinks.store_files": "count",
    "warmup.first_op_ratio": "ratio",
    "host.load1_median": "load",
    "memory.peak_rss_mb": "MB",
    "trace.overhead_ratio": "ratio",
}


class Run:
    """State of one benchmark run. Workloads call :meth:`record` for
    every operation, :meth:`start_timed` when set-up ends, and wrap input
    generation and output checks that fall inside the set-up window in
    :meth:`excluded`."""

    def __init__(self, seed: int, seconds: float, traced: bool, t_process: float) -> None:
        self.seed = seed
        self.seconds = seconds
        self.traced = traced
        self.tracer = Tracer(traced)
        self.layers: dict[str, float] = {}
        self.ops: list[dict] = []
        self.attempted = 0
        self.failed = 0
        self.setup_s: float | None = None
        self._t_process = t_process
        self._excluded = 0.0
        self.tmp = os.path.join(WORK, f"run-{os.getpid()}")
        self.inputs = os.path.join(WORK, "inputs")

    @contextmanager
    def excluded(self):
        """Time spent here is not part of ``setup_s``."""
        t = time.perf_counter()
        try:
            yield
        finally:
            self._excluded += time.perf_counter() - t

    def start_timed(self) -> float:
        now = time.perf_counter()
        self.setup_s = now - self._t_process - self._excluded
        return now

    def record(
        self, kind: str, seconds: float, ok: bool, work: float = 1.0, timed: bool = True, batch: int | None = None
    ) -> None:
        """One operation. Timed ops of the same ``batch`` (a query pass)
        form one throughput sample; each unbatched op is its own."""
        self.attempted += 1
        self.failed += not ok
        self.ops.append(
            {
                "kind": kind,
                "s": seconds,
                "ok": ok,
                "work": work,
                "timed": timed,
                "batch": len(self.ops) if batch is None else batch,
                "load1": loadavg1(),
                "steal_s": steal_s(),
            }
        )

    def fail(self, kind: str) -> None:
        """Count every recorded op of ``kind`` failed: a later check of
        its output found it wrong."""
        for o in self.ops:
            if o["kind"] == kind and o["ok"]:
                o["ok"] = False
                self.failed += 1

    def check(self, ok: bool, what: str) -> bool:
        if not ok:
            print(f"CHECK FAILED: {what}", file=sys.stderr)
        return ok

    def timed_ops(self) -> list[dict]:
        return [o for o in self.ops if o["timed"]]

    def end_to_end(self) -> dict:
        ops = self.timed_ops()
        batches: dict[int, list[dict]] = {}
        kinds: dict[str, list[float]] = {}
        for o in ops:
            batches.setdefault(o["batch"], []).append(o)
            kinds.setdefault(o["kind"], []).append(o["s"])
        rates = [sum(o["work"] for o in b) / sum(o["s"] for o in b) for b in batches.values()]
        # Each kind of op (an ETL pass, one named query) weighs the same,
        # as in a TPC power run; a kind's repeats enter as their median.
        typical = statistics.geometric_mean(statistics.median(v) for v in kinds.values())
        return {
            "setup_s": {"value": self.setup_s, "unit": "s"},
            "op_geomean_s": {"value": typical, "unit": "s"},
            "work_per_s": {"value": statistics.median(rates), "unit": "work/s"},
        }

    def per_layer(self, pids: list[int | str]) -> dict:
        # Peak RSS is reported here, without a bound: the JVM's heap grows
        # with GC timing, and ten query_battery runs spread by 13-21%.
        self.layers["memory.peak_rss_mb"] = sum(vm_hwm_mb(p) for p in pids)
        ops = self.timed_ops()
        by_kind: dict[str, list[float]] = {}
        for o in ops:
            by_kind.setdefault(o["kind"], []).append(o["s"])
        # JIT-ramp evidence: an op's first timed run against its later runs.
        ramps = [s[0] / statistics.median(s[1:]) for s in by_kind.values() if len(s) > 1]
        self.layers["warmup.first_op_ratio"] = statistics.median(ramps) if ramps else 0.0
        self.layers["host.load1_median"] = statistics.median(o["load1"] for o in ops)
        return {k: {"value": float(self.layers.get(k, 0.0)), "unit": u} for k, u in LAYER_UNITS.items()}
