"""Spans, counts and Spark status readings taken from outside the program.

The benchmark wraps each call into a program layer in a :class:`Tracer`
span. A span records its name, start, end, parent span and op id; spans
live in memory and are written out once, at the end of the run. A layer's
self time is its span time minus the part of that interval its child
spans cover.

:class:`SparkProbe` reads what Spark itself reports for one operation:
jobs, stages and tasks from the status tracker under a per-op job group,
and shuffle bytes, GC and task CPU time from the status store's stage
records. All readings happen after the operation returned, outside its
timer.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass


def loadavg1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def steal_s() -> float:
    """CPU seconds the hypervisor gave to other guests since boot, summed
    over cores: the co-tenant load a wall-clock sample may carry."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: str | None


class Tracer:
    """In-memory span recorder. Disabled, ``span`` still yields but
    records nothing, so untraced runs pay one branch per call."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = self.spans[parent].op
        idx = len(self.spans)
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, op))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: each span's duration minus the
        union of its children's intervals."""
        children: dict[int, list[Span]] = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                children[s.parent].append(s)
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            covered = 0.0
            cursor = s.start
            for c in sorted(children.get(i, ()), key=lambda c: c.start):
                lo, hi = max(c.start, cursor), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    cursor = hi
            out[s.name] += (s.end - s.start) - covered
        return dict(out)

    def dump(self, path: str, counts: dict[str, float]) -> None:
        """Write the spans, each span name's total self time, and the
        run's counts and per-layer readings."""
        with open(path, "w") as f:
            json.dump(
                {
                    "spans": [s.__dict__ for s in self.spans],
                    "self_s": self.self_times(),
                    "counts": counts,
                },
                f,
            )


@dataclass
class SparkStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    shuffle_write_bytes: int = 0
    gc_ms: int = 0
    cpu_ns: int = 0
    input_records: int = 0


class SparkProbe:
    """Per-operation Spark counters. ``group(op)`` tags every job the
    block launches; ``stats(op)`` sums what Spark recorded for them."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._store = self.sc._jsc.sc().statusStore()
        self._n = 0

    @contextmanager
    def group(self, label: str):
        self._n += 1
        gid = f"perfbench-{self._n}-{label}"
        self.sc.setJobGroup(gid, label)
        try:
            yield gid
        finally:
            self.sc.setJobGroup("perfbench-idle", "idle")

    def stats(self, gid: str) -> SparkStats:
        st = self.sc.statusTracker()
        out = SparkStats()
        for jid in st.getJobIdsForGroup(gid):
            info = st.getJobInfo(jid)
            if info is None:
                continue
            out.jobs += 1
            for sid in info.stageIds:
                try:
                    sd = self._store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 - a stage skipped or evicted from the store
                    continue
                if sd.numCompleteTasks() == 0 and sd.numFailedTasks() == 0:
                    continue  # skipped stage: its shuffle output was reused
                out.stages += 1
                out.tasks += sd.numCompleteTasks()
                out.failed_tasks += sd.numFailedTasks()
                out.shuffle_write_bytes += sd.shuffleWriteBytes()
                out.gc_ms += sd.jvmGcTime()
                out.cpu_ns += sd.executorCpuTime()
                out.input_records += sd.inputRecords()
        return out


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of a process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")
