"""Live progress surfaces (SURVEY §2-A#16's missing half).

The reference redraws a status line every 1000 entities while the ETL
runs (main.rs:108-118, 223-237). ``df.observe`` counters (as in
curate.py) give the Spark-native AFTER-the-job numbers with zero extra
passes, but a 1.5 TB dump runs for hours — the operator wants a
line that moves DURING the job. Two surfaces, both optional and zero-cost
when not attached:

- :class:`JobProgress` — a context manager that polls the
  ``StatusTracker`` from a daemon thread and redraws
  ``[wd2spark] stage 12: 48/64 tasks`` on stderr while ANY batch job
  runs inside the ``with`` block, then prints a final elapsed line. Pure
  driver-side observation: no listener on the hot path, no effect on the
  plan, works for any action (the ETL write, the SQLite export's
  ``toLocalIterator`` feed, a bench query).
- :func:`attach_streaming_progress` — a ``StreamingQueryListener``
  printing one line per micro-batch (batch id, input rows, rows/s) for
  long streaming ingests; returns the listener so callers can detach.

``python -m wd2sql_spark … --progress`` wires JobProgress around the
whole run, and the SQLite export's ``on_progress`` commit hook prints the
reference's per-1000-rows cadence.
"""

from __future__ import annotations

import sys
import threading
import time

from pyspark.sql import SparkSession


class JobProgress:
    """Redraw active-stage task counts on stderr while jobs run.

    ``interval`` is the poll period; output goes to ``stream`` (stderr by
    default — stdout is reserved for machine-readable CLI/bench lines,
    the round-3 lesson). The final summary line is always printed, so
    callers/tests have a deterministic artifact even for sub-interval
    jobs."""

    def __init__(self, spark: SparkSession, label: str = "wd2spark",
                 interval: float = 1.0, stream=None) -> None:
        self._sc = spark.sparkContext
        self.label = label
        self.interval = interval
        self.stream = stream if stream is not None else sys.stderr
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self._t0 = 0.0
        self.lines_emitted = 0

    def _poll(self) -> None:
        tracker = self._sc.statusTracker()
        last = ""
        while not self._stop.wait(self.interval):
            try:
                stage_ids = tracker.getActiveStageIds()
                parts = []
                for sid in stage_ids:
                    info = tracker.getStageInfo(sid)
                    if info is None:
                        continue
                    parts.append(f"stage {sid}: {info.numCompletedTasks}/{info.numTasks} tasks")
                if not parts:
                    continue
                line = f"[{self.label}] " + "  ".join(parts)
                if line != last:
                    print(line, file=self.stream, flush=True)
                    self.lines_emitted += 1
                    last = line
            except Exception:
                # observation must never kill the job it watches
                continue

    def __enter__(self) -> "JobProgress":
        self._t0 = time.perf_counter()
        self._thread = threading.Thread(target=self._poll, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, exc_type, exc, tb) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=self.interval + 1.0)
        elapsed = time.perf_counter() - self._t0
        verdict = "done in" if exc_type is None else "failed after"
        print(
            f"[{self.label}] {verdict} {elapsed:.1f}s", file=self.stream, flush=True
        )
        self.lines_emitted += 1


def attach_streaming_progress(
    spark: SparkSession, label: str = "stream", stream=None
):
    """Register (and return) a ``StreamingQueryListener`` that prints one
    line per committed micro-batch: batch id, input rows, and the
    engine-reported processing rate. Detach with
    ``spark.streams.removeListener(listener)``. The listener also
    accumulates ``(batch_id, num_input_rows)`` tuples on
    ``listener.batches`` so tests (and metering callers) can read the
    trail programmatically."""
    from pyspark.sql.streaming import StreamingQueryListener

    out = stream if stream is not None else sys.stderr

    class _Listener(StreamingQueryListener):
        def __init__(self) -> None:
            self.batches: list[tuple[int, int]] = []

        def onQueryStarted(self, event) -> None:
            print(f"[{label}] started {event.name or event.id}", file=out, flush=True)

        def onQueryProgress(self, event) -> None:
            p = event.progress
            self.batches.append((p.batchId, p.numInputRows))
            rate = p.processedRowsPerSecond or 0.0
            print(
                f"[{label}] batch {p.batchId}: {p.numInputRows} rows"
                f" ({rate:.0f} rows/s)",
                file=out,
                flush=True,
            )

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            print(f"[{label}] terminated {event.id}", file=out, flush=True)

    listener = _Listener()
    spark.streams.addListener(listener)
    return listener
