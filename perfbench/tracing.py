"""Tracing from outside the package.

Nothing here edits or wraps the package; it observes it:

- :class:`Tracer` keeps spans (name, start, end, parent) in memory
  around the benchmark's own calls into public functions, plus the
  per-batch ``StreamingQueryProgress`` it receives through a
  ``StreamingQueryListener``, and writes both out when the run ends.
- :func:`spark_work` sums Spark's per-stage metrics for a set of jobs,
  read from ``statusTracker`` and the JVM status store.
- :class:`Codegen` reads Spark's whole-stage-codegen compile counters.
- :func:`peak_rss_mb` reads ``VmHWM`` of the driver JVM and of Python.
"""

from __future__ import annotations

import contextlib
import json
import statistics
import time

from pyspark.sql.streaming import StreamingQueryListener


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def tail(xs) -> tuple[float, float, int]:
    """(value, percentile, n): the highest percentile of ``xs`` with at
    least ten samples beyond it. Up to 21 samples that percentile would
    not be above the median, so the maximum (percentile 100) is
    returned instead."""
    xs = sorted(xs)
    n = len(xs)
    if n <= 21:
        return (xs[-1] if xs else 0.0), 100.0, n
    k = n - 11  # index with exactly ten samples above it
    return float(xs[k]), round(100.0 * (k + 1) / n, 1), n


class _ProgressListener(StreamingQueryListener):
    def __init__(self, tracer: "Tracer"):
        self._tracer = tracer

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        t0 = time.perf_counter()
        p = event.progress
        self._tracer.progress.append(
            {
                "run_id": str(p.runId),
                "batch_id": p.batchId,
                "timestamp": p.timestamp,
                "rows": p.numInputRows,
                "duration_ms": dict(p.durationMs),
            }
        )
        self._tracer.self_s += time.perf_counter() - t0

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


class Tracer:
    """In-memory spans and stream progress. A disabled tracer records
    nothing and registers no listener, so untraced runs pay nothing.
    ``self_s`` accumulates the time tracing code itself spends while a
    measured unit runs."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.progress: list[dict] = []
        self.self_s = 0.0
        self._stack: list[int] = []
        self._listener = None

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "start": time.perf_counter(),
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def listen(self, spark) -> None:
        if self.enabled and self._listener is None:
            self._listener = _ProgressListener(self)
            spark.streams.addListener(self._listener)

    def unlisten(self, spark) -> None:
        if self._listener is not None:
            # progress events are delivered asynchronously; drain the
            # bus before the listener goes away
            spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
            spark.streams.removeListener(self._listener)
            self._listener = None

    def batches(self, run_id: str) -> list[dict]:
        return sorted(
            (p for p in self.progress if p["run_id"] == run_id),
            key=lambda p: p["batch_id"],
        )

    def dump(self, path: str, counts: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "progress": self.progress, "counts": counts}, f)


_STAGE_FIELDS = (
    "executorRunTime",
    "executorCpuTime",
    "shuffleReadBytes",
    "shuffleWriteBytes",
    "inputBytes",
    "memoryBytesSpilled",
    "diskBytesSpilled",
)


def spark_work(spark, job_ids, wall_s: float) -> dict:
    """Sum per-stage metrics over ``job_ids``: job/stage/task counts,
    executor run and CPU time, shuffle, input and spill bytes, and the
    scheduling gap ``wall - executor_run_s / cores``. Skipped stages
    (shuffle output reused) count as no stage."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    stage_ids = set()
    for j in job_ids:
        info = tracker.getJobInfo(j)
        if info is not None:
            stage_ids.update(int(s) for s in info.stageIds)
    tot = dict.fromkeys(_STAGE_FIELDS, 0)
    stages = tasks = 0
    for s in stage_ids:
        sd = store.lastStageAttempt(s)
        if sd.status().toString() == "SKIPPED":
            continue
        stages += 1
        tasks += sd.numCompleteTasks()
        for f in _STAGE_FIELDS:
            tot[f] += getattr(sd, f)()
    run_s = tot["executorRunTime"] / 1e3
    return {
        "jobs": len(job_ids),
        "stages": stages,
        "tasks": tasks,
        "executor_run_s": run_s,
        "executor_cpu_s": tot["executorCpuTime"] / 1e9,
        "sched_gap_s": wall_s - run_s / sc.defaultParallelism,
        "shuffle_read_bytes": tot["shuffleReadBytes"],
        "shuffle_write_bytes": tot["shuffleWriteBytes"],
        "input_bytes": tot["inputBytes"],
        "spill_bytes": tot["memoryBytesSpilled"] + tot["diskBytesSpilled"],
    }


def add_work(a: dict, b: dict) -> dict:
    return {k: a.get(k, 0) + b[k] for k in b}


class Codegen:
    """Whole-stage codegen compile counters (JVM-global): classes
    compiled, from ``CodegenMetrics``, and total compile time, from
    ``CodeGenerator.compileTime`` (nanoseconds)."""

    def __init__(self, spark):
        jvm = spark._jvm
        self._gen = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        self._hist = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def read(self) -> tuple[int, float]:
        return self._hist.getCount(), self._gen.compileTime() / 1e6

    def since(self, mark: tuple[int, float]) -> dict:
        n, ms = self.read()
        return {"classes": n - mark[0], "compile_ms": ms - mark[1]}


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host so far, from ``/proc/stat``;
    (0, 0) where it is not available."""
    try:
        with open("/proc/stat") as f:
            ticks = [int(x) for x in f.readline().split()[1:9]]
    except (OSError, ValueError):
        return 0, 0
    return ticks[7], sum(ticks)


def _vm_hwm_kb(pid) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for pid {pid}")


def peak_rss_mb(spark) -> float:
    """Peak resident set of the driver JVM plus the Python driver."""
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    return (_vm_hwm_kb(jvm_pid) + _vm_hwm_kb("self")) / 1024.0
