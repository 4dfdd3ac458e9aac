"""Measurement probes that read the engine from the outside.

- ``StatusCounters``: cumulative stage/job counters from Spark's own app
  status store (it works with the UI disabled). Each stage is read once,
  newest first, serialized in one JVM call.
- ``ProgressRecorder``: a ``StreamingQueryListener`` that keeps every
  progress record whole (``durationMs`` phases, timestamps, row counts).
- ``Tracer``: spans around calls into the engine. A span always records
  its wall time; when tracing is on it also carries the status-store
  counter delta over its interval. Spans stay in memory until the run
  writes them out.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql.streaming import StreamingQueryListener

COUNTER_KEYS = (
    "jobs",
    "stages",
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "input_mb",
    "shuffle_write_mb",
    "shuffle_read_mb",
    "output_mb",
    "spill_mb",
    "peak_exec_mem_mb",
)
_MB = 1024.0 * 1024.0
_DONE = {"COMPLETE", "FAILED", "SKIPPED"}


class StatusCounters:
    """Running totals over every finished stage of the current
    SparkContext. ``read()`` folds in the stages finished since the last
    call and returns a copy of the totals; subtract two reads for the
    delta of an interval. ``peak_exec_mem_mb`` does not add up across
    stages: ``delta`` reports the largest single-stage peak inside the
    interval."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._store = sc._jsc.sc().statusStore()
        self._defaults = [
            getattr(self._store, f"stageList$default${i}")() for i in (2, 3, 4, 5)
        ]
        scala = sc._jvm.com.fasterxml.jackson.module.scala
        self._json = sc._jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._json.registerModule(getattr(getattr(scala, "DefaultScalaModule$"), "MODULE$"))
        self._stage_hi = self._job_hi = -1
        self._pending: set[int] = set()
        self._counted: set[int] = set()
        self.evicted = False
        self._peaks: list[float] = []
        self.totals = dict.fromkeys(COUNTER_KEYS, 0.0)
        self.read()
        self.totals = dict.fromkeys(COUNTER_KEYS, 0.0)
        self._peaks = []

    def _top(self, seq, attr: str) -> int:
        return getattr(seq.apply(0), attr)() if seq.size() else -1

    def read(self) -> dict[str, float]:
        stages = self._store.stageList(None, *self._defaults)
        top = self._top(stages, "stageId")
        # stage ids are dense from 0, so a shorter list means eviction
        if stages.size() < top + 1:
            self.evicted = True
        # newest first: everything above the high-water mark, plus the
        # stages that were still running at the previous read
        lo = min(self._pending, default=self._stage_hi + 1)
        fresh = json.loads(self._json.writeValueAsString(stages.take(top - lo + 1))) if top >= lo else []
        self._pending = set()
        t = self.totals
        for s in fresh:
            sid = s["stageId"]
            if sid in self._counted:
                continue
            if s["status"] not in _DONE:
                self._pending.add(sid)
                continue
            self._counted.add(sid)
            if s["status"] == "SKIPPED":
                continue
            t["stages"] += 1
            t["tasks"] += s["numCompleteTasks"] + s["numFailedTasks"]
            t["executor_run_s"] += s["executorRunTime"] / 1e3
            t["executor_cpu_s"] += s["executorCpuTime"] / 1e9
            t["gc_s"] += s["jvmGcTime"] / 1e3
            t["input_mb"] += s["inputBytes"] / _MB
            t["shuffle_write_mb"] += s["shuffleWriteBytes"] / _MB
            t["shuffle_read_mb"] += s["shuffleReadBytes"] / _MB
            t["output_mb"] += s["outputBytes"] / _MB
            t["spill_mb"] += (s["memoryBytesSpilled"] + s["diskBytesSpilled"]) / _MB
            self._peaks.append(s["peakExecutionMemory"] / _MB)
        self._stage_hi = max(self._stage_hi, top)
        jobs = self._store.jobsList(None)
        job_top = self._top(jobs, "jobId")
        t["jobs"] += max(job_top - self._job_hi, 0)
        self._job_hi = max(self._job_hi, job_top)
        return {**t, "_n": len(self._peaks)}

    def delta(self, before: dict[str, float]) -> dict[str, float]:
        after = self.read()
        out = {k: after[k] - before[k] for k in COUNTER_KEYS}
        out["peak_exec_mem_mb"] = max(self._peaks[before["_n"]:], default=0.0)
        return out


class ProgressRecorder(StreamingQueryListener):
    """Keeps every ``StreamingQueryProgress`` as parsed JSON and the
    termination time of each query."""

    def __init__(self) -> None:
        self.progress: list[dict] = []
        self.terminated: list[float] = []

    def onQueryStarted(self, event) -> None:  # noqa: N802
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        self.progress.append(json.loads(event.progress.json))

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        self.terminated.append(time.time())

    def wait_terminated(self, n: int, timeout: float = 30.0) -> bool:
        """Listener events arrive asynchronously; block until ``n``
        queries have reported termination (every progress event of a
        query is delivered before its termination event)."""
        deadline = time.monotonic() + timeout
        while len(self.terminated) < n and time.monotonic() < deadline:
            time.sleep(0.05)
        return len(self.terminated) >= n


@dataclass
class Span:
    name: str
    id: int
    parent: int | None
    start: float
    end: float = 0.0
    counters: dict[str, float] = field(default_factory=dict)
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Span recorder. With ``counters=None`` (the end-to-end runs) a span
    only takes two clock readings; with a ``StatusCounters`` every span
    also polls the status store at both edges."""

    def __init__(self, counters: StatusCounters | None = None):
        self.counters = counters
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, len(self.spans), parent, 0.0, attrs=attrs)
        self.spans.append(sp)
        self._stack.append(sp.id)
        before = self.counters.read() if self.counters else None
        sp.start = time.time()
        try:
            yield sp
        finally:
            sp.end = time.time()
            if self.counters:
                sp.counters = self.counters.delta(before)
            self._stack.pop()

    def add(self, name: str, start: float, end: float, parent: Span, **attrs) -> Span:
        """Record a span rebuilt from timestamps the engine reported."""
        sp = Span(name, len(self.spans), parent.id, start, end, attrs=attrs)
        self.spans.append(sp)
        return sp

    def children(self, sp: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == sp.id]

    def dump(self) -> list[dict]:
        return [
            {
                "name": s.name,
                "id": s.id,
                "parent": s.parent,
                "start": s.start,
                "end": s.end,
                "seconds": s.seconds,
                "self_seconds": s.seconds - sum(c.seconds for c in self.children(s)),
                "counters": s.counters,
                **({"attrs": s.attrs} if s.attrs else {}),
            }
            for s in self.spans
        ]


def jvm_peak_rss_mb(spark) -> float:
    """High-water resident set of the driver JVM (``VmHWM``)."""
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return float("nan")
