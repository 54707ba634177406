"""Spans and Spark counters, recorded from outside the engine.

A span has a name, start, end, parent and run id. The benchmark opens
spans around its own calls into the engine's public functions
(``IncrementalScd2.process_batch``, the merge backend's ``apply``, a
registered query's build and execute), so no engine module changes.
Spans stay in memory and are written out once, when the run ends.

Counts are read at the same boundaries from Spark's AppStatusStore,
the store behind the status tracker, as deltas over the jobs that ran
inside the span.
"""

from __future__ import annotations

import json
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

# StageData getters -> counter names. Times are in ms, sizes in bytes.
_STAGE_FIELDS = {
    "numTasks": "tasks",
    "executorRunTime": "task_ms",
    "jvmGcTime": "gc_ms",
    "shuffleWriteBytes": "shuffle_write_bytes",
    "shuffleReadBytes": "shuffle_read_bytes",
    "memoryBytesSpilled": "spill_bytes",
    "diskBytesSpilled": "spill_bytes",
}


class SparkCounters:
    """Job, stage and task counters of one SparkContext.

    ``read()`` returns the work of every job finished since the previous
    call, so a read at a span's start and one at its end give the work
    done inside the span. Job ids are sequential, so each read walks the
    store from the first job it has not yet counted; streaming jobs are
    included (they run under the query's job group). Spans that read
    counters must not overlap.
    """

    def __init__(self, spark) -> None:
        self._store = spark.sparkContext._jsc.sc().statusStore()
        self._next_job = 0

    def read(self) -> dict[str, int]:
        from py4j.protocol import Py4JJavaError

        counts = dict.fromkeys(
            ["jobs", "stages", "peak_exec_mem_bytes",
             *_STAGE_FIELDS.values()], 0)
        while True:
            try:
                job = self._store.job(self._next_job)
            except Py4JJavaError:
                break  # not submitted yet
            if str(job.status()) not in ("SUCCEEDED", "FAILED"):
                break  # still running: it counts at the next read
            self._next_job += 1
            counts["jobs"] += 1
            stages = job.stageIds()
            for i in range(stages.size()):
                self._add_stage(stages.apply(i), counts)
        return counts

    def _add_stage(self, stage: int, counts: dict[str, int]) -> None:
        from py4j.protocol import Py4JJavaError

        try:
            data = self._store.lastStageAttempt(stage)
        except Py4JJavaError:
            return  # never submitted
        if str(data.status()) != "COMPLETE":
            return  # skipped: its output was reused, no tasks ran
        counts["stages"] += 1
        for getter, name in _STAGE_FIELDS.items():
            counts[name] += getattr(data, getter)()
        counts["peak_exec_mem_bytes"] = max(
            counts["peak_exec_mem_bytes"], data.peakExecutionMemory()
        )


@dataclass
class Span:
    name: str
    span_id: int
    parent: int | None
    run_id: str
    start: float
    end: float = 0.0
    counts: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. Disabled, it records nothing and costs a
    clock read per span, so untraced runs keep the same code path."""

    def __init__(self, run_id: str, enabled: bool, spark=None) -> None:
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self.overhead_s = 0.0  # time spent reading counters
        self._counters = SparkCounters(spark) if enabled and spark else None
        self._lock = threading.Lock()

    def _read(self) -> dict[str, int]:
        if self._counters is None:
            return {}
        t0 = time.perf_counter()
        counts = self._counters.read()
        self.overhead_s += time.perf_counter() - t0
        return counts

    @contextmanager
    def span(self, name: str, parent: Span | None = None, counted=False):
        """Time the body as one span. ``counted`` spans carry the Spark
        work done inside them; their children must not be counted too."""
        if not self.enabled:
            yield None
            return
        if counted:
            self._read()  # attribute earlier work to nobody
        with self._lock:
            span = Span(
                name, len(self.spans),
                parent.span_id if parent else None,
                self.run_id, time.time(),
            )
            self.spans.append(span)
        try:
            yield span
        finally:
            span.end = time.time()
            if counted:
                span.counts.update(self._read())

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.span_id]

    def self_seconds(self, span: Span) -> float:
        """Duration minus the part of it covered by child spans."""
        covered, last_end = 0.0, span.start
        for c in sorted(self.children(span), key=lambda s: s.start):
            start, end = max(c.start, last_end), min(c.end, span.end)
            if end > start:
                covered += end - start
                last_end = end
        return span.seconds - covered

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name and s.end]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s), sort_keys=True) + "\n")


def spark_layers(spans, n: int) -> dict[str, float]:
    """AppStatusStore counts per operation (mean over ``n`` spans)."""
    def total(key):
        return sum(s.counts.get(key, 0) for s in spans)

    return {
        "spark.jobs": total("jobs") / n,
        "spark.stages": total("stages") / n,
        "spark.tasks": total("tasks") / n,
        "spark.task_s": total("task_ms") / 1000 / n,
        "spark.gc_s": total("gc_ms") / 1000 / n,
        "spark.shuffle_write_bytes": total("shuffle_write_bytes") / n,
        "spark.shuffle_read_bytes": total("shuffle_read_bytes") / n,
        "spark.spill_bytes": total("spill_bytes") / n,
        "spark.peak_exec_mem_bytes": max(
            (s.counts.get("peak_exec_mem_bytes", 0) for s in spans),
            default=0),
    }
