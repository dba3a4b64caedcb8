"""Spans and layer counters, recorded from the benchmark's own files.

Nothing here changes the engine: layer boundaries are the public functions
the benchmark calls (``QuerySpec.run``'s ``prep`` / ``register_views`` /
``fn``, ``TrafficAnalytics.from_json``, the snapshot write,
``SnapshotRefreshJob.run_available_now``) plus what Spark already records
about each call — Catalyst phase times from ``queryExecution().tracker()``,
per-stage task metrics from the status store (found through a job group per
operation), and streaming ``durationMs`` from a ``StreamingQueryListener``.

A span is ``(name, start, end, parent, trace)``; times are epoch seconds so
JVM-side timestamps (epoch milliseconds) land on the same axis. A span's
self time is its duration minus the part of it its children cover.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import itertools
import os
import time
from collections.abc import Callable, Iterator
from dataclasses import asdict, dataclass, field

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQueryListener

# Task-metric fields summed over every stage of an operation's jobs:
# layer metric -> (StageData accessor, scale to the metric's unit)
STAGE_FIELDS = {
    "exec.task_run_s": ("executorRunTime", 1e-3),
    "exec.task_cpu_s": ("executorCpuTime", 1e-9),
    "exec.gc_s": ("jvmGcTime", 1e-3),
    "exec.input_bytes": ("inputBytes", 1),
    "exec.shuffle_read_bytes": ("shuffleReadBytes", 1),
    "exec.shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "exec.spill_bytes": ("memoryBytesSpilled", 1),
    "exec.tasks": ("numCompleteTasks", 1),
}
# spill counts both the memory and the disk side of a spill
_DISK_SPILL = "diskBytesSpilled"

# span name -> layer time metric (self time of the span)
SPAN_METRICS = {
    "session.prep": "session.prep_s",
    "io.register_views": "io.register_views_s",
    "plans.build": "plans.build_s",
    "catalyst.analysis": "catalyst.analysis_s",
    "catalyst.optimization": "catalyst.optimization_s",
    "catalyst.planning": "catalyst.planning_s",
    "exec.run": "exec.run_s",
    "sources.from_json": "sources.from_json_s",
    "io.publish": "io.publish_s",
    "streaming.refresh": "streaming.start_stop_s",
    "streaming.add_batch": "streaming.add_batch_s",
}


@dataclass
class Span:
    name: str
    start: float
    end: float
    trace: str
    parent: int | None = None
    id: int = 0


@dataclass
class OpRecord:
    """One query or tick: its wall, its spans and its layer counters."""

    trace: str
    op: str
    wall_s: float
    traced: bool
    cpu_s: float = 0.0
    spans: list[Span] = field(default_factory=list)
    counters: dict[str, float] = field(default_factory=dict)

    def self_times(self) -> dict[int, float]:
        return {s.id: s.end - s.start - _covered(s, self.spans) for s in self.spans}

    def layer_metrics(self, cores: int) -> dict[str, float]:
        out = dict(self.counters)
        # share of the cores' time the operation's tasks kept busy
        out["exec.core_util"] = out.get("exec.task_run_s", 0.0) / (cores * self.wall_s)
        selfs = self.self_times()
        for s in self.spans:
            metric = SPAN_METRICS.get(s.name)
            if metric:
                out[metric] = out.get(metric, 0.0) + selfs[s.id]
        return out

    def attributed_share(self) -> float:
        """Share of the operation's wall that the layer spans account for:
        one minus the root span's self time over its duration."""
        root = next(s for s in self.spans if s.parent is None)
        return 1.0 - self.self_times()[root.id] / max(root.end - root.start, 1e-9)


def _covered(span: Span, spans: list[Span]) -> float:
    """Length of the union of ``span``'s children, clipped to ``span``."""
    total, reach = 0.0, span.start
    for start, end in sorted((c.start, c.end) for c in spans if c.parent == span.id):
        end = min(end, span.end)
        if end > reach:
            total += end - max(start, reach)
            reach = end
    return total


class Tracer:
    """Records spans for the operation in progress. With ``active`` False
    every hook is a no-op, so one installation serves traced and untraced
    operations in the same run."""

    def __init__(self, spark: SparkSession) -> None:
        self.spark = spark
        self.active = False
        self.record: OpRecord | None = None
        self._stack: list[Span] = []
        self._ids = itertools.count(1)
        self._listener: _ProgressListener | None = None

    # -- spans ------------------------------------------------------------

    def add(self, name: str, start: float, end: float, parent: Span | None) -> Span:
        span = Span(name, start, end, self.record.trace, parent.id if parent else None, next(self._ids))
        self.record.spans.append(span)
        return span

    @contextlib.contextmanager
    def span(self, name: str) -> Iterator[Span | None]:
        if not self.active:
            yield None
            return
        span = self.add(name, time.time(), 0.0, self._stack[-1] if self._stack else None)
        self._stack.append(span)
        try:
            yield span
        finally:
            span.end = time.time()
            self._stack.pop()

    def wrap(self, name: str, fn: Callable) -> Callable:
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    @contextlib.contextmanager
    def op(self, trace: str, op: str, traced: bool) -> Iterator[OpRecord]:
        """One operation. The caller sets ``record.wall_s``; when traced, the
        root span covers the same interval."""
        self.record = OpRecord(trace=trace, op=op, wall_s=0.0, traced=traced)
        self.active = traced
        try:
            if traced:
                with self.span("op"):
                    yield self.record
            else:
                yield self.record
        finally:
            self.active = False

    def job_group(self, group: str) -> None:
        if self.active:
            self.spark.sparkContext.setJobGroup(group, group)

    def clear_job_group(self) -> None:
        if self.active:
            self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)

    # -- Spark-side statistics ---------------------------------------------

    def drain_events(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        status store and the streaming listener hold this operation's data."""
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(10_000)

    def catalyst_phases(self, df: DataFrame, parents: list[Span]) -> None:
        """Add the Catalyst phase spans of ``df``'s query execution, each
        under whichever of ``parents`` contains its midpoint."""
        phases = df._jdf.queryExecution().tracker().phases()
        for phase in ("analysis", "optimization", "planning"):
            opt = phases.get(phase)
            if not opt.isDefined():
                continue
            summary = opt.get()
            start, end = summary.startTimeMs() / 1e3, summary.endTimeMs() / 1e3
            mid = (start + end) / 2
            parent = next((p for p in parents if p.start <= mid <= p.end), None)
            if parent is not None:
                self.add(f"catalyst.{phase}", start, end, parent)

    def job_stats(self, groups: list[str]) -> dict[str, float]:
        """Jobs, stages and summed task metrics of every job in ``groups``."""
        sc = self.spark.sparkContext
        store = sc._jsc.sc().statusStore()
        out = {k: 0.0 for k in STAGE_FIELDS} | {"exec.jobs": 0.0, "exec.stages": 0.0}
        for group in groups:
            for job_id in sc.statusTracker().getJobIdsForGroup(group):
                info = sc.statusTracker().getJobInfo(job_id)
                out["exec.jobs"] += 1
                for stage_id in info.stageIds if info else ():
                    try:
                        stage = store.lastStageAttempt(stage_id)
                    except Py4JJavaError:  # skipped stage: no attempt recorded
                        continue
                    if stage.numCompleteTasks() == 0:
                        continue
                    out["exec.stages"] += 1
                    for metric, (attr, scale) in STAGE_FIELDS.items():
                        out[metric] += getattr(stage, attr)() * scale
                    out["exec.spill_bytes"] += getattr(stage, _DISK_SPILL)()
        return out

    def streaming_listener(self) -> "_ProgressListener":
        if self._listener is None:
            self._listener = _ProgressListener()
            self.spark.streams.addListener(self._listener)
        return self._listener


class _ProgressListener(StreamingQueryListener):
    """Collects the run ids and progress events of streaming queries."""

    def __init__(self) -> None:
        self.run_ids: list[str] = []
        self.progress: list[dict] = []

    def onQueryStarted(self, event) -> None:
        self.run_ids.append(str(event.runId))

    def onQueryProgress(self, event) -> None:
        p = event.progress
        self.progress.append(
            {
                "run_id": str(p.runId),
                "batch_id": p.batchId,
                "timestamp": p.timestamp,
                "duration_ms": dict(p.durationMs),
                "input_rows": p.numInputRows,
            }
        )

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def take(self) -> tuple[list[str], list[dict]]:
        runs, prog = self.run_ids, self.progress
        self.run_ids, self.progress = [], []
        return runs, prog


class CpuClock:
    """CPU seconds used by this process and the driver JVM (in local mode
    the JVM also runs every task), read from ``/proc``. Unlike wall time it
    excludes time the host's hypervisor gave to other guests."""

    def __init__(self, spark: SparkSession) -> None:
        self._stat = f"/proc/{spark.sparkContext._gateway.proc.pid}/stat"
        self._tick = os.sysconf("SC_CLK_TCK")

    def __call__(self) -> float:
        with open(self._stat) as f:
            fields = f.read().rsplit(")", 1)[1].split()
        # fields 14 and 15 of proc(5): utime, stime
        return (int(fields[11]) + int(fields[12])) / self._tick + time.process_time()


def progress_start(timestamp: str) -> float:
    """Epoch seconds of a progress event's trigger start (ISO-8601, UTC)."""
    return dt.datetime.fromisoformat(timestamp.replace("Z", "+00:00")).timestamp()


def spans_json(records: list[OpRecord]) -> list[dict]:
    return [asdict(s) for r in records if r.traced for s in r.spans]
