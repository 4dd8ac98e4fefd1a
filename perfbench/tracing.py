"""Tracing for the benchmark: spans, percentiles, Spark status-store
counters per job group, and streaming progress from a query listener.

Everything here reads the engine from outside: spans wrap the benchmark's
own calls into the engine, counters come from Spark's status store (which
works with ``spark.ui.enabled=false``), and stream progress comes from a
``StreamingQueryListener`` the benchmark registers. Spans stay in memory
until the run ends.
"""

from __future__ import annotations

import itertools
import math
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql.streaming import StreamingQueryListener

#: job group ids are unique per process, so two tracers never share a group
_GROUP_IDS = itertools.count(1)


def _rank(p: float, n: int) -> int:
    """1-based nearest rank of percentile ``p`` among ``n`` samples."""
    return max(1, math.ceil(round(p * n / 100.0, 9)))


def percentile(samples: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    ordered = sorted(samples)
    return ordered[_rank(p, len(ordered)) - 1]


TAIL_CANDIDATES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def tail_percentile(samples: list[float]) -> tuple[float, float] | None:
    """The highest percentile with at least ten samples beyond it, as
    ``(p, value)``; None when fewer than 20 samples support even p50."""
    n = len(samples)
    for p in TAIL_CANDIDATES:
        if n - _rank(p, n) >= 10:
            return p, percentile(samples, p)
    return None


def floor_ms(spark) -> float:
    """One run of the ``spark.range`` sentinel job (the one ``bench.py``
    records): the box's fixed cost of one trivial job (scheduler, py4j)."""
    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    spark.range(32).groupBy((F.col("id") % 4).alias("k")).count().collect()
    return (time.perf_counter() - t0) * 1000.0


@dataclass
class Span:
    name: str
    parent: int | None
    start: float
    end: float = 0.0

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


def union_length(intervals) -> float:
    """Total length covered by the union of ``(start, end)`` intervals."""
    covered = 0.0
    cur_start = cur_end = None
    for lo, hi in sorted(intervals):
        if hi <= lo:
            continue
        if cur_end is None or lo > cur_end:
            if cur_end is not None:
                covered += cur_end - cur_start
            cur_start, cur_end = lo, hi
        else:
            cur_end = max(cur_end, hi)
    if cur_end is not None:
        covered += cur_end - cur_start
    return covered


def self_times(spans: list[Span]) -> dict[str, float]:
    """Per span name, total self time in ms: each span's duration minus
    the union of its children's intervals (clipped to the span)."""
    children: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)
    out: dict[str, float] = defaultdict(float)
    for i, s in enumerate(spans):
        covered = union_length(
            (max(c.start, s.start), min(c.end, s.end)) for c in children[i]
        )
        out[s.name] += (s.end - s.start - covered) * 1000.0
    return dict(out)


class StreamProgress(StreamingQueryListener):
    """Collects query starts and per-micro-batch progress."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.run_ids: list[str] = []
        self.progress: list = []

    def take(self) -> tuple[list[str], list]:
        with self._lock:
            out = (self.run_ids, self.progress)
            self.run_ids, self.progress = [], []
        return out

    def onQueryStarted(self, event) -> None:
        with self._lock:
            self.run_ids.append(str(event.runId))

    def onQueryProgress(self, event) -> None:
        with self._lock:
            self.progress.append(event.progress)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


def wait_for_listeners(spark) -> None:
    """Block until Spark's listener bus has delivered every event posted so
    far, so the status store and the stream listener are complete."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def group_counters(spark, group_ids: list[str]) -> dict[str, float]:
    """Scheduler, executor, shuffle and input counters for every job of the
    given job groups, read from the status store."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    c: dict[str, float] = defaultdict(float)
    seen_run: set[int] = set()
    windows: list[tuple[float, float]] = []
    for gid in group_ids:
        for job_id in tracker.getJobIdsForGroup(gid):
            info = tracker.getJobInfo(job_id)
            if info is None:
                continue
            c["scheduler.jobs"] += 1
            for sid in info.stageIds:
                st = store.lastStageAttempt(sid)
                c["scheduler.stages"] += 1
                if str(st.status()) == "SKIPPED":
                    c["scheduler.skipped_stages"] += 1
                    continue
                if sid in seen_run:
                    continue
                seen_run.add(sid)
                c["scheduler.tasks"] += st.numTasks()
                c["executor.run_ms"] += st.executorRunTime()
                c["executor.cpu_ms"] += st.executorCpuTime() / 1e6
                c["storage.input_bytes"] += st.inputBytes()
                c["shuffle.read_bytes"] += st.shuffleReadBytes()
                c["shuffle.write_bytes"] += st.shuffleWriteBytes()
                start, end = st.submissionTime(), st.completionTime()
                if start.isDefined() and end.isDefined():
                    windows.append((start.get().getTime(), end.get().getTime()))
    c["scheduler.stage_wall_ms"] = union_length(windows)
    return dict(c)


def catalyst_phases(df) -> dict[str, float]:
    """Analysis, optimization and planning ms of ``df``'s QueryExecution."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        opt = phases.get(phase)
        out[f"catalyst.{phase}_ms"] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


def stream_counters(progress: list) -> dict[str, float]:
    """Micro-batch counters from listener progress events."""
    c: dict[str, float] = defaultdict(float)
    for p in progress:
        d = p.durationMs or {}
        c["streaming.batches"] += 1
        c["streaming.input_rows"] += p.numInputRows
        c["streaming.batch_ms"] += d.get("triggerExecution", 0)
        c["streaming.add_batch_ms"] += d.get("addBatch", 0)
        c["streaming.wal_commit_ms"] += d.get("walCommit", 0)
        for s in p.stateOperators or []:
            c["streaming.state_commit_ms"] += s.commitTimeMs
            c["streaming.state_rows"] = max(c["streaming.state_rows"], s.numRowsTotal)
            c["streaming.state_memory_bytes"] = max(
                c["streaming.state_memory_bytes"], s.memoryUsedBytes
            )
    return dict(c)


@dataclass
class OpTrace:
    """Spans and counters of one traced operation."""

    name: str
    spans: list[Span] = field(default_factory=list)
    counters: dict[str, float] = field(default_factory=lambda: defaultdict(float))
    #: span name -> job group id, for the spans whose jobs count
    groups: dict[str, str] = field(default_factory=dict)

    def add(self, values: dict[str, float]) -> None:
        for k, v in values.items():
            self.counters[k] += v


class Tracer:
    """Records one ``OpTrace`` per operation. ``span(name, group=True)``
    also labels the Spark jobs started inside it with a job group of their
    own, so their counters can be read back per span; ``group="probe"``
    labels them apart so a measurement probe's jobs are not counted."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.ops: list[OpTrace] = []
        self.listener = StreamProgress()
        spark.streams.addListener(self.listener)
        self._stack: list[int] = []

    @contextmanager
    def op(self, name: str):
        self.ops.append(OpTrace(name))
        self._stack = []
        with self.span("op"):
            yield self.ops[-1]

    @contextmanager
    def span(self, name: str, group: bool | str = False):
        cur = self.ops[-1]
        parent = self._stack[-1] if self._stack else None
        cur.spans.append(Span(name, parent, time.perf_counter()))
        idx = len(cur.spans) - 1
        if group:
            gid = f"bench/{next(_GROUP_IDS)}/{name}"
            self.spark.sparkContext.setJobGroup(gid, name, False)
            if group is True:
                cur.groups[name] = gid
        self._stack.append(idx)
        try:
            yield cur.spans[idx]
        finally:
            cur.spans[idx].end = time.perf_counter()
            self._stack.pop()

    def collect_counters(self, op: OpTrace, stream: bool = False) -> None:
        """Read the counters of ``op``'s job groups (and, for stream
        consumers, the micro-batch jobs of every query it started)."""
        with self.span("trace.read"):
            wait_for_listeners(self.spark)
            run_ids, progress = self.listener.take()
            groups = list(op.groups.values()) + (run_ids if stream else [])
            op.add(group_counters(self.spark, groups))
            op.add(stream_counters(progress))
            self.spark.sparkContext.setJobGroup("bench/idle", "idle", False)

    def close(self) -> None:
        self.spark.streams.removeListener(self.listener)
