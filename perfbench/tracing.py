"""Spans, counters and engine counters for the traced run.

Spans are recorded around each call the benchmark makes into a layer of
the package; the package itself is not instrumented.  A span has a
name (``<layer>.<call>``), start and end, the span that caused it and
the id of the operation it belongs to.  Everything stays in memory
until :meth:`Tracer.dump` writes it out at the end of the run.

With tracing off, :meth:`Tracer.span` returns one shared no-op context
and :meth:`Tracer.count` returns at once, so untraced runs pay almost
nothing for the instrumentation points.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import statistics
import threading
import time
from dataclasses import dataclass

_NOOP = contextlib.nullcontext()


@dataclass
class Span:
    span_id: int
    name: str
    start: float
    end: float
    parent: int | None
    op_id: int | None

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]


class _SpanContext:
    __slots__ = ("tracer", "name", "span_id", "parent", "op_id", "start")

    def __init__(self, tracer: "Tracer", name: str, new_op: bool):
        self.tracer = tracer
        self.name = name
        stack = tracer._stack()
        self.parent = stack[-1].span_id if stack else None
        if new_op or not stack:
            self.op_id = next(tracer._op_ids)
        else:
            self.op_id = stack[-1].op_id
        self.span_id = next(tracer._span_ids)

    def __enter__(self):
        self.tracer._stack().append(self)
        self.start = time.perf_counter()
        return self

    def __exit__(self, *exc):
        end = time.perf_counter()
        self.tracer._stack().pop()
        span = Span(self.span_id, self.name, self.start, end, self.parent,
                    self.op_id)
        with self.tracer._lock:
            self.tracer.spans.append(span)
        return False


class Tracer:
    """In-memory span and counter recorder; a no-op when disabled."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.counts: dict[str, float] = {}
        self._lock = threading.Lock()
        self._local = threading.local()
        self._span_ids = itertools.count(1)
        self._op_ids = itertools.count(1)

    def _stack(self) -> list:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def span(self, name: str, new_op: bool = False):
        """Context manager timing one call; ``new_op`` starts a new
        operation id (the root span of one benchmark operation)."""
        if not self.enabled:
            return _NOOP
        return _SpanContext(self, name, new_op)

    @contextlib.contextmanager
    def operation(self, name: str, counters: "SparkCounters"):
        """Root span of one benchmark operation, with its Spark jobs
        tagged and counted."""
        if not self.enabled:
            yield
            return
        with self.span(name, new_op=True) as root, \
                counters.job_group(self, root.op_id):
            yield

    @contextlib.contextmanager
    def paused(self):
        """Record nothing inside the block (warm-up)."""
        enabled, self.enabled = self.enabled, False
        try:
            yield
        finally:
            self.enabled = enabled

    def count(self, name: str, value: float = 1) -> None:
        if not self.enabled:
            return
        with self._lock:
            self.counts[name] = self.counts.get(name, 0) + value

    # ------------------------------------------------------------------ #
    def median_ms(self, name: str) -> float:
        """Median inclusive duration of the spans called ``name``, in
        ms; 0.0 when the workload never made that call."""
        spans = [s for s in self.spans if s.name == name]
        if not spans:
            return 0.0
        return statistics.median(s.end - s.start for s in spans) * 1e3

    def self_times(self) -> dict[int, float]:
        """Span id -> self time in seconds: the span's duration minus the
        part of it that its child spans cover."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out = {}
        for s in self.spans:
            covered = 0.0
            cursor = s.start
            for c in sorted(children.get(s.span_id, []),
                            key=lambda c: c.start):
                lo, hi = max(c.start, cursor), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    cursor = hi
            out[s.span_id] = (s.end - s.start) - covered
        return out

    def layer_self_ms(self, n_ops: int, since: float) -> dict[str, float]:
        """Layer -> self time per operation in ms, over the spans that
        started at or after ``since`` (the measured loop)."""
        selfs = self.self_times()
        totals: dict[str, float] = {}
        for s in self.spans:
            if s.start < since:
                continue
            totals[s.layer] = totals.get(s.layer, 0.0) + selfs[s.span_id]
        return {k: v * 1e3 / max(n_ops, 1) for k, v in totals.items()}

    def dump(self, path: str) -> None:
        """Write every span and count as JSON lines."""
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s.start):
                f.write(json.dumps({
                    "span": s.span_id, "name": s.name, "start": s.start,
                    "end": s.end, "parent": s.parent, "op": s.op_id}) + "\n")
            f.write(json.dumps({"counts": self.counts}) + "\n")


def collect(tracer: Tracer, df) -> list:
    """``df.collect()``; a traced run first forces physical planning
    (``queryExecution().executedPlan()``) in a span of its own, so
    planning and execution are timed apart."""
    if tracer.enabled:
        with tracer.span("spark.plan"):
            df._jdf.queryExecution().executedPlan()
    with tracer.span("spark.exec"):
        return df.collect()


def count_skipping(tracer: Tracer, table, **predicates) -> None:
    """Count the directories ``PartitionedTable.skipping_report`` says a
    read with ``predicates`` scans, against all it considers."""
    if tracer.enabled:
        report = table.skipping_report(**predicates)
        tracer.count("partitioned.dirs_scanned",
                     sum(r["status"] == "scanned" for r in report))
        tracer.count("partitioned.dirs_total", len(report))


class SparkCounters:
    """Engine counters read from outside the package over Py4J: Spark
    jobs and tasks per operation from the status tracker, JVM
    garbage-collection time from the GarbageCollectorMXBeans and the
    heap in use after a full collection from the MemoryMXBean."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jvm = self.sc._jvm
        self._tracker = self.sc.statusTracker()

    def gc_ms(self) -> float:
        beans = (self._jvm.java.lang.management.ManagementFactory
                 .getGarbageCollectorMXBeans())
        return float(sum(max(b.getCollectionTime(), 0) for b in beans))

    def live_heap_mb(self) -> float:
        """Heap in use right after a full collection, in MiB: the data
        the program still holds, whatever sizes the collector chose.
        It forces that collection, so a run reads it only after every
        other measurement."""
        self._jvm.java.lang.System.gc()
        usage = (self._jvm.java.lang.management.ManagementFactory
                 .getMemoryMXBean().getHeapMemoryUsage())
        return usage.getUsed() / 2**20

    @contextlib.contextmanager
    def job_group(self, tracer: Tracer, op_id: int):
        """Tag the Spark jobs one operation runs; on exit add its jobs,
        completed tasks and failed tasks to the tracer's counts."""
        group = f"perfbench-{op_id}"
        self.sc.setJobGroup(group, group)
        try:
            yield
        finally:
            t0 = time.perf_counter()
            jobs = list(self._tracker.getJobIdsForGroup(group))
            tasks = failed = 0
            for job_id in jobs:
                info = self._tracker.getJobInfo(job_id)
                for stage_id in (info.stageIds if info else []):
                    stage = self._tracker.getStageInfo(stage_id)
                    if stage is not None:
                        tasks += stage.numCompletedTasks
                        failed += stage.numFailedTasks
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            tracer.count("spark.jobs", len(jobs))
            tracer.count("spark.tasks", tasks)
            tracer.count("spark.failed_tasks", failed)
            tracer.count("trace.counter_s", time.perf_counter() - t0)


def _children(pid: int) -> list[int]:
    out = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[1]) == pid:
            out.append(int(entry))
    return out


def _tree(root_pid: int | None = None):
    """This process (or ``root_pid``) and all its descendants: Python,
    the JVM it launched and the JVM's Python workers."""
    todo = [root_pid or os.getpid()]
    while todo:
        pid = todo.pop()
        yield pid
        todo.extend(_children(pid))


def peak_rss_mb() -> float:
    """Sum over the process tree of each process's peak resident set
    size (``VmHWM``), in MiB."""
    total_kb = 0
    for pid in _tree():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


def cpu_s() -> float:
    """User plus system CPU time consumed so far by the process tree, in
    seconds.  Time the hypervisor gives other guests is not charged
    here, so CPU per operation moves less with noisy neighbours than
    wall-clock latency does."""
    ticks = 0
    for pid in _tree():
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += int(fields[11]) + int(fields[12])
    return ticks / os.sysconf("SC_CLK_TCK")
