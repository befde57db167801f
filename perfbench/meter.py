"""Measurement primitives: latency summaries, Spark job attribution,
spans and memory high-water marks.

Job attribution works by job-id range: Spark numbers jobs from one
counter in the DAG scheduler, so the jobs a call started are exactly
the ids handed out between its start and its end — including jobs that
the call submitted from its own pool threads, which a job-group filter
misses.  Stage, task, shuffle and executor-time figures come from the
in-process status store (populated with the UI disabled) after the
listener bus has drained.
"""

from __future__ import annotations

import math
import os
import resource
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

#: Percentiles a summary may report, lowest first.
PERCENTILES = (50.0, 90.0, 95.0, 99.0, 99.9)
#: A percentile is reported only when this many samples lie beyond it.
TAIL_SAMPLES = 10


def highest_percentile(n: int) -> float | None:
    """The highest percentile in ``PERCENTILES`` that has at least
    ``TAIL_SAMPLES`` of ``n`` samples beyond it, or None."""
    best = None
    for p in PERCENTILES:
        if n * (100.0 - p) / 100.0 >= TAIL_SAMPLES - 1e-9:
            best = p
    return best


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile of ``values``."""
    xs = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[rank - 1]


def summarize(values: list[float]) -> dict:
    """Median, sample count and the highest supported percentile."""
    out: dict = {"n": len(values)}
    if values:
        out["p50"] = statistics.median(values)
        p = highest_percentile(len(values))
        if p is not None and p > 50.0:
            out[f"p{p:g}"] = percentile(values, p)
    return out


@dataclass
class JobStats:
    """Spark work attributed to a range of job ids."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    shuffle_bytes: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0

    def __add__(self, o: "JobStats") -> "JobStats":
        return JobStats(*(a + b for a, b in zip(self.astuple(), o.astuple())))

    def __sub__(self, o: "JobStats") -> "JobStats":
        return JobStats(*(a - b for a, b in zip(self.astuple(), o.astuple())))

    def astuple(self) -> tuple:
        return (self.jobs, self.stages, self.tasks, self.failed_tasks,
                self.shuffle_bytes, self.run_s, self.cpu_s)


class JobMeter:
    """Reads job ids and per-job statistics from a live SparkContext."""

    def __init__(self, spark):
        sc = spark.sparkContext._jsc.sc()
        self._dag = sc.dagScheduler()
        self._bus = sc.listenerBus()
        self._store = sc.statusStore()
        self._cache: dict[int, JobStats] = {}

    def next_job_id(self) -> int:
        """The id the next submitted job will get."""
        # py4j hands the AtomicInteger back as a Python int.
        return int(self._dag.nextJobId())

    def drain(self) -> None:
        """Wait until the status store has seen every posted event."""
        self._bus.waitUntilEmpty()

    def stats(self, first: int, end: int) -> JobStats:
        """Totals over job ids ``first <= id < end``; call ``drain``
        after the jobs finished and before asking."""
        total = JobStats()
        for job_id in range(first, end):
            if job_id not in self._cache:
                self._cache[job_id] = self._job(job_id)
            total = total + self._cache[job_id]
        return total

    def _job(self, job_id: int) -> JobStats:
        from py4j.protocol import Py4JJavaError

        try:
            job = self._store.job(job_id)
        except Py4JJavaError:        # evicted or never registered
            return JobStats(jobs=1)
        out = JobStats(
            jobs=1,
            tasks=job.numTasks() - job.numSkippedTasks(),
            failed_tasks=job.numFailedTasks(),
        )
        ids = job.stageIds()
        for i in range(ids.size()):
            try:
                st = self._store.lastStageAttempt(ids.apply(i))
            except Py4JJavaError:    # skipped stages are not stored
                continue
            if str(st.status()) == "SKIPPED":
                continue
            out.stages += 1
            out.shuffle_bytes += st.shuffleReadBytes() + st.shuffleWriteBytes()
            out.run_s += st.executorRunTime() / 1e3
            out.cpu_s += st.executorCpuTime() / 1e9
        return out


@dataclass
class Span:
    name: str
    cycle: int
    start: float
    parent: int | None
    end: float = 0.0
    jobs: tuple[int, int] = (0, 0)
    attrs: dict = field(default_factory=dict)
    children: list[int] = field(default_factory=list)


class Tracer:
    """In-memory spans around calls into the program's layers.

    Spans nest by call stack; each records the job-id range it covered,
    so a span's own Spark work is its range minus its children's.
    """

    def __init__(self, meter: JobMeter):
        self.meter = meter
        self.spans: list[Span] = []
        self._stack: list[int] = []
        #: Seconds spent in the tracer's own bookkeeping inside spans.
        self.cost = 0.0

    @contextmanager
    def span(self, name: str, cycle: int, **attrs):
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        sp = Span(name, cycle, t0, parent, attrs=dict(attrs))
        self.spans.append(sp)
        if parent is not None:
            self.spans[parent].children.append(idx)
        self._stack.append(idx)
        first = self.meter.next_job_id()
        self.cost += time.perf_counter() - t0
        try:
            yield sp
        finally:
            t1 = time.perf_counter()
            sp.jobs = (first, self.meter.next_job_id())
            sp.end = time.perf_counter()
            self.cost += sp.end - t1
            self._stack.pop()

    @contextmanager
    def bookkeeping(self):
        """Count the enclosed benchmark-side work as tracing cost."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.cost += time.perf_counter() - t0

    def wrap(self, name: str, fn, cycle_of):
        """``fn`` wrapped in a span; ``cycle_of()`` names the cycle."""

        def traced(*args, **kwargs):
            with self.span(name, cycle_of()):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        return traced

    def self_time(self, idx: int) -> float:
        """Span duration minus the part its children cover."""
        sp = self.spans[idx]
        covered = 0.0
        cursor = sp.start
        for c in sorted((self.spans[c] for c in sp.children),
                       key=lambda s: s.start):
            lo, hi = max(c.start, cursor), min(c.end, sp.end)
            if hi > lo:
                covered += hi - lo
                cursor = hi
        return (sp.end - sp.start) - covered

    def self_jobs(self, idx: int) -> JobStats:
        """Spark work in the span's job range minus its children's."""
        sp = self.spans[idx]
        own = self.meter.stats(*sp.jobs)
        for c in sp.children:
            own = own - self.meter.stats(*self.spans[c].jobs)
        return own

    def records(self) -> list[dict]:
        """Spans as plain dicts, with self time and own Spark work, for
        writing out."""
        out = []
        for i, sp in enumerate(self.spans):
            own = self.self_jobs(i)
            out.append({
                "name": sp.name, "cycle": sp.cycle, "start": sp.start,
                "end": sp.end, "parent": sp.parent,
                "self_s": self.self_time(i), "job_ids": list(sp.jobs),
                "jobs": own.jobs, "stages": own.stages, "tasks": own.tasks,
                "failed_tasks": own.failed_tasks,
                "shuffle_bytes": own.shuffle_bytes, **sp.attrs,
            })
        return out


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.ProcessHandle.current().pid())


def peak_rss_parts_mb(pid: int) -> tuple[float, float]:
    """High-water resident MB of this Python process and of the driver
    JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
    except OSError:
        pass
    return py_kb / 1024.0, jvm_kb / 1024.0


def tree_size(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``, ignoring checksum files."""
    files = size = 0
    for base, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".crc"):
                continue
            files += 1
            size += os.path.getsize(os.path.join(base, n))
    return files, size
