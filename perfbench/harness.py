"""Measurement pieces shared by the workloads.

- ``tail_percentile``: the latency-tail rule every timing is reported with.
- ``RssSampler``: peak resident memory of this process and its
  descendants (driver Python, the JVM and its Python workers), read from
  ``/proc`` as summed PSS.
- ``SparkProbe``: per-call counters read from Spark's status store.
- ``Recorder``: times every call the benchmark makes into a module of the
  program; when tracing, also keeps a span per call with the probe's
  counters taken at the same boundaries.

Everything here observes the program from outside, at the calls the
benchmark makes; nothing is patched into ``rtcdb_spark``.
"""

from __future__ import annotations

import math
import os
import statistics
import threading
import time
from collections import Counter
from contextlib import contextmanager
from dataclasses import dataclass, field

TAIL_MIN_BEYOND = 10


def tail_percentile(samples: list[float]) -> tuple[float, float, int]:
    """The highest percentile that has at least ``TAIL_MIN_BEYOND`` samples
    above it, as ``(value, percentile, n)``.

    The reported sample sits at sorted index ``n - 11``; its percentile is
    the share of samples at or below it. It is never taken below the
    median: with fewer than 21 samples no tail is measurable, and the
    median is returned with percentile 50.
    """
    if not samples:
        raise ValueError("no samples")
    xs = sorted(samples)
    n = len(xs)
    i = n - TAIL_MIN_BEYOND - 1
    if 2 * i < n - 1:
        return statistics.median(xs), 50.0, n
    return xs[i], 100.0 * (i + 1) / n, n


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:  # the process ended while we listed /proc
            continue
        # the command name may hold spaces or parentheses: split after it
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def tree_pids(root: int) -> list[int]:
    """``root`` and every process descended from it."""
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def tree_pss_bytes(root: int) -> int:
    """Summed proportional set size of the tree: resident memory with each
    shared page divided among the processes sharing it, so forked Python
    workers do not count their parent's pages again."""
    total = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:  # the process ended while we read it
            continue
    return total


def floor_probe(spark, reps: int = 3) -> tuple[float, float]:
    """Median seconds of a trivial 1-task job and of a 32-task shuffle job:
    the per-job floors of ``bench/isolate.py``, with fewer repetitions."""
    trivial, shuffle = [], []
    for _ in range(reps):
        t0 = time.perf_counter()
        spark.range(1).write.format("noop").mode("overwrite").save()
        trivial.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        (
            spark.range(0, 1_000_000, 1, 32)
            .selectExpr("id % 97 AS k")
            .groupBy("k")
            .count()
        ).write.format("noop").mode("overwrite").save()
        shuffle.append(time.perf_counter() - t0)
    return statistics.median(trivial), statistics.median(shuffle)


def cpu_steal_ticks() -> tuple[int, int]:
    """(steal, all) CPU ticks since boot, summed over CPUs, from /proc/stat."""
    with open("/proc/stat") as fh:
        user, nice, system, idle, iowait, irq, softirq, steal = map(int, fh.readline().split()[1:9])
    return steal, user + nice + system + idle + iowait + irq + softirq + steal


class RssSampler:
    """Samples the process tree's summed PSS on one thread until stopped.

    One sample walks the page tables of every process in the tree, which
    costs about 0.1 s of CPU once the JVM holds a few GB; sampling every
    2 s keeps that under 5 % of one core."""

    def __init__(self, interval_s: float = 2.0) -> None:
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss", daemon=True)

    def _loop(self) -> None:
        root = os.getpid()
        while True:
            self.peak_bytes = max(self.peak_bytes, tree_pss_bytes(root))
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


SPARK_COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "failed_tasks",
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "input_records",
    "input_bytes",
)


class SparkProbe:
    """Reads Spark's status store for the jobs one call started.

    A call's jobs are those whose ids were handed out between its start and
    its end, whatever thread submitted them: streaming micro-batches run on
    the stream's own thread and escape ``setJobGroup``, but not the job-id
    range.
    """

    def __init__(self, spark) -> None:
        sc = spark.sparkContext._jsc.sc()
        self._dag = sc.dagScheduler()
        self._store = sc.statusStore()
        self._bus = sc.listenerBus()
        mgmt = spark._jvm.java.lang.management.ManagementFactory
        self._gc_beans = list(mgmt.getGarbageCollectorMXBeans())

    def next_job_id(self) -> int:
        return int(self._dag.nextJobId())

    def gc_seconds(self) -> float:
        """GC time of the whole JVM so far. In local mode the executors run
        in the driver's JVM, whose collections the per-task GC counter
        misses."""
        return sum(b.getCollectionTime() for b in self._gc_beans) / 1e3

    def counters(self, j0: int, j1: int) -> tuple[Counter, list[tuple[float, float]]]:
        """Counters summed over jobs ``[j0, j1)``, and each job's
        ``(submitted, completed)`` epoch seconds."""
        from py4j.protocol import Py4JJavaError

        self._bus.waitUntilEmpty(30_000)
        c: Counter = Counter()
        intervals: list[tuple[float, float]] = []
        stage_ids: set[int] = set()
        for jid in range(j0, j1):
            try:
                job = self._store.job(jid)
            except Py4JJavaError:  # evicted from the store's retained jobs
                continue
            c["jobs"] += 1
            sub, end = job.submissionTime(), job.completionTime()
            if sub.isDefined():
                t_end = end.get().getTime() if end.isDefined() else time.time() * 1e3
                intervals.append((sub.get().getTime() / 1e3, t_end / 1e3))
            ids = job.stageIds().mkString(",")
            stage_ids.update(int(s) for s in ids.split(",") if s)
        for sid in stage_ids:
            try:
                st = self._store.lastStageAttempt(sid)
            except Py4JJavaError:
                continue
            if st.status().toString() == "SKIPPED":
                continue
            c["stages"] += 1
            c["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
            c["failed_tasks"] += st.numFailedTasks()
            c["executor_run_s"] += st.executorRunTime() / 1e3
            c["executor_cpu_s"] += st.executorCpuTime() / 1e9
            c["shuffle_read_bytes"] += st.shuffleReadBytes()
            c["shuffle_write_bytes"] += st.shuffleWriteBytes()
            c["input_records"] += st.inputRecords()
            c["input_bytes"] += st.inputBytes()
        return c, intervals


def busy_union_s(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Seconds of ``[lo, hi]`` covered by at least one interval."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float = math.nan
    parent: int | None = None
    op: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Recorder:
    """Times calls into the program; when ``tracing`` is on, keeps a span
    per call with the Spark counters of the jobs it started.

    Span times are ``perf_counter`` seconds since the recorder was made.
    """

    def __init__(self, probe: SparkProbe) -> None:
        self.probe = probe
        self.tracing = False
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._t0 = time.perf_counter()
        self._next_id = 0

    @contextmanager
    def span(self, name: str):
        """Time the enclosed block as ``name``. A span opened outside any
        other is one operation; spans opened inside it carry its id as
        ``op``."""
        parent = self._stack[-1] if self._stack else None
        sp = Span(self._next_id, name, 0.0, parent=parent.id if parent else None)
        self._next_id += 1
        sp.op = sp.id if parent is None else parent.op
        traced = self.tracing
        self._stack.append(sp)
        if traced:
            j0 = self.probe.next_job_id()
            gc0 = self.probe.gc_seconds()
            wall0 = time.time()
        sp.start = time.perf_counter() - self._t0
        try:
            yield sp
        finally:
            sp.end = time.perf_counter() - self._t0
            self._stack.pop()
            if traced:
                j1 = self.probe.next_job_id()
                gc1 = self.probe.gc_seconds()
                counters, intervals = self.probe.counters(j0, j1)
                counters["gc_s"] = gc1 - gc0
                sp.attrs.update(counters)
                sp.attrs["job_ids"] = [j0, j1]
                busy = busy_union_s(intervals, wall0, wall0 + sp.seconds)
                sp.attrs["driver_s"] = sp.seconds - busy
                self.spans.append(sp)

