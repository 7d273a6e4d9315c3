"""Measurement helpers: spans, summary statistics, peak memory of the
engine's processes, and the fold of Spark's event log into per-layer numbers.

Spans are recorded by the benchmark around each call into the package; the
package itself is not instrumented. In a traced run, Spark jobs launched
inside a span carry the span's name as their job description, so the event
log reads by layer. The fold assigns jobs (and their stages, tasks and
shuffle bytes) to spans by submission time, which is exact for the
benchmark's single closed-loop client.
"""

from __future__ import annotations

import glob
import json
import math
import os
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from typing import Dict, List, Optional, Tuple


def median(xs: List[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def tail(xs: List[float]) -> Tuple[Optional[float], Optional[float], int]:
    """Value at the highest of p50/p75/p90/p95/p99 with at least ten
    samples beyond it: (percentile, value, samples)."""
    n = len(xs)
    best = None
    for p in (50, 75, 90, 95, 99):
        if n * (1 - p / 100) >= 10:
            best = p
    if best is None:
        return None, None, n
    s = sorted(xs)
    # nearest-rank percentile
    return best, s[max(0, math.ceil(best / 100 * n) - 1)], n


def host_probe_ms(rounds: int = 5) -> float:
    """Median time of a fixed pure-Python loop: a stamp of how fast the
    (possibly shared) host ran, for reading noise out of a result."""
    times = []
    for _ in range(rounds):
        t0 = time.perf_counter()
        sum(range(2_000_000))
        times.append(time.perf_counter() - t0)
    return 1000 * statistics.median(times)


def heap_after_gc_mb(spark, settle: float = 0.5, rounds: int = 10) -> float:
    """Driver JVM heap still in use after full collections: what the engine
    holds on to, independent of when the collector last ran. Spark frees
    checkpoint and broadcast blocks on its cleaner thread only after a
    collection has found their owners unreachable, so one collection left
    20-60 MB behind at random; collections repeat until the heap has not
    shrunk by 1 MB twice in a row."""
    jvm = spark.sparkContext._jvm
    bean = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    best, still = float("inf"), 0
    for _ in range(rounds):
        jvm.java.lang.System.gc()
        used = bean.getHeapMemoryUsage().getUsed() / 2 ** 20
        still = 0 if used < best - 1.0 else still + 1
        best = min(best, used)
        if still == 2:
            break
        time.sleep(settle)
    return best


class Spans:
    """In-memory span recorder. ``enabled=False`` keeps only wall times, so
    timed runs do not pay for job descriptions."""

    def __init__(self, sc=None, enabled: bool = False):
        self.sc = sc
        self.enabled = enabled
        self.spans: List[Tuple[str, float, float]] = []
        self._stack: List[str] = []

    @contextmanager
    def span(self, name: str):
        tag = self.enabled and self.sc is not None
        if tag:
            self._stack.append(name)
            self.sc.setJobDescription(name)
        t0 = time.time()
        try:
            yield
        finally:
            t1 = time.time()
            self.spans.append((name, t0, t1))
            if tag:
                self._stack.pop()
                self.sc.setJobDescription(self._stack[-1] if self._stack else None)

    def durations(self, name: str) -> List[float]:
        return [t1 - t0 for n, t0, t1 in self.spans if n == name]


def descendants(root: int) -> List[int]:
    children = defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children[ppid].append(int(d))
    out, todo = [], list(children[root])
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children[p])
    return out


def _pss_kb(pid: int) -> int:
    """Proportional set size: each page shared by n processes counts 1/n,
    so Python workers forked from one daemon are not counted n times."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _is_jvm(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip() == "java"
    except OSError:
        return False


class MemorySampler:
    """Peak summed PSS of every process this one started (the Spark JVM and
    its Python workers), sampled on a background thread. The peaks of the
    JVM alone and of the Python workers alone are kept for the report."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak_kb = self.peak_jvm_kb = self.peak_py_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        me = os.getpid()
        while not self._stop.is_set():
            jvm = py = 0
            for p in descendants(me):
                if _is_jvm(p):
                    jvm += _pss_kb(p)
                else:
                    py += _pss_kb(p)
            self.peak_kb = max(self.peak_kb, jvm + py)
            self.peak_jvm_kb = max(self.peak_jvm_kb, jvm)
            self.peak_py_kb = max(self.peak_py_kb, py)
            self._stop.wait(self.interval)

    def start(self):
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join()
        return self.peak_kb / 1024.0


# --------------------------------------------------------------------------
# Event-log fold
# --------------------------------------------------------------------------

class Job:
    __slots__ = ("start", "end")

    def __init__(self, start):
        self.start, self.end = start, None


class Totals:
    """Summed task metrics of a set of jobs."""

    def __init__(self):
        self.jobs = self.stages = self.tasks = 0
        self.run_s = self.cpu_s = self.gc_s = self.fetch_wait_s = 0.0
        self.shuffle_write_bytes = self.bytes_read = self.records_read = 0


class EventLog:
    def __init__(self, directory: str):
        self.jobs: Dict[int, Job] = {}
        self.stage_job: Dict[int, int] = {}
        self.stage_tasks: Dict[int, list] = defaultdict(list)
        self.sql_start: Dict[int, float] = {}         # SQL execution -> start time
        self.partition_accums: Dict[int, int] = {}    # accumulator -> SQL execution
        self.driver_accums: Dict[int, int] = {}       # accumulator -> value
        files = sorted(p for p in glob.glob(os.path.join(directory, "**", "*"), recursive=True)
                       if os.path.isfile(p))
        for path in files:
            with open(path, encoding="utf-8") as f:
                for line in f:
                    self._event(json.loads(line))

    def _event(self, e):
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            self.jobs[e["Job ID"]] = Job(e["Submission Time"] / 1000.0)
            for s in e["Stage IDs"]:
                self.stage_job.setdefault(s, e["Job ID"])
        elif kind == "SparkListenerJobEnd":
            job = self.jobs.get(e["Job ID"])
            if job is not None:
                job.end = e["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            m = e.get("Task Metrics")
            if m:
                self.stage_tasks[e["Stage ID"]].append(m)
        elif kind.endswith("SQLExecutionStart"):
            self.sql_start[e["executionId"]] = e["time"] / 1000.0
            self._plan(e["executionId"], e["sparkPlanInfo"])
        elif kind.endswith("SQLAdaptiveExecutionUpdate"):
            self._plan(e["executionId"], e["sparkPlanInfo"])
        elif kind.endswith("DriverAccumUpdates"):
            for acc, value in e["accumUpdates"]:
                self.driver_accums[acc] = value

    def _plan(self, execution: int, node) -> None:
        for m in node["metrics"]:
            if m["name"] == "number of partitions read":
                self.partition_accums[m["accumulatorId"]] = execution
        for child in node.get("children", []):
            self._plan(execution, child)

    def partitions_read(self, t0: float, t1: float) -> int:
        """Directory partitions read by the partitioned file scans of the
        SQL executions started within [t0, t1]."""
        return sum(self.driver_accums.get(acc, 0) for acc, ex in self.partition_accums.items()
                   if t0 - 0.002 <= self.sql_start.get(ex, -1.0) <= t1)

    def select(self, t0: float, t1: float) -> List[Job]:
        """Finished jobs submitted within [t0, t1] (the client is a closed
        loop, so these are the jobs the span's calls launched)."""
        # submission times are whole milliseconds
        return [j for j in self.jobs.values()
                if j.end is not None and t0 - 0.002 <= j.start <= t1]

    def totals(self, jobs: List[Job]) -> Totals:
        t = Totals()
        ids = {id(j) for j in jobs}
        t.jobs = len(jobs)
        for stage, tasks in self.stage_tasks.items():
            job = self.jobs.get(self.stage_job.get(stage))
            if job is None or id(job) not in ids:
                continue
            t.stages += 1
            for m in tasks:
                t.tasks += 1
                t.run_s += m["Executor Run Time"] / 1e3
                t.cpu_s += m["Executor CPU Time"] / 1e9
                t.gc_s += m["JVM GC Time"] / 1e3
                t.fetch_wait_s += m["Shuffle Read Metrics"]["Fetch Wait Time"] / 1e3
                t.shuffle_write_bytes += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                t.bytes_read += m["Input Metrics"]["Bytes Read"]
                t.records_read += m["Input Metrics"]["Records Read"]
        return t

    @staticmethod
    def busy(jobs: List[Job], t0: float, t1: float) -> float:
        """Seconds of [t0, t1] during which at least one job ran."""
        iv = sorted((max(j.start, t0), min(j.end, t1)) for j in jobs)
        total, cur_s, cur_e = 0.0, None, None
        for s, e in iv:
            if e <= s:
                continue
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    total += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            total += cur_e - cur_s
        return total

    def outside_jobs(self, spans: List[Tuple[str, float, float]]) -> float:
        """Driver seconds inside the given spans with no Spark job running."""
        out = 0.0
        for _, t0, t1 in spans:
            out += (t1 - t0) - self.busy(self.select(t0, t1), t0, t1)
        return out
