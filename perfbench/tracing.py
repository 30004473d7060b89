"""Measurement plumbing: spans attributed to Spark work through
per-span job groups read from Spark's status store, a process-tree
RSS sampler over ``/proc``, and small statistics helpers.

Spark's status store (``AppStatusStore``) is populated by the
application's event listener even with ``spark.ui.enabled=false``, so
job/stage counters are read from it through py4j:

- each traced span sets its own job group; jobs the span launches are
  found with ``statusTracker().getJobIdsForGroup``;
- streaming micro-batch jobs carry the query's ``runId`` as their job
  group, so a span that ran a stream also collects the run ids it was
  handed (``Span.extra_groups``);
- stage metrics come from ``AppStatusStore.lastStageAttempt``; skipped
  stages (reused shuffle output) are not counted.

Tracing is off unless ``enabled``: untraced spans only take two clock
reads, so end-to-end numbers come from runs that pay no tracing cost.
"""

from __future__ import annotations

import math
import os
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

STAGE_FIELDS = (
    "numTasks",
    "executorRunTime",  # ms, summed over tasks
    "executorCpuTime",  # ns, summed over tasks
    "jvmGcTime",  # ms
    "inputBytes",
    "inputRecords",
    "outputBytes",
    "outputRecords",
    "shuffleReadBytes",
    "shuffleWriteBytes",
    "memoryBytesSpilled",
    "diskBytesSpilled",
)


@dataclass
class Span:
    id: int
    name: str
    op: int | None
    parent: int | None
    start: float
    end: float = 0.0
    epoch_ms: float = 0.0
    group: str | None = None
    extra_groups: list[str] = field(default_factory=list)
    jobs: int = 0
    stages: int = 0
    counters: dict[str, float] = field(default_factory=dict)
    # (submit, complete) epoch-ms of every job the span launched
    job_intervals: list[tuple[int, int]] = field(default_factory=list)
    storage_bytes: int = 0

    @property
    def wall(self) -> float:
        return self.end - self.start

    def as_record(self) -> dict:
        return {
            "id": self.id,
            "name": self.name,
            "op": self.op,
            "parent": self.parent,
            "start": round(self.start, 6),
            "end": round(self.end, 6),
            "jobs": self.jobs,
            "stages": self.stages,
            "counters": self.counters,
        }


class Tracer:
    """Span recorder.  Spans nest; jobs are attributed to the innermost
    span (its job group wins).  ``overhead_s`` accumulates the time the
    tracer itself spends reading the status store."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.overhead_s = 0.0
        self._stack: list[Span] = []
        self._seq = 0
        if enabled:
            jsc = self.sc._jsc.sc()
            self._store = jsc.statusStore()
            self._bus = jsc.listenerBus()

    @contextmanager
    def span(self, name: str, op: int | None = None):
        self._seq += 1
        parent = self._stack[-1] if self._stack else None
        sp = Span(self._seq, name, op, parent.id if parent else None, 0.0)
        if self.enabled:
            sp.group = f"perfbench-{self._seq}"
            self.sc.setJobGroup(sp.group, name)
        self._stack.append(sp)
        sp.epoch_ms = time.time() * 1000.0
        sp.start = time.monotonic()
        try:
            yield sp
        finally:
            sp.end = time.monotonic()
            self._stack.pop()
            if self.enabled:
                if parent is not None:
                    self.sc.setJobGroup(parent.group, parent.name)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)
                t0 = time.monotonic()
                self._collect(sp)
                self.overhead_s += time.monotonic() - t0
            self.spans.append(sp)

    def _collect(self, sp: Span) -> None:
        self._bus.waitUntilEmpty()
        tracker = self.sc.statusTracker()
        counters = dict.fromkeys(STAGE_FIELDS, 0.0)
        for group in [sp.group, *sp.extra_groups]:
            for jid in tracker.getJobIdsForGroup(group):
                info = tracker.getJobInfo(jid)
                if info is None:
                    continue
                sp.jobs += 1
                jd = self._store.job(jid)
                if jd.submissionTime().isDefined() and jd.completionTime().isDefined():
                    sp.job_intervals.append(
                        (
                            jd.submissionTime().get().getTime(),
                            jd.completionTime().get().getTime(),
                        )
                    )
                for sid in info.stageIds:
                    sd = self._store.lastStageAttempt(sid)
                    if sd.status().toString() == "SKIPPED":
                        continue
                    sp.stages += 1
                    for f in STAGE_FIELDS:
                        counters[f] += getattr(sd, f)()
        sp.counters = counters
        sp.storage_bytes = self.storage_bytes()

    def storage_bytes(self) -> int:
        """Memory + disk held by cached and checkpointed RDD blocks."""
        rdds = self._store.rddList(True)
        total = 0
        for i in range(rdds.size()):
            r = rdds.apply(i)
            total += r.memoryUsed() + r.diskUsed()
        return total


def busy_share(intervals: list[tuple[int, int]], start_ms: float, end_ms: float) -> float:
    """Share of [start_ms, end_ms] covered by the union of intervals."""
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        s, e = max(s, start_ms), min(e, end_ms)
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return covered / max(end_ms - start_ms, 1e-9)


def process_children() -> dict[int, list[int]]:
    """Map of parent pid -> child pids, from ``/proc/<pid>/stat``."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:  # the process exited meanwhile
            continue
        ppid = int(stat[stat.rfind(")") + 2 :].split()[1])
        children.setdefault(ppid, []).append(int(d))
    return children


class MemSampler(threading.Thread):
    """Peak memory of a process tree (the Python driver, the JVM and its
    Python workers), sampled from ``/proc``.  The driver and the JVM
    count their RSS (``statm``: cheap, and they share few pages); the
    Python workers count their PSS, because they are forked from one
    daemon and share its pages, which RSS would count once per worker.
    (``smaps_rollup`` of the JVM would take ~20 ms and the JVM's mmap
    lock on every sample.)"""

    def __init__(self, root_pid: int, interval: float = 0.2):
        super().__init__(daemon=True)
        self.root_pid = root_pid
        self.interval = interval
        self.peak_bytes = 0
        self.peak_parts: dict[str, int] = {}
        self._stop_evt = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _bytes(self, pid: int, proportional: bool) -> int:
        if not proportional:
            with open(f"/proc/{pid}/statm") as fh:
                return int(fh.read().split()[1]) * self._page
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            return next(int(ln.split()[1]) * 1024 for ln in fh if ln.startswith("Pss:"))

    def tree_bytes(self) -> dict[str, int]:
        """Bytes of the tree, split into the driver process, the JVM and
        everything else (Spark's Python daemon and workers)."""
        children = process_children()
        parts = {"driver": 0, "jvm": 0, "workers": 0}
        todo = [self.root_pid]
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, ()))
            try:
                with open(f"/proc/{pid}/comm") as fh:
                    comm = fh.read().strip()
                part = "driver" if pid == self.root_pid else "jvm" if comm == "java" else "workers"
                parts[part] += self._bytes(pid, proportional=part == "workers")
            except (OSError, StopIteration):  # the process exited meanwhile
                continue
        return parts

    def _sample(self) -> None:
        parts = self.tree_bytes()
        total = sum(parts.values())
        if total > self.peak_bytes:
            self.peak_bytes, self.peak_parts = total, parts

    def run(self) -> None:
        while not self._stop_evt.is_set():
            self._sample()
            self._stop_evt.wait(self.interval)

    def stop(self) -> int:
        self._stop_evt.set()
        self.join()
        self._sample()
        return self.peak_bytes


def geomean(xs: list[float]) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def quantile(xs: list[float], q: float) -> float | None:
    """Nearest-rank quantile, or None when fewer than 10 samples lie
    above it (a p90 needs >= 100 samples)."""
    if not xs or len(xs) * (1 - q) < 10:
        return None
    s = sorted(xs)
    return s[min(len(s) - 1, int(q * len(s)))]


def trend(xs: list[float]) -> dict:
    """Cycle-to-cycle drift: least-squares slope as a share of the mean
    per cycle, and whether the series is strictly monotone."""
    n = len(xs)
    if n < 2:
        return {"cycles": n, "slope_share": 0.0, "monotone": False}
    mx, my = (n - 1) / 2, sum(xs) / n
    slope = sum((i - mx) * (x - my) for i, x in enumerate(xs)) / sum(
        (i - mx) ** 2 for i in range(n)
    )
    inc = all(b > a for a, b in zip(xs, xs[1:]))
    dec = all(b < a for a, b in zip(xs, xs[1:]))
    return {
        "cycles": n,
        "slope_share": slope / my if my else 0.0,
        # only a run of >= 3 cycles can show monotone drift
        "monotone": n >= 3 and (inc or dec),
    }
