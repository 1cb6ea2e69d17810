"""Timing, spans, Spark status-store counters, host probe and peak RSS.

Everything here observes the program from outside: spans wrap calls into
the package's public functions, and counters are read from Spark's status
store (the listener-fed store that backs the UI, present with the UI off).
"""

from __future__ import annotations

import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

STAGE_FIELDS = (
    "executorRunTime",  # ms
    "executorCpuTime",  # ns
    "jvmGcTime",  # ms
    "shuffleReadBytes",
    "shuffleWriteBytes",
    "memoryBytesSpilled",
    "diskBytesSpilled",
)


@dataclass
class Span:
    name: str
    phase: str
    request: str
    parent: int | None
    start: float  # wall clock, seconds since the epoch
    end: float = 0.0
    # counter totals of the stages that ran while this span was innermost
    counters: dict = field(default_factory=dict)
    intervals: list = field(default_factory=list)  # (submit, complete) per stage

    @property
    def seconds(self) -> float:
        return self.end - self.start


class StatusCounters:
    """Incremental reader of jobs and stages from Spark's status store.

    Job and stage ids are assigned densely, so each read fetches only ids
    above the last one consumed — cost per read is proportional to the new
    stages, not to the history."""

    def __init__(self, spark):
        self._sc = spark._jsc.sc()
        self._store = self._sc.statusStore()
        self._next_job = 0
        self._next_stage = 0
        self.drain()  # consume anything that ran before the first span

    def drain(self) -> tuple[dict, list]:
        """-> (counter totals, stage intervals) of everything finished since
        the previous call."""
        self._sc.listenerBus().waitUntilEmpty()
        totals = dict.fromkeys(("jobs", "stages", "tasks", *STAGE_FIELDS), 0)
        hi_stage = self._next_stage - 1
        while True:
            try:
                job = self._store.job(self._next_job)
            except Py4JJavaError:  # NoSuchElementException: no such job yet
                break
            totals["jobs"] += 1
            ids = job.stageIds()
            for i in range(ids.size()):
                hi_stage = max(hi_stage, ids.apply(i))
            self._next_job += 1
        intervals = []
        for sid in range(self._next_stage, hi_stage + 1):
            try:
                st = self._store.lastStageAttempt(sid)
            except Py4JJavaError:  # stage listed by a job but never submitted
                continue
            if st.status().toString() == "SKIPPED":
                continue
            totals["stages"] += 1
            totals["tasks"] += st.numCompleteTasks()
            for f in STAGE_FIELDS:
                totals[f] += getattr(st, f)()
            sub, done = st.submissionTime(), st.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
        self._next_stage = max(self._next_stage, hi_stage + 1)
        return totals, intervals


class Tracer:
    """Spans in memory. With counters on, status-store deltas are sampled
    at every span boundary and charged to the innermost open span."""

    def __init__(self, counters: StatusCounters | None = None):
        self.spans: list[Span] = []
        self.counters = counters
        self.overhead_s = 0.0  # time spent sampling counters
        self._stack: list[int] = []
        self.phase = "setup"

    def _sample(self) -> None:
        if self.counters is None:
            return
        t = time.perf_counter()
        totals, intervals = self.counters.drain()
        if self._stack:
            top = self.spans[self._stack[-1]]
            for k, v in totals.items():
                top.counters[k] = top.counters.get(k, 0) + v
            top.intervals.extend(intervals)
        self.overhead_s += time.perf_counter() - t

    @contextmanager
    def span(self, name: str, request: str = ""):
        self._sample()
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, self.phase, request, parent, time.time())
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._sample()
            self._stack.pop()

    def select(self, name: str, phases=("setup", "timed", "layer")) -> list[Span]:
        return [s for s in self.spans if s.name == name and s.phase in phases]

    def durations(self, name: str, phases=("setup", "timed", "layer")) -> list[float]:
        return [s.seconds for s in self.select(name, phases)]


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else float("nan")


def driver_wait(sp: Span) -> float:
    """Span wall time not covered by any running stage."""
    covered, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted((max(lo, sp.start), min(hi, sp.end)) for lo, hi in sp.intervals):
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return max(sp.seconds - covered, 0.0)


def alu_ops_per_s(seconds: float = 0.3) -> float:
    """Single-core integer burn: a host-speed reading to judge a noisy run."""
    ops, x = 0, 1
    t0 = time.perf_counter()
    while True:
        for _ in range(20_000):
            x = (x * 1103515245 + 12345) & 0xFFFFFFFF
        ops += 20_000
        el = time.perf_counter() - t0
        if el >= seconds:
            return ops / el


def cpu_jiffies() -> list[int]:
    """Machine-wide (user, nice, system, idle, iowait, irq, softirq, steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def peak_rss_mb(jvm_pid: int) -> float:
    """Summed VmHWM of this driver process, the JVM and its Python workers."""
    pids = {os.getpid(), *_descendants(jvm_pid)}
    return sum(_vm_hwm_kb(p) for p in pids) / 1024.0
