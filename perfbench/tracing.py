"""Spans, Spark work counters and host snapshots for the benchmark.

Everything here observes the program from outside: spans are opened by the
benchmark around calls into the program's public functions, and Spark work
is read back from the SparkContext status store, which is live even with
the UI disabled. Nothing here changes a plan or a result.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: int | None = None  # spans of one op share this id
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def union_length(intervals) -> float:
    """Total length covered by ``(start, end)`` intervals (overlaps once)."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Tracer:
    """In-memory span recorder; a disabled tracer records nothing.

    Spans nest by call order on the recording thread: a span opened while
    another is open becomes its child and inherits its op id. With a
    ``job_count`` callable, each span also records the range of Spark job
    ids submitted while it was open (``jobs`` = ``(lo, hi)``).
    """

    def __init__(self, enabled: bool, job_count=None):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._open: list[Span] = []
        self._ids = itertools.count(1)
        self._job_count = job_count

    @contextmanager
    def span(self, name: str, new_op: bool = False, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._open[-1] if self._open else None
        sid = next(self._ids)
        op = sid if new_op or parent is None else parent.op
        lo = self._job_count() if self._job_count else 0
        sp = Span(sid, name, time.perf_counter(), parent=parent and parent.id, op=op, attrs=attrs)
        self._open.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            if self._job_count:
                sp.attrs["jobs"] = (lo, self._job_count())
            self._open.pop()
            self.spans.append(sp)

    def wrap(self, module, attr: str, span_name: str) -> None:
        """Replace ``module.attr`` with a version that records a span."""
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(span_name):
                return fn(*args, **kwargs)

        setattr(module, attr, traced)

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def self_time(self, span: Span) -> float:
        """Duration minus the part of it that child spans cover."""
        covered = union_length(
            (max(c.start, span.start), min(c.end, span.end))
            for c in self.children(span)
            if c.end > span.start and c.start < span.end
        )
        return span.duration - covered

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in self.spans], fh)


@dataclass
class StageWork:
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    executor_run_s: float = 0.0
    stage_span_s: float = 0.0


class SparkCounters:
    """Reads jobs and stages back from the SparkContext status store.

    Spark numbers jobs in submission order, so the jobs a call fired are
    the ids between the job counter read before and after it. That holds
    for the pipeline's thread pools too, which do not inherit job groups,
    as long as nothing else submits jobs at the same time.
    """

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()

    def job_count(self) -> int:
        return int(self._sc.dagScheduler().numTotalJobs())

    def settle(self) -> None:
        """Wait until the listener bus has delivered every event."""
        self._sc.listenerBus().waitUntilEmpty()

    def jobs(self, lo: int, hi: int) -> list:
        store = self._sc.statusStore()
        return [store.job(j) for j in range(lo, hi)]

    @staticmethod
    def description(job) -> str:
        d = job.description()
        return str(d.get()) if d.isDefined() else ""

    @staticmethod
    def job_window_s(jobs) -> float:
        """First submission to last completion of ``jobs``, in seconds."""
        subs = [j.submissionTime().get().getTime() for j in jobs if j.submissionTime().isDefined()]
        ends = [j.completionTime().get().getTime() for j in jobs if j.completionTime().isDefined()]
        return (max(ends) - min(subs)) / 1000.0 if subs and ends else 0.0

    def stage_work(self, jobs) -> StageWork:
        """Sum the stages the jobs ran; reused (skipped) stages count once,
        under the job that ran them."""
        store = self._sc.statusStore()
        seen: set[int] = set()
        w = StageWork()
        spans = []
        for job in jobs:
            ids = job.stageIds()
            for i in range(ids.size()):
                sid = int(ids.apply(i))
                if sid in seen:
                    continue
                seen.add(sid)
                sd = store.lastStageAttempt(sid)
                if sd.status().toString() == "SKIPPED":
                    continue
                w.stages += 1
                w.tasks += int(sd.numTasks())
                w.failed_tasks += int(sd.numFailedTasks())
                w.shuffle_read_bytes += int(sd.shuffleReadBytes())
                w.shuffle_write_bytes += int(sd.shuffleWriteBytes())
                w.spill_bytes += int(sd.diskBytesSpilled())
                w.executor_run_s += int(sd.executorRunTime()) / 1000.0
                if sd.submissionTime().isDefined() and sd.completionTime().isDefined():
                    spans.append((sd.submissionTime().get().getTime() / 1000.0,
                                  sd.completionTime().get().getTime() / 1000.0))
        w.stage_span_s = union_length(spans)
        return w


_CLK_TCK = os.sysconf("SC_CLK_TCK")


def process_cpu_s(pids) -> float:
    """User+system CPU seconds of ``pids`` and their waited-for children."""
    total = 0
    for pid in pids:
        with open(f"/proc/{pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / _CLK_TCK


# Seconds of wall time one second of steal adds to a pass, fitted on a
# 4-vCPU virtual machine: over 15 passes per workload, pass time against
# the steal summed over all vCPUs had slopes of 0.45 (medallion) and 0.71
# (gold_queries). Barrier-heavy stages stall on the slowest vCPU, so one
# stolen second costs more than 1/ncpu of a second of wall time.
STEAL_WEIGHT = 0.5


def _cpu_line() -> list[str]:
    with open("/proc/stat") as fh:
        return fh.readline().split()


def steal_s() -> float:
    """Cumulative seconds the hypervisor gave this VM's vCPUs to others."""
    return int(_cpu_line()[8]) / _CLK_TCK


def adjusted(wall_s: float, stolen_s: float) -> float:
    """Wall time with the share another tenant's load added taken out."""
    return wall_s - STEAL_WEIGHT * stolen_s


def host_snapshot() -> dict:
    """1-min loadavg and cumulative iowait and steal seconds of the host."""
    with open("/proc/loadavg") as fh:
        load1 = float(fh.read().split()[0])
    cpu = _cpu_line()
    return {"load1": load1, "iowait_s": int(cpu[5]) / _CLK_TCK,
            "steal_s": int(cpu[8]) / _CLK_TCK}
