"""Spans and work counters recorded from outside the program.

`Tracer` keeps spans in memory: one per layer call the benchmark makes,
each tagged with the operation that caused it. `SparkWork` counts the
Spark jobs and tasks an operation ran, from the status tracker
(which works with the UI disabled). `store_files` lists a store's data
files so appends can be measured in files and bytes. None of these
touch the program under test.
"""

from __future__ import annotations

import os
import statistics
import time
from collections import Counter
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    op: int
    start: float
    end: float


class Tracer:
    """Records ``with tracer.span(name):`` blocks of the current
    operation. A disabled tracer records nothing and costs one branch."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.op = -1
        self.spans: list[Span] = []
        #: per operation: seconds of `bookkeeping` blocks
        self.own: dict[int, float] = {}

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        start = time.perf_counter()
        try:
            yield
        finally:
            self.spans.append(Span(name, self.op, start, time.perf_counter()))

    @contextmanager
    def bookkeeping(self):
        """A block of tracing work inside an operation (not a layer call):
        its seconds count toward the operation's tracing overhead."""
        start = time.perf_counter()
        try:
            yield
        finally:
            self.own[self.op] = self.own.get(self.op, 0.0) + time.perf_counter() - start

    def overhead_s(self, ops: list[int]) -> list[float]:
        """Per operation of ``ops``: the seconds tracing added to it, its
        spans at the cost of an empty span plus its bookkeeping."""
        cost = span_cost_s()
        counts = Counter(s.op for s in self.spans)
        return [counts[op] * cost + self.own.get(op, 0.0) for op in ops]

    def per_op(self, name: str, ops: list[int] | None = None) -> list[float]:
        """Total seconds in spans called ``name``, one value per
        operation (of ``ops``, if given) that recorded one."""
        totals: dict[int, float] = {}
        for s in self.spans:
            if s.name == name and (ops is None or s.op in ops):
                totals[s.op] = totals.get(s.op, 0.0) + (s.end - s.start)
        return list(totals.values())

    def durations(self, name: str) -> list[float]:
        """Seconds of every span called ``name``."""
        return [s.end - s.start for s in self.spans if s.name == name]

    def median(self, name: str, ops: list[int] | None = None) -> float:
        values = self.per_op(name, ops)
        return statistics.median(values) if values else 0.0


def span_cost_s(n: int = 10_000) -> float:
    """Seconds one recorded span costs, timed over ``n`` empty spans of
    a scratch tracer."""
    tracer = Tracer(True)
    start = time.perf_counter()
    for _ in range(n):
        with tracer.span("empty"):
            pass
    return (time.perf_counter() - start) / n


@dataclass
class Work:
    jobs: int = 0
    tasks: int = 0


class SparkWork:
    """Jobs and tasks run since the previous `take`.

    Every operation runs under its own job group, but Python threads a
    layer starts (e.g. the nine parallel table writes of an append) run
    their jobs outside it, so a `take` counts the new jobs of the group
    together with the new jobs that carry no group."""

    def __init__(self, sc):
        self.sc = sc
        self.tracker = sc.statusTracker()
        self.group: str | None = None
        self.seen = set(self.tracker.getJobIdsForGroup(None))

    def begin(self, group: str) -> None:
        self.group = group
        self.sc.setJobGroup(group, group)

    def take(self) -> Work:
        ids = set(self.tracker.getJobIdsForGroup(None))
        if self.group is not None:
            ids |= set(self.tracker.getJobIdsForGroup(self.group))
        new = ids - self.seen
        self.seen |= new
        w = Work(jobs=len(new))
        for j in new:
            info = self.tracker.getJobInfo(j)
            if info is None:
                continue
            for sid in info.stageIds:
                st = self.tracker.getStageInfo(sid)
                if st is not None:
                    w.tasks += st.numCompletedTasks
        return w


def store_files(root: str) -> dict[str, int]:
    """Data files under ``root`` (path -> bytes); Spark's commit markers
    and checksums excluded."""
    out = {}
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames.sort()
        for f in filenames:
            if f.endswith(".parquet"):
                p = os.path.join(dirpath, f)
                out[p] = os.path.getsize(p)
    return out


def _process_table() -> dict[int, tuple[int, int]]:
    """pid -> (parent pid, CPU ticks of it and its waited-for children)."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as fh:
                    # the command name, in parentheses, may hold spaces
                    fields = fh.read().rsplit(")", 1)[1].split()
            except OSError:  # ended while we listed
                continue
            stats[int(name)] = (int(fields[1]), sum(int(f) for f in fields[11:15]))
    return stats


def _tree(root: int, stats: dict[int, tuple[int, int]]) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo += children.get(pid, [])
    return out


def running(pid: int) -> bool:
    """Whether process ``pid`` exists and has not ended."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] not in "ZX"
    except OSError:
        return False


def descendants(root: int) -> list[int]:
    """The live processes ``root`` started, directly or not."""
    return _tree(root, _process_table())[1:]


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system) spent so far by process ``root`` and
    its descendants, including descendants that already ended (their
    time moves to the parent that waited for them). Read from ``/proc``,
    so time the hypervisor gave to other guests (steal) is not counted."""
    stats = _process_table()
    ticks = sum(stats.get(pid, (0, 0))[1] for pid in _tree(root, stats))
    return ticks / os.sysconf("SC_CLK_TCK")


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the peak resident set (VmHWM) of ``pids``, in MB."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0

