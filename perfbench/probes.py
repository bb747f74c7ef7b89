"""Measurement probes the benchmark wraps around the engine from outside:
spans around each layer call, per-request Spark job/stage/task counts
read through ``statusTracker``, and peak memory of the process tree
read from ``/proc``. Nothing here reaches inside the engine.
"""

from __future__ import annotations

import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    parent: int | None
    request: str | None
    name: str
    start: float
    end: float

    @property
    def seconds(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    """In-memory spans: name, start, end, causing span and request id.
    Disabled, ``span`` costs one attribute test and records nothing."""

    enabled: bool
    spans: list[Span] = field(default_factory=list)
    request: str | None = None
    _stack: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans) + len(self._stack)
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self._stack.pop()
            self.spans.append(Span(sid, parent, self.request, name, start, end))

    def seconds(self, name: str) -> list[float]:
        return [s.seconds for s in self.spans if s.name == name]

    def median(self, name: str) -> float:
        """Median duration of the named span; 0.0 when the workload
        never calls that layer."""
        xs = self.seconds(name)
        return statistics.median(xs) if xs else 0.0

    def total(self, name: str) -> float:
        return sum(self.seconds(name))

    def dump(self) -> list[dict]:
        return [
            {"id": s.sid, "parent": s.parent, "request": s.request,
             "name": s.name, "start": s.start, "end": s.end}
            for s in sorted(self.spans, key=lambda s: s.start)
        ]


class JobCounter:
    """Per-request Spark work counts: the client tags each request with
    its own job group, then reads the group's jobs, their stages and the
    stages' task counts back through the status tracker."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.tracker = sc.statusTracker()

    def tag(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def counts(self, group: str) -> tuple[int, int, int]:
        jobs = self.tracker.getJobIdsForGroup(group)
        stages: list[int] = []
        for j in jobs:
            info = self.tracker.getJobInfo(j)
            if info is not None:
                stages += list(info.stageIds)
        tasks = 0
        for s in stages:
            info = self.tracker.getStageInfo(s)
            if info is not None:
                tasks += info.numTasks
        return len(jobs), len(stages), tasks


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        pass  # the process ended between listing and reading
    return 0


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it, from ``/proc/*/stat``."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except (FileNotFoundError, ProcessLookupError, PermissionError):
            continue
        # the command name may contain spaces; fields resume after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo += children.get(pid, [])
    return out


def peak_rss_mb() -> float:
    """Sum of ``VmHWM`` (peak resident set) over this process tree: the
    Python process, the JVM it launched and the JVM's Python workers."""
    return sum(_status_kb(p, "VmHWM") for p in descendants(os.getpid())) / 1024.0


def tail_latency(samples: list[float]) -> tuple[float, str]:
    """Latency at the highest percentile that has at least ten samples
    beyond it (the 11th-largest sample), with that percentile. Below 21
    samples that percentile is not above the median, so the upper
    quartile is reported instead, stamped ``p75``: the maximum of a few
    samples is a single outlier and would make the metric jump from run
    to run. The quartile is interpolated within the samples (``inclusive``),
    so it is not the maximum again for three or four samples."""
    xs = sorted(samples)
    n = len(xs)
    if n <= 20:
        q = statistics.quantiles(xs, n=4, method="inclusive")[2] if n > 1 else xs[0]
        return q, f"p75 (n={n})"
    k = n - 11
    return xs[k], f"p{100.0 * (k + 1) / n:.1f} (n={n})"
