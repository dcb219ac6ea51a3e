"""Spans recorded around the benchmark's calls into each layer, Spark's
event log attributed to those spans, and a process-tree memory sampler.

Spans are kept in memory. Jobs, stages and tasks are attributed to a span
by time window (submission or launch time inside the span), which also
catches jobs submitted from the engine's own thread pools, whose job
groups are not inherited.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: str | None = None

    @property
    def seconds(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    spans: list[Span] = field(default_factory=list)
    _stack: list[str] = field(default_factory=list)

    @contextmanager
    def span(self, name: str):
        s = Span(name, time.time(), parent=self._stack[-1] if self._stack else None)
        self._stack.append(name)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = time.time()
            self.spans.append(s)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]


@dataclass
class SparkActivity:
    """Jobs as (start, end) intervals, stages and tasks as start times with
    their counters, all in epoch seconds, read from one event log file."""

    jobs: list[tuple[float, float]]
    stages: list[float]
    tasks: list[tuple[float, int, int]]  # launch, shuffle bytes written, spilled

    @classmethod
    def read(cls, path: str) -> "SparkActivity":
        submitted: dict[int, float] = {}
        jobs, stages, tasks = [], [], []
        with open(path, encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    submitted[ev["Job ID"]] = ev["Submission Time"] / 1000
                elif kind == "SparkListenerJobEnd":
                    start = submitted.pop(ev["Job ID"])
                    jobs.append((start, ev["Completion Time"] / 1000))
                elif kind == "SparkListenerStageCompleted":
                    stages.append(ev["Stage Info"].get("Submission Time", 0) / 1000)
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    shuffle = (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    spill = m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    tasks.append((ev["Task Info"]["Launch Time"] / 1000, shuffle, spill))
        return cls(jobs, stages, tasks)

    def within(self, span: Span) -> dict[str, float]:
        """Counters of the work that started inside ``span``, plus its
        driver gap: the span's wall time not covered by any job."""
        inside = lambda t: span.start <= t <= span.end  # noqa: E731
        jobs = sorted(j for j in self.jobs if inside(j[0]))
        tasks = [t for t in self.tasks if inside(t[0])]
        busy, reach = 0.0, span.start
        for s, e in jobs:
            s, e = max(s, reach), min(e, span.end)
            if e > s:
                busy += e - s
                reach = e
        return {
            "jobs": len(jobs),
            "stages": sum(1 for s in self.stages if inside(s)),
            "tasks": len(tasks),
            "shuffle_write_bytes": sum(t[1] for t in tasks),
            "spill_bytes": sum(t[2] for t in tasks),
            "driver_gap_s": span.seconds - busy,
            "job_seconds": sum(min(e, span.end) - s for s, e in jobs),
        }


def _tree_rss_bytes(root: int) -> int:
    """Resident bytes of ``root`` and all its descendants, from /proc."""
    children: dict[int, list[int]] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        children.setdefault(int(fields[1]), []).append(int(stat.split("/")[2]))
    total, todo = 0, [root]
    page = os.sysconf("SC_PAGE_SIZE")
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            pass
    return total


class RssSampler:
    """Samples the benchmark's process tree every ``interval`` seconds
    from a background thread and keeps the peak."""

    def __init__(self, interval: float = 0.1):
        self.peak = 0
        self._interval = interval
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_rss_bytes(os.getpid()))
            self._stop.wait(self._interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
