"""Spans, Spark status-store reads and memory sampling for the benchmark.

A ``Tracer`` records one span per call into a package layer, made from
the benchmark's own code: name, start, end, parent and attributes. Spans
stay in memory and are written out once, at the end of the run. While a
span is open on a thread, that thread's Spark job group is the span's id,
so the jobs a layer call launches can be read back from Spark's status
store and charged to it. With tracing off, ``span`` records nothing and
touches no Spark state.
"""

from __future__ import annotations

import itertools
import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

GROUP_PREFIX = "pb:"
RSS_INTERVAL_S = 0.2  # memory sampling period


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    thread: str = ""
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, sc=None, enabled: bool = False):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _set_group(self, span: Span | None) -> None:
        if self.sc is None:
            return
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(f"{GROUP_PREFIX}{span.id}", span.name)

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        with self._lock:
            sp = Span(next(self._ids), name, parent.id if parent else None,
                      time.time(), thread=threading.current_thread().name,
                      attrs=dict(attrs))
            self.spans.append(sp)
        stack.append(sp)
        self._set_group(sp)
        try:
            yield sp
        finally:
            sp.end = time.time()
            stack.pop()
            self._set_group(parent)

    def add(self, name: str, parent: Span | None, start: float, end: float,
            **attrs) -> None:
        """Record a span for work another thread timed, such as a
        micro-batch reported by the streaming query's progress."""
        if not self.enabled:
            return
        with self._lock:
            self.spans.append(Span(next(self._ids), name,
                                   parent.id if parent else None, start, end,
                                   attrs=dict(attrs)))

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({**extra, "spans": [s.__dict__ for s in self.spans]}, f)


# --- status store ----------------------------------------------------------

@dataclass
class Job:
    id: int
    group: str | None
    start: float
    end: float
    stages: list[int]


STAGE_FIELDS = ("executor_run_s", "executor_cpu_s", "gc_s", "tasks",
                "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
                "input_bytes", "input_rows")


def read_status_store(sc) -> tuple[list[Job], dict[int, dict]]:
    """All jobs and stages the status store retains: jobs with their
    group and wall interval, and per-stage executor metrics summed over
    the stage's attempts (skipped stages carry zeros)."""
    jvm = sc._jvm
    conv = jvm.scala.jdk.javaapi.CollectionConverters
    store = sc._jsc.sc().statusStore()
    jobs = []
    for j in conv.asJava(store.jobsList(None)):
        sub, comp, grp = j.submissionTime(), j.completionTime(), j.jobGroup()
        if not sub.isDefined():
            continue
        start = sub.get().getTime() / 1e3
        jobs.append(Job(
            j.jobId(), grp.get() if grp.isDefined() else None, start,
            comp.get().getTime() / 1e3 if comp.isDefined() else start,
            list(conv.asJava(j.stageIds()))))
    empty = sc._gateway.new_array(jvm.double, 0)
    stages: dict[int, dict] = {}
    for s in conv.asJava(store.stageList(None, False, False, empty, None)):
        m = stages.setdefault(s.stageId(), dict.fromkeys(STAGE_FIELDS, 0))
        m["executor_run_s"] += s.executorRunTime() / 1e3
        m["executor_cpu_s"] += s.executorCpuTime() / 1e9
        m["gc_s"] += s.jvmGcTime() / 1e3
        m["tasks"] += s.numCompleteTasks()
        m["shuffle_read_bytes"] += s.shuffleReadBytes()
        m["shuffle_write_bytes"] += s.shuffleWriteBytes()
        m["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        m["input_bytes"] += s.inputBytes()
        m["input_rows"] += s.inputRecords()
    return jobs, stages


def job_totals(jobs: list[Job], stages: dict[int, dict]) -> dict[str, float]:
    """Sum stage metrics over ``jobs``. A stage shared by several jobs
    (a reused shuffle shows as skipped in the later ones) counts once."""
    seen: set[int] = set()
    out = dict.fromkeys(STAGE_FIELDS, 0.0)
    out["jobs"] = float(len(jobs))
    out["stages"] = 0.0
    for j in jobs:
        for sid in j.stages:
            if sid in seen or sid not in stages:
                continue
            seen.add(sid)
            if stages[sid]["tasks"]:
                out["stages"] += 1
            for k in STAGE_FIELDS:
                out[k] += stages[sid][k]
    return out


def uncovered_s(start: float, end: float, jobs: list[Job]) -> float:
    """Time in [start, end] during which none of ``jobs`` ran: driver-side
    work (planning, py4j, Python) and idle waiting."""
    covered, cur = 0.0, start
    for j in sorted(jobs, key=lambda j: j.start):
        lo, hi = max(j.start, cur), min(j.end, end)
        if hi > lo:
            covered += hi - lo
            cur = hi
    return max(0.0, (end - start) - covered)


# --- memory ----------------------------------------------------------------

def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out += [int(c) for c in f.read().split()]
    except OSError:
        pass
    return out


def descendants(pid: int) -> list[int]:
    todo, seen = [pid], []
    while todo:
        p = todo.pop()
        for c in _children(p):
            if c not in seen:
                seen.append(c)
                todo.append(c)
    return seen


def rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


class RssSampler(threading.Thread):
    """Samples the summed resident memory of every process below this
    one (the driver JVM and the Python workers it forks) and keeps the
    peak."""

    def __init__(self):
        super().__init__(name="rss-sampler", daemon=True)
        self.peak = 0
        self._halt = threading.Event()

    def run(self) -> None:
        me = os.getpid()
        while not self._halt.is_set():
            self.peak = max(self.peak, sum(rss_bytes(p) for p in descendants(me)))
            self._halt.wait(RSS_INTERVAL_S)

    def stop(self) -> int:
        self._halt.set()
        self.join(timeout=5)
        return self.peak
