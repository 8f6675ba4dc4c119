"""Per-layer metrics of a traced run, from its spans and Spark's status store.

Jobs are charged to the span whose id is their job group. Streaming jobs
carry the query's run id as their group and are charged to the tick that
ran the query. Jobs with no group (threads the package starts itself do
not inherit the caller's group) are charged by time: to the one timed
top-level span that was open when the job started, and counted as
unattributed when none or several were.
"""

from __future__ import annotations

import os

import numpy as np

from .dashboard import ENDPOINTS
from .ingest import parquet_files
from .trace import GROUP_PREFIX, Job, Span, Tracer, job_totals, uncovered_s

EXEC_KEYS = ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
             "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
             "input_bytes", "input_rows")


def metric_names() -> list[tuple[str, str]]:
    """Every per-layer metric with its unit, in report order."""
    out = [("session.start_s", "s"), ("plans.build_s", "s"),
           ("plans.build_jobs", "count"), ("plans.catalyst_s", "s")]
    out += [(f"dashboard.{q}.p50_s", "s") for q in ENDPOINTS]
    for k in EXEC_KEYS:
        unit = "s" if k.endswith("_s") else "bytes" if k.endswith("_bytes") else "count"
        out.append((f"exec.{k}", unit))
    out += [("exec.driver_gap_s", "s"), ("exec.slot_busy_ratio", "ratio"),
            ("exec.unattributed_jobs", "count"),
            ("serving.respond_s", "s"), ("serving.response_bytes", "bytes"),
            ("serving.rows_returned", "count"),
            ("serving.rows_examined_per_row_returned", "ratio"),
            ("streaming.ticks", "count"), ("streaming.batches", "count"),
            ("streaming.start_s", "s"), ("streaming.trigger_s", "s"),
            ("streaming.add_batch_s", "s"), ("streaming.query_planning_s", "s"),
            ("streaming.wal_commit_s", "s"), ("streaming.rows_per_batch", "count"),
            ("ingest.valid_rows", "count"), ("ingest.quarantined_rows", "count"),
            ("ingest.generator_late_max_s", "s"),
            ("writers.files_per_batch", "count"), ("writers.rows_per_file", "count"),
            ("writers.bytes_per_input_byte", "ratio"),
            ("lake.files", "count"), ("lake.open_s", "s"), ("lake.read_exec_s", "s"),
            ("mem.peak_rss_mb", "MB"),
            ("trace.p50_s", "s"), ("trace.throughput_per_s", "1/s")]
    return out


def _mean(xs) -> float:
    xs = list(xs)
    return float(np.mean(xs)) if xs else 0.0


class Attribution:
    """Which spans each retained job belongs to."""

    def __init__(self, tracer: Tracer, jobs: list[Job], run_ids: dict[str, int],
                 tops: list[Span], window: tuple[float, float]):
        self.by_id = {s.id: s for s in tracer.spans}
        self.own: dict[int, list[Job]] = {}
        self.unattributed = 0
        for j in jobs:
            sid = None
            if j.group and j.group.startswith(GROUP_PREFIX):
                sid = int(j.group[len(GROUP_PREFIX):])
            elif j.group in run_ids:
                sid = run_ids[j.group]
            elif window[0] <= j.start <= window[1]:
                open_ = [s for s in tops if s.start <= j.start <= s.end]
                if len(open_) == 1:
                    sid = open_[0].id
                else:
                    self.unattributed += 1
            if sid is not None:
                self.own.setdefault(sid, []).append(j)

    def jobs_under(self, span: Span) -> list[Job]:
        """Jobs charged to ``span`` or any span below it."""
        out = []
        for sid, jobs in self.own.items():
            s = self.by_id.get(sid)
            while s is not None:
                if s.id == span.id:
                    out += jobs
                    break
                s = self.by_id.get(s.parent)
        return out


def per_layer(workload, bench, jobs, stages, cores: int, session_start_s: float,
              e2e: dict[str, float]) -> dict[str, float]:
    tr = bench.tracer
    m = {name: 0.0 for name, _ in metric_names()}
    m["session.start_s"] = session_start_s
    m["trace.p50_s"] = e2e["p50_s"]
    m["trace.throughput_per_s"] = e2e["throughput_per_s"]

    top_names = ("request", "tick", "read")
    tops = [s for s in tr.spans if s.name in top_names and s.parent is None
            and s.start >= workload.window[0]]
    run_ids = {s.attrs["run_id"]: s.id for s in tr.by_name("tick") if "run_id" in s.attrs}
    att = Attribution(tr, jobs, run_ids, tops, workload.window)
    m["exec.unattributed_jobs"] = att.unattributed
    for sid, own in att.own.items():  # recorded in the span file
        att.by_id[sid].attrs["jobs"] = [j.id for j in own]

    timed_jobs = [j for s in tops for j in att.jobs_under(s)]
    tot = job_totals(timed_jobs, stages)
    for k in EXEC_KEYS:
        m[f"exec.{k}"] = tot[k]
    m["exec.driver_gap_s"] = sum(uncovered_s(s.start, s.end, att.jobs_under(s))
                                 for s in tops)
    wall = workload.window[1] - workload.window[0]
    m["exec.slot_busy_ratio"] = tot["executor_run_s"] / (wall * cores)

    def timed(name: str) -> list[Span]:
        """Spans called ``name`` below one of the timed operations."""
        top_ids = {s.id for s in tops}
        out = []
        for span in tr.by_name(name):
            s = span
            while s is not None and s.id not in top_ids:
                s = att.by_id.get(s.parent)
            if s is not None:
                out.append(span)
        return out

    builds = timed("plans.build")
    m["plans.build_s"] = _mean(s.dur for s in builds)
    m["plans.build_jobs"] = _mean(len(att.own.get(s.id, [])) for s in builds)
    m["plans.catalyst_s"] = _mean(s.dur for s in timed("plans.catalyst"))

    requests = [s for s in tops if s.name == "request"]
    for q in ENDPOINTS:
        durs = [s.dur for s in requests if s.attrs["endpoint"] == q]
        m[f"dashboard.{q}.p50_s"] = float(np.median(durs)) if durs else 0.0
    responds = timed("serving.respond")
    if responds:
        m["serving.respond_s"] = _mean(s.dur for s in responds)
        m["serving.response_bytes"] = _mean(s.attrs["bytes"] for s in responds)
        m["serving.rows_returned"] = _mean(s.attrs["rows"] for s in responds)
        examined = job_totals([j for s in requests for j in att.jobs_under(s)],
                              stages)["input_rows"]
        returned = sum(s.attrs["rows"] for s in responds)
        m["serving.rows_examined_per_row_returned"] = examined / max(returned, 1)

    if hasattr(workload, "ticks"):
        _ingest_layers(m, workload, timed)
    return m


def _ingest_layers(m, w, timed) -> None:
    progress = [p for t in w.ticks for p in t["progress"]]
    batches = len(progress)
    m["streaming.ticks"] = len(w.ticks)
    m["streaming.batches"] = batches

    def dur(key: str) -> float:
        return _mean(p["durationMs"].get(key, 0) / 1e3 for p in progress)

    m["streaming.start_s"] = _mean(w.start_s)
    m["streaming.trigger_s"] = dur("triggerExecution")
    m["streaming.add_batch_s"] = dur("addBatch")
    m["streaming.query_planning_s"] = dur("queryPlanning")
    m["streaming.wal_commit_s"] = _mean(
        (p["durationMs"].get("walCommit", 0) + p["durationMs"].get("commitOffsets", 0)) / 1e3
        for p in progress)
    m["streaming.rows_per_batch"] = _mean(p["numInputRows"] for p in progress)
    m["ingest.valid_rows"] = sum(t["valid"] for t in w.ticks)
    m["ingest.quarantined_rows"] = sum(t["quarantined"] for t in w.ticks)
    m["ingest.generator_late_max_s"] = max(w.late, default=0.0)
    # writers.* describe the lake write inside file_ingest's foreachBatch
    # sink, which writes parquet itself rather than through sources.writers
    files = sum(t["written_files"] for t in w.ticks)
    rows = sum(p["numInputRows"] for p in progress)
    m["writers.files_per_batch"] = files / max(batches, 1)
    m["writers.rows_per_file"] = rows / max(files, 1)
    m["writers.bytes_per_input_byte"] = (sum(t["written_bytes"] for t in w.ticks)
                                         / max(sum(t["input_bytes"] for t in w.ticks), 1))
    m["lake.files"] = len(parquet_files(w.lake.valid))
    m["lake.open_s"] = _mean(s.dur for s in timed("lake.open"))
    m["lake.read_exec_s"] = _mean(s.dur for s in timed("lake.read"))


def env_record(spark) -> dict:
    sc = spark.sparkContext
    with open("/proc/meminfo") as f:
        mem_kb = int(next(ln for ln in f if ln.startswith("MemTotal")).split()[1])
    return {
        "nproc": os.cpu_count(),
        "cpus_usable": len(os.sched_getaffinity(0)),
        "ram_gb": round(mem_kb / 2**20, 1),
        "spark": spark.version,
        "java": sc._jvm.java.lang.System.getProperty("java.version"),
        "master": sc.master,
        "driver_memory": sc.getConf().get("spark.driver.memory"),
    }
