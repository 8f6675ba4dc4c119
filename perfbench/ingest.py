"""``ingest`` workload: open-loop uploads into the partitioned lake, then
reads of what was written.

A generator thread lands seeded energy CSV uploads on a fixed schedule,
whether or not ingest keeps up: FILES_PER_TICK uploads per TICK_S
seconds, spread over the middle 60% of each tick interval so that a tick
that starts on time never races an upload being landed. The ingest loop
calls ``streaming.file_ingest.start_energy_file_ingest`` with the
availableNow trigger once per tick (every TICK_S seconds, or at once when
a tick overran): the blob-trigger analog, writing valid rows to a
``HomeID``-partitioned parquet lake and defects to a quarantine. The
warm-up ticks start the stream, so the timed ticks continue a running
stream on a lake that already holds rows. A tick's lag runs from its
scheduled start to its commit, so it holds the tick's own time plus any
wait behind an overrunning tick, and none of the generator's schedule.
When every upload is committed, one closed-loop client issues seeded
per-home detect-anomalies requests over the lake.
"""

from __future__ import annotations

import datetime as dt
import glob
import json
import os
import random
import threading
import time

from pyspark.sql import functions as F

from azure_serverless_etl_pipeline_spark.functions import to_date_ddmmyyyy
from azure_serverless_etl_pipeline_spark.ml.scoring import score_anomalies
from azure_serverless_etl_pipeline_spark.operators.timeseries import (
    densify_daily,
    rolling_features,
)
from azure_serverless_etl_pipeline_spark.serving import to_json_response
from azure_serverless_etl_pipeline_spark.streaming.file_ingest import (
    IngestCounters,
    start_energy_file_ingest,
)

from . import checks
from .common import Bench, Op, percentile
from .datagen import make_uploads

TICK_S = 4.0       # ingest trigger period
FILES_PER_TICK = 8  # half the file source's maxFilesPerTrigger of 16: one
                    # micro-batch a tick, even for a tick that starts late
ROWS = (8, 16)     # rows per upload
READS = 7          # per-home requests in the read phase
WARM_TICKS = 2     # warm-up ticks of FILES_PER_TICK uploads each
WARM_READS = 1
DRAIN_LIMIT_S = 60.0


def parquet_files(path: str) -> list[str]:
    return glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)


class Lake:
    """Landing, lake, quarantine and checkpoint directories of one stream."""

    def __init__(self, root: str):
        self.staging = os.path.join(root, "staging")
        self.landing = os.path.join(root, "landing")
        self.valid = os.path.join(root, "lake")
        self.quarantine = os.path.join(root, "quarantine")
        self.checkpoint = os.path.join(root, "checkpoint")
        os.makedirs(self.staging)
        os.makedirs(self.landing)
        self.counters = IngestCounters()

    def land(self, name: str, data: bytes) -> None:
        tmp = os.path.join(self.staging, name)
        with open(tmp, "wb") as f:
            f.write(data)
        os.replace(tmp, os.path.join(self.landing, name))

    def batch_files(self, batch_id: int) -> list[str]:
        """Upload names the file source committed in micro-batch
        ``batch_id`` (its metadata log under the checkpoint; every tenth
        log file is a compaction holding all entries so far)."""
        path = os.path.join(self.checkpoint, "sources", "0", str(batch_id))
        if not os.path.exists(path):
            path += ".compact"
        with open(path) as f:
            entries = [json.loads(ln) for ln in f.read().splitlines()[1:] if ln]
        return [os.path.basename(e["path"]) for e in entries
                if e["batchId"] == batch_id]

    def written(self) -> tuple[int, int]:
        files = parquet_files(self.valid) + parquet_files(self.quarantine)
        return len(files), sum(os.path.getsize(f) for f in files)


class Ingest:
    def __init__(self, bench: Bench, seconds: float):
        self.b = bench
        n_ticks = max(1, round(seconds / TICK_S))
        self.uploads = make_uploads(bench.seed, n_ticks * FILES_PER_TICK, *ROWS)
        self.warm_uploads = make_uploads(bench.seed, WARM_TICKS * FILES_PER_TICK,
                                         *ROWS, stream=1)
        self.expect = {u.name: u for u in self.uploads + self.warm_uploads}
        self.late: list[float] = []
        self.committed: set[str] = set()
        self.ticks: list[dict] = []
        self.reads: list[Op] = []
        self.failed_files: set[str] = set()
        self.start_s: list[float] = []
        self.lake = Lake(os.path.join(bench.work, "ingest"))
        self.window = (0.0, 0.0)

    # -- one tick -----------------------------------------------------------
    def tick(self, due: float | None = None) -> None:
        """One availableNow run; ``due`` is the scheduled start of a
        timed tick, None for a warm-up tick."""
        timed = due is not None
        b, tr, lake = self.b, self.b.tracer, self.lake
        before = lake.written() if tr.enabled else (0, 0)
        c = lake.counters
        valid0, quar0 = c.inserted, c.skipped
        with tr.span("tick", timed=timed) as sp:
            t0 = time.perf_counter()
            with tr.span("streaming.start"):
                q = start_energy_file_ingest(
                    b.spark, lake.landing, lake.valid, lake.quarantine,
                    lake.checkpoint, counters=c)
            t_started = time.perf_counter()
            q.awaitTermination()
            t1 = time.perf_counter()
            progress = [json.loads(p.json) for p in q.recentProgress]
            progress = [p for p in progress if p["numInputRows"] > 0]
            names = [n for p in progress for n in lake.batch_files(p["batchId"])]
            for p in progress:
                ts = dt.datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00"))
                start = ts.timestamp()
                tr.add("batch", sp, start, start + p["durationMs"]["triggerExecution"] / 1e3,
                       batch_id=p["batchId"], rows=p["numInputRows"])
            if sp is not None:
                sp.attrs.update(run_id=str(q.runId), files=len(names))
        self.committed.update(names)
        want_valid = sum(len(self.expect[n].valid) for n in names)
        want_quar = sum(self.expect[n].quarantined for n in names)
        if (c.inserted - valid0, c.skipped - quar0) != (want_valid, want_quar):
            b.log(f"check failed: tick counters {c.inserted - valid0}/"
                  f"{c.skipped - quar0} vs generated {want_valid}/{want_quar}")
            self.failed_files.update(names)
        after = lake.written() if tr.enabled else (0, 0)
        if timed:
            self.start_s.append(t_started - t0)
            self.ticks.append({
                "progress": progress, "files": len(names), "busy_s": t1 - t0,
                "lag_s": t1 - due,
                "valid": c.inserted - valid0, "quarantined": c.skipped - quar0,
                "written_files": after[0] - before[0],
                "written_bytes": after[1] - before[1],
                "input_bytes": sum(len(self.expect[n].data) for n in names),
            })

    # -- read phase ---------------------------------------------------------
    def read(self, home: str, timed: bool) -> Op:
        tr = self.b.tracer
        op = Op(name="detect_anomalies", filters={"HomeID": home}, timed=timed)
        op.start = time.perf_counter()
        try:
            with tr.span("read", home=home):
                with tr.span("lake.open"):
                    df = self.b.spark.read.parquet(self.lake.valid)
                with tr.span("plans.build"):
                    daily = (
                        df.filter(F.col("HomeID") == home)
                        .withColumn("date", to_date_ddmmyyyy("Date"))
                        .groupBy("HomeID", "date")
                        .agg(F.sum("EnergyConsumption").alias("total_kwh"),
                             F.countDistinct("ApplianceType").alias("unique_appliances"))
                    )
                    dense = densify_daily(daily, "date", ["HomeID"],
                                          ["total_kwh", "unique_appliances"])
                    feats = rolling_features(dense, "date", "total_kwh", ["HomeID"])
                    scored = score_anomalies(feats, value_col="total_kwh")
                with tr.span("lake.read") as sp:
                    body = to_json_response(scored)
                    if sp is not None:
                        sp.attrs.update(bytes=len(body))
            op.end = time.perf_counter()
            op.rows = json.loads(body)
        except Exception as e:  # a failed request is counted, not fatal
            op.error = f"{type(e).__name__}: {e}"
            op.end = time.perf_counter()
        self.reads.append(op)
        return op

    def homes(self, uploads, n: int, salt: int) -> list[str]:
        homes = sorted({r[0] for u in uploads for r in u.valid})
        return random.Random(self.b.seed * 1000 + salt).choices(homes, k=n)

    # -- phases -------------------------------------------------------------
    def setup(self) -> None:
        """Warm-up: the stream's first ticks and a read of the lake they
        wrote, so the stream, write and read paths are started and past
        their first JIT tiers before timing."""
        for i in range(WARM_TICKS):
            for u in self.warm_uploads[i * FILES_PER_TICK:(i + 1) * FILES_PER_TICK]:
                self.lake.land(u.name, u.data)
            self.tick()
        for home in self.homes(self.warm_uploads, WARM_READS, 1):
            self.read(home, timed=False)

    def run(self, seconds: float) -> None:
        lake = self.lake
        start = time.time()
        t0 = time.perf_counter()
        lands: dict[str, float] = {}  # upload -> scheduled landing time
        for i, u in enumerate(self.uploads):
            k, j = divmod(i, FILES_PER_TICK)
            lands[u.name] = t0 + TICK_S * (k + 0.2 + 0.6 * j / (FILES_PER_TICK - 1))

        def generate() -> None:
            for u in self.uploads:
                now = time.perf_counter()
                if lands[u.name] > now:
                    time.sleep(lands[u.name] - now)
                lake.land(u.name, u.data)
                self.late.append(time.perf_counter() - lands[u.name])

        gen = threading.Thread(target=generate, name="generator")
        gen.start()
        try:
            k = 1
            while any(u.name not in self.committed for u in self.uploads):
                now = time.perf_counter()
                if now - t0 > seconds + DRAIN_LIMIT_S:
                    self.b.log("ingest did not drain within the limit")
                    break
                due = t0 + k * TICK_S
                if due > now:
                    time.sleep(due - now)
                self.tick(due)
                k += 1
        finally:
            gen.join()
        for home in self.homes(self.uploads, READS, 2):
            self.read(home, timed=True)
        self.window = (start, time.time())

    # -- checks and metrics -------------------------------------------------
    def check(self) -> tuple[int, int]:
        spark = self.b.spark
        failed = set(self.failed_files)
        failed.update(u.name for u in self.uploads + self.warm_uploads
                      if u.name not in self.committed)
        warm_rows = [r for u in self.warm_uploads for r in u.valid]
        all_rows = warm_rows + [r for u in self.uploads for r in u.valid]
        n, n_ids = spark.read.parquet(self.lake.valid).agg(
            F.count(F.lit(1)), F.countDistinct("id")).first()
        if (n, n_ids) != (len(all_rows), len(all_rows)):
            self.b.log(f"check failed: lake rows {n}, distinct ids {n_ids}, "
                       f"generated valid rows {len(all_rows)}")
            failed.update(self.expect)
        bad_reads = 0
        for op in self.reads:
            # the warm-up read ran before any timed upload was committed
            rows = all_rows if op.timed else warm_rows
            why = op.error or checks.check_home_response(
                op.rows, checks.expected_home_daily(rows, op.filters["HomeID"]))
            if why:
                bad_reads += 1
                self.b.log(f"check failed: read {op.filters}: {why}")
        attempted = len(self.expect) + len(self.reads)
        return attempted, len(failed) + bad_reads

    def end_to_end(self) -> dict[str, float]:
        lag = [t["lag_s"] for t in self.ticks]
        rows = sum(p["numInputRows"] for t in self.ticks for p in t["progress"])
        busy = sum(t["busy_s"] for t in self.ticks)
        reads = [op.end - op.start for op in self.reads if op.timed and not op.error]
        return {
            "p50_s": percentile(lag, 50),
            "p80_s": percentile(lag, 80),
            "throughput_per_s": rows / busy,
            "read_p50_s": percentile(reads, 50),
        }
