"""``dashboard`` workload: closed loop over the reference's API surface.

Each client thread sends seeded requests for the reference-surface
endpoints (g01-g10, m01-m03) through ``serving.run_named_query`` and
``serving.to_json_response`` — how the reference's HTTP API and
Streamlit pages are used — and sends its next request only when the
previous one has answered. A client's requests come in passes: each pass
is a seeded permutation of all thirteen endpoints with seeded filter
bindings, so every run serves the same endpoint mix. The amount of work
is fixed by ``--seconds`` (one pass per client per PASS_S seconds), so
two runs with one seed send exactly the same requests.
"""

from __future__ import annotations

import json
import random
import threading
import time

from azure_serverless_etl_pipeline_spark import serving
from azure_serverless_etl_pipeline_spark.plans import ORACLES

from . import checks
from .common import Bench, Op, percentile

ENDPOINTS = [
    "g01_scan_filter", "g02_groupby_sum", "g03_multikey_agg", "g04_global_kpis",
    "g05_topk", "g06_join_global_avg", "g07_date_spine", "g08_rolling_features",
    "g09_grouping_sets", "g10_ingest_validation", "m01_anomaly_scores",
    "m02_forecast", "m03_media_features",
]
CLIENTS = 2
PASS_S = 5.0  # one pass per client per PASS_S of --seconds


def _binding(rng: random.Random, name: str, n_users: int) -> dict | None:
    """Seeded equality filter on an output column, as the reference's
    per-home API parameter (``WHERE c.HomeID = @homeid``); None for
    endpoints that take no parameter."""
    options = {
        "g01_scan_filter": lambda: {"l_linenumber": rng.randint(1, 7)},
        "g02_groupby_sum": lambda: {"l_returnflag": rng.choice("ANR")},
        "g03_multikey_agg": lambda: {"l_returnflag": rng.choice("ANR")},
        "g06_join_global_avg": lambda: {"o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])},
        "g07_date_spine": lambda: {"user_id": rng.randrange(n_users)},
        "g08_rolling_features": lambda: {"user_id": rng.randrange(n_users)},
        "g09_grouping_sets": lambda: {"rf": rng.choice(["A", "N", "R", "ALL"])},
        "m01_anomaly_scores": lambda: {"user_id": rng.randrange(n_users)},
    }
    return options[name]() if name in options else None


def request_stream(seed: int, client: int, n_users: int, passes: int):
    """Seeded sequence of (endpoint, filters) for one client. Parameterized
    endpoints alternate between filtered and unfiltered requests from one
    pass to the next (seeded phase), so every run has the same mix of
    per-key and full answers."""
    rng = random.Random(seed * 1000 + client)
    phase = {name: rng.randrange(2) for name in ENDPOINTS}
    for p in range(passes):
        for name in rng.sample(ENDPOINTS, len(ENDPOINTS)):
            filters = _binding(rng, name, n_users)
            yield name, filters if (p + phase[name]) % 2 else None


class Dashboard:
    def __init__(self, bench: Bench):
        self.b = bench
        self.ops: list[Op] = []
        self.window: tuple[float, float] = (0.0, 0.0)
        self._lock = threading.Lock()

    # -- one request ------------------------------------------------------
    def request(self, client: int, name: str, filters: dict | None,
                timed: bool) -> Op:
        b, tr = self.b, self.b.tracer
        op = Op(name=name, filters=filters, timed=timed)
        op.start = time.perf_counter()
        try:
            with tr.span("request", endpoint=name, client=client):
                with tr.span("plans.build"):
                    df = serving.run_named_query(b.spark, name, b.sf_dir, filters)
                if tr.enabled:
                    with tr.span("plans.catalyst"):
                        df._jdf.queryExecution().executedPlan()
                with tr.span("serving.respond") as sp:
                    body = serving.to_json_response(df)
                op.end = time.perf_counter()
                op.rows = json.loads(body)
                if sp is not None:
                    sp.attrs.update(bytes=len(body), rows=len(op.rows))
        except Exception as e:  # a failed request is counted, not fatal
            op.error = f"{type(e).__name__}: {e}"
            op.end = time.perf_counter()
        with self._lock:
            self.ops.append(op)
        return op

    # -- phases -----------------------------------------------------------
    def setup(self) -> None:
        """Warm-up: one pass of every endpoint per client, so class
        loading, the first JIT tiers and first-touch file caches are done
        before timing."""

        def warm(client: int) -> None:
            for name, filters in request_stream(self.b.seed + 7919, client,
                                                self.b.n_users, 1):
                self.request(client, name, filters, timed=False)

        self.b.run_threads(warm, CLIENTS)

    def run(self, seconds: float) -> None:
        passes = max(1, round(seconds / PASS_S))
        start = time.time()

        def client(i: int) -> None:
            for name, filters in request_stream(self.b.seed, i, self.b.n_users, passes):
                self.request(i, name, filters, timed=True)

        self.b.run_threads(client, CLIENTS)
        self.window = (start, time.time())

    # -- checks and metrics -------------------------------------------------
    def check(self) -> tuple[int, int]:
        con = self.b.duckdb()
        oracle = {n: checks.frame_rows(con.execute(ORACLES[n]).df())
                  for n in ENDPOINTS if n in ORACLES}
        seen: dict[str, str] = {}
        failed = 0
        for op in self.ops:
            why = op.error
            if why is None:
                why = self._check_one(op, oracle)
            if why is None:
                key = f"{op.name}|{json.dumps(op.filters, sort_keys=True)}"
                d = checks.digest(op.rows)
                if seen.setdefault(key, d) != d:
                    why = "answer differs from an earlier identical request"
            if why is not None:
                failed += 1
                self.b.log(f"check failed: {op.name} {op.filters}: {why}")
        return len(self.ops), failed

    def _check_one(self, op: Op, oracle: dict) -> str | None:
        if op.name in oracle:
            want = checks.apply_filters(oracle[op.name], op.filters)
            return checks.match_oracle(op.rows, want)
        if op.name == "m01_anomaly_scores":
            want = checks.apply_filters(oracle["g08_rolling_features"], op.filters)
            return checks.check_m01(op.rows, want)
        if op.name == "m02_forecast":
            return checks.check_m02(op.rows)
        if op.name == "m03_media_features":
            return checks.check_m03(op.rows, self.b.table_rows["documents"])
        return f"no check for {op.name}"

    def timed_ops(self) -> list[Op]:
        return [op for op in self.ops if op.timed and op.error is None]

    def end_to_end(self) -> dict[str, float]:
        lat = [op.end - op.start for op in self.timed_ops()]
        wall = self.window[1] - self.window[0]
        return {
            "p50_s": percentile(lat, 50),
            "p80_s": percentile(lat, 80),
            "throughput_per_s": len(lat) / wall,
            "read_p50_s": percentile(lat, 50),
        }
