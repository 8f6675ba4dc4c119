"""Shared run context for the benchmark workloads."""

from __future__ import annotations

import sys
import threading
from dataclasses import dataclass, field

import numpy as np

from .trace import Tracer


@dataclass
class Op:
    """One user-visible operation and what it returned."""

    name: str
    filters: dict | None = None
    timed: bool = False
    start: float = 0.0
    end: float = 0.0
    rows: list = field(default_factory=list)
    error: str | None = None


def percentile(values: list[float], q: float) -> float:
    return float(np.percentile(values, q)) if values else float("nan")


@dataclass
class Bench:
    spark: object
    tracer: Tracer
    seed: int
    work: str
    sf_dir: str = ""
    table_rows: dict = field(default_factory=dict)
    n_users: int = 0

    def log(self, msg: str) -> None:
        print(f"[perfbench] {msg}", file=sys.stderr, flush=True)

    def run_threads(self, fn, n: int) -> None:
        """Run ``fn(i)`` on ``n`` threads and re-raise the first error."""
        errors: list[BaseException] = []

        def body(i: int) -> None:
            try:
                fn(i)
            except BaseException as e:  # re-raised on the caller's thread
                errors.append(e)

        threads = [threading.Thread(target=body, args=(i,), name=f"client-{i}")
                   for i in range(n)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        if errors:
            raise errors[0]

    def duckdb(self):
        import duckdb

        con = duckdb.connect()
        for t in self.table_rows:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{self.sf_dir}/{t}.parquet'")
        return con
