"""Self-test of the benchmark itself.

    python3 perfbench/selftest.py

For every workload in BENCHMARK.json, at its run_seconds:
- two traced runs with one seed must report exactly equal counts
  (plans.build_jobs, exec.jobs, streaming.batches, writers.files_per_batch,
  the ingest counters) and write the span file;
- a traced run with another seed must see different inputs and change
  nothing else: the same operations attempted, every check passing;
- an untraced run with the first seed gives the tracing overhead
  (traced over untraced p50_s and throughput_per_s).
Then, in a directory holding only BENCHMARK.json and perfbench/, a run
must exit non-zero without printing a result.
Exits non-zero if any of these fails.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

sys.path.insert(0, os.getcwd())

from perfbench.spread import run  # noqa: E402

EQUAL_COUNTS = ("plans.build_jobs", "exec.jobs", "streaming.batches",
                "writers.files_per_batch", "ingest.valid_rows",
                "ingest.quarantined_rows")
SEED_A, SEED_B = 11, 12


def check_workload(workload: str, seconds: int) -> list[str]:
    problems = []
    a1 = run(workload, SEED_A, seconds, 1)
    span_file = os.path.join(".perfbench", "out", f"spans-{workload}-seed{SEED_A}.json")
    with open(span_file) as f:
        recorded = json.load(f)
    if not recorded["spans"]:
        problems.append(f"{workload}: span file has no spans")
    a2 = run(workload, SEED_A, seconds, 1)
    b = run(workload, SEED_B, seconds, 1)
    plain = run(workload, SEED_A, seconds, 0)
    with open(span_file.replace(f"seed{SEED_A}", f"seed{SEED_B}")) as f:
        inputs_b = json.load(f)["env"]["inputs_sha256"]
    for r, tag in ((a1, "A1"), (a2, "A2"), (b, "B"), (plain, "untraced")):
        if not r["correct"]:
            problems.append(f"{workload} {tag}: {r['failed']}/{r['attempted']} checks failed")
    for k in EQUAL_COUNTS:
        v1, v2 = a1["metrics"][k]["value"], a2["metrics"][k]["value"]
        print(f"{workload} {k}: {v1} {v2}")
        if v1 != v2:
            problems.append(f"{workload}: {k} differs between same-seed runs ({v1} vs {v2})")
    if a1["attempted"] != b["attempted"]:
        problems.append(f"{workload}: seed changed the operations attempted "
                        f"({a1['attempted']} vs {b['attempted']})")
    if recorded["env"]["inputs_sha256"] == inputs_b:
        problems.append(f"{workload}: another seed produced the same inputs")
    for k in ("p50_s", "throughput_per_s"):
        traced = a1["metrics"][f"trace.{k}"]["value"]
        untraced = plain["metrics"][k]["value"]
        print(f"{workload} tracing overhead on {k}: traced {traced:.4f} "
              f"untraced {untraced:.4f} ({traced / untraced - 1:+.1%})")
    return problems


def check_bare_dir() -> list[str]:
    """Without the program, the benchmark must fail without a result."""
    os.makedirs(".perfbench", exist_ok=True)
    with tempfile.TemporaryDirectory(dir=".perfbench") as d:
        shutil.copy("BENCHMARK.json", d)
        shutil.copytree("perfbench", os.path.join(d, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        res = subprocess.run([sys.executable, "perfbench/run.py", "--workload",
                              "dashboard", "--seed", "1", "--seconds", "1",
                              "--trace", "0"], cwd=d, capture_output=True,
                             text=True, timeout=180)
    if res.returncode == 0 or '"metrics"' in res.stdout:
        return ["bare directory: run succeeded or printed a result"]
    return []


def main() -> None:
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    problems = check_bare_dir()
    for wl in spec["workloads"]:
        problems += check_workload(wl["name"], spec["run_seconds"])
    for msg in problems:
        print(f"FAIL {msg}")
    print("selftest:", "FAIL" if problems else "ok")
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
