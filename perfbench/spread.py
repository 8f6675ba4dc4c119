"""Run-to-run spread of the end-to-end metrics.

Runs ``perfbench/run.py`` once per seed for each workload, one run at a
time, and prints for every end-to-end metric its median and the distance
between the first and third quartile as a share of the median (the
spread the bounds in BENCHMARK.json are checked against).

    python3 perfbench/spread.py --workloads dashboard ingest --seeds 1-10
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run(workload: str, seed: int, seconds: int, trace: int = 0) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.time()
    res = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    if res.returncode != 0:
        sys.stderr.write(res.stderr[-4000:])
        raise SystemExit(f"{workload} seed {seed}: exit {res.returncode}")
    out = json.loads(res.stdout.strip().splitlines()[-1])
    out["wall_s"] = time.time() - t0
    return out


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--workloads", nargs="+", default=["dashboard", "ingest"])
    p.add_argument("--seeds", default="1-5")
    args = p.parse_args()
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    seconds = spec["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    for wl in args.workloads:
        runs = []
        for s in seeds(args.seeds):
            r = run(wl, s, seconds)
            runs.append(r)
            vals = {k: round(v["value"], 4) for k, v in r["metrics"].items()}
            print(f"{wl} seed={s} wall={r['wall_s']:.1f}s correct={r['correct']} "
                  f"failed={r['failed']}/{r['attempted']} {vals}", flush=True)
        for name, bound in bounds.items():
            vals = [r["metrics"][name]["value"] for r in runs]
            med = statistics.median(vals)
            q1, _, q3 = statistics.quantiles(vals, n=4)
            share = (q3 - q1) / med
            flag = "ok" if share < bound / 3 else "WIDE"
            print(f"{wl:10s} {name:18s} median={med:.4f} iqr/median={share:.4f} "
                  f"bound={bound} {flag}", flush=True)


if __name__ == "__main__":
    main()
