"""Benchmark entry point: one workload, one seed, one fresh JVM.

Run from the repository root:

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 15 --trace 0

Each run starts from the same cold on-disk state (the registry's
materialized-state caches under ``spark-warehouse/`` and every landing,
lake and checkpoint directory cleared), makes its inputs from the seed,
starts a fresh Spark session, warms it up, measures, checks every answer
outside the timed window, stops Spark and waits for its processes, and
prints one JSON result as the last line of stdout. With ``--trace 1`` it
also writes the run's spans to ``.perfbench/out/`` and reports per-layer
metrics instead of the end-to-end ones.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import sys
import time
import traceback

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench")
SCALE = 0.01            # dashboard tables: sf0.01 row counts
DRIVER_MEMORY = "2g"    # the default 16g exceeds small machines' RAM

END_TO_END = [("setup_s", "s"), ("p50_s", "s"), ("p80_s", "s"),
              ("throughput_per_s", "1/s"), ("read_p50_s", "s")]


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=["dashboard", "ingest"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def cold_state(run_dir: str) -> None:
    """Same on-disk state before every run: no materialized registry
    state, no landing/lake/checkpoint/input directories."""
    warehouse = os.path.join(ROOT, "spark-warehouse")
    if os.path.isdir(warehouse):
        for kind in os.listdir(warehouse):
            shutil.rmtree(os.path.join(warehouse, kind), ignore_errors=True)
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("data", "tmp", "local"):
        os.makedirs(os.path.join(run_dir, sub))


def session_env(run_dir: str) -> tuple[int, dict[str, str]]:
    """Box-sized session: one local slot per usable core, driver memory
    below physical RAM, every scratch directory inside the checkout."""
    cores = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
    }
    return cores, conf


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the machine since boot."""
    with open("/proc/stat") as f:
        ticks = [int(v) for v in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait until every
    process this run started has exited."""
    from pyspark import SparkContext

    from perfbench.trace import descendants

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway server exits when stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.time() + 15
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    for _ in range(50):
        if not descendants(os.getpid()):
            break
        time.sleep(0.1)


def main(argv) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "azure_serverless_etl_pipeline_spark")):
        print("perfbench: run from the repository root (package not found)",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    from perfbench import layers
    from perfbench.common import Bench
    from perfbench.datagen import N_USERS_PER_SF, write_tables
    from perfbench.trace import RssSampler, Tracer, read_status_store

    run_dir = os.path.join(WORK, f"run-{args.workload}")
    cold_state(run_dir)
    cores, conf = session_env(run_dir)
    if args.trace:
        # the defaults (1000) evict jobs a traced run must still read
        conf.update({"spark.ui.retainedJobs": "100000",
                     "spark.ui.retainedStages": "100000",
                     "spark.sql.ui.retainedExecutions": "100000"})

    bench = Bench(spark=None, tracer=Tracer(), seed=args.seed,
                  work=os.path.join(run_dir, "data"))
    inputs = hashlib.sha256()
    if args.workload == "dashboard":
        bench.sf_dir = os.path.join(bench.work, "sf")
        bench.table_rows = write_tables(bench.sf_dir, args.seed, SCALE)
        bench.n_users = int(N_USERS_PER_SF * SCALE)
        for t in sorted(bench.table_rows):
            with open(os.path.join(bench.sf_dir, f"{t}.parquet"), "rb") as f:
                inputs.update(f.read())

    sampler = RssSampler()
    sampler.start()
    from azure_serverless_etl_pipeline_spark.deploy import ship_package
    from azure_serverless_etl_pipeline_spark.session import get_spark

    steal0, total0 = cpu_ticks()
    t_setup = time.perf_counter()
    spark = get_spark(extra_conf=conf)
    try:
        ship_package(spark)
        session_start_s = time.perf_counter() - t_setup
        bench.spark = spark
        bench.tracer = Tracer(spark.sparkContext, enabled=bool(args.trace))
        if args.workload == "dashboard":
            from perfbench.dashboard import Dashboard

            workload = Dashboard(bench)
        else:
            from perfbench.ingest import Ingest

            workload = Ingest(bench, args.seconds)
            for u in workload.warm_uploads + workload.uploads:
                inputs.update(u.data)
        workload.setup()
        setup_s = time.perf_counter() - t_setup
        workload.run(args.seconds)
        attempted, failed = workload.check()
        e2e = workload.end_to_end()
        e2e["setup_s"] = setup_s
        steal1, total1 = cpu_ticks()
        env = {**layers.env_record(spark), "inputs_sha256": inputs.hexdigest(),
               # CPU time the hypervisor gave to other guests during the run
               "cpu_steal_share": round((steal1 - steal0) / max(total1 - total0, 1), 4)}
        if args.trace:
            jobs, stages = read_status_store(spark.sparkContext)
            metrics = layers.per_layer(workload, bench, jobs, stages, cores,
                                       session_start_s, e2e)
            metrics["mem.peak_rss_mb"] = sampler.peak / 2**20
            units = dict(layers.metric_names())
            out = os.path.join(WORK, "out",
                               f"spans-{args.workload}-seed{args.seed}.json")
            bench.tracer.write(out, {"workload": args.workload, "seed": args.seed,
                                     "env": env, "metrics": metrics,
                                     "end_to_end": e2e})
        else:
            metrics = e2e
            units = dict(END_TO_END)
    finally:
        stop_spark(spark)
        sampler.stop()

    print(json.dumps({"env": env}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main(sys.argv[1:]))
    except Exception:
        traceback.print_exc()
        sys.exit(1)
