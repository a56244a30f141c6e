"""Benchmark entry point: one workload, one seed, one fresh process.

    python3 perfbench/run.py --workload interactive_query --seed 1 --seconds 25 --trace 0

Run from the repository root. Inputs are generated from ``--seed``
(cached under ``.perfbench_work/``), the program is set up, an
untimed warm-up runs, then the passes that ``--seconds`` holds at their
nominal time (``workloads._repeat``). Every
output is checked. The last stdout line is the result JSON; the line
before it is the full record (run environment, sample counts, failed
checks). ``--trace 1`` reports the per-layer metrics instead of the
end-to-end ones.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

SETUP_REPS = 3
SHUFFLE_PARTITIONS = 8
DRIVER_MEMORY = "2g"
# A fixed-size heap and young generation keep the JVM's resident set
# from following the collector's adaptive sizing, which otherwise
# moves peak_rss_mb by about 15% between identical runs.
JVM_OPTIONS = f"-XX:+UseParallelGC -XX:-UseAdaptiveSizePolicy -Xms{DRIVER_MEMORY} -Xmn512m"


def _bench_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _pin_environment(work: str) -> dict:
    """Fix every setting the numbers depend on, before Spark starts."""
    cores = min(4, os.cpu_count() or 1)
    env = {
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_SHUFFLE_PARTITIONS": str(SHUFFLE_PARTITIONS),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
    }
    for d in (env["SPARK_LOCAL_DIRS"], env["TMPDIR"]):
        os.makedirs(d, exist_ok=True)
    os.environ.update(env)
    tempfile.tempdir = env["TMPDIR"]
    return env


def _spark_conf(work: str) -> dict:
    tmp = os.path.join(work, "tmp")
    return {
        # the status API is the executor accounting, in both modes
        "spark.ui.enabled": "true",
        "spark.ui.port": "0",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"{JVM_OPTIONS} -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
    }


def _stop(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        # the JVM exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    import metrics
    from gen import generate
    from workloads import DATASET, WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; have {sorted(WORKLOADS)}")
    spec = _bench_spec()
    work_root = os.path.join(ROOT, ".perfbench_work")
    cache = os.path.join(work_root, "cache")
    t = time.perf_counter()
    data, info = generate(DATASET[args.workload], args.seed, "full", cache)
    gen_s = time.perf_counter() - t
    work = os.path.join(work_root, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    env = _pin_environment(work)

    # The program itself; absent when only the benchmark's files are
    # present, which makes the run fail here, before any result.
    sys.path.insert(0, ROOT)
    import numpy as np
    from etsd_time_series_database_spark import get_spark

    from harness import Recorder, median
    from workloads import Ctx

    t = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}", _spark_conf(work))
    # process start to session ready, input generation excluded
    session_s = time.perf_counter() - T_PROCESS - gen_s
    session_start_s = time.perf_counter() - t
    try:
        rec = Recorder(spark, traced=bool(args.trace))
        ctx = Ctx(spark, rec, data, info, work, np.random.default_rng([args.seed, 7]))
        wl = WORKLOADS[args.workload](ctx)
        phases = {"generate": gen_s, "session": session_s}
        open_s = []
        for _ in range(SETUP_REPS):
            t = time.perf_counter()
            wl.open_inputs()
            open_s.append(time.perf_counter() - t)
        t = time.perf_counter()
        wl.prepare()
        phases["open"], phases["prepare"] = sum(open_s), time.perf_counter() - t
        setup_s = median(open_s) + phases["prepare"]
        tracing = rec.traced
        rec.traced = False
        t = time.perf_counter()
        wl.warmup()
        phases["warmup"] = time.perf_counter() - t
        t = time.perf_counter()
        rec.traced = tracing
        passes = wl.measure(args.seconds)
        rec.traced = False
        phases["loop"] = time.perf_counter() - t
        if wl.capped:
            print(f"{args.workload}: fewer passes than --seconds {args.seconds} asks for: the inputs "
                  "ran out or the passes took over twice their nominal time", file=sys.stderr)
        t = time.perf_counter()
        wl.finish()
        record = metrics.collect(
            spec, args, wl, ctx,
            session_s=session_s, session_start_s=session_start_s, setup_s=setup_s, passes=passes,
        )
        if args.trace:
            rec.dump_spans(os.path.join(work_root, f"spans-{args.workload}-s{args.seed}.jsonl"))
        phases["finish"] = time.perf_counter() - t
    finally:
        t = time.perf_counter()
        _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
    phases["stop"] = time.perf_counter() - t
    record["phases_s"] = phases
    record["environment"] = {**env, "jvm_options": JVM_OPTIONS, "SPARK_LOCAL_DIRS": ".perfbench_work/<run>/spark-local",
                             "TMPDIR": ".perfbench_work/<run>/tmp",
                             "nproc": os.cpu_count(), "fresh_process": True, "spark_ui": True}
    print(json.dumps(record, sort_keys=True))
    print(json.dumps({k: record[k] for k in ("correct", "attempted", "failed", "metrics")}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
