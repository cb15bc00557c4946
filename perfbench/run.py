"""Seismic medallion benchmark: one workload per process.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The run builds everything it needs
(inputs, warehouse, Spark scratch) under ``.perfbench_work/`` in the
checkout and removes it at the end; a traced run keeps its spans in
``.perfbench_work/traces/``. The last line of stdout is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics untraced, the per-layer metrics with ``--trace 1``. The line
before it gives the same figures under workload-specific names
(``dashboard_query_p50_ms``, ``drilldown_qps``, ``backfill_rows_per_s``, ...)
with their sample counts. A correctness mismatch prints
``correct: false`` and exits 1. The metric names and units are those
``BENCHMARK.json`` lists.

``--seconds`` is the length of the measured query loop; each client
then finishes the block of queries it is in.

Spark runs at ``local[nproc]`` (``SPARK_GRAFT_CPUS`` is pinned to the
CPUs this process may use) with a fixed, pre-touched 2 GiB JVM heap.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import subprocess
import sys
import time
from concurrent.futures import ThreadPoolExecutor

HEAP = "2g"
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["dashboard", "drilldown"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", choices=["full", "tiny"], default="full",
                    help="input sizes; tiny is for the self-test")
    ap.add_argument("--inject", choices=["gold", "dashboard"],
                    help="self-test only: corrupt one output before checking it")
    return ap.parse_args(argv)


def configure_env(work: str) -> None:
    """Everything Spark and Python write goes under ``work``."""
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_DRIVER_MEMORY"] = HEAP
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # every JVM (the launcher's too): temp files under work, and no
    # hsperfdata file, which the JVM would write to /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)


def calibrate(spark) -> float:
    """A fixed ``spark.range`` probe, min of five, so host CPU steal is
    visible beside each run."""
    ts = []
    for _ in range(5):
        t0 = time.perf_counter()
        spark.range(0, 30_000_000, 1, 32).selectExpr("sum(id % 97) AS s").collect()
        ts.append(time.perf_counter() - t0)
    return min(ts)


def peak_rss_mb(spark) -> float:
    """Peak resident set of the Spark JVM plus this Python process."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024


def stop_spark(spark) -> None:
    """Stop the context, then the JVM, and wait for it to exit."""
    sc = spark.sparkContext
    gateway = sc._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:  # never leave it running
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    t_start = time.perf_counter()
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "global_seismic_data_pipeline_spark")):
        print("perfbench: the program is not in this checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    configure_env(work)

    import gen
    import workloads
    from global_seismic_data_pipeline_spark.session import get_spark

    # the inputs are generated while the JVM starts
    pool = ThreadPoolExecutor(1)
    inputs = pool.submit(gen.generate, os.path.join(work, "input"), args.seed,
                         **workloads.SCALES[args.scale])
    pool.shutdown(wait=False)
    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}", extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        # a fixed-size heap, every page touched at start: peak RSS does not
        # depend on when the collector chose to grow the heap or first
        # reached a page of it
        "spark.driver.extraJavaOptions": f"-Xms{HEAP} -XX:+AlwaysPreTouch",
    })
    session_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    run = workloads.Run(spark, work, args.seed, args.seconds, t_start=t_start,
                        inputs=inputs, inject=args.inject)
    try:
        if args.trace:
            from tracing import Tracer

            run.tracer = Tracer(spark, run.warehouse)
            run.tracer.install()
        workloads.serve(run, args.workload)
        run.detail["calib_s"] = calibrate(spark)
        run.metrics["peak_rss_mb"] = peak_rss_mb(spark)
        if run.tracer is not None:
            run.layer["session.start_s"] = session_s
            run.layer["session.calib_s"] = run.detail["calib_s"]
            run.tracer.uninstall()
            os.makedirs(os.path.join(base, "traces"), exist_ok=True)
            run.tracer.dump(os.path.join(
                base, "traces", f"{args.workload}-s{args.seed}.json"))
    finally:
        for p in run.problems:
            print(f"perfbench: {p}", file=sys.stderr)
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    correct = run.failed == 0 and not run.problems
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        listed = json.load(fh)["per_layer" if args.trace else "end_to_end"]
    values = run.layer if args.trace else run.metrics
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in listed}
    print(json.dumps({"workload": args.workload, "seed": args.seed, **run.detail,
                      "setup_s": run.metrics.get("setup_s")}))
    print(json.dumps({"correct": correct, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
