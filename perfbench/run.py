"""Benchmark of the sync engine and the analytics queries.

    python3 perfbench/run.py --workload <steady_tick|analytics_mix>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  The launcher pins the session settings
(CPU count, driver memory, PYTHONPATH for the Python/Arrow UDF workers,
scratch directories under perfbench/.work, wiped at the start of each
run) and echoes them.  It generates the inputs from the seed, sets up a
session and warms it, then runs the workload's operation in a closed
loop for --seconds and checks every output.  The last line of stdout is
one JSON object: {"correct", "attempted", "failed", "metrics"}.  With
--trace 0 the metrics are the end-to-end ones; with --trace 1 the run
also records spans around each layer call (written to
perfbench/.work/spans.json) and reports the per-layer metrics.  See
perfbench/README.md for what each metric means.
"""

from __future__ import annotations

import argparse
import gc
import json
import math
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
WORKLOADS = ("steady_tick", "analytics_mix")
# JVMs keep their temp files in the run's scratch directory and write no
# performance-data file to the system temp directory.
_JVM_OPTS = f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} -XX:-UsePerfData"


def settings() -> dict[str, str]:
    """Pinned session settings.  One core is left to the driver and the
    garbage collector; the driver memory fits a small host."""
    cores = len(os.sched_getaffinity(0))
    return {
        "SPARK_GRAFT_CPUS": str(max(1, min(3, cores - 1))),
        "SPARK_GRAFT_DRIVER_MEM": "3g",
        "PYTHONPATH": ROOT,
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "TMPDIR": os.path.join(WORK, "tmp"),
        # the JVM spark-submit starts to build the driver's command line
        "SPARK_LAUNCHER_OPTS": _JVM_OPTS,
    }


def session_conf() -> dict[str, str]:
    return {
        "spark.ui.showConsoleProgress": "false",
        # Spark sizes memory pages from the heap (32 MB at 3g) and keeps a
        # few pooled; retained heap then jumps in page-sized steps from
        # run to run.  Small pages keep that step small.
        "spark.buffer.pageSize": "2m",
        # The status store keeps up to 1000 jobs, stages and SQL runs;
        # these caps bound what it retains and still hold every job of the
        # last operation for the traced run.
        "spark.ui.retainedJobs": "100",
        "spark.ui.retainedStages": "200",
        "spark.sql.ui.retainedExecutions": "50",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions": _JVM_OPTS,
    }


def retained_heap_mb(spark) -> float:
    """JVM heap in use after forced full collections.  Python is collected
    first, so JVM objects that only dead Python handles pin are freed;
    objects released by finalizers and reference processing only go in a
    later collection, so the JVM collects until the reading settles."""
    gc.collect()
    time.sleep(0.5)
    mx = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    last = math.inf
    for _ in range(8):
        mx.gc()
        time.sleep(0.3)
        used = mx.getHeapMemoryUsage().getUsed() / 2**20
        if abs(used - last) < 0.5:
            break
        last = used
    return used


def stop_session(spark) -> None:
    """Stop Spark and the JVM it runs in, and wait until the JVM and the
    Python workers it started have ended."""
    from pyspark import SparkContext

    from harness import descendants, wait_for_exit

    started = descendants()
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None
    if not wait_for_exit(started):
        raise RuntimeError("Spark processes still running after shutdown")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    from harness import END_TO_END, PER_LAYER, Run, result_line
    from pulsar_sync_java_spark.session import get_spark

    env = settings()
    shutil.rmtree(WORK, ignore_errors=True)
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(WORK, d))
    os.environ.update(env)
    print("# settings " + json.dumps({**env, **session_conf()}, sort_keys=True), flush=True)

    t0 = time.perf_counter()
    spark = get_spark("perfbench", extra_conf=session_conf())
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    try:
        run = Run(spark, args.seed, args.seconds, bool(args.trace), WORK)
        run.run_layers["session.start_s"] = session_s
        if run.tracer is not None:
            run.tracer.add("session", t0, t0 + session_s)
        if args.workload == "analytics_mix":
            from mix import MixWorkload

            workload = MixWorkload(run, ROOT)
        else:
            from sync import SyncWorkload

            workload = SyncWorkload(run)
        warm_s = workload.setup()
        run.run_layers["warmup.s"] = warm_s
        setup_s = session_s + warm_s
        # after the set-up's fixed amount of work, not at run end: how many
        # operations a run fits in depends on the host's speed
        heap = retained_heap_mb(spark)
        run.measure(workload.operation)
        workload.finish()
        infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
        run.run_layers["cache.entries"] = len(infos)
        run.run_layers["cache.bytes"] = sum(i.memSize() + i.diskSize() for i in infos)
        if run.tracer is not None:
            run.tracer.dump(os.path.join(WORK, "spans.json"))
    finally:
        stop_session(spark)
    for err in run.errors[:20]:
        print(f"# failed: {err}", flush=True)
    if args.trace:
        line = result_line(run, run.per_layer(), PER_LAYER)
    else:
        line = result_line(run, run.end_to_end(setup_s, workload.op_seconds(), heap), END_TO_END)
    print(json.dumps(line), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
