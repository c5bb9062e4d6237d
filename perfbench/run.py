"""Benchmark entry point for the Spark full-text engine.

    python3 perfbench/run.py --workload serve|churn --seed N --seconds S --trace 0|1

Run it from the root of a checkout.  It drives the engine's public API
from one process on ``local[2]`` with one closed-loop client, checks the
outputs, prints a metric table on stderr and, as the last line of
stdout, one JSON object: ``{"correct", "attempted", "failed",
"metrics"}``.  With ``--trace 0`` the metrics are the end-to-end ones of
BENCHMARK.json; with ``--trace 1`` they are the per-layer ones, taken
from spans and Spark job groups, and the spans are written to
``.perfbench_out/``.  Everything the run writes stays under the
checkout and is removed at exit, except that output directory.
"""

from __future__ import annotations

import os
import sys
import time

if "PYTHONHASHSEED" not in os.environ:
    # str hashes, and with them the iteration order of sets and dicts,
    # are randomised per process: pin them, so that one seed runs the
    # same code paths in every run (the Spark workers already get 0)
    os.environ["PYTHONHASHSEED"] = "0"
    os.environ["PERFBENCH_T0"] = repr(time.monotonic())
    os.execv(sys.executable, [sys.executable] + sys.argv)

# set-up is timed from the first interpreter's start
T0 = float(os.environ.pop("PERFBENCH_T0", time.monotonic()))

import argparse
import json
import shutil
import subprocess
import tempfile
from concurrent.futures import ThreadPoolExecutor

WORKLOADS = ("serve", "churn")
# Spark task slots.  Each task of a Python UDF keeps a JVM thread and a
# Python worker busy, so two slots already keep four processes busy, a
# 4-vCPU machine's worth; more would leave runnable threads waiting for
# a CPU, and the waits would measure the scheduler, not the engine
CORES = 2


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=WORKLOADS, required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if args.seconds < 1:
        p.error("--seconds must be at least 1")
    return args


def start_spark(root: str, work: str):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    # Python workers are started by the JVM and inherit this environment
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    from elasticsearch_spark.session import get_spark

    spark = get_spark(
        "perfbench", master=f"local[{CORES}]", shuffle_partitions=CORES,
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # keep the JVM's temp files (and its /tmp perf-data file) in the checkout
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait until the JVM has exited (it exits when
    its stdin pipe closes); its Python workers die with it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def report(title: str, metrics: dict) -> None:
    print(f"# {title}", file=sys.stderr)
    for name, rec in metrics.items():
        value, unit = rec[0], rec[1]
        n = f"  n={rec[2]}" if len(rec) > 2 else ""
        print(f"#   {name:30s} {value:14.4f} {unit}{n}", file=sys.stderr)


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    sys.path.insert(0, root)
    import elasticsearch_spark  # noqa: F401  (fail fast outside a checkout)

    import workloads
    from spans import Tracer

    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    out_dir = os.path.join(root, ".perfbench_out")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.makedirs(out_dir, exist_ok=True)
    run = workloads.Run(root, work, args.workload, args.seed, args.seconds,
                        traced=bool(args.trace))
    spark = None
    try:
        # the inputs need no Spark: generate them while the JVM starts
        with ThreadPoolExecutor(1) as pool:
            prepared = pool.submit(run.prepare)
            spark = start_spark(root, work)
            prepared.result()
        tracer = None
        if args.trace:
            tracer = Tracer(spark)
            tracer.install()
        run.setup(spark, tracer, T0)
        getattr(run, args.workload)()
        e2e = run.end_to_end()
        report(f"{args.workload} seed={args.seed} end-to-end", e2e)
        metrics = e2e
        if tracer:
            tracer.enabled = False
            metrics = run.per_layer()
            report(f"{args.workload} seed={args.seed} per-layer", metrics)
            report("self time by span (s)", {k: (v, "s") for k, v in
                                             sorted(tracer.self_times().items())})
            tracer.dump(os.path.join(
                out_dir, f"spans-{args.workload}-{args.seed}.jsonl"))
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's work dir is still there
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v[0], "unit": v[1]} for k, v in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
