#!/usr/bin/env python3
"""The repository benchmark: one workload, one seed, one JSON line.

Usage, from the root of a checkout::

    python3 perfbench/run.py --workload pipeline --seed 1 --seconds 17 \
        --trace 0

``--trace 0`` prints the end-to-end metrics of ``BENCHMARK.json``;
``--trace 1`` records a span per benchmark call with that call's Spark
counters, prints the per-layer metrics, and writes the spans to
``perfbench/.work/spans-<workload>-<seed>.json`` when the run ends. The
last line of standard output is
``{"correct", "attempted", "failed", "metrics"}``; the exit code is 0 only
when every operation succeeded and every output check held.

The run starts its own Spark session on ``local[<cores>]`` and keeps
every file it writes, Spark's scratch space included, under
``perfbench/.work``. Before it exits, on every path out, it stops Spark's
JVM and every process that JVM started, and waits until each has ended.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import statistics
import sys
import time

from analytics import Analytics
from pipeline import Pipeline
from spans import Tracer

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = {"analytics_suite": Analytics, "pipeline": Pipeline}
PR_SET_CHILD_SUBREAPER = 36
#: Seconds a child gets to end on its own, then again after SIGTERM,
#: before SIGKILL.
GRACE_S = 10.0


def declared_metrics() -> tuple[dict, dict]:
    """``(end_to_end, per_layer)`` of ``BENCHMARK.json``: name -> unit."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def end_to_end(workload, elapsed: float) -> tuple[dict, str]:
    """The end-to-end metrics of one run, and a line saying over how many
    samples each median is taken."""
    queries = workload.queries
    metrics = {
        "setup_s": statistics.median(workload.setup_s),
        "query_p50_s": statistics.median(queries),
        "requests_per_s": workload.client.requests / elapsed,
    }
    note = (f"query_p50_s is the median of {len(queries)} queries; "
            f"setup_s is the median of {len(workload.setup_s)} set-ups")
    return metrics, note


def adopt_descendants() -> None:
    """Become the reaper of every process this run starts, directly or
    not: a process whose parent ends first (the Python workers Spark's JVM
    forks) becomes this process's child, to stop and wait for."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def child_pids() -> list[int]:
    """Process ids whose parent is this process, read from ``/proc``."""
    me, pids = os.getpid(), []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the fields after the parenthesised command are: state, ppid
        if int(stat.rpartition(")")[2].split()[1]) == me:
            pids.append(int(entry))
    return pids


def stop_descendants(grace: float = GRACE_S) -> None:
    """Wait until every process this run started has ended and is
    reaped; one still running after ``grace`` seconds gets SIGTERM, and
    SIGKILL ``grace`` seconds after that."""
    start = time.monotonic()
    signals = [(2 * grace, signal.SIGKILL), (grace, signal.SIGTERM)]
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            return
        if signals and time.monotonic() - start > signals[-1][0]:
            sig = signals.pop()[1]
            for pid in child_pids():
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def stop_spark(spark) -> None:
    """Stop the session, then its JVM: closing the JVM's standard input
    tells it to exit, and the Python workers it forked exit with it."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        SparkContext._gateway = SparkContext._jvm = None


def session(work: str):
    """A fresh Spark session on every core of this host, with the
    engine's own runtime configuration."""
    from pyspark.sql import SparkSession

    from multi_model_vectorsearch_spark.session import RUNTIME_CONFS, configure

    builder = (
        SparkSession.builder.appName("perfbench")
        .master(f"local[{os.cpu_count()}]")
        .config("spark.driver.memory", "3g")
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
                "-XX:-UsePerfData")
        .config("spark.local.dir", os.path.join(work, "spark"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.shuffle.partitions", "32")
    )
    for key, value in RUNTIME_CONFS.items():
        builder = builder.config(key, value)
    spark = configure(builder.getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # The engine is imported from the checkout, by this process and by
    # the Python workers Spark starts, which see only the environment
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    import multi_model_vectorsearch_spark  # noqa: F401  fail fast if absent

    e2e_units, layer_units = declared_metrics()
    work = os.path.join(HERE, ".work")
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "spark"):
        os.makedirs(os.path.join(work, sub))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark")
    # the JVM that assembles Spark's launch command would write its
    # performance-data file under /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"

    adopt_descendants()
    spark = None
    try:
        spark = session(work)
        tracer = Tracer(spark, enabled=bool(args.trace))
        workload = WORKLOADS[args.workload](spark, tracer, args.seed, work)
        workload.set_up()
        elapsed = workload.measure(args.seconds)
        workload.verify()
        metrics, note = end_to_end(workload, elapsed)
        if args.trace:
            layers = dict.fromkeys(layer_units, 0.0)
            layers.update(workload.per_layer())
    finally:
        try:
            stop_spark(spark)
        finally:
            stop_descendants()
    if args.trace:
        layers["trace.query_p50_s"] = metrics["query_p50_s"]
        layers["trace.requests_per_s"] = metrics["requests_per_s"]
        metrics, units = layers, layer_units
        with open(os.path.join(
                work, f"spans-{args.workload}-{args.seed}.json"), "w") as fh:
            json.dump(tracer.records(), fh)
    else:
        units = e2e_units
    if set(metrics) != set(units):
        raise KeyError(f"metrics {sorted(set(metrics) ^ set(units))} are "
                       "not both declared in BENCHMARK.json and measured")
    client = workload.client
    correct = client.failed == 0
    print(note)
    print(json.dumps({
        "correct": correct,
        "attempted": client.attempted,
        "failed": client.failed,
        "metrics": {k: {"value": float(v), "unit": units[k]}
                    for k, v in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
