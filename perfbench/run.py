#!/usr/bin/env python3
"""The engine's benchmark: one workload per run, end to end or traced.

Usage (from the root of a checkout)::

    python3 perfbench/run.py --workload serving-warm --seed 1 --seconds 6 --trace 0

``--trace 0`` measures the end-to-end metrics with tracing off;
``--trace 1`` is a separate run that records spans around the calls
into each layer, counts py4j round trips, reads Catalyst's phase timers
and parses a Spark event log enabled for this run only, and reports the
per-layer metrics (``metrics.py``). Every result is checked against its
DuckDB oracle; a wrong or failed request counts in ``failed`` and makes
the command exit 1. The last line of stdout is one JSON object with the
keys ``correct``, ``attempted``, ``failed`` and ``metrics``; the line
before it is an environment stamp (cpus, calibration, sibling Spark
JVMs, load) that marks the run invalid when another Spark JVM ran.

Host fit is applied from outside the program: ``SPARK_GRAFT_CPUS`` is
the number of usable cores and ``SPARK_LOCAL_DIRS`` a directory of this
run, removed at the end. The fixture is the one under ``perfbench/data``.
"""

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
DATA = os.path.join(HERE, "data")


def calibration_sec() -> float:
    """Median of three runs of a fixed single-thread loop, timed before
    any JVM starts: two runs compare only at matched calibration. The
    same loop as ``bench.py``, which cannot be imported before set-up
    without starting the imports set-up times."""
    runs = []
    for _ in range(3):
        t0 = time.perf_counter()
        acc = 0
        for i in range(2_000_000):
            acc += i * i
        runs.append(time.perf_counter() - t0)
    return statistics.median(runs)


def sibling_spark() -> int:
    """Live JVMs running Spark other than this process tree's."""
    n = 0
    for p in os.listdir("/proc"):
        if not p.isdigit() or int(p) == os.getpid():
            continue
        try:
            with open(f"/proc/{p}/cmdline", "rb") as f:
                cmd = f.read()
        except OSError:
            continue
        if b"java" in cmd and b"park" in cmd:
            n += 1
    return n


def setup():
    """Import the engine and start its session: (import_s, jvm_start_s, spark)."""
    t0 = time.perf_counter()
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools"), os.path.join(ROOT, "tests")]
    import mapreduce_server_spark  # noqa: F401
    from mapreduce_server_spark.session import get_spark

    t1 = time.perf_counter()
    spark = get_spark(app_name="perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return t1 - t0, time.perf_counter() - t1, spark


def stop(spark) -> None:
    """Stop Spark, then close the JVM's stdin, on which it exits, and
    wait for it: a run leaves no process behind."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


class Phases(dict):
    """Wall seconds of each phase of a run, for the run's stamp."""

    def __init__(self) -> None:
        super().__init__()
        self._t = time.perf_counter()

    def mark(self, name: str) -> None:
        now = time.perf_counter()
        self[name] = now - self._t
        self._t = now


def quantile(values: list[float], q: int) -> float:
    """The q-th percentile, interpolated between samples."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def end_to_end(driver, setup_times, warmup_s: float) -> dict[str, float]:
    if not driver.latencies_ms:  # every timed request failed
        return {}
    return {
        "setup_s": sum(setup_times),
        "warmup_s": warmup_s,
        "queries_per_s": driver.timed_correct / driver.busy_s,
        "latency_p50_ms": quantile(driver.latencies_ms, 50),
        "latency_p90_ms": quantile(driver.latencies_ms, 90),
        "batch_s": statistics.median(driver.pass_s),
    }


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=("interactive-cold", "serving-warm", "batch-shared"))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=6.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "mapreduce_server_spark")):
        print(f"no engine package next to {HERE}", file=sys.stderr)
        return 2
    if args.workload is None:
        ap.error("--workload is required")

    os.makedirs(WORK, exist_ok=True)
    cpus = len(os.sched_getaffinity(0))
    local_dir = os.path.join(WORK, f"spark-local-{os.getpid()}")
    event_dir = os.path.join(WORK, f"eventlog-{os.getpid()}")
    os.makedirs(local_dir, exist_ok=True)
    # scratch files of Python, the JVM and Spark stay in the run's directory
    os.environ["TMPDIR"] = local_dir
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = local_dir
    submit = f'--driver-java-options "-XX:-UsePerfData -Djava.io.tmpdir={local_dir}"'
    if args.trace:
        os.makedirs(event_dir, exist_ok=True)
        submit += (
            " --conf spark.eventLog.enabled=true"
            f" --conf spark.eventLog.dir=file://{event_dir}"
        )
    os.environ["PYSPARK_SUBMIT_ARGS"] = submit + " pyspark-shell"
    phases = Phases()
    stamp = {
        "phases_s": phases,
        "cpus": cpus,
        "calibration_sec": calibration_sec(),
        "sibling_spark": sibling_spark(),
        "load1": os.getloadavg()[0],
    }
    stamp["valid"] = stamp["sibling_spark"] == 0
    phases.mark("stamp")
    try:
        import_s, jvm_s, spark = setup()
        phases.mark("setup")
        try:
            return measure(args, spark, (import_s, jvm_s), stamp, event_dir)
        finally:
            stop(spark)
    finally:
        shutil.rmtree(local_dir, ignore_errors=True)
        shutil.rmtree(event_dir, ignore_errors=True)


def measure(args, spark, setup_times, stamp, event_dir) -> int:
    import layers
    import tracing
    from oracle import Checker, load_expected
    from workloads import BATCH, SF, Driver, keys_for

    workload = args.workload
    sf_dir = os.path.join(DATA, SF[workload])
    keys = keys_for(workload)
    checker = Checker(load_expected(sf_dir, keys, WORK))
    phases = stamp["phases_s"]
    phases.mark("oracle")
    driver = Driver(spark, sf_dir, checker, random.Random(args.seed), bool(args.trace))
    jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())

    warmup_s = driver.warmup(workload, keys)
    phases.mark("warmup")
    cpu0 = (os.times(), tracing.cpu_seconds(jvm_pid))
    driver.timed(workload, keys, args.seconds)
    cpu1 = (os.times(), tracing.cpu_seconds(jvm_pid))
    phases.mark("timed")
    metrics = end_to_end(driver, setup_times, warmup_s)
    if args.trace:
        extra = driver.scheduler_layer(keys) if workload == BATCH else {}
        extra["driver.peak_rss_mb"] = tracing.peak_rss_mb([os.getpid(), jvm_pid])
        driver.close()
        spark.stop()  # flushes and closes the event log
        groups = tracing.read_event_log(event_dir)
        metrics = layers.per_layer(driver, metrics, setup_times, cpu0, cpu1, extra, groups)
        requests = [
            {**r.__dict__, "exec": groups.get(f"{r.trace_id}.exec", tracing.GroupMetrics()).__dict__}
            for r in driver.requests
        ]
        path = os.path.join(WORK, f"trace-{workload}.json")
        phases.mark("trace")
        driver.tracer.dump(path, {"stamp": stamp, "metrics": metrics, "requests": requests})
    failed = driver.failed
    print(json.dumps({
        "workload": workload, "seed": args.seed, **stamp,
        "fail_ratio": {"value": failed / driver.attempted, "unit": "ratio"},
        "wrong_keys": sorted(set(checker.wrong)),
    }))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": driver.attempted,
        "failed": failed,
        "metrics": {
            name: {"value": value, "unit": layers.UNITS[name]}
            for name, value in metrics.items()
        },
    }))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
