"""The benchmark's own tests: the metric table, the event-log parser and
an sf0.001 smoke run of every reader against a live Spark session.

Run from the root of a checkout: ``python3 -m pytest perfbench -q``.
"""

from __future__ import annotations

import json
import os
import random
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "tools"), os.path.join(ROOT, "tests")]

import metrics  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402

# Every metric the benchmark reports, with its unit. A change here is a
# change to the benchmark and must be made on purpose.
PINNED_END_TO_END = {
    "setup_s": "s",
    "warmup_s": "s",
    "queries_per_s": "1/s",
    "latency_p50_ms": "ms",
    "latency_p90_ms": "ms",
    "batch_s": "s",
}
PINNED_PER_LAYER = {
    "session.import_s": "s",
    "session.jvm_start_s": "s",
    "registry.plan_cache_hit_ratio": "ratio",
    "registry.lookup_ms": "ms",
    "operators.build_ms": "ms",
    "operators.py4j_calls": "count",
    "operators.build_jobs": "count",
    "operators.build_share": "ratio",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_overhead_ms": "ms",
    "exec.input_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.task_run_ms": "ms",
    "exec.gc_ms": "ms",
    "exec.task_skew": "ratio",
    "fetch.ms": "ms",
    "fetch.rows": "count",
    "memo.frame_fills": "count",
    "memo.persisted_rdds": "count",
    "scheduler.probe_ms": "ms",
    "scheduler.pin_hit_ratio": "ratio",
    "scheduler.pinned_bytes": "bytes",
    "scheduler.share_speedup": "ratio",
    "sinks.write_ms": "ms",
    "sinks.bytes_written": "bytes",
    "sinks.files_written": "count",
    "driver.python_cpu_s": "s",
    "driver.jvm_cpu_s": "s",
    "driver.peak_rss_mb": "MB",
    **{f"traced.{k}": u for k, u in PINNED_END_TO_END.items()},
}


def test_metric_names_and_units_are_pinned():
    assert {m.name: m.unit for m in metrics.END_TO_END} == PINNED_END_TO_END
    assert {m.name: m.unit for m in metrics.PER_LAYER} == PINNED_PER_LAYER
    for m in metrics.PER_LAYER:
        assert set(m.moves) <= set(PINNED_END_TO_END), m
        assert m.on and set(m.on) <= set(metrics.ALL), m


def test_benchmark_json_matches_metric_table():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert bench["end_to_end"] == [m._asdict() for m in metrics.END_TO_END]
    assert bench["per_layer"] == [
        {"name": m.name, "unit": m.unit, "better": m.better} for m in metrics.PER_LAYER
    ]
    assert [w["name"] for w in bench["workloads"]] == list(metrics.ALL)
    assert bench["paths"] == ["perfbench"]
    assert max(m.bound for m in metrics.END_TO_END) == next(
        m.bound for m in metrics.END_TO_END if m.name == "setup_s"
    )


def _write_zstd(path: str, events: list[dict]) -> None:
    import pyarrow

    with pyarrow.output_stream(path, compression="zstd") as f:
        f.write("\n".join(json.dumps(e) for e in events).encode() + b"\n")


def _task(stage: int, run: int, launch: int, finish: int) -> dict:
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Stage Attempt ID": 0,
        "Task Info": {"Launch Time": launch, "Finish Time": finish},
        "Task Metrics": {
            "Executor Run Time": run,
            "Executor Deserialize Time": 1,
            "Result Serialization Time": 1,
            "JVM GC Time": 2,
            "Input Metrics": {"Bytes Read": 100},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 10},
            "Shuffle Read Metrics": {"Remote Bytes Read": 3, "Local Bytes Read": 4},
            "Disk Bytes Spilled": 0,
        },
    }


def test_event_log_parser_reads_rolling_zstd_dir(tmp_path):
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()
    stage = {"Stage ID": 5, "Stage Attempt ID": 0}
    _write_zstd(
        str(app / "events_1_local-1.zstd"),
        [
            {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [5],
             "Properties": {"spark.jobGroup.id": "t1.exec"}},
            {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [6],
             "Properties": {}},
            {"Event": "SparkListenerStageSubmitted", "Stage Info": stage},
            _task(5, run=10, launch=0, finish=20),
        ],
    )
    # the second rolled file continues the first
    _write_zstd(
        str(app / "events_2_local-1.zstd"),
        [
            _task(5, run=30, launch=0, finish=35),
            _task(5, run=20, launch=0, finish=25),
            {"Event": "SparkListenerStageCompleted", "Stage Info": stage},
            {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1234},
        ],
    )
    groups = tracing.read_event_log(str(tmp_path))
    assert set(groups) == {"t1.exec"}
    g = groups["t1.exec"]
    assert (g.jobs, g.stages, g.tasks) == (1, 1, 3)
    assert g.task_run_ms == 60
    assert g.task_overhead_ms == (20 - 12) + (35 - 32) + (25 - 22)
    assert (g.input_bytes, g.shuffle_write_bytes, g.shuffle_read_bytes) == (300, 30, 21)
    assert g.gc_ms == 6
    assert g.last_job_end_ms == 1234
    assert g.task_skew == 30 / 20


def test_tracer_spans_nest_and_close_in_order():
    tr = tracing.Tracer()
    root = tr.start("request", "t1")
    child = tr.start("operators.build", "t1")
    with pytest.raises(RuntimeError):
        tr.end(root)
    tr.end(child)
    tr.end(root)
    assert tr.spans[child].parent == root
    assert tr.spans[root].parent is None
    assert tr.spans[root].end >= tr.spans[child].end


@pytest.fixture(scope="module")
def traced_spark(tmp_path_factory):
    """A session of the engine with an event log, as ``--trace 1`` sets it."""
    from pyspark.sql import SparkSession

    if SparkSession.getActiveSession() is not None:
        pytest.skip("needs a fresh JVM to enable the event log")
    log_dir = tmp_path_factory.mktemp("eventlog")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.eventLog.enabled=true --conf spark.eventLog.dir=file://{log_dir} "
        "pyspark-shell"
    )
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    from mapreduce_server_spark.session import get_spark

    spark = get_spark(app_name="perfbench-test")
    spark.sparkContext.setLogLevel("ERROR")
    yield spark, str(log_dir)
    run.stop(spark)
    del os.environ["PYSPARK_SUBMIT_ARGS"]


def test_smoke_sf0001_every_reader(traced_spark, tmp_path):
    """One traced pass of each workload shape at sf0.001: every result
    matches its oracle, and the readers see what the layers do."""
    from oracle import Checker, load_expected
    from workloads import Driver, files_written_since

    spark, log_dir = traced_spark
    sf_dir = os.path.join(HERE, "data", "sf0.001")
    cold = ["graph_wcc", "q1_pricing_summary", "limit_n"]
    warm = ["q1_pricing_summary", "dedup_exact"]
    batch = ["q4_priority_exists", "q13_order_distribution", "sink_partitioned"]
    checker = Checker(load_expected(sf_dir, sorted(set(cold + warm + batch)), str(tmp_path)))
    driver = Driver(spark, sf_dir, checker, random.Random(0), trace=True)
    for k in cold:
        driver.query(k, fresh=True, timed=True)
    for k in warm:
        driver.query(k, fresh=False, timed=False)
        driver.query(k, fresh=False, timed=True)
    driver.one_pass("batch-shared", batch, timed=True)
    sinks = files_written_since(driver.requests[-1].shared["start_s"])
    extra = driver.scheduler_layer(batch)
    driver.close()
    assert driver.failed == 0, checker.wrong
    assert driver.attempted == len(cold) + 2 * len(warm) + len(batch)

    by_key = {r.key: r for r in driver.requests[: len(cold)]}
    wcc = by_key["graph_wcc"]
    assert wcc.build_jobs > 0 and wcc.py4j_calls > 100
    assert wcc.catalyst_ms["analysis"] > 0
    for r in driver.requests[len(cold): len(cold) + len(warm)]:
        assert r.plan_cache_hit is True
        assert r.build_ms == 0.0 and r.lookup_ms > 0.0
        assert r.catalyst_ms == {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
    shared = driver.requests[-1].shared
    assert shared["tables"] and set(shared["used_cache"]) == set(batch)
    assert extra["scheduler.share_speedup"] > 0 and extra["scheduler.pinned_bytes"] > 0
    assert sinks[1] > 0

    spark.stop()
    groups = tracing.read_event_log(log_dir)
    for r in driver.requests:
        g = groups[f"{r.trace_id}.exec"]
        assert g.jobs >= 1 and g.tasks >= g.stages >= 1
        assert g.last_job_end_ms <= r.collect_end_ms
