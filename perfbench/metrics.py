"""Every metric the benchmark reports: name, unit, better direction.

End-to-end metrics are measured with tracing off (``--trace 0``); the
per-layer metrics come from a separate traced run (``--trace 1``). For
each layer metric, ``moves`` names the end-to-end metrics it should move
and ``on`` the workloads where it should show; a later change that moves
a layer is read against this table.

``BENCHMARK.json`` repeats the names, units, directions and bounds;
``test_perfbench.py`` pins the two against each other.
"""

from __future__ import annotations

from typing import NamedTuple

COLD, WARM, BATCH = "interactive-cold", "serving-warm", "batch-shared"
ALL = (COLD, WARM, BATCH)


class EndToEnd(NamedTuple):
    name: str
    unit: str
    better: str
    bound: float


class Layer(NamedTuple):
    name: str
    unit: str
    better: str
    moves: tuple[str, ...]
    on: tuple[str, ...]


END_TO_END = (
    EndToEnd("setup_s", "s", "lower", 0.25),
    EndToEnd("warmup_s", "s", "lower", 0.25),
    EndToEnd("queries_per_s", "1/s", "higher", 0.25),
    EndToEnd("latency_p50_ms", "ms", "lower", 0.25),
    EndToEnd("latency_p90_ms", "ms", "lower", 0.25),
    EndToEnd("batch_s", "s", "lower", 0.25),
)

_P50, _P90, _QPS, _BATCH = "latency_p50_ms", "latency_p90_ms", "queries_per_s", "batch_s"

PER_LAYER = (
    Layer("session.import_s", "s", "lower", ("setup_s",), ALL),
    Layer("session.jvm_start_s", "s", "lower", ("setup_s",), ALL),
    Layer("registry.plan_cache_hit_ratio", "ratio", "higher", (_P50,), (WARM,)),
    Layer("registry.lookup_ms", "ms", "lower", (_P50,), (WARM,)),
    Layer("operators.build_ms", "ms", "lower", (_P50, _P90, _QPS), (COLD,)),
    Layer("operators.py4j_calls", "count", "lower", (_P50, _P90, _QPS), (COLD,)),
    Layer("operators.build_jobs", "count", "lower", (_P50, _P90, _QPS), (COLD,)),
    Layer("operators.build_share", "ratio", "lower", (_P50, _P90, _QPS), (COLD,)),
    Layer("catalyst.analysis_ms", "ms", "lower", (_P50,), (COLD,)),
    Layer("catalyst.optimization_ms", "ms", "lower", (_P50,), (COLD,)),
    Layer("catalyst.planning_ms", "ms", "lower", (_P50,), (COLD,)),
    Layer("exec.jobs", "count", "lower", (_P50,), (WARM,)),
    Layer("exec.stages", "count", "lower", (_P50,), (WARM,)),
    Layer("exec.tasks", "count", "lower", (_P50,), (WARM,)),
    Layer("exec.task_overhead_ms", "ms", "lower", (_P50,), (WARM,)),
    Layer("exec.input_bytes", "bytes", "lower", (_BATCH,), (BATCH,)),
    Layer("exec.shuffle_write_bytes", "bytes", "lower", (_BATCH,), (BATCH,)),
    Layer("exec.shuffle_read_bytes", "bytes", "lower", (_BATCH,), (BATCH,)),
    Layer("exec.spill_bytes", "bytes", "lower", (_BATCH,), (BATCH,)),
    Layer("exec.task_run_ms", "ms", "lower", (_BATCH,), (BATCH,)),
    Layer("exec.gc_ms", "ms", "lower", (_BATCH,), (BATCH,)),
    Layer("exec.task_skew", "ratio", "lower", (_BATCH,), (BATCH,)),
    Layer("fetch.ms", "ms", "lower", (_P50,), (WARM,)),
    Layer("fetch.rows", "count", "lower", (_P50,), (WARM,)),
    Layer("memo.frame_fills", "count", "lower", (_P90,), (COLD, WARM)),
    Layer("memo.persisted_rdds", "count", "lower", (_P90,), (COLD, WARM)),
    Layer("scheduler.probe_ms", "ms", "lower", (_BATCH,), (BATCH,)),
    Layer("scheduler.pin_hit_ratio", "ratio", "higher", (_BATCH,), (BATCH,)),
    Layer("scheduler.pinned_bytes", "bytes", "lower", (_BATCH,), (BATCH,)),
    Layer("scheduler.share_speedup", "ratio", "higher", (_BATCH,), (BATCH,)),
    Layer("sinks.write_ms", "ms", "lower", (_BATCH,), (BATCH,)),
    Layer("sinks.bytes_written", "bytes", "lower", (_BATCH,), (BATCH,)),
    Layer("sinks.files_written", "count", "lower", (_BATCH,), (BATCH,)),
    Layer("driver.python_cpu_s", "s", "lower", (_P50, _BATCH), ALL),
    Layer("driver.jvm_cpu_s", "s", "lower", (_P50, _BATCH), ALL),
    # Peak RSS (VmHWM) of the Python process plus the JVM. It follows
    # the JVM's heap growth, which depends on when GC runs: on
    # batch-shared it spreads by a third between runs, too wide for a
    # bounded end-to-end metric.
    Layer("driver.peak_rss_mb", "MB", "lower", (), ALL),
) + tuple(
    # the end-to-end metrics as the traced run sees them: traced minus
    # untraced is the tracing overhead
    Layer(f"traced.{m.name}", m.unit, m.better, (m.name,), ALL)
    for m in END_TO_END
)
