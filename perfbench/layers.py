"""Per-layer metrics of a traced run, from its request records, the
event log's per-job-group metrics and the batch-only readings. Each is
the mean per request (per batch on ``batch-shared``); per-key detail
stays in the trace file."""

from __future__ import annotations

from metrics import END_TO_END, PER_LAYER
from tracing import CATALYST_PHASES, GroupMetrics

UNITS = {m.name: m.unit for m in END_TO_END + PER_LAYER}


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def per_layer(driver, e2e, setup_times, cpu0, cpu1, extra, groups) -> dict[str, float]:
    reqs = driver.requests
    n = len(reqs)
    ex = [groups.get(f"{r.trace_id}.exec", GroupMetrics()) for r in reqs]
    hits = [r.plan_cache_hit for r in reqs if r.plan_cache_hit is not None]
    latency = sum(r.latency_ms for r in reqs)
    (py0, jvm0), (py1, jvm1) = cpu0, cpu1
    out = {
        "session.import_s": setup_times[0],
        "session.jvm_start_s": setup_times[1],
        "registry.plan_cache_hit_ratio": _mean(hits),
        "registry.lookup_ms": _mean(r.lookup_ms for r in reqs if r.plan_cache_hit),
        "operators.build_ms": _mean(r.build_ms for r in reqs),
        "operators.py4j_calls": _mean(r.py4j_calls for r in reqs),
        "operators.build_jobs": _mean(r.build_jobs for r in reqs),
        "operators.build_share": sum(r.build_ms for r in reqs) / latency,
        **{
            f"catalyst.{p}_ms": _mean(r.catalyst_ms.get(p, 0.0) for r in reqs)
            for p in CATALYST_PHASES
        },
        "exec.jobs": _mean(g.jobs for g in ex),
        "exec.stages": _mean(g.stages for g in ex),
        "exec.tasks": _mean(g.tasks for g in ex),
        "exec.task_overhead_ms": _mean(g.task_overhead_ms for g in ex),
        "exec.input_bytes": _mean(g.input_bytes for g in ex),
        "exec.shuffle_write_bytes": _mean(g.shuffle_write_bytes for g in ex),
        "exec.shuffle_read_bytes": _mean(g.shuffle_read_bytes for g in ex),
        "exec.spill_bytes": _mean(g.spill_bytes for g in ex),
        "exec.task_run_ms": _mean(g.task_run_ms for g in ex),
        "exec.gc_ms": _mean(g.gc_ms for g in ex),
        "exec.task_skew": _mean(g.task_skew for g in ex),
        # collect return minus the end of the request's last Spark job
        "fetch.ms": _mean(
            r.collect_end_ms - g.last_job_end_ms
            for r, g in zip(reqs, ex)
            if g.last_job_end_ms
        ),
        "fetch.rows": _mean(r.rows for r in reqs),
        "memo.frame_fills": _mean(r.frame_fills for r in reqs),
        "memo.persisted_rdds": _mean(r.persisted_rdds for r in reqs),
        "driver.python_cpu_s": (
            (py1.user + py1.system) - (py0.user + py0.system)
        ) / n,
        "driver.jvm_cpu_s": (jvm1 - jvm0) / n,
        **{f"traced.{k}": v for k, v in e2e.items()},
    }
    for m in PER_LAYER:
        out.setdefault(m.name, extra.get(m.name, 0.0))
    return {m.name: out[m.name] for m in PER_LAYER}
