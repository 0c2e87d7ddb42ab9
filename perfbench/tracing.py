"""Readers for the traced run, all applied from outside the program.

- :class:`Tracer` keeps spans (name, start, end, parent, trace id) in
  memory and writes them out when the run ends.
- :class:`Py4jCounter` counts driver→JVM round trips by wrapping the
  gateway client's ``send_command``.
- :func:`catalyst_phases` reads Spark's own phase timings from
  ``QueryExecution.tracker()``.
- :func:`read_event_log` parses Spark 4's rolling ``eventlog_v2_*``
  directory (zstd-compressed by default) into per-job-group stage and
  task metrics.
- :func:`peak_rss_mb` and :func:`cpu_seconds` read ``/proc``.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from collections import defaultdict
from dataclasses import dataclass, field

CATALYST_PHASES = ("analysis", "optimization", "planning")


@dataclass
class Span:
    name: str
    trace_id: str
    start: float
    end: float = 0.0
    parent: int | None = None
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory spans. ``span(...)`` opens a span whose parent is the
    innermost span still open; ``end(i)`` closes span ``i``."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._open: list[int] = []

    def start(self, name: str, trace_id: str, **attrs) -> int:
        parent = self._open[-1] if self._open else None
        self.spans.append(Span(name, trace_id, time.time(), parent=parent, attrs=attrs))
        self._open.append(len(self.spans) - 1)
        return len(self.spans) - 1

    def end(self, i: int, **attrs) -> Span:
        if not self._open or self._open[-1] != i:
            raise RuntimeError(f"span {i} closed out of order")
        self._open.pop()
        s = self.spans[i]
        s.end = time.time()
        s.attrs.update(attrs)
        return s

    def abandon_open(self) -> None:
        """Forget the spans a failed request left open."""
        self._open.clear()

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({**extra, "spans": [s.__dict__ for s in self.spans]}, f)


class Py4jCounter:
    """Counts ``send_command`` calls on the SparkContext's gateway
    client — one per driver→JVM round trip. ``JavaObject`` handles look
    the method up on the client instance, so an instance attribute
    catches every call made through this gateway."""

    def __init__(self, spark) -> None:
        self._client = spark.sparkContext._gateway._gateway_client
        self._orig = self._client.send_command
        self.calls = 0

        def counted(*a, **kw):
            self.calls += 1
            return self._orig(*a, **kw)

        self._client.send_command = counted

    def close(self) -> None:
        del self._client.send_command


def catalyst_phases(df) -> dict[str, float]:
    """Phase durations (ms) recorded on ``df``'s QueryExecution so far.

    ``phases()`` is a Scala Map: ``.get`` returns an Option, so each
    phase is read with ``contains``/``apply``."""
    phases = df._jdf.queryExecution().tracker().phases()
    return {
        p: float(phases.apply(p).durationMs()) if phases.contains(p) else 0.0
        for p in CATALYST_PHASES
    }


def query_execution_id(df) -> int:
    return int(df._jdf.queryExecution().id())


def _event_lines(path: str):
    import pyarrow

    compression = "zstd" if path.endswith(".zstd") else None
    with pyarrow.input_stream(path, compression=compression) as f:
        data = f.read()
    for line in data.decode("utf-8").splitlines():
        if line:
            yield json.loads(line)


def event_log_files(log_dir: str) -> list[str]:
    """Event files of every application logged under ``log_dir``, in
    rolling order (events_1_…, events_2_…)."""
    out = []
    for app in sorted(glob.glob(os.path.join(log_dir, "eventlog_v2_*"))):
        files = glob.glob(os.path.join(app, "events_*"))
        out.extend(sorted(files, key=lambda p: int(os.path.basename(p).split("_")[1])))
    return out


@dataclass
class GroupMetrics:
    """Execution metrics of the Spark jobs run under one job group."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    last_job_end_ms: float = 0.0
    task_run_ms: float = 0.0
    task_overhead_ms: float = 0.0
    gc_ms: float = 0.0
    input_bytes: int = 0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0
    task_skew: float = 1.0


def read_event_log(log_dir: str) -> dict[str, GroupMetrics]:
    """Per job group: jobs, completed stages, tasks and task metrics.

    Task overhead is a task's wall time (launch to finish) minus its
    run, deserialize and result-serialization time. Task skew is the
    max/median task run time of the worst stage with at least two
    tasks."""
    job_group: dict[int, str] = {}
    stage_group: dict[tuple[int, int], str] = {}
    stage_runs: dict[tuple[int, int], list[float]] = defaultdict(list)
    out: dict[str, GroupMetrics] = defaultdict(GroupMetrics)
    for path in event_log_files(log_dir):
        for ev in _event_lines(path):
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if group is None:
                    continue
                job_group[ev["Job ID"]] = group
                out[group].jobs += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault((sid, 0), group)
            elif kind == "SparkListenerJobEnd":
                group = job_group.get(ev["Job ID"])
                if group is not None:
                    g = out[group]
                    g.last_job_end_ms = max(g.last_job_end_ms, ev["Completion Time"])
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                sid, att = info["Stage ID"], info["Stage Attempt ID"]
                if (sid, 0) in stage_group:
                    stage_group[(sid, att)] = stage_group[(sid, 0)]
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                group = stage_group.get((info["Stage ID"], info["Stage Attempt ID"]))
                if group is not None:
                    out[group].stages += 1
            elif kind == "SparkListenerTaskEnd":
                key = (ev["Stage ID"], ev["Stage Attempt ID"])
                group = stage_group.get(key)
                m = ev.get("Task Metrics")
                if group is None or not m:
                    continue
                g = out[group]
                info = ev["Task Info"]
                run = m["Executor Run Time"]
                g.tasks += 1
                g.task_run_ms += run
                g.task_overhead_ms += max(
                    0,
                    info["Finish Time"] - info["Launch Time"] - run
                    - m["Executor Deserialize Time"] - m["Result Serialization Time"],
                )
                g.gc_ms += m["JVM GC Time"]
                g.input_bytes += m["Input Metrics"]["Bytes Read"]
                g.shuffle_write_bytes += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                sr = m["Shuffle Read Metrics"]
                g.shuffle_read_bytes += sr["Remote Bytes Read"] + sr["Local Bytes Read"]
                g.spill_bytes += m["Disk Bytes Spilled"]
                stage_runs[key].append(run)
    for key, runs in stage_runs.items():
        if len(runs) >= 2:
            med = statistics.median(runs)
            g = out[stage_group[key]]
            g.task_skew = max(g.task_skew, max(runs) / med if med > 0 else 1.0)
    return dict(out)


def _status_kb(pid: int, field_name: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field_name + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the peak resident set sizes (VmHWM) of ``pids``, in MB."""
    return sum(_status_kb(p, "VmHWM") for p in pids) / 1024.0


def cpu_seconds(pid: int) -> float:
    """User plus system CPU time of ``pid`` so far, in seconds."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0.0
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")
