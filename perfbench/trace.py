"""The benchmark's outside-in trace.

Three sources, all read from outside the engine:

- **Spans** recorded by the benchmark around each call it makes into a
  layer's public functions (``Tracer.span``).  Spans nest; a span's self
  time is its duration minus the part of it its child spans cover.
- **Spark's event log** (``spark.eventLog.enabled``, uncompressed, not
  rolled), parsed after the session stops: jobs with their job group and
  submit time, stages, and per-task executor metrics including the
  Python-runner SQL metrics.
- ``statusTracker`` job ids per job group, read while the session runs.

Spans and jobs are joined on wall-clock time: a job belongs to the spans
whose interval contains its submission time.  The benchmark drives one
layer call at a time, so sibling spans do not overlap.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

MB = 1024 * 1024


@dataclass
class Span:
    id: int
    layer: str
    op: str
    start: float
    end: float = 0.0
    parent: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans in memory when enabled; a no-op context otherwise."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._local = threading.local()

    @contextmanager
    def span(self, layer: str, op: str, parent: Span | None = None, **attrs):
        """Record ``layer.op`` around the block.  The parent is the
        enclosing span of the same thread, or ``parent`` for work that a
        callback thread does on behalf of another thread's span."""
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        up = stack[-1] if stack else parent
        s = Span(len(self.spans), layer, op, time.time(),
                 parent=up.id if up else None, attrs=attrs)
        self.spans.append(s)
        stack.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            stack.pop()


def covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``[start, end]`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(start: float, end: float, children: list[tuple[float, float]]) -> float:
    """Span duration minus the part of it that child spans cover; child
    intervals are clipped to the span and overlaps count once."""
    clipped = [(max(s, start), min(e, end)) for s, e in children]
    return (end - start) - covered(clipped)


# ---------------------------------------------------------------- event log

PY_START = "time to start Python workers"
PY_INIT = "time to initialize Python workers"
PY_RUN = "time to run Python workers"
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"


@dataclass
class Job:
    id: int
    group: str | None
    submit_ms: int
    stages: list[int]


@dataclass
class Task:
    stage: int
    launch_ms: int
    finish_ms: int
    run_ms: int
    cpu_ns: int
    gc_ms: int
    deser_ms: int
    ser_ms: int
    result_ms: int
    input_bytes: int
    input_records: int
    shuffle_read_bytes: int
    shuffle_write_bytes: int
    spill_bytes: int
    accums: dict[int, float]
    named: dict[str, float]


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    stage_tasks: dict[int, int] = field(default_factory=dict)
    tasks: list[Task] = field(default_factory=list)
    py_row_accums: set[int] = field(default_factory=set)


def _plan_py_rows(plan: dict, out: set[int]) -> None:
    names = {m["name"]: m["accumulatorId"] for m in plan.get("metrics", [])}
    if PY_RECV in names and "number of output rows" in names:
        out.add(names["number of output rows"])
    for c in plan.get("children", []):
        _plan_py_rows(c, out)


def event_log_files(log_dir: str) -> list[str]:
    """Event log files under ``log_dir`` (single files, or the numbered
    parts of a rolled log), in write order."""
    out = []
    for root, _, files in os.walk(log_dir):
        for f in sorted(files):
            if f.startswith(".") or f.startswith("appstatus"):
                continue
            out.append(os.path.join(root, f))
    return sorted(out)


def parse_event_log(lines) -> EventLog:
    """Parse event-log JSON lines (any iterable of str)."""
    log = EventLog()
    for line in lines:
        line = line.strip()
        if not line:
            continue
        e = json.loads(line)
        kind = e.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            log.jobs[e["Job ID"]] = Job(e["Job ID"], props.get("spark.jobGroup.id"),
                                        e["Submission Time"], list(e["Stage IDs"]))
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            log.stage_tasks[info["Stage ID"]] = info.get("Number of Tasks", 0)
        elif kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
            _plan_py_rows(e.get("sparkPlanInfo", {}), log.py_row_accums)
        elif kind == "SparkListenerTaskEnd":
            info, m = e["Task Info"], e.get("Task Metrics") or {}
            if info.get("Failed") or info.get("Killed"):
                continue
            sr = m.get("Shuffle Read Metrics", {})
            sw = m.get("Shuffle Write Metrics", {})
            accums, named = {}, {}
            for a in info.get("Accumulables", []):
                try:
                    v = float(a.get("Update", 0))
                except (TypeError, ValueError):
                    continue
                accums[a["ID"]] = v
                if a.get("Name") in (PY_START, PY_INIT, PY_RUN, PY_SENT, PY_RECV):
                    named[a["Name"]] = named.get(a["Name"], 0.0) + v
            log.tasks.append(Task(
                stage=e["Stage ID"],
                launch_ms=info["Launch Time"],
                finish_ms=info["Finish Time"],
                run_ms=m.get("Executor Run Time", 0),
                cpu_ns=m.get("Executor CPU Time", 0),
                gc_ms=m.get("JVM GC Time", 0),
                deser_ms=m.get("Executor Deserialize Time", 0),
                ser_ms=m.get("Result Serialization Time", 0),
                result_ms=info.get("Getting Result Time", 0),
                input_bytes=m.get("Input Metrics", {}).get("Bytes Read", 0),
                input_records=m.get("Input Metrics", {}).get("Records Read", 0),
                shuffle_read_bytes=sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                shuffle_write_bytes=sw.get("Shuffle Bytes Written", 0),
                spill_bytes=m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                accums=accums,
                named=named,
            ))
    return log


def read_event_log(log_dir: str) -> EventLog:
    def lines():
        for f in event_log_files(log_dir):
            with open(f, encoding="utf-8") as fh:
                yield from fh
    return parse_event_log(lines())


def task_totals(log: EventLog, tasks: list[Task]) -> dict[str, float]:
    """Executor-side totals over ``tasks``: the ``operators`` layer."""
    def s(attr):
        return sum(getattr(t, attr) for t in tasks)

    def named(key):
        return sum(t.named.get(key, 0.0) for t in tasks)

    wait_ms = sum(max(0, (t.finish_ms - t.launch_ms) - t.run_ms - t.deser_ms
                      - t.ser_ms - t.result_ms) for t in tasks)
    py_rows = sum(v for t in tasks for k, v in t.accums.items() if k in log.py_row_accums)
    return {
        "tasks": len(tasks),
        "task_run_s": s("run_ms") / 1e3,
        "task_cpu_s": s("cpu_ns") / 1e9,
        "gc_s": s("gc_ms") / 1e3,
        "task_wait_s": wait_ms / 1e3,
        "input_mb": s("input_bytes") / MB,
        "shuffle_read_mb": s("shuffle_read_bytes") / MB,
        "shuffle_write_mb": s("shuffle_write_bytes") / MB,
        "spill_mb": s("spill_bytes") / MB,
        "py_boot_s": named(PY_START) / 1e3,
        "py_init_s": named(PY_INIT) / 1e3,
        "py_total_s": named(PY_RUN) / 1e3,
        "py_sent_mb": named(PY_SENT) / MB,
        "py_recv_mb": named(PY_RECV) / MB,
        "py_rows": py_rows,
    }


def jobs_in(log: EventLog, start: float, end: float) -> list[Job]:
    """Jobs submitted inside the wall-clock window ``[start, end]`` (s)."""
    lo, hi = start * 1e3, end * 1e3
    return [j for j in log.jobs.values() if lo <= j.submit_ms <= hi]


def tasks_of(log: EventLog, jobs: list[Job]) -> list[Task]:
    stages = {s for j in jobs for s in j.stages}
    return [t for t in log.tasks if t.stage in stages]


def stage_count(log: EventLog, jobs: list[Job]) -> int:
    """Stages that ran (skipped stages of reused shuffles never complete)."""
    return len({s for j in jobs for s in j.stages if s in log.stage_tasks})
