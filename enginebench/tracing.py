"""Tracing for the engine benchmark's traced run.

Spans are recorded only from the benchmark's own files, around its calls
into the program's public functions. Each span has a name, start, end, the
span that caused it and the op it belongs to; spans stay in memory and are
written out once, in the run's record line at the end.

The Spark event log, written by the session the benchmark configures, is
the second channel: it holds every job, stage and task, the SQL metrics of
file writes, and every ``StreamingQueryListener`` progress event (one per
micro-batch), so no listener has to run inside the benchmark. Jobs a traced
op launches carry the job group ``<op id>:<phase>``; micro-batch jobs carry
their stream's own group, so records are matched to ops by time.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import json
import os
import time
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None


class Tracer:
    """Collects spans. ``span`` nests: a span opened inside another is its
    child. ``phase`` also tags the Spark jobs launched inside it."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.sc = None  # set once the traced session exists
        self.op: int | None = None

    @contextlib.contextmanager
    def span(self, name: str, op: int | None = None):
        if op is not None:
            self.op = op
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.time(), 0.0, parent, self.op))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.time()
            if op is not None:
                self.op = None

    @contextlib.contextmanager
    def phase(self, name: str):
        """A span whose Spark jobs carry the job group ``<op>:<name>``."""
        with self.span(name):
            if self.sc is not None:
                self.sc.setJobGroup(f"{self.op}:{name}", name)
            try:
                yield
            finally:
                if self.sc is not None:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: each span's duration minus the part
        of it that its children cover."""
        child_cover = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child_cover[s.parent] += s.end - s.start
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - child_cover[i]
        return out


class NullTracer:
    """The untraced run's tracer: every call is a no-op."""

    def span(self, name: str, op: int | None = None):
        return contextlib.nullcontext()

    def phase(self, name: str):
        return contextlib.nullcontext()


# --------------------------------------------------------------- event log


@dataclass
class StageStats:
    start: float = 0.0
    end: float = 0.0
    tasks: int = 0
    failed_tasks: int = 0
    run_ms: float = 0.0
    gc_ms: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    input_bytes: int = 0
    input_records: int = 0
    output_bytes: int = 0
    peak_exec_mem: int = 0


@dataclass
class Job:
    submitted: float  # epoch seconds
    stages: list[StageStats]


@dataclass
class EventLog:
    jobs: list[Job]
    #: (execution start, files written) per SQL execution that wrote files
    writes: list[tuple[float, int]]
    #: (trigger start, progress dict) per streaming micro-batch
    batches: list[tuple[float, dict]]


def _metric_ids(plan: dict, name: str, out: set) -> None:
    for m in plan.get("metrics", []):
        if m.get("name") == name:
            out.add(m["accumulatorId"])
    for child in plan.get("children", []):
        _metric_ids(child, name, out)


def fold_event_log(log_dir: str) -> EventLog:
    """Every job (with its stages' task metrics summed), file write and
    micro-batch in the event logs under ``log_dir``."""
    log = EventLog([], [], [])
    for fname in sorted(os.listdir(log_dir)):
        stages: dict[int, StageStats] = {}
        written_ids: set[int] = set()
        exec_start: dict[int, float] = {}
        with open(os.path.join(log_dir, fname)) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    log.jobs.append(Job(
                        ev["Submission Time"] / 1e3,
                        [stages.setdefault(sid, StageStats()) for sid in ev["Stage IDs"]],
                    ))
                elif kind == "SparkListenerTaskEnd":
                    st = stages.setdefault(ev["Stage ID"], StageStats())
                    st.tasks += 1
                    if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                        st.failed_tasks += 1
                    m = ev.get("Task Metrics") or {}
                    st.run_ms += m.get("Executor Run Time", 0)
                    st.gc_ms += m.get("JVM GC Time", 0)
                    st.spill_bytes += m.get("Disk Bytes Spilled", 0)
                    st.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    inp = m.get("Input Metrics") or {}
                    st.input_bytes += inp.get("Bytes Read", 0)
                    st.input_records += inp.get("Records Read", 0)
                    st.output_bytes += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
                    st.peak_exec_mem = max(st.peak_exec_mem, m.get("Peak Execution Memory", 0))
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    st = stages.setdefault(info["Stage ID"], StageStats())
                    st.start = info.get("Submission Time", 0) / 1e3
                    st.end = info.get("Completion Time", 0) / 1e3
                elif kind.endswith("SparkListenerSQLExecutionStart"):
                    exec_start[ev["executionId"]] = ev["time"] / 1e3
                    _metric_ids(ev["sparkPlanInfo"], "number of written files", written_ids)
                elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                    _metric_ids(ev["sparkPlanInfo"], "number of written files", written_ids)
                elif kind.endswith("SparkListenerDriverAccumUpdates"):
                    n = sum(v for acc, v in ev["accumUpdates"] if acc in written_ids)
                    if n:
                        log.writes.append((exec_start.get(ev["executionId"], 0.0), n))
                elif kind.endswith("QueryProgressEvent"):
                    p = ev["progress"]
                    t = dt.datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00"))
                    log.batches.append((t.timestamp(), p))
    return log


def covered(windows: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Seconds of [lo, hi] covered by the union of ``windows``."""
    total, cur = 0.0, lo
    for a, b in sorted(windows):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total
