"""Spans, Spark event-log folding and host-noise readings for the benchmark.

A span records a name, start, end, parent and run id. Spans are kept in
memory and written out once at the end of a run. In a traced run each span
also sets its own Spark job group, so every job, stage and task in Spark's
event log folds into the span that caused it; jobs with no group (a
streaming query's micro-batches run on their own thread) fold into the
innermost span whose interval holds their submission time, and so do
streaming progress events.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from datetime import datetime


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans around calls into the program's layers.

    ``spark`` is set once the session exists; from then on each span tags
    the jobs it submits with the job group ``<run_id>/<span id>``.
    """

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self.spark = None
        self._stack: list[int] = []

    def group_id(self, span_id: int) -> str:
        return f"{self.run_id}/{span_id}"

    def _set_group(self, span_id: int | None) -> None:
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        if span_id is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            sc.setJobGroup(self.group_id(span_id), self.spans[span_id].name)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sid = len(self.spans)
        self.spans.append(Span(sid, name, time.time(), 0.0, parent, self.run_id))
        self._stack.append(sid)
        self._set_group(sid)
        try:
            yield self.spans[sid]
        finally:
            self.spans[sid].end = time.time()
            self._stack.pop()
            self._set_group(parent)

    def write(self, path: str, extra: dict | None = None) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": [asdict(s) for s in self.spans], **(extra or {})}, fh)


def _union_seconds(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of possibly overlapping intervals."""
    total, cur_start, cur_end = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_end is None or s > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = s, e
        else:
            cur_end = max(cur_end, e)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of it its child spans cover."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append((s.start, s.end))
    return {s.id: s.seconds - _union_seconds(children[s.id]) for s in spans}


def _innermost(spans: list[Span], t: float) -> int | None:
    """The deepest span whose interval holds time ``t`` (latest start wins)."""
    best = None
    for s in spans:
        if s.start <= t <= s.end and (best is None or s.start >= spans[best].start):
            best = s.id
    return best


def _iso_epoch(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


SPARK_FIELDS = ("jobs", "stages", "tasks", "stage_busy_s", "executor_cpu_s",
                "executor_run_s", "gc_s", "shuffle_write_mb", "spill_mb")
STREAM_FIELDS = ("batches", "add_batch_s", "planning_s", "wal_commit_s",
                 "trigger_s")


@dataclass
class Folded:
    """Event-log work attributed directly to each span (not its children)."""

    counters: dict[int, dict[str, float]] = field(default_factory=dict)
    busy: dict[int, list[tuple[float, float]]] = field(default_factory=dict)


def fold_event_log(lines, tracer: Tracer) -> Folded:
    """Fold Spark event-log records (JSON lines) into per-span counters and
    stage intervals; ``rollup`` adds in a span's descendants."""
    spans = tracer.spans
    by_group = {tracer.group_id(s.id): s.id for s in spans}
    stage_span: dict[int, int | None] = {}
    busy: dict[int, list[tuple[float, float]]] = defaultdict(list)
    out: dict[int, dict[str, float]] = defaultdict(
        lambda: dict.fromkeys(SPARK_FIELDS + STREAM_FIELDS, 0.0))
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            sid = by_group.get(group)
            if sid is None:
                sid = _innermost(spans, ev["Submission Time"] / 1000.0)
            for stage in ev.get("Stage IDs", []):
                stage_span.setdefault(stage, sid)
            if sid is not None:
                out[sid]["jobs"] += 1
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            sid = stage_span.get(info["Stage ID"])
            if sid is None or "Submission Time" not in info:
                continue  # a skipped stage never ran
            out[sid]["stages"] += 1
            busy[sid].append((info["Submission Time"] / 1000.0,
                              info.get("Completion Time", info["Submission Time"]) / 1000.0))
        elif kind == "SparkListenerTaskEnd":
            sid = stage_span.get(ev["Stage ID"])
            m = ev.get("Task Metrics")
            if sid is None or not m:
                continue
            o = out[sid]
            o["tasks"] += 1
            o["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            o["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
            o["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            sw = m.get("Shuffle Write Metrics") or {}
            o["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 1e6
            o["spill_mb"] += (m.get("Memory Bytes Spilled", 0)
                              + m.get("Disk Bytes Spilled", 0)) / 1e6
        elif kind.endswith("StreamingQueryListener$QueryProgressEvent"):
            prog = ev["progress"]
            sid = _innermost(spans, _iso_epoch(prog["timestamp"]))
            if sid is None:
                continue
            d = prog.get("durationMs") or {}
            o = out[sid]
            o["batches"] += 1
            o["add_batch_s"] += d.get("addBatch", 0) / 1e3
            o["planning_s"] += d.get("queryPlanning", 0) / 1e3
            o["wal_commit_s"] += d.get("walCommit", 0) / 1e3
            o["trigger_s"] += d.get("triggerExecution", 0) / 1e3
    return Folded(dict(out), dict(busy))


def rollup(folded: Folded, tracer: Tracer, root: int) -> dict[str, float]:
    """Counters of span ``root`` and all its descendants, plus stage-busy
    time (union of stage intervals) and the driver gap (span wall minus
    stage-busy time)."""
    kids: dict[int, list[int]] = defaultdict(list)
    for s in tracer.spans:
        if s.parent is not None:
            kids[s.parent].append(s.id)
    total = dict.fromkeys(SPARK_FIELDS + STREAM_FIELDS, 0.0)
    intervals: list[tuple[float, float]] = []
    stack = [root]
    while stack:
        sid = stack.pop()
        stack.extend(kids[sid])
        for k, v in folded.counters.get(sid, {}).items():
            total[k] += v
        intervals.extend(folded.busy.get(sid, []))
    span = tracer.spans[root]
    clipped = [(max(s, span.start), min(e, span.end)) for s, e in intervals]
    total["stage_busy_s"] = _union_seconds([iv for iv in clipped if iv[1] > iv[0]])
    total["driver_gap_s"] = span.seconds - total["stage_busy_s"]
    return total


def read_event_log(log_dir: str) -> list[str]:
    """All event lines under ``log_dir``: Spark 4 writes each application's
    log as an ``eventlog_v2_<app>/events_<n>_<app>`` series."""
    def order(path: str) -> tuple:
        name = os.path.basename(path)
        parts = name.split("_")
        return (os.path.dirname(path), int(parts[1]) if parts[0] == "events" else 0, name)

    paths = [os.path.join(d, f) for d, _, files in os.walk(log_dir) for f in files
             if not f.startswith((".", "appstatus"))]
    lines: list[str] = []
    for path in sorted(paths, key=order):
        with open(path) as fh:
            lines.extend(line for line in fh if line.strip())
    return lines


def steal_s() -> float:
    """CPU time the hypervisor has stolen so far, summed over all CPUs."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    # cpu user nice system idle iowait irq softirq steal ...
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set size (VmHWM) of a process, in MB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise ValueError(f"no VmHWM for pid {pid}")
