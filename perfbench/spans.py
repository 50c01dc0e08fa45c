"""Spans around calls into the engine's layers, and a Spark event-log
aggregator that attributes task metrics to those spans.

Each span gets its own Spark job group, so every job Spark runs while
the span is open carries the span's id in its properties. After the
timed window, `aggregate_event_log` reads the event log once and sums
task metrics per job group; `span_totals` rolls a span's own jobs and
those of its child spans into one record.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# SQL metric names Spark's Python evaluators report per task.
PY_TIME_METRIC = "time to run Python workers"
PY_SENT_METRIC = "data sent to Python workers"
PY_RETURNED_METRIC = "data returned from Python workers"


@dataclass
class Span:
    span_id: str
    name: str
    parent: str | None
    op: int
    start: float
    end: float = 0.0

    @property
    def wall_s(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. While `active`, `span()` opens a span,
    makes it the Spark job group of the calling thread and restores the
    enclosing span's group on exit; otherwise it records nothing. Spans
    are kept in memory until `dump()` writes them as JSON lines."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.active = False
        self.op = -1

    @contextmanager
    def span(self, name: str):
        if not self.active:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(
            span_id=f"span-{len(self.spans)}",
            name=name,
            parent=parent.span_id if parent else None,
            op=self.op,
            start=time.monotonic(),
        )
        self.spans.append(s)
        self._stack.append(s)
        self._sc.setJobGroup(s.span_id, name)
        try:
            yield s
        finally:
            s.end = time.monotonic()
            self._stack.pop()
            if parent is not None:
                self._sc.setJobGroup(parent.span_id, parent.name)
            else:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                self._sc.setLocalProperty("spark.job.description", None)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(vars(s)) + "\n")


@dataclass
class GroupStats:
    """Task metrics summed over every job of one job group."""

    jobs: int = 0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    input_bytes: int = 0
    python_run_s: float = 0.0
    python_bytes: int = 0
    # per stage: task durations in ms, for max / median skew
    stage_task_ms: dict[int, list[int]] = field(default_factory=dict)

    def add(self, other: "GroupStats") -> None:
        for k in (
            "jobs", "cpu_s", "gc_s", "shuffle_write_bytes",
            "spill_bytes", "input_bytes", "python_run_s", "python_bytes",
        ):
            setattr(self, k, getattr(self, k) + getattr(other, k))
        for sid, ms in other.stage_task_ms.items():
            self.stage_task_ms.setdefault(sid, []).extend(ms)

    @property
    def task_skew(self) -> float:
        """Largest max / median task time over stages with >= 2 tasks
        (1.0 when no stage has two tasks)."""
        worst = 1.0
        for ms in self.stage_task_ms.values():
            if len(ms) >= 2:
                med = statistics.median(ms)
                if med > 0:
                    worst = max(worst, max(ms) / med)
        return worst


def _acc_value(acc: dict) -> int:
    v = acc.get("Update", 0)
    try:
        return int(v)
    except (TypeError, ValueError):
        return 0


def aggregate_event_log(lines) -> dict[str, GroupStats]:
    """Event-log JSON lines -> {job group id: GroupStats}. Jobs without
    a group are filed under ''. Executor CPU time is in nanoseconds; GC
    time and the Python worker time metric are in milliseconds."""
    stage_group: dict[int, str] = {}
    groups: dict[str, GroupStats] = {}
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            gid = props.get("spark.jobGroup.id") or ""
            groups.setdefault(gid, GroupStats()).jobs += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, gid)
        elif kind == "SparkListenerTaskEnd":
            sid = ev.get("Stage ID")
            g = groups.setdefault(stage_group.get(sid, ""), GroupStats())
            info = ev.get("Task Info") or {}
            m = ev.get("Task Metrics") or {}
            g.cpu_s += m.get("Executor CPU Time", 0) / 1e9
            g.gc_s += m.get("JVM GC Time", 0) / 1e3
            g.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            g.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
            g.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            dur = info.get("Finish Time", 0) - info.get("Launch Time", 0)
            g.stage_task_ms.setdefault(sid, []).append(dur)
            for acc in info.get("Accumulables", []):
                name = acc.get("Name")
                if name == PY_TIME_METRIC:
                    g.python_run_s += _acc_value(acc) / 1e3
                elif name in (PY_SENT_METRIC, PY_RETURNED_METRIC):
                    g.python_bytes += _acc_value(acc)
    return groups


def span_totals(
    spans: list[Span], groups: dict[str, GroupStats]
) -> dict[str, GroupStats]:
    """{span id: GroupStats of the span's own jobs plus all of its
    descendants' jobs}."""
    totals = {s.span_id: GroupStats() for s in spans}
    by_id = {s.span_id: s for s in spans}
    for s in spans:
        own = groups.get(s.span_id)
        if own is None:
            continue
        node: Span | None = s
        while node is not None:
            totals[node.span_id].add(own)
            node = by_id.get(node.parent) if node.parent else None
    return totals
