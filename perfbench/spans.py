"""Spans, Spark event-log totals and process memory for the traced run.

Spans are recorded around the benchmark's own calls into the engine
(the engine itself is not instrumented): name, start, end, parent and
run id, kept in memory and written as JSON when the run ends. Shuffle,
spill, Python-node row counts and files scanned are read from the Spark
event log of the same run and attributed to a span by time: a task
belongs to the span its launch time falls in, a driver-side metric
update to the span its SQL execution started in.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    start: float  # epoch seconds
    end: float
    parent: str | None
    run_id: str

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder; a disabled tracer records nothing."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        start = time.time()
        try:
            yield
        finally:
            self._stack.pop()
            self.spans.append(Span(name, start, time.time(), parent, self.run_id))

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in self.spans], fh, indent=0)


@dataclass
class SpanTotals:
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0  # memory + disk bytes spilled
    python_output_rows: int = 0  # rows returned by MapInPandas nodes
    files_read: int = 0


def event_log_totals(log_dir: str, spans: list[Span]) -> dict[int, SpanTotals]:
    """Per-span totals (keyed by ``id(span)``) from the run's event log."""
    files = [  # Spark 4 writes a rolling-log directory of events_* files
        os.path.join(d, f) for d, _, fs in os.walk(log_dir) for f in sorted(fs)
        if f.startswith("events_") or not f.startswith((".", "appstatus"))
    ]
    accum_names: dict[int, tuple[str, str]] = {}  # accumulator id → (node, metric)
    exec_start: dict[int, float] = {}
    driver_updates: list[tuple[int, int, int]] = []  # (execution, accumulator, value)
    tasks: list[dict] = []

    def walk(plan: dict) -> None:
        for m in plan.get("metrics", ()):
            accum_names[m["accumulatorId"]] = (plan.get("nodeName", ""), m["name"])
        for child in plan.get("children", ()):
            walk(child)

    for path in files:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerTaskEnd":
                    tasks.append(ev)
                elif kind.endswith("SparkListenerSQLExecutionStart"):
                    exec_start[ev["executionId"]] = ev["time"] / 1000.0
                    walk(ev["sparkPlanInfo"])
                elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                    walk(ev["sparkPlanInfo"])
                elif kind.endswith("SparkListenerDriverAccumUpdates"):
                    for acc_id, value in ev["accumUpdates"]:
                        driver_updates.append((ev["executionId"], acc_id, value))

    def owner(t: float) -> int | None:
        # innermost span containing t (latest start wins)
        best = None
        for s in spans:
            if s.start <= t <= s.end and (best is None or s.start >= best.start):
                best = s
        return id(best) if best is not None else None

    totals: dict[int, SpanTotals] = defaultdict(SpanTotals)
    for ev in tasks:
        key = owner(ev["Task Info"]["Launch Time"] / 1000.0)
        if key is None:
            continue
        tot = totals[key]
        metrics = ev.get("Task Metrics") or {}
        tot.shuffle_write_bytes += metrics.get("Shuffle Write Metrics", {}).get(
            "Shuffle Bytes Written", 0
        )
        tot.spill_bytes += metrics.get("Memory Bytes Spilled", 0) + metrics.get(
            "Disk Bytes Spilled", 0
        )
        for acc in ev["Task Info"].get("Accumulables", ()):
            node, name = accum_names.get(acc.get("ID"), ("", ""))
            if node == "MapInPandas" and name == "number of output rows":
                tot.python_output_rows += int(acc.get("Update", 0))
    for execution, acc_id, value in driver_updates:
        node, name = accum_names.get(acc_id, ("", ""))
        if name == "number of files read" and execution in exec_start:
            key = owner(exec_start[execution])
            if key is not None:
                totals[key].files_read += int(value)
    return totals


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid`` (from /proc)."""
    children: dict[int, list[int]] = defaultdict(list)
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children[ppid].append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the resident-memory high-water marks of ``pids``."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0
