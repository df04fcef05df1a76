"""Spans recorded around calls into the engine's layers, and the Spark
event log read back after the session stops.

A span has a name, start, end, parent and a run id shared by one query or
one stream drain. Spans stay in memory and are written once, at the end
of a traced run. With tracing off, :meth:`Tracer.span` records nothing.
"""

from __future__ import annotations

import contextlib
import json
import time
from collections import defaultdict


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, run: str = ""):
        if not self.enabled:
            yield
            return
        rec = {"name": name, "run": run,
               "parent": self._stack[-1] if self._stack else None,
               "t0": time.time(), "t1": None}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            self._stack.pop()
            rec["t1"] = time.time()

    def of(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def total(self, name: str) -> float:
        return sum(s["t1"] - s["t0"] for s in self.of(name))

    def self_times(self) -> dict[str, float]:
        """Per layer (the span name's part before the first '.'): span
        time minus the time its direct child spans cover."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["t1"] - s["t0"]
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            out[s["name"].split(".")[0]] += s["t1"] - s["t0"] - child[i]
        return dict(out)

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def median(xs) -> float:
    s = sorted(xs)
    n = len(s)
    if not n:
        return float("nan")
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def tail(xs) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it; the maximum when there are fewer than 11."""
    s = sorted(xs)
    n = len(s)
    if n < 11:
        return s[-1], 100.0
    return s[n - 11], 100.0 * (n - 10) / n


def read_event_log(path: str) -> list[dict]:
    """Events of one application's log (uncompressed, not rolled: the
    traced session is configured that way)."""
    events = []
    with open(path) as fh:
        for line in fh:
            try:
                events.append(json.loads(line))
            except ValueError:
                continue          # a torn last line
    return events


def _metric_ids(plan: dict, name: str) -> set[int]:
    """Accumulator ids of the SQL metric ``name`` anywhere in a plan."""
    ids = {m["accumulatorId"] for m in plan.get("metrics", [])
           if m.get("name") == name}
    for child in plan.get("children", []):
        ids |= _metric_ids(child, name)
    return ids


def _files_read(events: list[dict], inside) -> int:
    """Sum of the scans' driver-side "number of files read" metric over
    the SQL executions that started inside the windows."""
    started, ids = {}, set()
    for e in events:
        ev = e.get("Event", "")
        if ev.endswith("SparkListenerSQLExecutionStart"):
            started[e["executionId"]] = e["time"]
        if "sparkPlanInfo" in e:
            ids |= _metric_ids(e["sparkPlanInfo"], "number of files read")
    return sum(int(v) for e in events
               if e.get("Event", "").endswith("SparkListenerDriverAccumUpdates")
               and inside(started.get(e["executionId"])) is not None
               for acc, v in e["accumUpdates"] if acc in ids)


def exec_metrics(events: list[dict], windows: list[tuple[float, float]],
                 cores: int) -> dict:
    """Job, stage and task figures for the work that started inside
    ``windows`` (epoch-second intervals, e.g. the noop-action spans).

    driver_gap_s is each window's wall minus the union of its job spans;
    busy_share is the summed task run time over (wall x cores)."""
    def inside(ms) -> int | None:
        t = (ms or 0) / 1000.0
        for i, (a, b) in enumerate(windows):
            if a <= t <= b:
                return i
        return None

    jobs: dict[int, list] = {}
    for e in events:
        ev = e.get("Event")
        if ev == "SparkListenerJobStart":
            w = inside(e.get("Submission Time"))
            if w is not None:
                jobs[e["Job ID"]] = [w, e["Submission Time"] / 1000.0, None]
        elif ev == "SparkListenerJobEnd" and e["Job ID"] in jobs:
            jobs[e["Job ID"]][2] = e["Completion Time"] / 1000.0
    out = dict.fromkeys(("stages", "tasks", "failed_tasks", "task_run_s",
                         "input_bytes", "shuffle_read_bytes",
                         "shuffle_write_bytes", "spill_bytes", "job_s"), 0)
    out["jobs"] = len(jobs)
    for e in events:
        ev = e.get("Event")
        if ev == "SparkListenerStageCompleted":
            if inside(e["Stage Info"].get("Submission Time")) is not None:
                out["stages"] += 1
        elif ev == "SparkListenerTaskEnd":
            info = e.get("Task Info", {})
            if inside(info.get("Launch Time")) is None:
                continue
            m = e.get("Task Metrics") or {}
            sr = m.get("Shuffle Read Metrics", {})
            out["tasks"] += 1
            out["failed_tasks"] += bool(info.get("Failed"))
            out["task_run_s"] += m.get("Executor Run Time", 0) / 1000.0
            out["input_bytes"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
            out["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                          + sr.get("Local Bytes Read", 0))
            out["shuffle_write_bytes"] += m.get(
                "Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
            out["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                   + m.get("Disk Bytes Spilled", 0))
    out["files_read"] = _files_read(events, inside)
    wall = sum(b - a for a, b in windows)
    spans_by_window = defaultdict(list)
    for w, t0, t1 in jobs.values():
        spans_by_window[w].append((t0, t1 if t1 is not None else t0))
    covered = 0.0
    for w, iv in spans_by_window.items():
        end = float("-inf")
        for t0, t1 in sorted(iv):        # union of the job intervals
            t0 = max(t0, end)
            if t1 > t0:
                covered += t1 - t0
            end = max(end, t1)
        out["job_s"] += sum(t1 - t0 for t0, t1 in iv)
    out["driver_gap_s"] = wall - covered
    out["busy_share"] = (out.pop("task_run_s") / (wall * cores)
                         if wall else 0.0)
    return out
