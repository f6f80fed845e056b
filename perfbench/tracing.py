"""Tracing for the benchmark's traced runs (`--trace 1`).

Spans are timed from the benchmark's side of each layer boundary: a
wrapper around a public function of the engine, or a block of benchmark
code. They are kept in memory and written out once, when the run ends.
The executor layer comes from Spark's own event log, read back after the
session stops: tasks are attributed to the job group their job ran in.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager


class Tracer:
    """In-memory spans. Disabled, `span` and `wrap` cost one branch."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.context: dict = {}  # copied into every span, e.g. {"round": 3}
        self._local = threading.local()

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {"name": name, "parent": stack[-1]["id"] if stack else None,
               "id": len(self.spans), **self.context, **attrs}
        self.spans.append(rec)
        stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()

    def wrap(self, owner, attr: str, name: str):
        """Replace `owner.attr` by a spanned wrapper; returns the undo."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def spanned(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        setattr(owner, attr, spanned)
        return lambda: setattr(owner, attr, orig)

    def durations(self, name: str, **match) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and "end" in s
                and all(s.get(k) == v for k, v in match.items())]

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({**extra, "spans": self.spans}, f)


def p50(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


# ---- Spark event log ---------------------------------------------------

PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"
FILES_WRITTEN = "number of written files"


def read_event_log(log_dir: str) -> list[dict]:
    """Events of the one application logged in `log_dir` (uncompressed,
    non-rolling: one JSON object per line)."""
    events = []
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        with open(path) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


class EventLogFold:
    """Task, stage and job figures of an event log, folded by job group,
    plus driver-side SQL write metrics by execution start time."""

    def __init__(self, events: list[dict]):
        self.stage_group: dict[int, str] = {}
        self.tasks: dict[str, list[dict]] = {}
        self.stages: dict[str, set] = {}
        self.exec_time: dict[int, float] = {}  # SQL execution -> start (epoch s)
        acc_name: dict[int, str] = {}
        self.files_written: list[tuple[float, int]] = []  # (start, files)
        for ev in events:
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if g is None:
                    continue
                for s in ev.get("Stage IDs", []):
                    self.stage_group[s] = g
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                g = self.stage_group.get(info["Stage ID"])
                if g is not None:
                    self.stages.setdefault(g, set()).add(
                        (info["Stage ID"], info.get("Stage Attempt ID", 0)))
            elif kind == "SparkListenerTaskEnd":
                g = self.stage_group.get(ev["Stage ID"])
                if g is not None and ev.get("Task Metrics"):
                    self.tasks.setdefault(g, []).append(_task(ev))
            elif kind.endswith("SparkListenerSQLExecutionStart"):
                self.exec_time[ev["executionId"]] = ev["time"] / 1000.0
                _plan_metrics(ev.get("sparkPlanInfo", {}), acc_name)
            elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                _plan_metrics(ev.get("sparkPlanInfo", {}), acc_name)
            elif kind.endswith("SparkListenerDriverAccumUpdates"):
                n = sum(v for a, v in ev.get("accumUpdates", [])
                        if acc_name.get(a) == FILES_WRITTEN)
                if n:
                    self.files_written.append(
                        (self.exec_time.get(ev["executionId"], 0.0), n))

    def executor(self, groups, wall_s: float, cores: int) -> dict:
        """Executor figures of the tasks that ran under `groups`."""
        tasks = [t for g in groups for t in self.tasks.get(g, [])]
        by_stage: dict[int, list[float]] = {}
        for t in tasks:
            by_stage.setdefault(t["stage"], []).append(t["run_ms"])
        skew = max((max(v) / max(statistics.median(v), 1.0)
                    for v in by_stage.values() if len(v) > 1), default=1.0)
        run_s = sum(t["run_ms"] for t in tasks) / 1e3
        return {
            "executor.run_s": run_s,
            "executor.cpu_s": sum(t["cpu_ns"] for t in tasks) / 1e9,
            "executor.gc_s": sum(t["gc_ms"] for t in tasks) / 1e3,
            "executor.shuffle_read_bytes": sum(t["sr"] for t in tasks),
            "executor.shuffle_write_bytes": sum(t["sw"] for t in tasks),
            "executor.spill_bytes": sum(t["spill"] for t in tasks),
            "executor.task_skew": skew,
            "executor.busy_share": run_s / (wall_s * cores) if wall_s else 0.0,
            "arrow.bytes_to_python": sum(t["py_sent"] for t in tasks),
            "arrow.bytes_from_python": sum(t["py_recv"] for t in tasks),
        }

    def counts(self, groups) -> dict:
        """Stages run and tasks ended under `groups` (jobs are counted
        from statusTracker while the session is live)."""
        return {"stages": sum(len(self.stages.get(g, ())) for g in groups),
                "tasks": sum(len(self.tasks.get(g, ())) for g in groups)}

    def files_written_between(self, t0: float, t1: float) -> int:
        return sum(n for t, n in self.files_written if t0 <= t <= t1)


def _plan_metrics(info: dict, out: dict) -> None:
    for m in info.get("metrics", []):
        out[m["accumulatorId"]] = m["name"]
    for child in info.get("children", []):
        _plan_metrics(child, out)


def _task(ev: dict) -> dict:
    tm = ev["Task Metrics"]
    sr = tm.get("Shuffle Read Metrics", {})
    sw = tm.get("Shuffle Write Metrics", {})
    py = {PY_SENT: 0, PY_RECV: 0}
    for a in ev["Task Info"].get("Accumulables", []):
        if a.get("Name") in py:
            py[a["Name"]] += int(a.get("Update", 0))
    return {
        "stage": ev["Stage ID"],
        "run_ms": tm.get("Executor Run Time", 0),
        "cpu_ns": tm.get("Executor CPU Time", 0),
        "gc_ms": tm.get("JVM GC Time", 0),
        "sr": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        "sw": sw.get("Shuffle Bytes Written", 0),
        "spill": tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0),
        "py_sent": py[PY_SENT],
        "py_recv": py[PY_RECV],
    }
