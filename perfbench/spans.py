"""Spans around the engine's layer boundaries, and Spark counters per span.

A span is (name, start, end, parent). Spans are kept in memory and written
out once, at the end of a run. While a span is open, Spark jobs submitted
from the driver thread carry its job group (``span-<id>``), so the event
log attributes every job, stage and task to the innermost open span.

``wrap`` replaces a module attribute with a function that opens a span
around each call. Names a module imported from another (``pipeline``
imports ``demux_to_parquet`` from ``sources.fixed_width``) must be wrapped
in the importing module too, which ``wrap_all`` does.
"""

from __future__ import annotations

import functools
import json
import os
import time
from collections.abc import Callable, Iterator
from contextlib import contextmanager


class Tracer:
    """Span recorder. With ``enabled=False`` every method is a no-op, so
    workload code can open spans unconditionally."""

    def __init__(self, enabled: bool, run_id: str) -> None:
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._sc = None
        self.counts: dict[str, float] = {}
        self.cost = 0.0  # seconds spent tagging jobs and in ``after`` hooks

    def bind(self, spark) -> None:
        """Tag jobs of ``spark``'s context with the open span from now on."""
        if self.enabled:
            self._sc = spark.sparkContext

    def unbind(self) -> None:
        self._sc = None

    def count(self, name: str, value: float) -> None:
        if self.enabled:
            self.counts[name] = self.counts.get(name, 0) + value

    def _tag(self, sid: int | None) -> None:
        if self._sc is None:
            return
        t0 = time.perf_counter()
        if sid is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self._sc.setJobGroup(f"span-{sid}", self.spans[sid]["name"])
        self.cost += time.perf_counter() - t0

    @contextmanager
    def span(self, name: str) -> Iterator[None]:
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(
            {"id": sid, "name": name, "parent": parent, "run": self.run_id,
             "start": time.perf_counter(), "end": None}
        )
        self._stack.append(sid)
        self._tag(sid)
        try:
            yield
        finally:
            self.spans[sid]["end"] = time.perf_counter()
            self._stack.pop()
            self._tag(parent)

    def self_times(self) -> dict[int, float]:
        """Span duration minus the time its child spans cover."""
        child: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        return {s["id"]: s["end"] - s["start"] - child.get(s["id"], 0.0) for s in self.spans}

    def ancestors(self, sid: int) -> Iterator[dict]:
        while sid is not None:
            s = self.spans[sid]
            yield s
            sid = s["parent"]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": self.spans, "counts": self.counts}, f)


def wrap(tracer: Tracer, module, attr: str, span_name: str,
         after: Callable | None = None) -> None:
    """Open span ``span_name`` around every call of ``module.attr``.
    ``after(result, args, kwargs)`` runs inside the span once the call
    returns, to record counts."""
    fn = getattr(module, attr)

    @functools.wraps(fn)
    def traced(*args, **kwargs):
        with tracer.span(span_name):
            result = fn(*args, **kwargs)
            if after is not None:
                t0 = time.perf_counter()
                after(result, args, kwargs)
                tracer.cost += time.perf_counter() - t0
            return result

    setattr(module, attr, traced)


def wrap_all(tracer: Tracer, modules: list, attr: str, span_name: str,
             after: Callable | None = None) -> None:
    """``wrap`` one function under the same span name in every module that
    binds it; each module keeps a reference to the one original."""
    original = getattr(modules[0], attr)
    for module in modules:
        if getattr(module, attr) is original:
            wrap(tracer, module, attr, span_name, after)


# ---------------------------------------------------------------------------
# Event log: Spark job, stage and task counters, attributed through the job
# group each job was submitted under.
# ---------------------------------------------------------------------------

TASK_FIELDS = ("tasks", "run_s", "cpu_s", "gc_s", "input_mb", "input_records",
               "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "failures")


def _event_files(log_dir: str, app_id: str) -> list[str]:
    paths = []
    for root, _dirs, files in os.walk(log_dir):
        for fn in files:
            if (app_id in root or app_id in fn) and not fn.startswith((".", "appstatus_")):
                paths.append(os.path.join(root, fn))
    return sorted(paths)


class EventLog:
    """Jobs (job group, submission time, stages) and per-stage task
    counters from one application's event log."""

    def __init__(self, log_dir: str, app_id: str) -> None:
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, dict] = {}
        self.completed_stages: set[int] = set()
        self.peak_execution_mb: dict[int, float] = {}
        paths = _event_files(log_dir, app_id)
        if not paths:
            raise FileNotFoundError(f"no event log for {app_id} under {log_dir}")
        for path in paths:
            with open(path) as f:
                for line in f:
                    self._event(json.loads(line))

    def _event(self, ev: dict) -> None:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            self.jobs[ev["Job ID"]] = {
                "span": int(group[5:]) if group.startswith("span-") else None,
                "submitted": ev.get("Submission Time", 0) / 1e3,
                "stages": ev.get("Stage IDs", []),
            }
        elif kind == "SparkListenerStageCompleted":
            info = ev.get("Stage Info", {})
            if info.get("Submission Time"):  # skipped stages never ran
                self.completed_stages.add(info["Stage ID"])
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            sid = ev.get("Stage ID")
            b = self.stages.setdefault(sid, {k: 0.0 for k in TASK_FIELDS})
            b["tasks"] += 1
            reason = (ev.get("Task End Reason") or {}).get("Reason", "Success")
            b["failures"] += reason != "Success"
            b["run_s"] += m.get("Executor Run Time", 0) / 1e3
            b["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            b["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            inp = m.get("Input Metrics") or {}
            b["input_mb"] += inp.get("Bytes Read", 0) / 1e6
            b["input_records"] += inp.get("Records Read", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            b["shuffle_read_mb"] += (sr.get("Local Bytes Read", 0)
                                     + sr.get("Remote Bytes Read", 0)) / 1e6
            sw = m.get("Shuffle Write Metrics") or {}
            b["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 1e6
            b["spill_mb"] += (m.get("Disk Bytes Spilled", 0)
                              + m.get("Memory Bytes Spilled", 0)) / 1e6
            self.peak_execution_mb[sid] = max(self.peak_execution_mb.get(sid, 0.0),
                                              m.get("Peak Execution Memory", 0) / 1e6)

    def totals(self, job_ids) -> dict[str, float]:
        """Jobs, stages that ran, task counters and the peak execution
        memory of any task, over the given jobs."""
        out = {"jobs": 0, "stages": 0, "peak_execution_mb": 0.0, **{k: 0.0 for k in TASK_FIELDS}}
        seen: set[int] = set()
        for jid in job_ids:
            out["jobs"] += 1
            for sid in self.jobs[jid]["stages"]:
                if sid in seen:
                    continue
                seen.add(sid)
                out["stages"] += sid in self.completed_stages
                for k, v in self.stages.get(sid, {}).items():
                    out[k] += v
                out["peak_execution_mb"] = max(out["peak_execution_mb"],
                                               self.peak_execution_mb.get(sid, 0.0))
        return out
