"""Traced-run instruments: spans around layer calls, a streaming-progress
listener, and readers for Spark's JSON event log and the plan.

Nothing here edits the program. Layer functions are wrapped from outside
by rebinding the module attributes their callers look up, and only for
the traced run (`install`). Spans are kept in memory and written out
once at the end of the run.
"""

from __future__ import annotations

import json
import os
import re
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql.streaming import StreamingQueryListener

PKG = "threat_detection_nosql_spark"

# (module, attribute, span name): each layer boundary the trace records.
# A function may be imported by name into other modules (`load_table`
# into most query modules, `scaled_user_features` into the ML queries),
# so every package module that holds the original is rebound (install).
WRAPPED = [
    (f"{PKG}.sources.readers", "load_table", "sources.load_table"),
    (f"{PKG}.ml.features", "scaled_user_features", "ml.features"),
    (f"{PKG}.ml.unsupervised", "mahalanobis_detector", "ml.fit"),
    (f"{PKG}.streaming.stream_queries", "run_stream_to_table",
     "stream.run_stream_to_table"),
    (f"{PKG}.streaming.stream_queries", "events_stream",
     "stream.events_stream"),
]


@dataclass
class Span:
    name: str
    start: float           # time.time() seconds, comparable with Spark's
    end: float = 0.0
    parent: int = -1       # index into Tracer.spans, -1 for a root
    ctx: tuple = ()        # (workload, pass, query) active at start


@dataclass
class Tracer:
    spans: list[Span] = field(default_factory=list)
    stack: list[int] = field(default_factory=list)
    ctx: tuple = ()

    @contextmanager
    def span(self, name: str):
        parent = self.stack[-1] if self.stack else -1
        self.spans.append(Span(name, time.time(), parent=parent,
                               ctx=self.ctx))
        idx = len(self.spans) - 1
        self.stack.append(idx)
        try:
            yield
        finally:
            self.stack.pop()
            self.spans[idx].end = time.time()

    def wrap(self, fn, name: str):
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        traced.__wrapped__ = fn
        return traced

    def self_times(self, pass_idx: int) -> dict[str, list[float]]:
        """Per span name, the self time (duration minus the part covered
        by direct children) of every span opened in the given pass."""
        child_time: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s.parent >= 0:
                child_time[s.parent] += s.end - s.start
        out: dict[str, list[float]] = defaultdict(list)
        for i, s in enumerate(self.spans):
            if len(s.ctx) > 1 and s.ctx[1] == pass_idx:
                out[s.name].append(s.end - s.start - child_time[i])
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([{"name": s.name, "start": s.start, "end": s.end,
                        "parent": s.parent, "ctx": list(s.ctx)}
                       for s in self.spans], fh)


def install(tracer: Tracer) -> None:
    """Rebind the layer functions to span-recording wrappers."""
    for mod_name, attr, span_name in WRAPPED:
        original = getattr(sys.modules[mod_name], attr)
        wrapped = tracer.wrap(original, span_name)
        for name, mod in list(sys.modules.items()):
            if (name.startswith(PKG) and mod is not None
                    and getattr(mod, attr, None) is original):
                setattr(mod, attr, wrapped)


class ProgressListener(StreamingQueryListener):
    """Collects every micro-batch progress of the run's streaming
    queries, keyed by the (workload, pass, query) active when the
    stream started (start is delivered synchronously)."""

    def __init__(self, tracer: Tracer):
        super().__init__()
        self.tracer = tracer
        self.lock = threading.Lock()
        self.ctx_of: dict[str, tuple] = {}    # stream run id -> ctx
        self.names: set[str] = set()
        self.progress: list[tuple[tuple, dict]] = []
        self.running: set[str] = set()

    def onQueryStarted(self, event):
        with self.lock:
            self.ctx_of[str(event.runId)] = self.tracer.ctx
            self.running.add(str(event.runId))
            if event.name:
                self.names.add(event.name)

    def onQueryProgress(self, event):
        p = event.progress
        rec = {
            "input_rows": p.numInputRows,
            "duration_ms": dict(p.durationMs),
            "state_rows": sum(op.numRowsTotal for op in p.stateOperators),
            "state_bytes": sum(op.memoryUsedBytes
                               for op in p.stateOperators),
        }
        with self.lock:
            self.progress.append((self.ctx_of.get(str(p.runId), ()),
                                  rec))

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        with self.lock:
            self.running.discard(str(event.runId))

    def drain(self, timeout: float = 10.0) -> None:
        """Wait until every started stream's terminate event arrived, so
        all of its progress events have been delivered."""
        deadline = time.time() + timeout
        while time.time() < deadline:
            with self.lock:
                if not self.running:
                    return
            time.sleep(0.02)


_PLAN_NODE = re.compile(r"^[\s:|+\-]*(?:\*\(\d+\)\s*)?(\w+)")


def plan_counts(plan_text: str) -> tuple[int, int]:
    """(exchanges, file scans) among the nodes of a physical plan."""
    exchanges = scans = 0
    for line in plan_text.splitlines():
        m = _PLAN_NODE.match(line)
        if not m:
            continue
        node = m.group(1)
        if node in ("Exchange", "BroadcastExchange", "ReusedExchange"):
            exchanges += 1
        elif node == "FileScan":
            scans += 1
    return exchanges, scans


@dataclass
class JobStats:
    submitted: float        # epoch seconds
    stages: set[int] = field(default_factory=set)


def _event_lines(log_dir: str, app_id: str):
    """Lines of one application's event log: a single file, or the
    numbered parts of a rolling (v2) log."""
    single = os.path.join(log_dir, app_id)
    if os.path.exists(single):
        paths = [single]
    else:
        v2 = os.path.join(log_dir, f"eventlog_v2_{app_id}")
        parts = [p for p in os.listdir(v2) if p.startswith("events_")]
        paths = [os.path.join(v2, p) for p in
                 sorted(parts, key=lambda p: int(p.split("_")[1]))]
    for path in paths:
        with open(path) as fh:
            yield from fh


def read_event_log(log_dir: str, app_id: str
                   ) -> tuple[dict[int, JobStats],
                              dict[int, dict[str, float]]]:
    """Jobs (submission time, stage ids) and, per completed stage, task
    counts and summed task metrics from one application's event log."""
    jobs: dict[int, JobStats] = {}
    stages: dict[int, dict[str, float]] = defaultdict(
        lambda: defaultdict(float))
    completed: set[int] = set()
    for line in _event_lines(log_dir, app_id):
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jobs[ev["Job ID"]] = JobStats(ev["Submission Time"] / 1000,
                                          set(ev["Stage IDs"]))
        elif kind == "SparkListenerStageCompleted":
            completed.add(ev["Stage Info"]["Stage ID"])
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            s = stages[ev["Stage ID"]]
            s["tasks"] += 1
            s["run_s"] += m.get("Executor Run Time", 0) / 1e3
            s["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            s["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            s["result_b"] += m.get("Result Size", 0)
            s["spill_b"] += (m.get("Memory Bytes Spilled", 0)
                             + m.get("Disk Bytes Spilled", 0))
            s["input_b"] += (m.get("Input Metrics") or {}).get(
                "Bytes Read", 0)
            rd = m.get("Shuffle Read Metrics") or {}
            s["shuffle_read_b"] += (rd.get("Remote Bytes Read", 0)
                                    + rd.get("Local Bytes Read", 0))
            s["shuffle_write_b"] += (m.get("Shuffle Write Metrics")
                                     or {}).get("Shuffle Bytes Written",
                                                0)
    return jobs, {sid: dict(v) for sid, v in stages.items()
                  if sid in completed}


def codegen_fallbacks(log_path: str) -> int:
    """Whole-stage codegen failures the JVM logged during the run."""
    with open(log_path, errors="replace") as fh:
        return sum(1 for line in fh
                   if "Failed to compile" in line
                   or "Whole-stage codegen disabled" in line)
