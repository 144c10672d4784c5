"""Spans, Spark event-log folding and layer self times for traced runs.

A span records name, start, end, parent and op id. Spans live in
memory and are written out when the run ends. A layer's self time is
its span's duration minus the time its child spans cover; spans of
one thread nest strictly, so that is the duration minus the children's
durations.

The event log is Spark's own JSON-lines record of jobs, stages and
tasks. Jobs are attributed to an op, and to a phase inside it, through
the job group the benchmark sets before each phase
(``op<N>:<phase>``).
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import threading
import time
from collections import defaultdict
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None
    thread: str

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Collects spans when ``enabled``; otherwise every call is a no-op."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.op: int | None = None
        self._local = threading.local()
        self._lock = threading.Lock()  # a stream's thread adds spans too

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        with self._lock:
            idx = len(self.spans)
            self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self.op,
                                   threading.current_thread().name))
        stack.append(idx)
        try:
            yield
        finally:
            stack.pop()
            self.spans[idx].end = time.perf_counter()

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def self_times(self) -> list[float]:
        """Self time of every span, index-aligned with ``spans``."""
        own = [s.dur for s in self.spans]
        for s in self.spans:
            if s.parent is not None:
                own[s.parent] -= s.dur
        return own

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


def instrument(tracer: Tracer, modules, attr: str, name: str) -> None:
    """Replace ``attr`` on each module that binds it with a traced
    wrapper, so calls made by the program's own modules are spanned."""
    for mod in modules:
        fn = getattr(mod, attr, None)
        if fn is not None and not getattr(fn, "__wrapped__", None):
            setattr(mod, attr, tracer.wrap(fn, name))


# ---- event log -------------------------------------------------------

# Task-end metrics summed per job group, from a TaskEnd's "Task Metrics".
TASK_METRICS = {
    "executor_run_ms": lambda m: m.get("Executor Run Time", 0),
    "executor_cpu_ms": lambda m: m.get("Executor CPU Time", 0) / 1e6,  # ns
    "gc_ms": lambda m: m.get("JVM GC Time", 0),
    "spill_bytes": lambda m: m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
    "shuffle_read_bytes": lambda m: sum(
        m.get("Shuffle Read Metrics", {}).get(k, 0) for k in ("Remote Bytes Read", "Local Bytes Read")
    ),
    "shuffle_write_bytes": lambda m: m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0),
}


def fold_event_log(paths: list[str]) -> dict[str, dict[str, float]]:
    """Per job group: jobs, stages, tasks and summed task metrics.

    Reads Spark's uncompressed JSON-lines event log (the files of one
    application, in order) with stdlib ``json``. Stages map to a group
    through the ``JobStart`` event that submitted them; a stage listed
    by two jobs counts for the first."""
    groups: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    stage_group: dict[int, str] = {}
    for path in paths:
        with open(path) as f:
            for line in f:
                _fold_event(json.loads(line), groups, stage_group)
    return {k: dict(v) for k, v in groups.items()}


def _fold_event(ev: dict, groups, stage_group: dict[int, str]) -> None:
    kind = ev.get("Event")
    if kind == "SparkListenerJobStart":
        group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or "<none>"
        groups[group]["jobs"] += 1
        for sid in ev.get("Stage IDs", []):
            stage_group.setdefault(sid, group)
    elif kind == "SparkListenerStageCompleted":
        group = stage_group.get(ev["Stage Info"]["Stage ID"])
        if group is not None:
            groups[group]["stages"] += 1
    elif kind == "SparkListenerTaskEnd":
        group = stage_group.get(ev.get("Stage ID"))
        if group is not None:
            g = groups[group]
            g["tasks"] += 1
            metrics = ev.get("Task Metrics") or {}
            for key, value in TASK_METRICS.items():
                g[key] += value(metrics)


def event_log_files(log_dir: str) -> list[str]:
    """The files of the one application log under ``log_dir``: a plain
    file, or the numbered ``events_<n>_<app>`` parts of a rolling
    ``eventlog_v2_<app>`` directory."""
    names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one application log in {log_dir}, found {names}")
    path = os.path.join(log_dir, names[0])
    if not os.path.isdir(path):
        return [path]
    parts = [n for n in os.listdir(path) if n.startswith("events_")]
    return [os.path.join(path, n) for n in sorted(parts, key=lambda n: int(n.split("_")[1]))]
