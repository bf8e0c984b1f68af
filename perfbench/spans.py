"""Spans around calls into the program, and the Spark counters under them.

A :class:`Tracer` keeps spans in memory (name, parent, start, end) and
tags every Spark job started inside a span with local properties:
``perfbench.span`` (the innermost open span's id), ``perfbench.phase``
(``<workload>/setup``, ``/timed`` or ``/check``) and ``perfbench.op``
(the index of the op, an epoch or a pass, that started it). Spark writes those properties into its event
log with each stage it submits; :func:`read_event_log` reduces the log,
after the session has stopped, into per-stage counters (jobs, tasks,
executor CPU, shuffle bytes, spill bytes, task times). Nothing is
polled while the benchmark times, and the event log has no retention
limit, unlike the in-memory status store (1,000 jobs and stages by
default).
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

SPAN_PROP = "perfbench.span"
PHASE_PROP = "perfbench.phase"
OP_PROP = "perfbench.op"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Span recorder bound to one SparkContext. With ``enabled=False``
    :meth:`span` is a no-op, so untraced runs pay nothing per call;
    :meth:`phase` and :meth:`op` still tag jobs, because the end-to-end
    counters are read per phase and per op."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._phase: str | None = None
        self.scope = ""  # the workload: phases read "<scope>/<phase>"

    @contextmanager
    def phase(self, name: str):
        self._phase = f"{self.scope}/{name}"
        self.sc.setLocalProperty(PHASE_PROP, self._phase)
        try:
            yield
        finally:
            self._phase = None
            self.sc.setLocalProperty(PHASE_PROP, None)

    @contextmanager
    def op(self, index: int):
        self.sc.setLocalProperty(OP_PROP, str(index))
        try:
            yield
        finally:
            self.sc.setLocalProperty(OP_PROP, None)

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans), name, parent, 0.0, attrs={"phase": self._phase, **attrs})
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setLocalProperty(SPAN_PROP, str(s.id))
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self.sc.setLocalProperty(SPAN_PROP, str(parent) if parent is not None else None)

    def wrap(self, name: str, fn):
        """``fn`` run inside a span named ``name``."""

        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def self_times(self) -> dict[int, float]:
        """Span id → duration minus the time its direct children cover
        (children of one span never overlap: the benchmark is single
        threaded)."""
        own = {s.id: s.end - s.start for s in self.spans}
        for s in self.spans:
            if s.parent is not None:
                own[s.parent] -= s.end - s.start
        return own

    def dump(self, path: str, jobs: list[dict], stages: list[dict]) -> None:
        """Write every span, with the Spark counters of the jobs and
        stages it launched itself, as one JSON document."""
        by_span = aggregate(stages, key=lambda st: st["span"], jobs=jobs)
        own = self.self_times()
        out = [
            {
                "id": s.id,
                "name": s.name,
                "parent": s.parent,
                "start": s.start,
                "end": s.end,
                "self_s": own[s.id],
                "attrs": s.attrs,
                "spark": by_span.get(str(s.id), {}),
            }
            for s in self.spans
        ]
        with open(path, "w") as f:
            json.dump({"spans": out}, f)


# -- Spark event log ----------------------------------------------------

_WANTED = (
    b'{"Event":"SparkListenerJobStart"',
    b'{"Event":"SparkListenerStageSubmitted"',
    b'{"Event":"SparkListenerTaskEnd"',
)


def event_log_confs(log_dir: str) -> dict[str, str]:
    """Session settings that make Spark write the uncompressed event log
    :func:`read_event_log` reads."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def read_event_log(log_dir: str) -> tuple[list[dict], list[dict]]:
    """(jobs, stages) of every application log under ``log_dir``. Each
    job is {id, span, phase}; each stage attempt carries its span, phase
    and op plus summed task counters and the list of task run times."""
    jobs: list[dict] = []
    stages: dict[tuple[int, int], dict] = {}
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        files = sorted(glob.glob(os.path.join(path, "*"))) if os.path.isdir(path) else [path]
        for fp in files:
            with open(fp, "rb") as f:
                for line in f:
                    if not line.startswith(_WANTED):
                        continue
                    ev = json.loads(line)
                    kind = ev["Event"]
                    if kind == "SparkListenerJobStart":
                        props = ev.get("Properties") or {}
                        jobs.append(
                            {
                                "id": ev["Job ID"],
                                "span": props.get(SPAN_PROP),
                                "phase": props.get(PHASE_PROP),
                            }
                        )
                    elif kind == "SparkListenerStageSubmitted":
                        info = ev["Stage Info"]
                        props = ev.get("Properties") or {}
                        stages[(info["Stage ID"], info["Stage Attempt ID"])] = {
                            "span": props.get(SPAN_PROP),
                            "phase": props.get(PHASE_PROP),
                            "op": props.get(OP_PROP),
                            "tasks": 0,
                            "cpu_ns": 0,
                            "shuffle_write": 0,
                            "shuffle_read": 0,
                            "spill": 0,
                            "task_ms": [],
                        }
                    else:
                        st = stages.get((ev["Stage ID"], ev["Stage Attempt ID"]))
                        m = ev.get("Task Metrics")
                        if st is None or not m:
                            continue
                        info = ev["Task Info"]
                        sw = m.get("Shuffle Write Metrics") or {}
                        sr = m.get("Shuffle Read Metrics") or {}
                        st["tasks"] += 1
                        st["cpu_ns"] += m.get("Executor CPU Time", 0)
                        st["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
                        st["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get(
                            "Local Bytes Read", 0
                        )
                        st["spill"] += m.get("Memory Bytes Spilled", 0) + m.get(
                            "Disk Bytes Spilled", 0
                        )
                        st["task_ms"].append(info["Finish Time"] - info["Launch Time"])
    return jobs, list(stages.values())


def aggregate(stages: list[dict], key, jobs: list[dict] | None = None) -> dict:
    """Sum stage counters per ``key(stage)``; with ``jobs``, also count
    jobs per the same key. ``task_skew`` is the worst stage's longest
    task over its median task (stages of at least two tasks)."""
    out: dict = defaultdict(
        lambda: {
            "jobs": 0,
            "stages": 0,
            "tasks": 0,
            "executor_cpu_ms": 0.0,
            "shuffle_write_bytes": 0,
            "shuffle_read_bytes": 0,
            "spill_bytes": 0,
            "task_skew": 1.0,
        }
    )
    for st in stages:
        a = out[key(st)]
        a["stages"] += 1
        a["tasks"] += st["tasks"]
        a["executor_cpu_ms"] += st["cpu_ns"] / 1e6
        a["shuffle_write_bytes"] += st["shuffle_write"]
        a["shuffle_read_bytes"] += st["shuffle_read"]
        a["spill_bytes"] += st["spill"]
        if len(st["task_ms"]) >= 2:
            med = statistics.median(st["task_ms"])
            if med > 0:
                a["task_skew"] = max(a["task_skew"], max(st["task_ms"]) / med)
    for j in jobs or ():
        out[key(j)]["jobs"] += 1
    return dict(out)
