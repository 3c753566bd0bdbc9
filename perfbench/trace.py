"""Spans around the benchmark's calls into each layer, and the fold of
Spark's event log into per-job-group numbers.

A :class:`Tracer` keeps spans in memory (name, start, end, parent, run
id) and computes self time from them: a span's duration minus the part
of its interval its children cover.  When ``spark`` is given, each span
also sets the Spark job group ``<run_id>/<span name>`` on the calling
thread, so the event log can attribute jobs to layers.  A tracer built
without ``spark`` still times spans, which the untraced runs use for
their own latency samples; only job groups and the event log are
confined to the traced run.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    sid: int
    attrs: dict = field(default_factory=dict)

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


class Tracer:
    def __init__(self, run_id: str, spark=None):
        self.run_id = run_id
        self.spark = spark
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def group(self, name: str) -> str:
        return f"{self.run_id}/{name}"

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        parent = stack[-1] if stack else None
        with self._lock:
            sid = len(self.spans)
            sp = Span(name, time.perf_counter(), 0.0, parent, self.run_id, sid, attrs)
            self.spans.append(sp)
        sc = self.spark.sparkContext if self.spark is not None else None
        if sc is not None:
            sc.setJobGroup(self.group(name), name)
        stack.append(sid)
        try:
            yield sp
        finally:
            stack.pop()
            sp.end = time.perf_counter()
            if sc is not None:
                if stack:
                    sc.setJobGroup(self.group(self.spans[stack[-1]].name), "")
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)

    def wrap(self, name: str, fn):
        """``fn`` with every call inside a span ``name``."""

        def wrapped(*a, **k):
            with self.span(name):
                return fn(*a, **k)

        return wrapped

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def ms(self, name: str) -> list[float]:
        return [s.ms for s in self.named(name)]

    def self_ms(self, sp: Span) -> float:
        """Duration minus the union of the children's intervals, each
        clipped to the parent's."""
        kids = [
            (max(c.start, sp.start), min(c.end, sp.end))
            for c in self.spans if c.parent == sp.sid
        ]
        # union_ms is unit-agnostic: span times are in seconds
        return sp.ms - union_ms([(s, e) for s, e in kids if e > s]) * 1000.0

    def dump(self, path: str) -> None:
        rows = [
            {
                "sid": s.sid, "name": s.name, "parent": s.parent,
                "run_id": s.run_id, "start": s.start, "end": s.end,
                "ms": s.ms, "self_ms": self.self_ms(s), **s.attrs,
            }
            for s in self.spans
        ]
        with open(path, "w") as f:
            json.dump(rows, f, indent=1)


# ------------------------------------------------------------- event log

EVENT_LOG_CONF = {
    "spark.eventLog.enabled": "true",
    # Spark 4 defaults to zstd; no zstd reader is available to Python here
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}


def event_log_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {**EVENT_LOG_CONF, "spark.eventLog.dir": "file://" + os.path.abspath(log_dir)}


def _events(log_dir: str):
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)):
        if not os.path.isfile(path) or path.endswith(".inprogress.tmp"):
            continue
        with open(path) as f:
            for line in f:
                line = line.strip()
                if line:
                    yield json.loads(line)


def union_ms(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``, in their own unit."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return float(total)


def fold_event_log(log_dir: str) -> tuple[dict[str, dict[str, float]], dict[str, list]]:
    """Per job group: jobs, stages and tasks run, the union of stage
    intervals in ms, executor CPU ms, shuffle bytes written, spill
    bytes, GC ms, and Python worker ms / tasks from the MapInPandas and
    ArrowEvalPython SQL metrics.  Jobs without a group fold into
    ``""``.  Also returns each group's stage intervals (epoch ms), so a
    caller can take the union over several groups."""
    job_group: dict[int, str] = {}
    stage_job: dict[int, int] = {}
    out: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    intervals: dict[str, list] = defaultdict(list)
    for e in _events(log_dir):
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            g = (e.get("Properties") or {}).get("spark.jobGroup.id") or ""
            job_group[e["Job ID"]] = g
            out[g]["jobs"] += 1
            for sid in e.get("Stage IDs", []):
                stage_job[sid] = e["Job ID"]
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            g = job_group.get(stage_job.get(info["Stage ID"]), "")
            out[g]["stages"] += 1
            if info.get("Submission Time") and info.get("Completion Time"):
                intervals[g].append((info["Submission Time"], info["Completion Time"]))
        elif kind == "SparkListenerTaskEnd":
            g = job_group.get(stage_job.get(e["Stage ID"]), "")
            m = e.get("Task Metrics") or {}
            acc = out[g]
            acc["tasks"] += 1
            acc["executor_cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
            acc["gc_ms"] += m.get("JVM GC Time", 0)
            acc["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            acc["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            py = [
                a for a in (e.get("Task Info") or {}).get("Accumulables", [])
                if a.get("Name") == "time to run Python workers"
            ]
            if py:
                acc["python_tasks"] += 1
                acc["python_ms"] += sum(float(a.get("Update", 0)) for a in py)
    for g, iv in intervals.items():
        out[g]["stage_union_ms"] = union_ms(iv)
    return {g: dict(v) for g, v in out.items()}, dict(intervals)
