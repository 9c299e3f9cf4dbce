"""Spans recorded around library calls, and their fold over a Spark event log.

A :class:`Tracer` keeps spans in memory: name, start, end, parent and
request id. With tracing on it also sets a Spark job group named after
each span, so every job the call launches carries the span's id in its
``spark.jobGroup.id`` property. :func:`fold` reads the run's event log
(uncompressed, non-rolling JSON lines) and adds up job, task,
Python-worker and shuffle metrics per span.

Nothing here starts Spark; :func:`fold` and the helpers are pure functions
so they can be tested against a small recorded log.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

GROUP_PREFIX = "perfbench-span-"

#: per-span counters summed from the event log
COUNTERS = (
    "jobs", "tasks", "exec_run_ms", "exec_cpu_ms", "python_run_ms",
    "python_bytes", "shuffle_write_bytes", "spill_bytes", "gc_ms",
)


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    request: str
    start_ms: float
    end_ms: float | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def wall_ms(self) -> float:
        return self.end_ms - self.start_ms


class Tracer:
    """Records spans; with ``spark_context`` set, tags Spark jobs too."""

    def __init__(self, spark_context=None):
        self.spark_context = spark_context
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, request: str | None = None, **attrs):
        parent = self._stack[-1] if self._stack else None
        req = request or (parent.request if parent else name)
        s = Span(len(self.spans), name, parent.id if parent else None, req,
                 time.time() * 1000.0, attrs=attrs)
        self.spans.append(s)
        self._stack.append(s)
        self._tag(s)
        try:
            yield s
        finally:
            s.end_ms = time.time() * 1000.0
            self._stack.pop()
            self._tag(self._stack[-1] if self._stack else None)

    def _tag(self, s: Span | None) -> None:
        if self.spark_context is None:
            return
        if s is None:
            self.spark_context.setLocalProperty("spark.jobGroup.id", None)
            self.spark_context.setLocalProperty("spark.job.description", None)
        else:
            self.spark_context.setJobGroup(f"{GROUP_PREFIX}{s.id}", s.name)


def read_events(path: str) -> list[dict]:
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def _accum(task_info: dict, name: str) -> float:
    for a in task_info.get("Accumulables", ()):
        if a.get("Name") == name:
            return float(a.get("Update") or 0)
    return 0.0


def _python_ops(stage_info: dict) -> list[str]:
    """Python operator scopes in a stage (``MapInArrow``, ``MapInPandas``...)."""
    ops = []
    for rdd in stage_info.get("RDD Info", ()):
        try:
            scope = json.loads(rdd.get("Scope") or "{}").get("name", "")
        except ValueError:
            scope = ""
        if "Python" in scope or scope.startswith(("MapIn", "FlatMap")):
            ops.append(scope)
    return sorted(set(ops))


@dataclass
class SpanStats:
    counters: dict
    job_intervals: list[tuple[float, float]]
    #: per python operator set of a stage: summed exec/python run ms
    stages: dict


def fold(events: list[dict], spans: list[Span]) -> dict[int, SpanStats]:
    """Event-log metrics attributed to the span whose job group launched them."""
    by_id = {s.id: s for s in spans}
    out = {s.id: SpanStats({c: 0.0 for c in COUNTERS}, [], {}) for s in spans}
    stage_span: dict[int, int] = {}
    stage_ops: dict[int, str] = {}
    job_span: dict[int, int] = {}
    job_submit: dict[int, float] = {}
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            sid = _span_of(e.get("Properties") or {})
            if sid is None or sid not in by_id:
                continue
            job_span[e["Job ID"]] = sid
            job_submit[e["Job ID"]] = float(e["Submission Time"])
            out[sid].counters["jobs"] += 1
            for st in e.get("Stage Infos", ()):
                stage_span.setdefault(st["Stage ID"], sid)
                stage_ops.setdefault(st["Stage ID"], "+".join(_python_ops(st)))
        elif kind == "SparkListenerStageSubmitted":
            sid = _span_of(e.get("Properties") or {})
            st = e["Stage Info"]
            if sid is not None and sid in by_id:
                stage_span[st["Stage ID"]] = sid
            stage_ops[st["Stage ID"]] = "+".join(_python_ops(st))
        elif kind == "SparkListenerJobEnd":
            jid = e["Job ID"]
            if jid in job_span:
                out[job_span[jid]].job_intervals.append(
                    (job_submit[jid], float(e["Completion Time"]))
                )
        elif kind == "SparkListenerTaskEnd":
            sid = stage_span.get(e["Stage ID"])
            if sid is None:
                continue
            c = out[sid].counters
            tm = e.get("Task Metrics") or {}
            info = e.get("Task Info") or {}
            run_ms = float(tm.get("Executor Run Time", 0))
            py_ms = _accum(info, "time to run Python workers")
            c["tasks"] += 1
            c["exec_run_ms"] += run_ms
            c["exec_cpu_ms"] += float(tm.get("Executor CPU Time", 0)) / 1e6
            c["gc_ms"] += float(tm.get("JVM GC Time", 0))
            c["spill_bytes"] += float(tm.get("Memory Bytes Spilled", 0)) + float(
                tm.get("Disk Bytes Spilled", 0)
            )
            c["shuffle_write_bytes"] += float(
                (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            )
            c["python_run_ms"] += py_ms
            c["python_bytes"] += _accum(info, "data sent to Python workers")
            ops = stage_ops.get(e["Stage ID"], "")
            if ops:
                st = out[sid].stages.setdefault(ops, {"exec_run_ms": 0.0, "python_run_ms": 0.0})
                st["exec_run_ms"] += run_ms
                st["python_run_ms"] += py_ms
    return out


def _span_of(props: dict) -> int | None:
    g = props.get("spark.jobGroup.id") or ""
    if not g.startswith(GROUP_PREFIX):
        return None
    try:
        return int(g[len(GROUP_PREFIX):])
    except ValueError:
        return None


def union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def rollup(spans: list[Span], stats: dict[int, SpanStats]) -> dict[int, dict]:
    """Per span: counters summed over the span and its descendants, plus
    ``wall_ms`` and ``driver_ms`` (self time: wall minus the part of the
    span covered by its own jobs or by child spans)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    memo: dict[int, dict] = {}

    def visit(s: Span) -> dict:
        if s.id in memo:
            return memo[s.id]
        st = stats[s.id]
        tot = dict(st.counters)
        kids = children.get(s.id, [])
        for k in kids:
            for c, v in visit(k).items():
                if c in tot:
                    tot[c] += v
        covered = st.job_intervals + [(k.start_ms, k.end_ms) for k in kids]
        tot["wall_ms"] = s.wall_ms
        tot["driver_ms"] = s.wall_ms - union_length(covered, s.start_ms, s.end_ms)
        memo[s.id] = tot
        return tot

    for s in spans:
        visit(s)
    return memo
