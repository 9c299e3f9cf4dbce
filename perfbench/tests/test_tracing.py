"""The event-log fold and the span bookkeeping, against a small recorded log.

``data/eventlog_small.jsonl`` is a trimmed Spark 4.1 event log of one
``build_index`` call: job 0 untagged, jobs 1-3 in span 1 (a parquet read
and the input repartition), jobs 4-9 in span 2 (invert, pack, stats).

Run: ``python3 -m pytest perfbench/tests -q``
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))

from tracing import GROUP_PREFIX, Span, Tracer, fold, read_events, rollup, union_length  # noqa: E402

LOG = str(HERE / "data" / "eventlog_small.jsonl")


def _spans() -> list[Span]:
    # span 0 encloses the whole recorded build; spans 1 and 2 are its
    # children, timed around their jobs (epoch ms from the log)
    root = Span(0, "index.build_index", None, "r", 1792225161000.0, 1792225172500.0)
    a = Span(1, "read", 0, "r", 1792225162000.0, 1792225162560.0)
    b = Span(2, "invert_pack", 0, "r", 1792225162580.0, 1792225172000.0)
    return [root, a, b]


def test_fold_attributes_jobs_and_tasks_to_their_span():
    stats = fold(read_events(LOG), _spans())
    assert stats[0].counters["jobs"] == 0  # job 0 carries no span group
    assert stats[1].counters["jobs"] == 3
    assert stats[2].counters["jobs"] == 6
    assert stats[1].counters["tasks"] == 28
    assert stats[2].counters["tasks"] == 42
    assert stats[1].counters["exec_run_ms"] == 958
    assert stats[2].counters["exec_run_ms"] == 35679


def test_fold_reads_python_worker_accumulables():
    stats = fold(read_events(LOG), _spans())
    assert stats[1].counters["python_run_ms"] == 0
    assert stats[2].counters["python_run_ms"] == 30765
    assert stats[2].counters["python_bytes"] == 63401616
    assert stats[2].counters["shuffle_write_bytes"] > 0


def test_fold_splits_python_stages_by_operator():
    stages = fold(read_events(LOG), _spans())[2].stages
    assert set(stages) == {"MapInArrow", "MapInPandas"}
    total = sum(s["python_run_ms"] for s in stages.values())
    assert total == 30765
    assert all(s["exec_run_ms"] >= s["python_run_ms"] for s in stages.values())


def test_fold_ignores_other_job_groups():
    events = read_events(LOG)
    for e in events:
        props = e.get("Properties") or {}
        if props.get("spark.jobGroup.id"):
            props["spark.jobGroup.id"] = "someone-else"
    stats = fold(events, _spans())
    assert all(s.counters["jobs"] == 0 and s.counters["tasks"] == 0 for s in stats.values())


def test_union_length_merges_and_clips():
    assert union_length([], 0, 10) == 0
    assert union_length([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert union_length([(-5, 2), (9, 20)], 0, 10) == 3
    assert union_length([(0, 10), (2, 3)], 0, 10) == 10
    assert union_length([(11, 12)], 0, 10) == 0


def test_rollup_self_time_and_inclusive_counters():
    spans = _spans()
    stats = fold(read_events(LOG), spans)
    roll = rollup(spans, stats)
    # parent counters include the children's
    assert roll[0]["jobs"] == 9 and roll[0]["tasks"] == 70
    # the root is covered by its children; self time is the rest
    root, a, b = spans
    covered = union_length([(a.start_ms, a.end_ms), (b.start_ms, b.end_ms)],
                           root.start_ms, root.end_ms)
    assert roll[0]["driver_ms"] == pytest.approx(root.wall_ms - covered)
    # a leaf's self time is its wall minus its own jobs' submit->end time
    jobs_b = stats[2].job_intervals
    assert len(jobs_b) == 6
    assert roll[2]["driver_ms"] == pytest.approx(
        b.wall_ms - union_length(jobs_b, b.start_ms, b.end_ms))
    assert 0 <= roll[2]["driver_ms"] < b.wall_ms


class _FakeContext:
    def __init__(self):
        self.calls = []

    def setJobGroup(self, gid, desc):
        self.calls.append(("group", gid, desc))

    def setLocalProperty(self, key, value):
        self.calls.append(("prop", key, value))


def test_tracer_nests_spans_and_tags_job_groups():
    sc = _FakeContext()
    tr = Tracer(sc)
    with tr.span("outer", request="q1") as o:
        with tr.span("inner") as i:
            pass
    assert i.parent == o.id and i.request == "q1"
    assert o.end_ms >= i.end_ms >= i.start_ms >= o.start_ms
    groups = [c[1] for c in sc.calls if c[0] == "group"]
    # outer, inner, then back to outer when inner ends
    assert groups == [f"{GROUP_PREFIX}{o.id}", f"{GROUP_PREFIX}{i.id}", f"{GROUP_PREFIX}{o.id}"]
    assert sc.calls[-1] == ("prop", "spark.job.description", None)


def test_tracer_without_context_only_records():
    tr = Tracer()
    with tr.span("a"):
        with tr.span("b"):
            pass
    assert [s.name for s in tr.spans] == ["a", "b"]
    assert tr.spans[1].parent == 0
