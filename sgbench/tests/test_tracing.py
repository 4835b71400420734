"""Span recorder: self time on nested spans, wraps, event-log parsing."""

from __future__ import annotations

import json
import types

from sgbench.tracing import Tracer, jobs_within, parse_event_log, self_times


def _span(name, start, end, parent=None):
    return {"name": name, "start": start, "end": end, "parent": parent, "request": None}


def test_self_time_subtracts_the_union_of_direct_children():
    spans = [
        _span("request", 0.0, 10.0),
        _span("a", 1.0, 3.0, 0),
        _span("b", 2.0, 5.0, 0),  # overlaps a: union [1, 5]
        _span("a.inner", 1.5, 2.5, 1),  # grandchild: only a's self time shrinks
        _span("c", 8.0, 12.0, 0),  # runs past its parent: clipped to [8, 10]
    ]
    selfs = self_times(spans)
    assert selfs[0] == 10.0 - 4.0 - 2.0
    assert selfs[1] == 2.0 - 1.0
    assert selfs[2] == 3.0
    assert selfs[3] == 1.0
    assert selfs[4] == 4.0


def test_recorded_spans_nest_and_carry_the_request():
    tr = Tracer()
    tr.request = "single-1"
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    outer, inner = tr.spans
    assert inner["parent"] == 0 and outer["parent"] is None
    assert inner["request"] == outer["request"] == "single-1"
    assert outer["start"] <= inner["start"] <= inner["end"] <= outer["end"]
    assert tr.named("inner", parent_name="outer") == [1]


def test_wrap_records_calls_and_restore_puts_the_original_back():
    mod = types.SimpleNamespace(f=lambda x: x + 1)
    original = mod.f
    tr = Tracer()
    seen = []
    tr.wrap(mod, "f", "mod.f", before=lambda x: seen.append(x))
    assert mod.f(1) == 2 and seen == [1]
    tr.enabled = False
    assert mod.f(2) == 3 and seen == [1]  # disabled: no span, no hook
    assert [s["name"] for s in tr.spans] == ["mod.f"]
    tr.restore()
    assert mod.f is original


def test_event_log_jobs_and_task_metrics(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000, "Stage IDs": [0, 1]},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
            "Executor Run Time": 50, "Executor CPU Time": 40_000_000, "JVM GC Time": 5,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 2048}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {"Executor Run Time": 30}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1200},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 5000, "Stage IDs": [2]},
    ]
    (tmp_path / "app-1").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    jobs = parse_event_log(str(tmp_path))
    assert [j["id"] for j in jobs] == [0, 1]
    j0 = jobs[0]
    assert (j0["tasks"], j0["run_ms"], j0["cpu_ns"], j0["gc_ms"]) == (2, 80, 40_000_000, 5)
    assert j0["shuffle_write_bytes"] == 2048 and j0["end_ms"] == 1200
    assert [j["id"] for j in jobs_within(jobs, 0.9, 2.0)] == [0]
