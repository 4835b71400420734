"""Span recorder, runtime wraps and Spark event-log parsing for the
traced run.

Spans are recorded from the benchmark's side of each layer boundary: the
wraps below replace module attributes of ``index.build`` and
``query.engine`` for the life of a ``Tracer`` and put the originals back on
``restore``. The program's modules are not edited, and calls made inside a
module through its own globals (``refresh_index`` -> ``_run_stage_b``) go
through the wraps too.

A span has a name, start and end (``time.time()`` seconds), the index of
its parent span and the request id current when it opened. Spans stay in
memory and are written as JSON when the run ends. Self time is a span's
duration minus the part of it that its child spans cover.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)
        self.request: str | None = None
        self.enabled = True  # wraps pass straight through while False
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        rec = {
            "name": name,
            "start": time.time(),
            "end": None,
            "parent": stack[-1] if stack else None,
            "request": self.request,
        }
        self.spans.append(rec)
        stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()

    def count(self, name: str, value: float = 1) -> None:
        self.counts[name] += value

    def wrap(self, owner, attr: str, name: str, before=None) -> None:
        """Replace ``owner.attr`` by a wrapper that records span ``name``
        around each call; ``before(*args, **kwargs)`` runs first (counters)."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if not self.enabled:
                return orig(*args, **kwargs)
            if before is not None:
                before(*args, **kwargs)
            with self.span(name):
                return orig(*args, **kwargs)

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def restore(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    def named(
        self, name: str, parent_name: str | None = None, t0: float = 0.0, t1: float = float("inf")
    ) -> list[int]:
        """Indexes of closed spans called ``name`` that started in [t0, t1],
        optionally only those whose parent is called ``parent_name``."""
        out = []
        for i, s in enumerate(self.spans):
            if s["name"] != name or s["end"] is None or not t0 <= s["start"] <= t1:
                continue
            if parent_name is not None:
                p = s["parent"]
                if p is None or self.spans[p]["name"] != parent_name:
                    continue
            out.append(i)
        return out

    def total(
        self, name: str, parent_name: str | None = None, t0: float = 0.0, t1: float = float("inf")
    ) -> float:
        return sum(duration(self.spans[i]) for i in self.named(name, parent_name, t0, t1))

    def dump(self, path: str, extra: dict | None = None) -> None:
        selfs = self_times(self.spans)
        doc = {
            "spans": [dict(s, self=selfs[i]) for i, s in enumerate(self.spans)],
            "counts": dict(self.counts),
        }
        doc.update(extra or {})
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
        with open(path, "w") as f:
            json.dump(doc, f, indent=1, sort_keys=True)


def duration(span: dict) -> float:
    return span["end"] - span["start"]


def self_times(spans: list[dict]) -> list[float]:
    """Per span: its duration minus the union of its direct children's
    intervals, each clipped to the parent's interval."""
    kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None and s["end"] is not None:
            kids[s["parent"]].append((s["start"], s["end"]))
    out = []
    for i, s in enumerate(spans):
        if s["end"] is None:
            out.append(0.0)
            continue
        covered, cur_a, cur_b = 0.0, None, None
        for a, b in sorted(kids.get(i, [])):
            a, b = max(a, s["start"]), min(b, s["end"])
            if b <= a:
                continue
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    covered += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            covered += cur_b - cur_a
        out.append(duration(s) - covered)
    return out


# ------------------------------------------------------------------ event log


def event_log_conf(directory: str) -> dict[str, str]:
    """``get_spark(extra_conf=...)`` settings that make Spark write a plain
    JSON-lines event log under ``directory``."""
    os.makedirs(directory, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(directory),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def parse_event_log(directory: str) -> list[dict]:
    """Jobs from the event log(s) under ``directory``: id, submit and end
    time (epoch ms), and task metrics summed over the job's stages."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for fname in sorted(os.listdir(directory)):
        with open(os.path.join(directory, fname)) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    jobs[jid] = {
                        "id": jid,
                        "submit_ms": ev.get("Submission Time", 0),
                        "end_ms": None,
                        "tasks": 0,
                        "run_ms": 0,
                        "cpu_ns": 0,
                        "gc_ms": 0,
                        "shuffle_write_bytes": 0,
                    }
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = jid
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end_ms"] = ev.get("Completion Time")
                elif kind == "SparkListenerTaskEnd":
                    job = jobs.get(stage_job.get(ev.get("Stage ID"), -1))
                    metrics = ev.get("Task Metrics") or {}
                    if job is None:
                        continue
                    job["tasks"] += 1
                    job["run_ms"] += metrics.get("Executor Run Time", 0)
                    job["cpu_ns"] += metrics.get("Executor CPU Time", 0)
                    job["gc_ms"] += metrics.get("JVM GC Time", 0)
                    sw = metrics.get("Shuffle Write Metrics") or {}
                    job["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
    return sorted(jobs.values(), key=lambda j: j["id"])


def jobs_within(jobs: list[dict], start_s: float, end_s: float) -> list[dict]:
    """Jobs submitted inside the wall-clock window [start_s, end_s]."""
    lo, hi = start_s * 1000.0, end_s * 1000.0
    return [j for j in jobs if lo <= j["submit_ms"] <= hi]
