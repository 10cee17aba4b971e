"""In-memory spans recorded around the benchmark's calls into each layer.

A span is {"run_id", "id", "parent", "name", "start", "end"} with start and
end in epoch seconds.  Spans of one benchmark run share its run_id; each
phase process prefixes its span ids, so ids are unique across the run.
Spans are kept in memory and written once, when the phase ends.  With
tracing off `span` returns a shared no-op context and records nothing.
"""

from __future__ import annotations

import contextlib
import json
import time
import traceback

SPAN_KEYS = ("run_id", "id", "parent", "name", "start", "end")


class Tracer:
    def __init__(self, run_id: str, prefix: str, enabled: bool,
                 root_parent: str | None = None):
        self.run_id = run_id
        self.prefix = prefix
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[str] = [root_parent] if root_parent else []
        self._n = 0
        self._noop = contextlib.nullcontext()

    def span(self, name: str):
        return self._span(name) if self.enabled else self._noop

    @contextlib.contextmanager
    def step(self, name: str, steps: dict):
        """A span that also adds its wall seconds to steps[name] whether or
        not tracing is on (the run's coarse time budget)."""
        t0 = time.perf_counter()
        try:
            with self.span(name):
                yield
        finally:
            steps[name] = steps.get(name, 0.0) + time.perf_counter() - t0

    @contextlib.contextmanager
    def _span(self, name: str):
        sid = f"{self.prefix}{self._n}"
        self._n += 1
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            self._stack.pop()
            self.spans.append({"run_id": self.run_id, "id": sid,
                               "parent": parent, "name": name,
                               "start": start, "end": end})


class Ops:
    """Counts operations attempted and failed.  An operation that raises is
    recorded with its traceback and the run goes on where it can."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def run(self, name: str, fn, required: bool = False):
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with self.tracer.span(name):
                value = fn()
        except Exception:
            self.failed += 1
            self.errors.append(f"{name}: {traceback.format_exc()}")
            if required:
                raise
            return None, time.perf_counter() - t0
        return value, time.perf_counter() - t0


def write_spans(path: str, spans: list[dict]) -> None:
    with open(path, "w") as f:
        for s in spans:
            f.write(json.dumps(s) + "\n")


def check_spans(spans: list[dict]) -> list[str]:
    """Schema problems in a run's spans; empty when they are well formed:
    every key present, one run_id, unique ids, end >= start, and every
    parent names a span of the run that encloses the child."""
    problems = []
    by_id = {}
    for s in spans:
        if tuple(sorted(s)) != tuple(sorted(SPAN_KEYS)):
            problems.append(f"keys {sorted(s)}")
            continue
        if s["id"] in by_id:
            problems.append(f"duplicate id {s['id']}")
        by_id[s["id"]] = s
        if s["end"] < s["start"]:
            problems.append(f"{s['id']} ends before it starts")
    if len({s.get("run_id") for s in spans}) > 1:
        problems.append("more than one run_id")
    for s in by_id.values():
        p = s["parent"]
        if p is None:
            continue
        if p not in by_id:
            problems.append(f"{s['id']} has unknown parent {p}")
        elif not (by_id[p]["start"] <= s["start"] and s["end"] <= by_id[p]["end"]):
            problems.append(f"{s['id']} lies outside parent {p}")
    return problems
