"""Spans recorded from outside the package, and their post-processing.

A ``Tracer`` keeps spans in memory: ``(name, start, end, parent,
iteration)``. ``wrap`` times a callable as a span; ``patch_everywhere``
replaces a public package function in every loaded module that holds
it, so calls are seen wherever the caller looks the name up
(``plans/star.py`` imports ``ranked_ids`` by name, so patching only
``operators.ids`` would miss those calls). ``unpatch`` restores every
replaced name.

``self_times`` is the post-processing: a span's self time is its
duration minus the part of its interval that its child spans cover.
"""

from __future__ import annotations

import functools
import json
import sys
import time
from collections.abc import Callable
from dataclasses import asdict, dataclass


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None
    iteration: int
    jobs: int = 0


class Tracer:
    def __init__(self, enabled: bool, counter: Callable[[], int] | None = None) -> None:
        self.enabled = enabled
        # Read at span start and end (e.g. Spark's next job id); the
        # difference is stored as the span's ``jobs``.
        self.counter = counter
        self.spans: list[Span] = []
        self.iteration = -1
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    def span(self, name: str) -> "_SpanCtx":
        return _SpanCtx(self, name)

    def wrap(self, name: str, fn: Callable) -> Callable:
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        traced.__wrapped_original__ = fn
        return traced

    def patch_everywhere(self, module, attr: str, name: str, prefix: str) -> int:
        """Wrap ``module.attr`` and rebind it in every loaded module
        under ``prefix`` that holds the same function object. Returns
        the number of names rebound."""
        original = getattr(module, attr)
        traced = self.wrap(name, original)
        n = 0
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not (mod_name == prefix or mod_name.startswith(prefix + ".")):
                continue
            for key, value in list(vars(mod).items()):
                if value is original:
                    self._patched.append((mod, key, original))
                    setattr(mod, key, traced)
                    n += 1
        return n

    def unpatch(self) -> None:
        for mod, key, original in reversed(self._patched):
            setattr(mod, key, original)
        self._patched.clear()

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str) -> None:
        self.tracer = tracer
        self.name = name

    def __enter__(self) -> "_SpanCtx":
        t = self.tracer
        if t.enabled:
            self.sid = len(t.spans)
            parent = t._stack[-1] if t._stack else None
            self.c0 = t.counter() if t.counter else 0
            t.spans.append(Span(self.sid, self.name, time.perf_counter(), 0.0, parent, t.iteration))
            t._stack.append(self.sid)
        return self

    def __exit__(self, *exc) -> None:
        t = self.tracer
        if t.enabled:
            span = t.spans[self.sid]
            span.end = time.perf_counter()
            if t.counter:
                span.jobs = t.counter() - self.c0
            t._stack.pop()


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Total length of the union of ``intervals``."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[str, dict[str, float]]:
    """Per span name: ``self_s`` (sum of durations minus the part
    covered by direct children, clipped to the parent's interval),
    ``calls`` (every span), and ``total_s`` and ``jobs`` summed over
    the outermost spans of the name only, so a traced function that
    calls itself, or a traced twin, is not counted twice."""
    by_id = {s.sid: s for s in spans}
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)

    def nested_in_same_name(s: Span) -> bool:
        p = s.parent
        while p is not None:
            if by_id[p].name == s.name:
                return True
            p = by_id[p].parent
        return False

    out: dict[str, dict[str, float]] = {}
    for s in spans:
        dur = s.end - s.start
        kids = [
            (max(c.start, s.start), min(c.end, s.end))
            for c in children.get(s.sid, [])
            if c.end > s.start and c.start < s.end
        ]
        row = out.setdefault(s.name, {"total_s": 0.0, "self_s": 0.0, "calls": 0, "jobs": 0})
        row["self_s"] += dur - _covered(kids)
        row["calls"] += 1
        if not nested_in_same_name(s):
            row["total_s"] += dur
            row["jobs"] += s.jobs
    return out


def overhead(traced_iter_s: float, untraced_iter_s: float) -> dict[str, float]:
    """Tracing overhead of a traced run against an untraced run of the
    same workload: the difference and its share of the untraced time."""
    diff = traced_iter_s - untraced_iter_s
    return {"overhead_s": diff, "overhead_frac": diff / untraced_iter_s}
