"""Spans, self time and the percentile rule.

Spans are recorded only around calls the benchmark itself makes
(workload -> pass -> query -> build/action, stream -> phase), plus
spans derived afterwards from Spark's own progress reports (trigger
-> progress phases). They stay in memory until the run ends.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import math
import time

MIN_BEYOND = 10


def percentile(values: list[float], q: float) -> tuple[float | None, int]:
    """(value, sample count) of the ``q`` quantile (0 < q < 1, linear
    interpolation between closest ranks). The value is None unless at
    least ``MIN_BEYOND`` samples lie beyond the percentile, that is
    unless ``n * (1 - q) >= 10``."""
    n = len(values)
    if n == 0 or math.floor(n * (1.0 - q) + 1e-9) < MIN_BEYOND:
        return None, n
    xs = sorted(values)
    pos = q * (n - 1)
    lo = int(math.floor(pos))
    hi = min(lo + 1, n - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo), n


def covered(intervals: list[tuple[float, float]], start: float, end: float) -> float:
    """Length of [start, end] covered by the union of ``intervals``."""
    clipped = sorted((max(a, start), min(b, end)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> its duration minus the part of it that its direct
    children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"])
        - covered(children.get(s["id"], []), s["start"], s["end"])
        for s in spans
    }


class Tracer:
    """In-memory span recorder. Disabled, ``span`` costs one branch."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sid = next(self._ids)
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        start = time.time()
        try:
            yield sid
        finally:
            self._stack.pop()
            self.spans.append({"id": sid, "parent": parent, "name": name,
                               "start": start, "end": time.time(), **attrs})

    def add(self, name: str, start: float, end: float, parent: int | None, **attrs) -> int:
        """Record a span measured elsewhere (times in epoch seconds)."""
        sid = next(self._ids)
        if self.enabled:
            self.spans.append({"id": sid, "parent": parent, "name": name,
                               "start": start, "end": end, **attrs})
        return sid

    def dump(self, path: str) -> None:
        st = self_times(self.spans)
        out = [dict(s, duration_s=s["end"] - s["start"], self_s=st[s["id"]])
               for s in sorted(self.spans, key=lambda s: (s["start"], s["id"]))]
        with open(path, "w") as f:
            json.dump(out, f, indent=0)
