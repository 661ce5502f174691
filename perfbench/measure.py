"""Measurement helpers: operation log with failure accounting, percentiles,
and in-memory trace spans with per-layer self time."""

from __future__ import annotations

import contextlib
import json
import math
import statistics
import time

MIN_BEYOND = 10  # samples that must lie beyond a reported percentile


def percentile(samples: list[float], p: float) -> float | None:
    """Nearest-rank ``p``-th percentile, or None when fewer than
    ``MIN_BEYOND`` samples lie beyond it."""
    n = len(samples)
    rank = math.ceil(p / 100.0 * n)
    if n == 0 or n - rank < MIN_BEYOND:
        return None
    return sorted(samples)[rank - 1]


def tail_percentile(samples: list[float], candidates=(99.9, 99.0, 95.0, 90.0)) -> tuple[float, float] | None:
    """(p, value) for the highest candidate percentile the sample supports."""
    for p in candidates:
        v = percentile(samples, p)
        if v is not None:
            return p, v
    return None


class OpLog:
    """Per-operation latencies. A failed operation (raised, or its output
    disagreed with the oracle) is stored as an infinite latency, so it
    counts against every latency limit and every percentile."""

    def __init__(self) -> None:
        self.latency: list[float] = []

    def ok(self, seconds: float) -> int:
        self.latency.append(seconds)
        return len(self.latency) - 1

    def error(self) -> int:
        self.latency.append(math.inf)
        return len(self.latency) - 1

    def mismatch(self, i: int) -> None:
        self.latency[i] = math.inf

    @property
    def attempted(self) -> int:
        return len(self.latency)

    @property
    def failed(self) -> int:
        return sum(1 for x in self.latency if math.isinf(x))

    def median(self) -> float:
        return statistics.median(self.latency)


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


class Tracer:
    """Spans kept in memory: name, start, end, parent span, request id.
    ``active`` switches recording per operation, so a traced run can
    interleave untraced operations and measure the tracing overhead."""

    def __init__(self, active: bool) -> None:
        self.active = active
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def span(self, name: str, request: int | None = None):
        if not self.active:
            return contextlib.nullcontext()
        return self._span(name, request)

    @contextlib.contextmanager
    def _span(self, name: str, request: int | None):
        parent = self._stack[-1] if self._stack else None
        if request is None and parent is not None:
            request = self.spans[parent]["request"]
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": parent, "request": request}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def self_times(self) -> dict[str, float]:
        """Seconds per layer (first dotted component of the span name) not
        covered by the span's children."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s, c in zip(self.spans, child):
            layer = s["name"].split(".")[0]
            out[layer] = out.get(layer, 0.0) + (s["end"] - s["start"]) - c
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)

