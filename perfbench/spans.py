"""In-memory spans, self time and the percentile rule.

A span is one call into a layer of the program, recorded from the
benchmark side: name (the layer), start, end, the span that caused it,
and a request id shared by every span of one view, cycle or event
batch. Spans stay in memory and are written out once, at the end.
With tracing off the spans are still timed (the workloads read their
durations) but nothing is recorded and no Spark job group is set.
"""

from __future__ import annotations

import itertools
import json
import math
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    request: str | None = None

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Span recorder. When ``spark`` is given, every recorded span is
    also the Spark job group of the calls made inside it, so event-log
    jobs map back to the innermost span that launched them."""

    def __init__(self, enabled: bool, spark=None):
        self.enabled = enabled
        self.spark = spark
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _set_group(self, span: Span | None) -> None:
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        if span is None:
            sc._jsc.clearJobGroup()
        else:
            sc.setJobGroup(f"pb{span.id}", span.name)

    @contextmanager
    def span(self, name: str, request: str | None = None):
        stack = self._stack()
        parent = stack[-1] if stack else None
        if request is None and parent is not None:
            request = parent.request
        s = Span(
            id=next(self._ids),
            name=name,
            start=time.perf_counter(),
            parent=parent.id if parent else None,
            request=request,
        )
        if not self.enabled:
            try:
                yield s
            finally:
                s.end = time.perf_counter()
            return
        stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()
            self._set_group(stack[-1] if stack else None)
            with self._lock:
                self.spans.append(s)

    def record(self, name: str, start: float, end: float, request: str | None = None) -> None:
        """Record a span timed before the tracer existed."""
        if self.enabled:
            s = Span(next(self._ids), name, start, end, None, request)
            with self._lock:
                self.spans.append(s)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda x: x.start):
                f.write(json.dumps(asdict(s)) + "\n")


SPAN_PROBE = 200  # empty spans timed per setting by span_cost


def span_cost(spark) -> float:
    """Seconds one recorded span, with its Spark job group, adds over an
    unrecorded one: the same empty spans timed with recording off, then
    on."""
    took = {}
    for enabled in (False, True):
        tracer = Tracer(enabled, spark)
        start = time.perf_counter()
        for _ in range(SPAN_PROBE):
            with tracer.span("bench.probe"):
                pass
        took[enabled] = time.perf_counter() - start
    return (took[True] - took[False]) / SPAN_PROBE


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total = 0.0
    cur_lo = cur_hi = None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[str, float]:
    """Per layer name: the summed duration of its spans minus the part
    of each span's interval that its child spans cover."""
    children: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        kids = [(c.start, c.end) for c in children.get(s.id, ())]
        out[s.name] += s.dur - covered(kids, s.start, s.end)
    return dict(out)


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated ``q``-quantile (0 <= q <= 1)."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def beyond(values: list[float], q: float) -> int:
    """Samples strictly above the ``q``-quantile."""
    p = percentile(values, q)
    return sum(1 for v in values if v > p)


TAIL_QUANTILES = (0.99, 0.95, 0.9, 0.75, 0.5)


def tail_quantile(values: list[float]) -> float | None:
    """The highest of ``TAIL_QUANTILES`` with at least ten samples
    beyond it, or None when the sample supports none."""
    for q in TAIL_QUANTILES:
        if values and beyond(values, q) >= 10:
            return q
    return None
