"""Spans, self time and percentiles for the benchmark's own accounting.

A span is one timed call into a layer: a name, a start and end on the
wall clock (``time.time()``, the clock Spark's event log also uses), the
id of the span that caused it and the run id. Spans live in memory and are
written out once, when the run ends.
"""

from __future__ import annotations

import contextlib
import json
import math
import time
from dataclasses import asdict, dataclass, field
from pathlib import Path

import numpy as np


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    attrs: dict = field(default_factory=dict)
    #: CPU seconds the process tree used during the span, for spans opened
    #: with ``cpu=True`` on a tracer that has a CPU clock; else NaN
    cpu: float = math.nan

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Collects spans. ``on_enter``/``on_exit`` hooks let the caller tag
    work started inside a span (the benchmark sets a Spark local property
    so jobs carry the span id). ``cpu_clock``, a function returning CPU
    seconds, is read around the spans opened with ``cpu=True``."""

    def __init__(self, run_id: str, on_enter=None, on_exit=None, cpu_clock=None):
        self.run_id = run_id
        self.cpu_clock = cpu_clock
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._on_enter = on_enter
        self._on_exit = on_exit

    @contextlib.contextmanager
    def span(self, name: str, *, cpu: bool = False, **attrs):
        # the CPU clock is read outside the wall-clock window, so reading
        # it does not add to the span's duration
        clock = self.cpu_clock if cpu else None
        cpu0 = clock() if clock else math.nan
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        sp = Span(sid, name, time.time(), math.nan, parent, self.run_id, attrs)
        self.spans.append(sp)
        self._stack.append(sid)
        if self._on_enter:
            self._on_enter(sp)
        try:
            yield sp
        finally:
            sp.end = time.time()
            if clock:
                sp.cpu = clock() - cpu0
            self._stack.pop()
            if self._on_exit:
                self._on_exit(self.spans[self._stack[-1]] if self._stack else None)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self, path: Path) -> None:
        path.write_text("\n".join(json.dumps(asdict(s)) for s in self.spans) + "\n")


def union_length(intervals, lo: float = -math.inf, hi: float = math.inf) -> float:
    """Total length covered by ``intervals`` (pairs), clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
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


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> its duration minus the part of it its children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.id: s.dur - union_length(kids.get(s.id, ()), s.start, s.end)
        for s in spans
    }


#: a tail percentile needs at least this many samples beyond it
MIN_BEYOND = 10


def percentile(values, q: float) -> float:
    """The ``q`` quantile (0 < q < 1, nearest rank) of ``values``.

    A tail quantile is only reported when at least ``MIN_BEYOND`` samples
    lie beyond it; with fewer it raises ``ValueError`` rather than print a
    number that one outlier decides."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    rank = max(1, math.ceil(q * n - 1e-9))  # the epsilon absorbs float error in q * n
    if q > 0.5 and n - rank < MIN_BEYOND:
        raise ValueError(f"p{q * 100:g} needs {MIN_BEYOND} samples beyond it, got {n - rank} of {n}")
    return xs[rank - 1]


def hd_quantile(values, q: float) -> float:
    """The Harrell-Davis estimate of the ``q`` quantile: the mean of all
    order statistics weighted by how likely each is to be the ``q``
    quantile, that is by the Beta(q(n+1), (1-q)(n+1)) mass of its rank's
    slice of [0, 1]. When samples fall in clusters (a mix of operation
    kinds), the nearest-rank quantile jumps from one cluster to the next as
    a few samples move; this estimate moves with them smoothly. The same
    rule as ``percentile`` decides whether there are enough samples."""
    percentile(values, q)
    xs = np.sort(np.asarray(values, dtype=float))
    n = len(xs)
    if n == 1:
        return float(xs[0])
    a, b = q * (n + 1), (1 - q) * (n + 1)
    steps = 64  # integration steps per rank
    t = np.linspace(0.0, 1.0, steps * n + 1)
    with np.errstate(divide="ignore", invalid="ignore"):
        log_pdf = np.nan_to_num((a - 1) * np.log(t) + (b - 1) * np.log1p(-t), nan=-np.inf)
    pdf = np.exp(log_pdf - log_pdf.max())
    cdf = np.concatenate(([0.0], np.cumsum((pdf[1:] + pdf[:-1]) / 2)))
    weights = np.diff(cdf[::steps] / cdf[-1])
    return float(weights @ xs)
