"""Spark-free machinery of the benchmark: seeded schedules, percentiles,
failure accounting, output checksums and trace spans.

Kept apart from the Spark-facing code so the tests in ``test_harness.py``
run in milliseconds without a JVM.
"""

from __future__ import annotations

import math
import random
from dataclasses import dataclass, field

import numpy as np

# A percentile is reported only when at least this many samples lie
# beyond it; a p90 therefore needs 100 samples.
MIN_BEYOND = 10


# ---------------------------------------------------------------------------
# Seeded schedules
# ---------------------------------------------------------------------------


def pass_order(names: list[str], seed: int, pass_no: int) -> list[str]:
    """The query order of one pass: a permutation of ``names`` that
    depends only on ``seed`` and ``pass_no``."""
    order = list(names)
    random.Random(f"{seed}/{pass_no}").shuffle(order)
    return order


def split_batches(n_rows: int, n_batches: int, seed: int) -> list[list[int]]:
    """Split row indices ``0..n_rows-1`` into ``n_batches`` micro-batches
    of near-equal size, after a permutation seeded by ``seed``. Every row
    lands in exactly one batch."""
    if n_batches < 1 or n_rows < n_batches:
        raise ValueError(f"cannot split {n_rows} rows into {n_batches} batches")
    idx = np.random.default_rng(seed).permutation(n_rows).tolist()
    bounds = [round(i * n_rows / n_batches) for i in range(n_batches + 1)]
    return [idx[bounds[i] : bounds[i + 1]] for i in range(n_batches)]


# ---------------------------------------------------------------------------
# Percentiles and accounting
# ---------------------------------------------------------------------------


def samples_needed(q: float) -> int:
    """Smallest sample count with ``MIN_BEYOND`` samples beyond the
    ``q``-th percentile."""
    return math.ceil(MIN_BEYOND / (1.0 - q / 100.0) - 1e-9)


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank ``q``-th percentile of ``values``. Raises
    ``ValueError`` when fewer than ``MIN_BEYOND`` samples lie beyond it,
    because such a tail is one or two samples and not a percentile."""
    n = len(values)
    if n < samples_needed(q):
        raise ValueError(f"p{q:g} needs {samples_needed(q)} samples, got {n}")
    rank = max(1, math.ceil(q / 100.0 * n))
    return sorted(values)[rank - 1]


def highest_percentile(values: list[float], candidates=(99, 95, 90, 75, 50)):
    """The highest of ``candidates`` that ``values`` supports, with its
    value, as ``(q, value)``; ``None`` when none is supported."""
    for q in sorted(candidates, reverse=True):
        if len(values) >= samples_needed(q):
            return q, percentile(values, q)
    return None


@dataclass
class Tally:
    """Operations attempted and failed. An operation fails when it
    raises or when its output differs from the expected output; the
    reason is kept so the run can report it."""

    attempted: int = 0
    failed: int = 0
    reasons: dict[str, str] = field(default_factory=dict)

    def ok(self) -> None:
        self.attempted += 1

    def fail(self, name: str, reason: str) -> None:
        self.attempted += 1
        self.failed += 1
        self.reasons.setdefault(name, reason[:300])

    @property
    def failed_frac(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0


def compare_checksum(got: tuple[int, int], expected) -> str | None:
    """``None`` when ``got`` (row count, order-insensitive hash sum)
    equals ``expected``; otherwise a one-line description of the
    difference. A query with no recorded expectation is a mismatch."""
    if expected is None:
        return "no expected checksum recorded"
    exp = (int(expected[0]), int(expected[1]))
    if tuple(got) == exp:
        return None
    if got[0] != exp[0]:
        return f"row count {got[0]} != expected {exp[0]}"
    return f"hash sum {got[1]} != expected {exp[1]} over {got[0]} rows"


# ---------------------------------------------------------------------------
# Spans
# ---------------------------------------------------------------------------


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    trace: int
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


def covered(intervals, lo: float, hi: float) -> float:
    """Length of ``[lo, hi]`` covered by the union of ``intervals``."""
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


class Tracer:
    """In-memory span store. Spans are appended as operations finish and
    read back when the run ends; nothing is written out during the run."""

    def __init__(self) -> None:
        self.spans: list[Span] = []

    def add(self, name, start, end, parent=None, trace=0, **attrs) -> int:
        self.spans.append(Span(name, start, end, parent, trace, attrs))
        return len(self.spans) - 1

    def self_time_by_name(self) -> dict[str, float]:
        """Total self time per span name: each span's duration minus the
        part of it its children cover (overlapping children count once)."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append((s.start, s.end))
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            own = s.dur - covered(kids.get(i, []), s.start, s.end)
            out[s.name] = out.get(s.name, 0.0) + own
        return out
