"""Pure helpers shared by the benchmark: percentiles, span self time and
operation accounting. No Spark imports, so the unit tests run without a
JVM."""

from __future__ import annotations

import math
import statistics
from dataclasses import dataclass, field

# A tail percentile is reported only when at least this many samples lie
# beyond it; otherwise one slow sample would decide the value.
MIN_BEYOND = 10


def min_samples(q: float) -> int:
    """The fewest samples for which percentile ``q`` (0-100) keeps
    ``MIN_BEYOND`` samples above it."""
    if not 0 < q < 100:
        raise ValueError(f"percentile must be in (0, 100), got {q}")
    return math.ceil(MIN_BEYOND * 100 / (100 - q) - 1e-9)


def percentile(values: list[float], q: float) -> float:
    """Percentile ``q`` of ``values`` by linear interpolation between
    closest ranks (numpy's default). Raises when fewer than
    ``min_samples(q)`` values are given."""
    n = len(values)
    if n < min_samples(q):
        raise ValueError(
            f"p{q:g} needs at least {min_samples(q)} samples to keep "
            f"{MIN_BEYOND} beyond it; got {n}"
        )
    s = sorted(values)
    pos = (n - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, n - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return statistics.median(values)


@dataclass
class Span:
    """One timed call into a layer. ``parent`` is the id of the span that
    was open on the same thread when this one started."""

    id: int
    name: str
    start: float
    end: float
    parent: int | None = None
    req: str | None = None

    @property
    def dur(self) -> float:
        return self.end - self.start


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Total length of the union of ``intervals``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> self time: the span's duration minus the part of its
    interval that its direct children cover (children clipped to the
    parent, overlapping children counted once)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        kids = [
            (max(c.start, s.start), min(c.end, s.end))
            for c in children.get(s.id, ())
            if c.end > s.start and c.start < s.end
        ]
        out[s.id] = s.dur - _covered(kids)
    return out


@dataclass
class Tally:
    """Operations attempted and failed. An operation fails when it raises,
    returns an error status, or when a later check finds its output
    wrong; each operation is counted failed at most once."""

    attempted: int = 0
    failed_ids: set = field(default_factory=set)
    notes: list[str] = field(default_factory=list)

    def attempt(self) -> int:
        self.attempted += 1
        return self.attempted

    def fail(self, op_id: int, why: str) -> None:
        if not 1 <= op_id <= self.attempted:
            raise ValueError(f"operation {op_id} was never attempted")
        self.failed_ids.add(op_id)
        if len(self.notes) < 20:
            self.notes.append(why)

    @property
    def failed(self) -> int:
        return len(self.failed_ids)

    @property
    def failed_frac(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0
