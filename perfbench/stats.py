"""Pure helpers shared by the benchmark: percentiles, span self time and
the open-loop arrival schedule. No Spark imports, so the self-tests run
without a JVM."""

from __future__ import annotations

from dataclasses import dataclass

# A tail percentile is only reported where at least this many samples lie
# beyond it; with fewer samples the tail is the maximum.
TAIL_BEYOND = 10


def tail(values, beyond: int = TAIL_BEYOND):
    """(value, percentile, n) at the highest percentile that still has
    ``beyond`` samples above it.

    With n samples sorted ascending, the sample at index ``n - beyond - 1``
    has exactly ``beyond`` samples after it; its percentile is
    ``100 * (n - beyond) / n``. With ``n <= beyond`` no percentile
    qualifies and the maximum is returned with percentile 100.
    """
    if not values:
        raise ValueError("tail of no samples")
    xs = sorted(values)
    n = len(xs)
    if n <= beyond:
        return xs[-1], 100.0, n
    return xs[n - beyond - 1], 100.0 * (n - beyond) / n, n


@dataclass
class Span:
    """One traced interval. ``parent`` is the id of the enclosing span."""

    id: int
    name: str
    start: float
    end: float | None = None
    parent: int | None = None
    workload: str = ""
    batch: int | None = None

    @property
    def duration(self) -> float:
        if self.end is None:
            raise ValueError(f"span {self.name!r} was never closed")
        return self.end - self.start


def _covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
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


def self_times(spans) -> dict[int, float]:
    """span id → duration minus the part of it its children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.id: s.duration - _covered(children.get(s.id, []), s.start, s.end)
        for s in spans
    }


def due_offsets(count: int, rate_per_s: float) -> list[float]:
    """Open-loop schedule: delta k is due ``k / rate`` seconds after the
    loop starts. A fixed rate, so the schedule is the same for every seed
    and never waits on the system under test."""
    if rate_per_s <= 0:
        raise ValueError("rate must be positive")
    return [k / rate_per_s for k in range(count)]

