"""Pure helpers: percentiles, span self-times and Spark metric text.

No Spark imports here, so the tests run without a JVM.
"""

from __future__ import annotations

import math
import statistics
from dataclasses import dataclass

TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def _rank(p: float, n: int) -> int:
    # rounding first keeps 99.9 % of 10000 at rank 9990, not 9991
    return max(1, math.ceil(round(p * n / 100.0, 9)))


def nearest_rank(values: list[float], p: float) -> float:
    """The p-th percentile by the nearest-rank rule."""
    xs = sorted(values)
    return xs[_rank(p, len(xs)) - 1]


def tail_percentile(values: list[float], min_beyond: int = 10) -> tuple[float, float] | None:
    """(p, value) for the highest percentile on TAIL_LADDER that has at
    least `min_beyond` samples above its rank, or None when even the
    median has fewer (fewer than 2 * min_beyond samples)."""
    n = len(values)
    for p in TAIL_LADDER:
        if n - _rank(p, n) >= min_beyond:
            return p, nearest_rank(values, p)
    return None


def median(values: list[float]) -> float:
    return float(statistics.median(values)) if values else 0.0


@dataclass
class Span:
    """One traced call: [start, end] in seconds on one monotonic clock."""

    id: int
    layer: str
    name: str
    start: float
    end: float
    parent: int | None
    request: int | None


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Total length of the union of intervals."""
    total, cur_s, cur_e = 0.0, None, None
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


def self_times(spans: list[Span]) -> dict[str, float]:
    """Seconds per layer that its spans spent outside their children:
    each span's duration minus the part of it that child spans cover
    (children clipped to the parent's interval)."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out: dict[str, float] = {}
    for s in spans:
        inner = [(max(c.start, s.start), min(c.end, s.end)) for c in kids.get(s.id, [])]
        inner = [(a, b) for a, b in inner if b > a]
        out[s.layer] = out.get(s.layer, 0.0) + (s.end - s.start) - _covered(inner)
    return out


def uncovered_ms(start_ms: float, end_ms: float, jobs: list[tuple[float, float]]) -> float:
    """Part of [start_ms, end_ms] that no job interval covers: the
    driver-side share of a call."""
    inner = [(max(a, start_ms), min(b, end_ms)) for a, b in jobs]
    return (end_ms - start_ms) - _covered([(a, b) for a, b in inner if b > a])


_UNIT_MS = {"ns": 1e-6, "us": 1e-3, "ms": 1.0, "s": 1000.0, "m": 60_000.0,
            "min": 60_000.0, "h": 3_600_000.0}


def parse_timing_ms(text: str | None) -> float:
    """Milliseconds from a Spark SQL timing metric as the status store
    renders it: either "12 ms" or, for per-task metrics,
    "total (min, med, max (stageId: taskId))\\n1.6 s (309 ms, ...)"."""
    if not text:
        return 0.0
    line = text.strip().split("\n")[-1]
    num, unit = line.split()[:2]
    return float(num.replace(",", "")) * _UNIT_MS[unit]
