"""Percentile summaries under the "at least ten samples beyond" rule.

A timing is reported as its median plus the highest tail percentile that
still has ten or more samples above it. With fewer samples the tail is
reported as unavailable rather than estimated from a handful of points.
"""

from __future__ import annotations

import math
import statistics

TAIL_CANDIDATES = (99.9, 99.0, 90.0)
MIN_BEYOND = 10


def rank(n: int, p: float) -> int:
    """1-based nearest rank of the p-th percentile among n samples; the
    epsilon keeps float error (99.9 / 100 * 10000 = 9990.000000000002) from
    bumping an exact rank up by one."""
    return max(1, math.ceil(p / 100.0 * n - 1e-9))


def nearest_rank(sorted_vals: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least p% of the
    samples at or below it."""
    if not sorted_vals:
        raise ValueError("percentile of no samples")
    return sorted_vals[rank(len(sorted_vals), p) - 1]


def samples_beyond(n: int, p: float) -> int:
    """How many of n samples lie above the nearest-rank p-th percentile."""
    return n - rank(n, p)


def highest_tail(n: int, candidates: tuple[float, ...] = TAIL_CANDIDATES) -> float | None:
    """The highest candidate percentile with >= MIN_BEYOND samples above it."""
    ok = [p for p in candidates if samples_beyond(n, p) >= MIN_BEYOND]
    return max(ok) if ok else None


def summarize(values: list[float]) -> dict:
    """{"n", "p50", "tail_p", "tail"}; tail_p/tail are None when too few
    samples support any candidate percentile."""
    vals = sorted(values)
    out = {"n": len(vals), "p50": statistics.median(vals) if vals else None}
    p = highest_tail(len(vals))
    out["tail_p"] = p
    out["tail"] = nearest_rank(vals, p) if p is not None else None
    return out

