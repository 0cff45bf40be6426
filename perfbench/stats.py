"""Small statistics shared by the benchmark and its self-tests."""

from __future__ import annotations

import random


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile ``p`` (0-100) of a non-empty list."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    k = (len(xs) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail(values: list[float], beyond: int = 10) -> tuple[float, float]:
    """The highest percentile with at least ``beyond`` samples above it.

    Returns ``(p, value)``: the value is the sample with exactly ``beyond``
    samples above it, and ``p = 100 * (n - beyond) / n``. A sample too
    small for that percentile to reach the median (fewer than
    ``2 * beyond`` values) reports its median as the tail, ``p = 50``.
    """
    n = len(values)
    if n == 0:
        raise ValueError("tail of an empty sample")
    if n < 2 * beyond:
        return 50.0, percentile(values, 50)
    return 100.0 * (n - beyond) / n, sorted(values)[n - 1 - beyond]


def fixed_count_arrivals(rate: float, start: float, end: float,
                         rng: random.Random) -> list[float]:
    """Due times of a Poisson process of ``rate`` per second in
    ``[start, end)``, conditioned on its expected count: every seed sends
    the same number of requests, at seeded times (independent uniforms,
    sorted)."""
    n = round(rate * (end - start))
    return sorted(rng.uniform(start, end) for _ in range(n))


def open_loop_times(due: float, start: float, end: float) -> tuple[float, float]:
    """Open-loop accounting of one request: its latency runs from when it
    was due (so a stall charges the requests queued behind it), and the
    generator's lateness is how long after its due time it was sent."""
    return end - due, max(0.0, start - due)


def sustained(latencies: list[float], failed: int, limit: float) -> bool:
    """True when the tail of a ladder step meets ``limit``; a failed request
    counts as a miss (an infinite latency)."""
    xs = list(latencies) + [float("inf")] * failed
    if not xs:
        return False
    return tail(xs)[1] <= limit
