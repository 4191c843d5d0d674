"""Summary statistics for latency samples."""

from __future__ import annotations

import statistics

TAIL_BEYOND = 10


def median(xs) -> float:
    return float(statistics.median(xs))


def tail(xs, beyond: int = TAIL_BEYOND) -> tuple[float, str, int]:
    """The highest percentile that still has at least `beyond` samples
    above it: the (beyond+1)-th largest sample, labelled with its
    percentile rank. With too few samples to leave `beyond` above any
    of them, the maximum, labelled `max`. Returns (value, label, n)."""
    s = sorted(xs)
    n = len(s)
    if n <= beyond:
        return float(s[-1]), "max", n
    return float(s[n - beyond - 1]), f"p{100.0 * (n - beyond) / n:.1f}", n

