"""Percentiles that cannot mislead.

A tail is reported only when at least ``MIN_BEYOND`` samples lie strictly
above the rank it is read at, and it is never below the median. Each metric
reads its percentile at a fixed level; the level and sample count travel with
the value into the diagnostics.
"""

from __future__ import annotations

import math
import statistics

MIN_BEYOND = 10


def median(xs: list[float]) -> float:
    if not xs:
        raise ValueError("median of no samples")
    return float(statistics.median(xs))


def rank_percentile(xs: list[float], p: float) -> tuple[float, int]:
    """Nearest-rank percentile: the smallest sample with at least ``p`` percent
    of the samples at or below it. Returns (value, samples beyond it)."""
    if not xs:
        raise ValueError("percentile of no samples")
    if not 0.0 < p < 100.0:
        raise ValueError(f"percentile must be in (0, 100), got {p}")
    s = sorted(xs)
    r = max(1, math.ceil(p / 100.0 * len(s)))
    return float(s[r - 1]), len(s) - r


def min_samples_for_tail(p: float, beyond: int = MIN_BEYOND) -> int:
    """Fewest samples for which the nearest-rank p-th percentile has ``beyond``
    samples above its rank."""
    n = beyond + 1
    while n - max(1, math.ceil(p / 100.0 * n)) < beyond:
        n += 1
    return n


def tail(xs: list[float], p: float, beyond: int = MIN_BEYOND) -> dict:
    """The p-th percentile of ``xs`` with its diagnostics.

    Raises ValueError when fewer than ``beyond`` samples lie beyond it: a tail
    read from too few samples is a guess, and the caller must measure more,
    not report it. The value is clamped to be at least the median, which it can
    only fall below through ties at the median rank."""
    value, n_beyond = rank_percentile(xs, p)
    if n_beyond < beyond:
        raise ValueError(
            f"p{p:g} of {len(xs)} samples has {n_beyond} beyond it, needs {beyond}"
            f" (at least {min_samples_for_tail(p, beyond)} samples)"
        )
    return {
        "value": max(value, median(xs)),
        "percentile": p,
        "samples": len(xs),
        "beyond": n_beyond,
    }

