"""Latency summaries shared by every workload.

The p50 and the tail come from ONE sample, so the tail can never sit
below the median.  A failed op is kept in the sample as an infinite
latency: it always lands beyond the tail.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

MIN_BEYOND = 10


@dataclass(frozen=True)
class Tail:
    value: float  # seconds
    pct: float  # the percentile the value stands for
    n: int  # sample size, failures included
    beyond: int  # samples strictly past the tail's rank
    rule: str  # "rank" (>= MIN_BEYOND beyond) or "max" (sample too small)


def p50(sample: list[float]) -> float:
    """Median; a failed op (inf) sorts last, as a slow op would."""
    if not sample:
        raise ValueError("empty sample")
    xs = sorted(sample)
    n = len(xs)
    mid = n // 2
    return xs[mid] if n % 2 else (xs[mid - 1] + xs[mid]) / 2


def tail(sample: list[float]) -> Tail | None:
    """The highest percentile with at least ``MIN_BEYOND`` samples beyond
    it: the (MIN_BEYOND + 1)-th largest value, standing for percentile
    100 * (n - MIN_BEYOND) / n.  None when that rank would fall below the
    median (fewer than 2 * MIN_BEYOND + 1 samples), so a reported tail is
    always >= p50."""
    n = len(sample)
    k = n - MIN_BEYOND - 1  # 0-based rank of the tail value
    if k < (n - 1) / 2:
        return None
    xs = sorted(sample)
    return Tail(xs[k], 100.0 * (n - MIN_BEYOND) / n, n, MIN_BEYOND, "rank")


def worst(sample: list[float]) -> Tail:
    """For samples too small for a ranked tail: the slowest op, labelled
    as such.  Still drawn from the p50's sample, so still >= p50."""
    if not sample:
        raise ValueError("empty sample")
    return Tail(max(sample), 100.0, len(sample), 0, "max")


def finite_or(value: float, fallback: float) -> float:
    """JSON has no infinity: an infinite tail (failures beyond it)
    reports ``fallback`` instead — the caller passes the window length,
    which a never-completed op waited through at least."""
    return value if math.isfinite(value) else fallback


def median(xs: list[float]) -> float:
    return p50(xs) if xs else 0.0
