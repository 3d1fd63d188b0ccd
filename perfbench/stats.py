"""Latency summaries with an explicit sample-count rule.

A percentile is reported only when at least ``MIN_BEYOND`` samples lie
above it, so a tail figure is never one or two stray readings. Ranks
use the nearest-rank definition: the q-quantile of n sorted samples is
the value at 1-based rank ceil(q * n).
"""

from __future__ import annotations

import math
import statistics

MIN_BEYOND = 10
#: candidate tail percentiles, highest first
TAILS = (0.99, 0.9, 0.75)


def samples_beyond(n: int, q: float) -> int:
    """How many of n samples rank above the nearest-rank q-quantile."""
    return n - math.ceil(q * n)


def percentile(samples: list[float], q: float) -> float | None:
    """Nearest-rank q-quantile, or None when fewer than MIN_BEYOND
    samples lie beyond it."""
    n = len(samples)
    if n == 0 or samples_beyond(n, q) < MIN_BEYOND:
        return None
    return sorted(samples)[math.ceil(q * n) - 1]


def summary(samples: list[float]) -> dict:
    """Median, the highest percentile in TAILS the sample count allows,
    and the sample count."""
    out: dict = {
        "n": len(samples),
        "p50": statistics.median(samples) if samples else None,
    }
    for q in TAILS:
        value = percentile(samples, q)
        if value is not None:
            out[f"p{round(q * 100)}"] = value
            break
    return out
