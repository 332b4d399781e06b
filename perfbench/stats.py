"""Summary statistics used for every reported timing."""

from __future__ import annotations

import math
import statistics

# candidate percentiles, highest first
PERCENTILES = (99.9, 99.0, 95.0, 90.0, 80.0, 75.0)
MIN_BEYOND = 10


def median(values) -> float:
    return float(statistics.median(values))


def samples_beyond(n: int, p: float) -> int:
    """Samples strictly above the nearest-rank p-th percentile of n."""
    return n - math.ceil(n * p / 100.0)


def highest_percentile(n: int) -> float | None:
    """The highest candidate percentile with at least ten samples beyond
    it, or None when n is too small for any of them."""
    for p in PERCENTILES:
        if samples_beyond(n, p) >= MIN_BEYOND:
            return p
    return None


def percentile(values, p: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    return float(s[max(0, math.ceil(len(s) * p / 100.0) - 1)])


def summarize(values) -> dict:
    """Median, the highest percentile the sample count supports, and n."""
    n = len(values)
    out = {"n": n, "median": median(values) if n else None}
    p = highest_percentile(n)
    if p is not None:
        out[f"p{p:g}"] = percentile(values, p)
    return out
