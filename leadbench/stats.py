"""Summary statistics the benchmark reports."""

from __future__ import annotations

import math
import statistics

# Candidate tail percentiles, highest first.
TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0)
TAIL_MIN_BEYOND = 10


def _rank(p: float, n: int) -> int:
    # round first: 99.9 / 100 * 10000 is 9990.000000000002 in floats
    return max(1, math.ceil(round(p / 100.0 * n, 9)))


def percentile(values, p: float) -> float:
    """Nearest-rank percentile (p in 0..100) of a non-empty sample."""
    xs = sorted(values)
    return xs[_rank(p, len(xs)) - 1]


def tail(values) -> tuple[float, str]:
    """(value, label) of the highest candidate percentile that leaves at
    least TAIL_MIN_BEYOND samples beyond it; the max when none does."""
    n = len(values)
    for p in TAIL_PERCENTILES:
        if n - _rank(p, n) >= TAIL_MIN_BEYOND:
            return percentile(values, p), f"p{p:g}"
    return max(values), "max"


def geomean(values) -> float:
    xs = list(values)
    if not xs or any(x <= 0 for x in xs):
        raise ValueError("geomean needs positive values")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def paired_overhead(untraced, traced) -> float:
    """Median of (traced - untraced) over adjacent pairs of passes."""
    pairs = list(zip(untraced, traced))
    if not pairs:
        raise ValueError("no pairs")
    return statistics.median(t - u for u, t in pairs)


def spread(values) -> dict:
    """Median, quartiles and (q3 - q1) / median of a run set."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {
        "median": med,
        "q1": q1,
        "q3": q3,
        "iqr_share": (q3 - q1) / med if med else float("inf"),
        "n": len(values),
    }
