"""Summary statistics the benchmark reports."""

import math
import statistics

# A tail percentile is only reported when at least this many samples lie
# beyond it, so one outlier cannot move it.
TAIL_SAMPLES = 10


def percentile(values, q):
    """Nearest-rank percentile, q in [0, 100]."""
    if not values:
        raise ValueError("no samples")
    ordered = sorted(values)
    rank = max(1, math.ceil(q / 100.0 * len(ordered)))
    return ordered[rank - 1]


def tail_percentile(n, tail=TAIL_SAMPLES):
    """Highest whole percentile with at least `tail` of `n` samples beyond
    it, or None when `n` is too small to leave `tail` samples above the
    median."""
    if n < 2 * tail:
        return None
    return math.floor(100.0 * (n - tail) / n)


def p90_available(n):
    """p90 is reported only when ten samples lie beyond it."""
    tail = tail_percentile(n)
    return tail is not None and tail >= 90


def median(values):
    return statistics.median(values)

