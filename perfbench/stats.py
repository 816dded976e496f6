"""Percentiles as the benchmark reports them."""
import math

# the percentiles a tail may be reported at, lowest first
TAIL_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
MIN_BEYOND = 10


def percentile(samples, q):
    """Linear interpolation between closest ranks (numpy's default):
    the value at rank (n - 1) * q / 100 of the sorted samples."""
    if not samples:
        raise ValueError("percentile of no samples")
    v = sorted(samples)
    pos = (len(v) - 1) * q / 100.0
    lo, hi = math.floor(pos), math.ceil(pos)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def tail(samples):
    """(q, value) for the highest ladder percentile with at least
    MIN_BEYOND samples above it; (100, max) when even the median has
    fewer, so a short series still reports its worst case."""
    n = len(samples)
    best = None
    for q in TAIL_LADDER:
        if n * (100.0 - q) / 100.0 >= MIN_BEYOND - 1e-6:  # float slack: 100 * 0.1 < 10
            best = q
    if best is None:
        return 100.0, max(samples)
    return best, percentile(samples, best)


def median(samples):
    return percentile(samples, 50.0)
