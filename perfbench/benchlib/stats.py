"""Sample statistics and interval arithmetic used by the metrics."""
import math

# Percentile levels reported above the median, lowest first.
LEVELS = (75.0, 90.0, 95.0, 99.0, 99.9)
# A percentile is supported when at least this many samples lie beyond it.
TAIL_SAMPLES = 10


def median(xs):
    """Median of a non-empty sample (mean of the two middle values when
    the count is even)."""
    s = sorted(xs)
    if not s:
        raise ValueError("median of an empty sample")
    n = len(s)
    mid = n // 2
    return s[mid] if n % 2 else (s[mid - 1] + s[mid]) / 2.0


def percentile(xs, p):
    """Nearest-rank percentile: the smallest sample with at least p% of the
    sample at or below it."""
    s = sorted(xs)
    if not s:
        raise ValueError("percentile of an empty sample")
    if not 0.0 < p <= 100.0:
        raise ValueError("percentile level must be in (0, 100]")
    rank = math.ceil(p / 100.0 * len(s))
    return s[max(rank, 1) - 1]


def supported_level(n):
    """Highest level in LEVELS with at least TAIL_SAMPLES of n samples
    beyond it, or None when even the lowest is not supported."""
    best = None
    for p in LEVELS:
        if round(n * (100.0 - p), 6) >= TAIL_SAMPLES * 100:
            best = p
    return best


def timing_summary(xs):
    """Median, the highest supported percentile and the sample count."""
    p = supported_level(len(xs))
    return {
        "median": median(xs),
        "n": len(xs),
        "p": p,
        "p_value": percentile(xs, p) if p is not None else None,
    }


def union_length(intervals, lo=None, hi=None):
    """Total length covered by the union of [start, end] intervals, each
    first clipped to [lo, hi] when those are given."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    clipped.sort()
    total = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total

