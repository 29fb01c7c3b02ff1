"""Percentile helpers shared by the benchmark's metrics."""
import math

# a tail percentile is reported only where at least MIN_BEYOND samples
# lie beyond it; it is at most TAIL_CAP
MIN_BEYOND = 10
TAIL_CAP = 99


def percentile(values, p):
    """Nearest-rank percentile (p in [0, 100]) of a non-empty sequence."""
    s = sorted(values)
    if not s:
        raise ValueError("percentile of no samples")
    k = max(1, math.ceil(p / 100.0 * len(s)))
    return s[min(k, len(s)) - 1]


def samples_beyond(n, p):
    """How many of n samples lie strictly beyond the nearest-rank p-th
    percentile."""
    return n - max(1, math.ceil(p / 100.0 * n))


def tail_pct(n):
    """The highest whole percentile above the median, up to TAIL_CAP,
    with at least MIN_BEYOND of ``n`` samples beyond it; None when there
    is none (fewer than about 2 * MIN_BEYOND samples)."""
    for p in range(TAIL_CAP, 50, -1):
        if samples_beyond(n, p) >= MIN_BEYOND:
            return p
    return None


def tail(values):
    """(label, value) for the tail of ``values``: the ``tail_pct``
    percentile, or the maximum when the samples are too few for one."""
    p = tail_pct(len(values))
    if p is None:
        return "max", max(values)
    return f"p{p}", percentile(values, p)


def median(values):
    s = sorted(values)
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2.0
