"""Order statistics used by the benchmark and its repeat-runner."""
import statistics

# Percentiles a tail may be reported at, lowest first.
TAIL_LADDER = (50.0, 66.0, 75.0, 90.0, 95.0, 99.0, 99.5, 99.9)


def percentile(values, p):
    """Percentile (p in 0..100) of a non-empty sample, interpolating
    linearly between closest ranks, so a small sample's figure does not
    jump from one sample to the next."""
    xs = sorted(values)
    x = (len(xs) - 1) * p / 100.0
    lo = int(x)
    hi = min(lo + 1, len(xs) - 1)
    if x == lo or xs[hi] == xs[lo]:  # also keeps inf (a failed request) exact
        return xs[lo]
    return xs[lo] + (xs[hi] - xs[lo]) * (x - lo)


def beyond(n, p):
    """Samples above the p-th percentile of n (nearest rank)."""
    return n - max(1, int(-(-p * n // 100)))


def tail_percentile(n, min_beyond=10):
    """The highest ladder percentile with at least `min_beyond` samples
    beyond it in a sample of n; None if even the median has fewer."""
    best = None
    for p in TAIL_LADDER:
        if beyond(n, p) >= min_beyond:
            best = p
    return best


def median(values):
    return statistics.median(values)


def spread(values):
    """(q1, median, q3, (q3 - q1) / median), with the quartiles
    `statistics.quantiles(values, n=4)` gives."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return q1, med, q3, (q3 - q1) / med if med else float("inf")
