"""Metric math for the graft benchmark: medians, tails, shares, spreads."""
import math
import statistics


def median(xs):
    """Median of a non-empty sequence (mean of the middle two when even)."""
    xs = list(xs)
    if not xs:
        raise ValueError("median of no samples")
    return statistics.median(xs)


def tail(xs, q, beyond=10):
    """The q-quantile (e.g. 0.9) of ``xs``, or None when fewer than
    ``beyond`` samples lie above it: a p90 needs at least 100 samples.

    Uses the nearest-rank definition, so the value is always a sample.
    """
    xs = sorted(xs)
    n = len(xs)
    rank = math.ceil(q * n - 1e-9)  # 1-based; the epsilon absorbs 0.9 * 100 > 90
    if n == 0 or n - rank < beyond:
        return None
    return xs[max(0, rank - 1)]


def highest_tail(xs, beyond=10):
    """(q, value) for the highest percentile that still has ``beyond``
    samples above it, or None with ``beyond`` samples or fewer."""
    xs = sorted(xs)
    n = len(xs)
    if n <= beyond:
        return None
    return (n - beyond) / n, xs[n - beyond - 1]


def mix_weighted_median(samples):
    """Sum over operation kinds of (share of operations) x (median latency).

    ``samples`` is a sequence of (kind, value). For one kind this is the
    median; for a fixed mix it is the expected latency of an operation
    drawn from the mix, robust to an outlier within each kind.
    """
    by_kind = {}
    for k, v in samples:
        by_kind.setdefault(k, []).append(v)
    n = sum(len(v) for v in by_kind.values())
    if n == 0:
        raise ValueError("no samples")
    return sum(len(v) / n * median(v) for v in by_kind.values())


def failed_share(failed, attempted):
    """Failed or check-failing operations over operations attempted."""
    if attempted <= 0:
        raise ValueError("no operations attempted")
    return failed / attempted


def spread(values):
    """Inter-quartile distance over the median, as the driver computes it."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def ratio_of_medians(traced, untraced):
    """Traced over untraced median, minus one; None without both."""
    if not traced or not untraced:
        return None
    return median(traced) / median(untraced) - 1.0
