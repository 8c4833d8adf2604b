"""Summary statistics for the benchmark's raw samples.

Pure functions, no I/O; see test_stats.py.
"""

import statistics


def median(xs):
    """Median of a non-empty sample."""
    if not xs:
        raise ValueError("median of an empty sample")
    return statistics.median(xs)


def tail(xs, beyond=10):
    """The latency at the highest percentile that still has at least
    `beyond` samples above it, as (value, percentile). With n sorted
    samples that is the (n - beyond)-th smallest; its percentile is the
    share of samples at or below it. None when n <= beyond."""
    n = len(xs)
    if n <= beyond:
        return None
    i = n - beyond - 1
    return sorted(xs)[i], 100.0 * (i + 1) / n


def error_rate(attempted, failed):
    """Failed operations over attempted operations."""
    if attempted < 1:
        raise ValueError("no operations attempted")
    if not 0 <= failed <= attempted:
        raise ValueError("failed must be within 0..attempted")
    return failed / attempted


def spread(values):
    """Inter-quartile range as a share of the median, with the
    quartiles `statistics.quantiles(values, n=4)` gives."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def worse_by(parent, child, better):
    """How much worse `child` is than `parent`, as a share of `parent`
    (negative when it is better)."""
    if better == "lower":
        return (child - parent) / parent
    return (parent - child) / parent
