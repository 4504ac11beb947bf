"""Summary statistics the benchmark reports."""
import statistics


def median(values):
    return statistics.median(values)


def quartiles(values):
    """First quartile, median and third quartile, as the acceptance check
    computes them (`statistics.quantiles(values, n=4)`)."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def tail(values, beyond=10):
    """The highest percentile that still has `beyond` samples above it.

    Returns `(value, percentile, n)`. With `n` samples sorted ascending that
    is the sample at rank `n - beyond`, the `100 * (n - beyond) / n`-th
    percentile. With `beyond` samples or fewer no percentile qualifies, and
    the maximum is returned as the 100th percentile.
    """
    s = sorted(values)
    n = len(s)
    if n == 0:
        raise ValueError("tail of no values")
    if n <= beyond:
        return s[-1], 100.0, n
    return s[n - beyond - 1], 100.0 * (n - beyond) / n, n
