"""Small statistics shared by the runner and its self-tests."""
import statistics


def median(xs):
    return statistics.median(xs) if xs else None


def tail(xs):
    """The highest percentile that has at least ten samples beyond it, as
    (value, percentile, n); None when fewer than 11 samples exist."""
    n = len(xs)
    if n < 11:
        return None
    k = n - 10                      # samples at or below the reported one
    return sorted(xs)[k - 1], 100.0 * k / n, n


def covered(intervals, lo, hi):
    """Length of [lo, hi] covered by the union of the given intervals."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0, None, None
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


def self_time(start, end, children):
    """A span's duration minus the part of it its children cover."""
    return (end - start) - covered(children, start, end)


def spread(xs):
    """Inter-quartile distance as a share of the median."""
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return (q3 - q1) / q2
