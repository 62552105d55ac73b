"""The benchmark's arithmetic, kept apart from I/O so tests can pin it."""
import math
import statistics


def median(values):
    return statistics.median(values) if values else 0.0


def tail_percentile(values, min_above=10):
    """Highest whole percentile that still has at least `min_above` samples
    above it, never below the median. Returns (percentile, value, n).

    With n samples, nearest-rank percentile q leaves n - ceil(q/100 * n)
    samples above it; q = floor(100 * (1 - min_above / n)) is the largest q
    for which that is at least `min_above`."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return 50, 0.0, 0
    q = max(50, math.floor(100 * (1 - min_above / n))) if n > min_above else 50
    rank = max(1, math.ceil(q / 100 * n))
    return q, xs[rank - 1], n


def union_length(intervals):
    """Total length covered by possibly overlapping [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, start, end):
    return [(max(s, start), min(e, end)) for s, e in intervals if e > start and s < end]


def self_time(span, children):
    """A span's duration minus the part of it its children cover; children
    may overlap each other (the two bronze ingests run at once)."""
    s, e = span
    return (e - s) - union_length(clip(children, s, e))


def idle_time(window, busy):
    """Time in `window` during which no interval of `busy` (task run
    times) is active: the driver-only share of the window."""
    s, e = window
    return (e - s) - union_length(clip(busy, s, e))


def spread(values):
    """Run-to-run spread: interquartile distance over the median, with the
    quartiles statistics.quantiles(values, n=4) gives."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else math.inf
