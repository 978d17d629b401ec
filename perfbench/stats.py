"""Statistics the benchmark reports: medians, the tail-percentile rule,
span self time, and the executor core utilisation ratio."""
import bisect
import statistics


def median(values):
    return statistics.median(values) if values else 0.0


def tail(values, beyond=10):
    """The highest percentile of `values` that has at least `beyond`
    samples above it.

    Returns (value, percentile, n): the largest sample v such that at
    least `beyond` samples are strictly greater than v, the share of
    samples at or below v in percent, and the sample count. With too
    few samples for the rule, the maximum is returned with percentile
    100, so the report shows that no tail could be resolved.
    """
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return 0.0, 0.0, 0
    for v in reversed(xs):
        at_or_below = bisect.bisect_right(xs, v)
        if n - at_or_below >= beyond:
            return v, 100.0 * at_or_below / n, n
    return xs[-1], 100.0, n


def union_length(intervals, lo, hi):
    """Total length of [lo, hi] covered by (start, end) intervals."""
    clipped = sorted((max(s, lo), min(e, hi)) for s, e in intervals if min(e, hi) > max(s, lo))
    total, end = 0, lo
    for s, e in clipped:
        if e > end:
            total += e - max(s, end)
            end = e
    return total


def self_time(span, children):
    """A span's duration minus the part of it its children cover.

    `span` and each child are (start, end) pairs; overlapping children
    are counted once, and a child reaching outside the span only counts
    inside it."""
    start, end = span
    return (end - start) - union_length(children, start, end)


def core_util(run_ms, exec_s, cores):
    """Useful-work ratio of the execution layer: executor run time over
    the wall time of the exec spans times the cores available."""
    if exec_s <= 0 or cores <= 0:
        return 0.0
    return (run_ms / 1000.0) / (exec_s * cores)

