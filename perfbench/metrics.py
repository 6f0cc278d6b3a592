"""Arithmetic behind the benchmark's numbers. Pure functions, no I/O, so the
tests in test_metrics.py pin them down."""
import math

# Percentiles considered when naming a tail; the reported tail is the highest
# one with at least TAIL_MIN samples beyond it.
TAIL_CANDIDATES = (50.0, 90.0, 99.0, 99.9, 99.99)
TAIL_MIN = 10


def nearest_rank(values, p):
    """The p-th percentile by nearest rank: the smallest sample with at least
    p% of the samples at or below it."""
    if not values:
        raise ValueError("no samples")
    s = sorted(values)
    return s[_rank(len(s), p) - 1]


def _rank(n, p):
    # the epsilon keeps float noise (99.9 / 100 * 10000 = 9990.000000000002)
    # from pushing an exact rank up by one
    return max(1, math.ceil(p * n / 100.0 - 1e-9))


def beyond(n, p):
    """How many of n samples lie above the nearest-rank p-th percentile."""
    return n - _rank(n, p)


def tail_percentile(n):
    """The highest candidate percentile with at least TAIL_MIN samples beyond
    it, or None when even the median has fewer."""
    ok = [p for p in TAIL_CANDIDATES if beyond(n, p) >= TAIL_MIN]
    return max(ok) if ok else None


def union_length(intervals):
    """Total length covered by a set of [start, end] intervals."""
    total = 0
    cur_a = cur_b = None
    for a, b in sorted((a, b) for a, b in intervals if b > a):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        elif b > cur_b:
            cur_b = b
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def idle(start, end, intervals):
    """Part of [start, end] during which none of the intervals is running."""
    clipped = [(max(a, start), min(b, end)) for a, b in intervals]
    return max(0, (end - start) - union_length(clipped))


def slope(xs, ys):
    """Least-squares slope of ys over xs (0 with fewer than two distinct xs)."""
    n = len(xs)
    if n < 2:
        return 0.0
    mx = sum(xs) / n
    my = sum(ys) / n
    sxx = sum((x - mx) ** 2 for x in xs)
    if sxx == 0:
        return 0.0
    return sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / sxx


def backlog_slope(rate, source_start_ms, batches):
    """Growth of the source backlog in rows/s. `batches` holds
    (end_ms, rows_processed_so_far); the backlog at each batch end is the
    rows offered by then (rate x elapsed) minus the rows processed."""
    xs = [end / 1000.0 for end, _ in batches]
    ys = [rate * (end - source_start_ms) / 1000.0 - done for end, done in batches]
    return slope(xs, ys)
