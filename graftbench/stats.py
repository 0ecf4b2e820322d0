"""Statistics helpers of the benchmark (self-tested in test_stats.py)."""
import statistics

# A tail percentile is reported only when at least this many samples lie
# beyond it.
TAIL_BEYOND = 10


def median(values):
    return statistics.median(values) if values else None


def tail(values):
    """Highest nearest-rank percentile with at least TAIL_BEYOND samples
    beyond it, as (percentile, value, samples_beyond); None when that
    percentile would lie below the median, which is no tail.

    The nearest-rank p-th percentile of n sorted samples is the one at rank
    ceil(p * n); n - ceil(p * n) samples lie beyond it. The highest p with
    at least ten beyond is (n - 10) / n, whose value is the eleventh
    largest sample.
    """
    n = len(values)
    if n < 2 * TAIL_BEYOND:
        return None
    xs = sorted(values)
    return 100.0 * (n - TAIL_BEYOND) / n, xs[n - TAIL_BEYOND - 1], TAIL_BEYOND


def union_length(intervals):
    """Total length covered by the union of (start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
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


def clip(intervals, lo, hi):
    """Intervals cut to the window [lo, hi]; those outside it vanish."""
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


def uncovered(start, end, intervals):
    """Part of [start, end] not covered by any interval: for a merge span and
    its Spark job intervals, the time the driver worked outside any job."""
    return (end - start) - union_length(clip(intervals, start, end))


def self_times(spans):
    """Self time of each span: its duration minus the part of it that its
    child spans cover. `spans` are dicts with id, parent, start, end."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: uncovered(s["start"], s["end"], children.get(s["id"], []))
            for s in spans}
