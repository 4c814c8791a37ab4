"""Summary statistics shared by the runner, the steadiness tool and the
self-tests."""
import statistics


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs, beyond=10):
    """The highest percentile that still has at least `beyond` samples
    above it, as (value, percentile, samples_beyond, n).

    With n sorted samples, percentile p keeps floor(n * (1 - p)) samples
    beyond it, so the highest p with >= `beyond` samples beyond is
    1 - beyond / n, read as the sample at index n - beyond - 1. With
    n <= beyond no percentile qualifies; the maximum is reported with
    samples_beyond = 0 so the shortfall is visible, never hidden.
    """
    s = sorted(xs)
    n = len(s)
    if n == 0:
        return 0.0, 0.0, 0, 0
    if n <= beyond:
        return s[-1], 100.0, 0, n
    idx = n - beyond - 1
    return s[idx], 100.0 * (idx + 1) / n, n - idx - 1, n


def median_tail(groups, beyond=10):
    """Median over the groups that hold more than `beyond` samples of each
    group's tail (see `tail`), as (value, median percentile, groups used).
    For correlated samples, such as the rows of one micro-batch, one
    group's tail is one reading; the median over groups is the typical
    one."""
    tails = [tail(g, beyond) for g in groups if len(g) > beyond]
    if not tails:
        return 0.0, 0.0, 0
    return median([t[0] for t in tails]), median([t[1] for t in tails]), len(tails)


def quartile_spread(xs):
    """(q1, median, q3, (q3 - q1) / median) as statistics.quantiles(n=4)
    gives them."""
    if len(xs) < 2:
        m = xs[0] if xs else 0.0
        return m, m, m, 0.0
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3, (q3 - q1) / q2 if q2 else float("inf")


def self_times(spans):
    """Self time of each span: its duration minus the part of it covered
    by the union of its direct children's intervals (children clipped to
    the parent). `spans` are dicts with id, parent, start, end (any time
    unit); returns {id: self_time}."""
    kids = {}
    for s in spans:
        if s.get("parent") is not None:
            kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        clipped = [(max(c["start"], s["start"]), min(c["end"], s["end"]))
                   for c in kids.get(s["id"], [])]
        covered = union_length([(lo, hi) for lo, hi in clipped if hi > lo])
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_lo, cur_hi = 0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total
