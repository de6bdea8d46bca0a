"""Arithmetic of the graft benchmark: percentiles, interval unions, span
self time and ratios. Pure functions over plain lists, tested by
test_stats.py."""

import math
import statistics

# A percentile is reported only when at least this many samples lie
# beyond it (the median is always reported).
MIN_BEYOND = 10


def median(values):
    return statistics.median(values) if values else None


def percentile(values, q):
    """Nearest-rank percentile, q in (0, 100]."""
    if not values:
        return None
    s = sorted(values)
    rank = max(1, math.ceil(q / 100.0 * len(s)))
    return s[rank - 1]


def beyond(n, q):
    """Samples strictly above the nearest-rank q-th percentile of n."""
    return n - max(1, math.ceil(q / 100.0 * n))


def tail_percentiles(values, qs=(90, 99)):
    """{q: value} for each q with at least MIN_BEYOND samples beyond it."""
    return {q: percentile(values, q) for q in qs
            if values and beyond(len(values), q) >= MIN_BEYOND}


def union_length(intervals):
    """Total length covered by (start, end) intervals; overlaps count once."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted((s, e) for s, e in intervals if e > s):
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
    return [(max(s, lo), min(e, hi)) for s, e in intervals if min(e, hi) > max(s, lo)]


def self_times(spans):
    """{span id: duration minus the part of it its children cover}.

    spans: dicts with id, parent, t0, t1."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["t0"], s["t1"]))
    out = {}
    for s in spans:
        kids = clip(children.get(s["id"], []), s["t0"], s["t1"])
        out[s["id"]] = (s["t1"] - s["t0"]) - union_length(kids)
    return out


def ratio(num, den):
    """num / den, or None when the base is zero or missing."""
    if den is None or num is None or den == 0:
        return None
    return num / den


def quartile_spread(values):
    """(Q3 - Q1) / median, as statistics.quantiles(n=4) gives the quartiles."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else float("inf")
