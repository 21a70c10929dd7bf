"""Pure helpers of the benchmark: percentiles, interval unions, span self
time and job attribution. Kept free of I/O so test_bench.py can test them."""
import math
import statistics


def median(xs):
    return statistics.median(xs) if xs else None


def percentile(xs, q, min_above=10):
    """Nearest-rank q-quantile of xs, or None when fewer than `min_above`
    samples lie strictly above its rank (too few to trust the tail)."""
    if not xs:
        return None
    s = sorted(xs)
    rank = max(1, math.ceil(q * len(s)))
    if len(s) - rank < min_above:
        return None
    return s[rank - 1]


def tail(xs, min_above=10):
    """Highest nearest-rank percentile of xs with at least `min_above`
    samples above it, as {"q", "value", "samples"}; None when there is none."""
    s = sorted(xs)
    rank = len(s) - min_above
    if rank < 1:
        return None
    return {"q": rank / len(s), "value": s[rank - 1], "samples": len(s)}


def union_length(intervals, lo=None, hi=None):
    """Total length covered by the union of (start, end) intervals,
    optionally clipped to [lo, hi]."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    clipped.sort()
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


def self_times(spans):
    """Self time of each span: its duration minus the union of the
    intervals its child spans cover. `spans` are dicts with id, parent,
    start_ns and end_ns; returns {id: self_ns}."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start_ns"], s["end_ns"]))
    return {s["id"]: (s["end_ns"] - s["start_ns"])
            - union_length(children.get(s["id"], []), s["start_ns"], s["end_ns"])
            for s in spans}


def ancestor(span_id, parents, wanted):
    """First span on the parent chain of span_id (itself included) that is
    in `wanted`, or None."""
    seen = set()
    while span_id is not None and span_id >= 0 and span_id not in seen:
        if span_id in wanted:
            return span_id
        seen.add(span_id)
        span_id = parents.get(span_id)
    return None
