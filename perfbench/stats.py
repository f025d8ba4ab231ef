"""Small statistics helpers for the benchmark: medians, quartiles, the
tail-percentile rule, geometric means and span self times.

Pure Python, no Spark, so the tests can exercise them directly.
"""

from __future__ import annotations

import math
import statistics


def median(values):
    if not values:
        raise ValueError("median of no values")
    return statistics.median(values)


def quartiles(values):
    """(q1, q2, q3) as ``statistics.quantiles(values, n=4)`` gives them
    (the 'exclusive' method); a single value is its own quartiles."""
    if not values:
        raise ValueError("quartiles of no values")
    if len(values) == 1:
        return (values[0],) * 3
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def tail_percentile(n, min_beyond=10):
    """Highest whole percentile p (50..99) that still has at least
    ``min_beyond`` of ``n`` samples above it, i.e. n * (100 - p) / 100
    >= min_beyond. None when even the median lacks that support."""
    for p in range(99, 49, -1):
        if n * (100 - p) >= min_beyond * 100:
            return p
    return None


def percentile(values, p):
    """Linear-interpolated p-th percentile (0 <= p <= 100) of values,
    the 'inclusive' definition: p=50 is the median, p=100 the max."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    pos = (len(xs) - 1) * p / 100
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def geomean(values):
    if not values or min(values) <= 0:
        raise ValueError("geometric mean needs positive values")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def union_length(intervals):
    """Total length covered by possibly overlapping (start, end) pairs."""
    total = 0.0
    cur_start = cur_end = None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_times(spans):
    """Per-span self time: the span's duration minus the part of its
    interval that its child spans cover (children may overlap each
    other, e.g. work on another thread; they are clipped to the
    parent). ``spans`` are objects or dicts with ``id``, ``parent``,
    ``start`` and ``end``; returns {span id: self seconds}."""
    def get(s, key):
        return s[key] if isinstance(s, dict) else getattr(s, key)

    by_id = {get(s, "id"): s for s in spans}
    children: dict = {}
    for s in spans:
        parent = get(s, "parent")
        if parent is not None and parent in by_id:
            children.setdefault(parent, []).append(s)
    out = {}
    for sid, s in by_id.items():
        start, end = get(s, "start"), get(s, "end")
        covered = union_length(
            (max(start, get(c, "start")), min(end, get(c, "end")))
            for c in children.get(sid, ())
            if get(c, "end") > start and get(c, "start") < end
        )
        out[sid] = (end - start) - covered
    return out
