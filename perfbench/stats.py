"""Statistics of the benchmark: percentiles that state their sample count,
and span self times."""
import math

MIN_BEYOND = 10  # samples that must lie beyond a reported percentile


def median(values):
    return percentile(values, 50, min_beyond=0)[0]


def percentile(values, p, min_beyond=MIN_BEYOND):
    """(value, sample count) of the p-th percentile, linearly interpolated
    between closest ranks. Refuses when fewer than `min_beyond` samples lie
    beyond it, i.e. when n * (1 - p/100) < min_beyond."""
    n = len(values)
    if n == 0 or n * (100 - p) / 100 < min_beyond:
        raise ValueError(f"p{p} needs {min_beyond} samples beyond it; have {n} samples")
    s = sorted(values)
    pos = (n - 1) * p / 100
    lo = math.floor(pos)
    hi = min(lo + 1, n - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo), n


def highest_percentile(values, candidates=(99, 95, 90, 75, 50)):
    """(p, value, n) for the highest candidate percentile the sample supports,
    or None."""
    for p in candidates:
        try:
            v, n = percentile(values, p)
            return p, v, n
        except ValueError:
            continue
    return None


def covered(start, end, intervals):
    """Length of [start, end] covered by the union of `intervals`."""
    clipped = sorted((max(a, start), min(b, end)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if b <= a:
            continue
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
    """Self time per span id: its duration minus the part of its interval
    its children cover. `spans` are dicts with id, parent, start, end."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"]) -
            covered(s["start"], s["end"], children.get(s["id"], []))
            for s in spans}
