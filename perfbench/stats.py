"""Pure reductions from raw measurements to metrics (self-tested)."""
import math

# Candidate tail percentiles, highest first.
TAIL_LADDER = (99, 95, 90, 75, 50)


def quantile(values, q):
    """Linear-interpolated quantile of `values` (numpy's default method)."""
    v = sorted(values)
    if not v:
        raise ValueError("no samples")
    pos = q * (len(v) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def tail(values):
    """The highest percentile with at least 10 samples beyond it.

    Returns (q, value, n). With fewer than 20 samples no ladder percentile
    has 10 samples beyond it and the maximum is returned as q = 1.0."""
    n = len(values)
    for pct in TAIL_LADDER:
        if n * (100 - pct) >= 1000:
            return pct / 100, quantile(values, pct / 100), n
    return 1.0, max(values), n


def geomean(values):
    """Geometric mean of positive values."""
    return math.exp(sum(math.log(v) for v in values) / len(values))


def union(intervals):
    """Merge (start, end) intervals; returns the disjoint, sorted list."""
    out = []
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return [tuple(i) for i in out]


def covered(span, intervals):
    """Length of `span` covered by the union of `intervals`."""
    s0, e0 = span
    return sum(e - s for s, e in union((max(s, s0), min(e, e0)) for s, e in intervals))


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    return (span[1] - span[0]) - covered(span, children)


def max_concurrent(intervals):
    """Largest number of intervals open at one instant."""
    events = sorted([(s, 1) for s, e in intervals] + [(e, -1) for s, e in intervals])
    best = cur = 0
    for _, d in events:
        cur += d
        best = max(best, cur)
    return best
