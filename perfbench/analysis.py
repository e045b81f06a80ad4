"""Arithmetic of the benchmark: percentiles, interval unions, per-layer self
time and execution overhead. Pure functions over plain lists, so
test_analysis.py can check them on hand-built inputs.

Times are milliseconds. An interval is a (start, end) pair.
"""
import math
import statistics

# percentiles a tail metric may report, highest last
TAIL_LADDER = (50, 75, 90, 95, 99, 99.9)
# samples that must lie beyond the reported tail percentile
TAIL_BEYOND = 10


def rank(p, n):
    """Nearest-rank index (0-based) of percentile p in n sorted samples."""
    return max(0, math.ceil(p / 100.0 * n) - 1)


def percentile(values, p):
    """Nearest-rank percentile: a value that was actually measured."""
    s = sorted(values)
    return s[rank(p, len(s))]


def tail_percentile(n):
    """The highest ladder percentile with at least TAIL_BEYOND of n samples
    beyond it, or None when even the median has too few."""
    ok = [p for p in TAIL_LADDER if n - (rank(p, n) + 1) >= TAIL_BEYOND]
    return ok[-1] if ok else None


def median(values):
    return statistics.median(values)


def union(intervals):
    """Merge overlapping intervals; returns a sorted disjoint list."""
    out = []
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return [tuple(i) for i in out]


def length(intervals):
    return sum(e - s for s, e in union(intervals))


def subtract(intervals, holes):
    """The parts of `intervals` not covered by `holes`."""
    out = []
    holes = union(holes)
    for s, e in union(intervals):
        cur = s
        for hs, he in holes:
            if he <= cur or hs >= e:
                continue
            if hs > cur:
                out.append((cur, hs))
            cur = max(cur, he)
        if cur < e:
            out.append((cur, e))
    return out


def self_time(spans):
    """Self time per layer. A span's self part is its interval minus the
    union of its children's intervals (clipped to it), so parallel children
    are unioned, not summed. A layer's self time is the union of its spans'
    self parts, so overlapping spans of one layer count once.

    spans: dicts with id, layer, start, end, parent.
    """
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    parts = {}
    for s in spans:
        own = subtract([(s["start"], s["end"])], children.get(s["id"], []))
        parts.setdefault(s["layer"], []).extend(own)
    return {layer: length(p) for layer, p in parts.items()}


def exec_overhead(jobs, stages):
    """Execution wall time not explained by stage compute: the union of job
    intervals minus the union of each stage's critical path. A stage's
    critical path is its longest task, ending when the stage completes;
    with every task in parallel the stage could finish no sooner.

    jobs: (start, end) pairs; stages: (end, max_task_ms) pairs.
    """
    return length(subtract(jobs, [(end - longest, end) for end, longest in stages]))


def innermost(spans, t):
    """The span with the latest start among those containing time t; the
    cause a listener event is attributed to. None when no span contains t."""
    best = None
    for s in spans:
        if s["start"] <= t <= s["end"] and (best is None or s["start"] > best["start"]):
            best = s
    return best
