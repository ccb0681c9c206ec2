"""Statistics shared by the benchmark's report and its self-tests."""
import math
import statistics


def median(xs):
    return statistics.median(xs) if xs else None


def percentile(xs, p):
    """Linear-interpolated percentile (0 <= p <= 100) of a non-empty list."""
    s = sorted(xs)
    k = (len(s) - 1) * p / 100.0
    lo = math.floor(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def tail_percentile(n, grid=(50, 75, 90, 95, 99, 99.9)):
    """The highest percentile on `grid` that has at least ten of `n`
    samples beyond it, or None when even the median has fewer."""
    best = None
    for p in grid:
        if n * (100 - p) >= 1000 - 1e-6:
            best = p
    return best


def geomean(xs):
    xs = list(xs)
    if not xs or any(x <= 0 for x in xs):
        return None
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def union_length(intervals, lo=None, hi=None):
    """Total length covered by (start, end) intervals, clipped to [lo, hi]."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(clipped):
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
    """Self time of each span: its duration minus the part of its interval
    covered by its children. `spans` maps id -> (parent, start, end)."""
    children = {}
    for sid, (parent, a, b) in spans.items():
        children.setdefault(parent, []).append((a, b))
    return {sid: (b - a) - union_length(children.get(sid, []), a, b)
            for sid, (parent, a, b) in spans.items()}


def driver_gap(span, stage_intervals):
    """Time inside `span` (start, end) during which no stage was running:
    the span's self time when the stages are its children."""
    tree = {"span": (None, span[0], span[1])}
    tree.update({i: ("span", a, b) for i, (a, b) in enumerate(stage_intervals)})
    return self_times(tree)["span"]
