"""Statistics of the benchmark: medians, the tail rule, interval unions,
self time and the DAG critical path. Pure functions (see test_bench.py)."""
import math
import statistics


def median(xs):
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def tail(xs, beyond=10):
    """The highest whole percentile with at least `beyond` samples above
    it (nearest-rank). Returns (percentile, value, n); None when fewer
    than 2 * beyond samples leave no percentile of 50 or more."""
    xs = sorted(xs)
    n = len(xs)
    for p in range(99, 49, -1):
        rank = math.ceil(p * n / 100)
        if rank >= 1 and n - rank >= beyond:
            return p, xs[rank - 1], n
    return None


def union_length(intervals):
    """Total length covered by a set of [t0, t1] intervals."""
    total, end = 0.0, None
    for t0, t1 in sorted(intervals):
        if end is None or t0 > end:
            total += t1 - t0
            end = t1
        elif t1 > end:
            total += t1 - end
            end = t1
    return total


def clip(intervals, t0, t1):
    return [(max(a, t0), min(b, t1)) for a, b in intervals
            if min(b, t1) > max(a, t0)]


def self_times(spans, jobs=()):
    """Self time per span id: its duration minus the time covered by its
    direct child spans and by the Spark jobs running inside it that no
    child already covers. `spans`: (id, parent, name, t0, t1)."""
    children = {}
    for s in spans:
        children.setdefault(s[1], []).append(s)
    out = {}
    for sid, _, _, t0, t1 in spans:
        kids = [(c[3], c[4]) for c in children.get(sid, [])]
        covered = union_length(clip(kids + list(jobs), t0, t1))
        out[sid] = (t1 - t0) - covered
    return out


def critical_path(durations, parents):
    """Longest path through the DAG weighted by node durations; nodes
    missing from `durations` (not built) weigh nothing."""
    memo = {}

    def finish(n, seen=()):
        if n in memo:
            return memo[n]
        if n in seen:
            raise ValueError(f"cycle at {n}")
        best = max((finish(p, seen + (n,)) for p in parents.get(n, ())
                    if p in durations), default=0.0)
        memo[n] = best + durations.get(n, 0.0)
        return memo[n]

    return max((finish(n) for n in durations), default=0.0)


def spread(values):
    """Inter-quartile range as a share of the median."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else float("inf")
