"""Statistics the benchmark reports: medians, the tail percentile, span
self time and the per-layer roll-up of a traced run."""
import math
import statistics

# Percentiles a tail may be reported at, highest first.
TAIL_GRID = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
TAIL_BEYOND = 10


def percentile(values, p):
    """Nearest-rank percentile of `values` (p in 0..100)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    k = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[k - 1]


def tail(values, beyond=TAIL_BEYOND, grid=TAIL_GRID):
    """The highest grid percentile with at least `beyond` samples above
    it: returns (percentile, value, n). None when no grid point has that
    many samples beyond it."""
    n = len(values)
    for p in grid:
        if n - math.ceil(p / 100.0 * n) >= beyond:
            return p, percentile(values, p), n
    return None


def median(values):
    return statistics.median(values)


def quartiles(values):
    """(q1, median, q3) as statistics.quantiles(n=4) gives them."""
    if len(values) < 2:
        v = values[0]
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def self_times(spans):
    """span id -> its exclusive time (s): each instant of a span's
    interval, clipped to its parent's, goes to the innermost spans open
    then, split evenly when several siblings overlap (concurrent jobs).
    So the self times of a tree sum to its root's duration."""
    by_id = {s["id"]: s for s in spans}
    clip = {}
    for s in sorted(spans, key=lambda s: s["id"]):  # parents before children
        lo, hi = s["start_ns"], s["end_ns"]
        if s["parent"] in clip:
            plo, phi = clip[s["parent"]]
            lo, hi = max(lo, plo), min(hi, phi)
        clip[s["id"]] = (lo, max(lo, hi))
    cuts = sorted({t for lo, hi in clip.values() for t in (lo, hi)})
    out = {i: 0.0 for i in by_id}
    live = [(lo, hi, i) for i, (lo, hi) in clip.items() if hi > lo]
    for t0, t1 in zip(cuts, cuts[1:]):
        active = {i for lo, hi, i in live if lo <= t0 and t1 <= hi}
        inner = active - {by_id[i]["parent"] for i in active}
        for i in inner:
            out[i] += (t1 - t0) / len(inner) / 1e9
    return out


def layer_self_times(spans):
    """layer -> summed self time (s)."""
    st = self_times(spans)
    out = {}
    for s in spans:
        out[s["layer"]] = out.get(s["layer"], 0.0) + st[s["id"]]
    return out
