"""Statistics shared by run.py and the run-set comparison (compare.py).

Timings are summarised as a median plus the highest percentile that still
has at least ten samples beyond it (capped at p99). A failed op enters every
percentile as +inf: it misses any latency limit.
"""
import math
import statistics

BEYOND = 10
MAX_TAIL = 99.0


def percentile(values, q):
    """Nearest-rank q-th percentile (0 < q <= 100) of `values`."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    rank = max(1, math.ceil(q / 100.0 * len(xs)))
    return xs[rank - 1]


def tail_rank(n, beyond=BEYOND, cap=MAX_TAIL):
    """The highest percentile, to a tenth, whose nearest-rank sample of n
    has at least `beyond` samples above it, capped at `cap`; None when n
    cannot support any percentile that way."""
    if n <= beyond:
        return None
    q = math.floor(1000.0 * (n - beyond) / n) / 10.0
    while q > 0 and n - max(1, math.ceil(q / 100.0 * n)) < beyond:
        q = round(q - 0.1, 1)
    return min(cap, q) if q > 0 else None


def tail(values, beyond=BEYOND, cap=MAX_TAIL):
    """(percentile, value) of the tail rule; falls back to the median when
    the sample is too small to support anything higher."""
    q = tail_rank(len(values), beyond, cap)
    if q is None or q < 50.0:
        q = 50.0
    return q, percentile(values, q)


def median(values):
    return statistics.median(values)


def quartiles(values):
    """(q1, median, q3) as statistics.quantiles(n=4) gives them."""
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values):
    """Inter-quartile distance as a share of the median."""
    q1, med, q3 = quartiles(values)
    return (q3 - q1) / med if med else math.inf


def union_length(intervals, lo=None, hi=None):
    """Total length covered by (start, end) intervals, clipped to [lo, hi]."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    clipped.sort()
    total, cur_s, cur_e = 0, None, None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """Self time of every span: its duration minus the part of its interval
    that its direct children cover. `spans` are dicts with id, parent,
    start_us and end_us; returns {id: self_us}."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        kids = [(c["start_us"], c["end_us"]) for c in children.get(s["id"], []) if c is not s]
        dur = s["end_us"] - s["start_us"]
        out[s["id"]] = dur - union_length(kids, s["start_us"], s["end_us"])
    return out


def compare(base, change, bounds, better):
    """Compare two run sets of one workload.

    `base` and `change` map metric -> list of values; `bounds` maps metric
    -> allowed relative worsening; `better` maps metric -> "lower" or
    "higher". Returns one row per metric with both sides' quartiles, the
    relative change of the median (positive = worse) and whether the
    change stays within the bound."""
    rows = []
    for m in sorted(bounds):
        if m not in base or m not in change:
            continue
        b = quartiles(base[m])
        c = quartiles(change[m])
        rel = (c[1] - b[1]) / b[1] if b[1] else 0.0
        worse = rel if better[m] == "lower" else -rel
        rows.append({
            "metric": m,
            "base": b, "change": c,
            "base_spread": spread(base[m]), "change_spread": spread(change[m]),
            "worse_by": worse, "bound": bounds[m],
            "agree": worse <= bounds[m],
        })
    return rows
