"""Statistics and span arithmetic for the benchmark report."""
import math
import statistics

MIN_TAIL = 10


def percentile(values, q):
    """The q-quantile (0 < q < 1) of `values` by linear interpolation, or
    None unless at least MIN_TAIL samples lie beyond it: a p90 needs
    100 samples, a p99 needs 1000, a median 20."""
    xs = sorted(values)
    n = len(xs)
    beyond = n - math.ceil(q * n) if q >= 0.5 else math.floor(q * n)
    if n == 0 or beyond < MIN_TAIL:
        return None
    pos = q * (n - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, n - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values):
    values = list(values)
    return statistics.median(values) if values else None


def union_ms(intervals):
    """Total length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
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
    """Self time (ms) of every span: its duration minus the union of its
    children's intervals, each clipped to the span. Children may nest
    and overlap each other; overlapping time is subtracted once."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        a, b = s["start_ms"], s["end_ms"]
        covered = union_ms((max(a, c["start_ms"]), min(b, c["end_ms"]))
                           for c in kids.get(s["id"], []))
        out[s["id"]] = max(0.0, (b - a) - covered)
    return out


def attach(spans, floating):
    """Give each floating span (a stage or micro-batch record) as parent
    the innermost span of the same pass that contains its start and
    whose key is empty or equal to its own; returns all spans together.
    Longer floating spans are placed first, so a stage can land inside
    a micro-batch."""
    placed = list(spans)
    for f in sorted(floating, key=lambda x: x["start_ms"] - x["end_ms"]):
        best = None
        for s in placed:
            if (s["pass"] == f["pass"] and s["key"] in ("", f["key"]) and
                    s["start_ms"] <= f["start_ms"] <= s["end_ms"] and
                    (best is None or
                     s["end_ms"] - s["start_ms"] < best["end_ms"] - best["start_ms"])):
                best = s
        placed.append(dict(f, parent=best["id"] if best else 0))
    return placed
