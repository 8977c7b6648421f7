"""Pure metric arithmetic for the benchmark (unit-tested in test_stats.py)."""
import math


def percentile(values, p):
    """Linear-interpolated percentile (p in [0, 100]) of a non-empty list."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = math.ceil(pos)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values):
    return percentile(values, 50)


def median_of_medians(ops):
    """Median over operation names of each name's median latency: the
    typical query of a pass, or the request median when every op is one
    request. Pooling latencies of different queries instead would put the
    median at the edge between two queries' clusters."""
    by_name = {}
    for o in ops:
        by_name.setdefault(o["name"], []).append(o["latency_ms"])
    return median([median(v) for v in by_name.values()])


def samples_beyond(n, p):
    """How many of n samples lie strictly above the p-th percentile rank."""
    return n - math.ceil(n * p / 100.0)


def highest_reportable(n, candidates=(99, 95, 90, 75, 50)):
    """The highest candidate percentile with at least ten samples beyond
    it, or None when even the median has fewer."""
    for p in sorted(candidates, reverse=True):
        if samples_beyond(n, p) >= 10:
            return p
    return None


def accounting(ops):
    """(attempted, failed) over op records: an op fails when it raised
    (ok false) or its output was checked and found wrong (correct false).
    An op that did both counts once."""
    attempted = len(ops)
    failed = sum(1 for o in ops
                 if not o["ok"] or o.get("correct") is False)
    return attempted, failed


def failed_frac(ops):
    attempted, failed = accounting(ops)
    return failed / attempted if attempted else 1.0


def self_times(spans):
    """{span id: self ms}: a span's duration minus the part of its
    interval that its child spans cover (children may not overlap in a
    single-threaded driver, but overlaps are merged, not double-counted)."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        start, end = s["start_ms"], s["start_ms"] + s["dur_ms"]
        ivs = sorted((max(start, c["start_ms"]),
                      min(end, c["start_ms"] + c["dur_ms"]))
                     for c in children.get(s["id"], []))
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in ivs:
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = s["dur_ms"] - covered
    return out
