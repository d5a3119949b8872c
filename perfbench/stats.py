"""Statistics of the benchmark runner: percentiles, tail percentiles with a
minimum sample count, and per-layer self time of nested spans."""

import math


def percentile(values, p):
    """Linear-interpolated percentile (0 <= p <= 100) of a non-empty sequence,
    the same rule as numpy's default."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    rank = (len(xs) - 1) * p / 100.0
    lo = math.floor(rank)
    hi = math.ceil(rank)
    return xs[lo] + (xs[hi] - xs[lo]) * (rank - lo)


def tail_level(n, want=95.0, beyond=10):
    """The highest percentile level, at most `want`, that still leaves at
    least `beyond` of `n` samples above it; never below the median."""
    if n <= 0:
        raise ValueError("tail level of no samples")
    return max(50.0, min(want, 100.0 * (n - beyond) / n))


def tail(values, want=95.0, beyond=10):
    """(value, level) of the tail percentile of `values` (see tail_level)."""
    level = tail_level(len(values), want, beyond)
    return percentile(values, level), level


def self_times(spans):
    """Self time of each span in ns: its duration minus the part of it
    covered by its children (overlapping children count once).

    `spans` is a list of dicts with id, parent, start_ns and end_ns;
    returns {id: self_ns}."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        start, end = s["start_ns"], s["end_ns"]
        covered = 0
        cur_lo = cur_hi = None
        kids = sorted(((max(c["start_ns"], start), min(c["end_ns"], end))
                       for c in children.get(s["id"], [])), key=lambda iv: iv[0])
        for lo, hi in kids:
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
        out[s["id"]] = (end - start) - covered
    return out
