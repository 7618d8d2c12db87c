"""Summary statistics and span arithmetic for the benchmark's metrics."""

# A tail percentile must leave at least this many samples above it.
TAIL_BEYOND = 10


def tail(values):
    """Highest percentile that still has TAIL_BEYOND samples above it.

    Returns (value, percentile, n), or None when there are too few
    samples for any such percentile.  With n sorted samples the
    sample at 0-based rank n - TAIL_BEYOND - 1 has exactly TAIL_BEYOND
    samples above it; its percentile is the share of samples at or
    below it.
    """
    n = len(values)
    if n <= TAIL_BEYOND:
        return None
    rank = n - TAIL_BEYOND - 1
    return sorted(values)[rank], 100.0 * (rank + 1) / n, n


def self_times(spans):
    """Self time per span name, in seconds.

    A span's self time is its duration minus the part of its interval
    that its child spans cover (overlapping children count once).
    `spans` is a list of dicts with id, parent, name, start_ns, end_ns.
    """
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        a, b = s["start_ns"], s["end_ns"]
        covered, at = 0, a
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start_ns"]):
            lo, hi = max(c["start_ns"], at), min(c["end_ns"], b)
            if hi > lo:
                covered += hi - lo
                at = hi
        out[s["name"]] = out.get(s["name"], 0.0) + (b - a - covered) / 1e9
    return out
