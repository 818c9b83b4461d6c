"""Summary statistics and span arithmetic for perfbench."""
import statistics


def median(values):
    return statistics.median(values) if values else 0.0


def tail(values, beyond=10):
    """The highest percentile with at least `beyond` samples above it.

    Returns (value, percentile, sample count). With n samples sorted
    ascending, the sample at 1-based rank n - beyond has exactly
    `beyond` samples above it, so it sits at percentile
    100 * (n - beyond) / n. With `beyond` or fewer samples no percentile
    qualifies: the value is the maximum and the percentile is None.
    """
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return 0.0, None, 0
    if n <= beyond:
        return xs[-1], None, n
    return xs[n - beyond - 1], 100.0 * (n - beyond) / n, n


def _covered(intervals, lo, hi):
    """Length of the union of `intervals`, clipped to [lo, hi]."""
    total, end = 0, lo
    for s, e in sorted((max(lo, s), min(hi, e)) for s, e in intervals):
        if e <= end:
            continue
        total += e - max(s, end)
        end = e
    return total


def self_times(spans):
    """Per span name, the summed self time in microseconds: each span's
    duration minus the part of its interval its child spans cover."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start_us"], s["end_us"]))
    out = {}
    for s in spans:
        lo, hi = s["start_us"], s["end_us"]
        own = (hi - lo) - _covered(children.get(s["id"], []), lo, hi)
        out[s["name"]] = out.get(s["name"], 0) + max(0, own)
    return out

