"""Arithmetic of the benchmark: percentiles, span self time, ratios.

Pure functions over the raw measurements the Scala harness writes, so
they can be tested without Spark (see test_stats.py).
"""
import statistics

# a tail percentile is reported only with at least this many samples
# beyond it
TAIL_SAMPLES = 10


def quantile(xs, q):
    """Linear-interpolated q-quantile of xs (inclusive definition)."""
    s = sorted(xs)
    if not s:
        raise ValueError("quantile of no samples")
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def tail_quantile(n, want=0.9):
    """The highest quantile <= want with TAIL_SAMPLES samples beyond it,
    never below the median."""
    if n <= 0:
        raise ValueError("no samples")
    return max(0.5, min(want, 1.0 - TAIL_SAMPLES / n))


def tail(xs, want=0.9):
    """(value, quantile used, sample count) under the tail rule."""
    q = tail_quantile(len(xs), want)
    return quantile(xs, q), q, len(xs)


def median(xs):
    return statistics.median(xs)


def duration(span):
    return span["end"] - span["start"]


def self_times(spans, value=duration):
    """Self time per span name: each span's duration minus its direct
    children's. Spans are dicts with id, parent, name, start, end; they
    nest, as the harness opens them on one thread. `value` picks another
    additive per-span figure, such as the Spark task time inside it."""
    children = {}
    for sp in spans:
        children[sp["parent"]] = children.get(sp["parent"], 0.0) + value(sp)
    out = {}
    for sp in spans:
        out[sp["name"]] = out.get(sp["name"], 0.0) + value(sp) - children.get(sp["id"], 0.0)
    return out


def ratio(num, den):
    """num / den, or 0.0 when den is 0 (the layer did no such work)."""
    return num / den if den else 0.0
