"""Arithmetic shared by the runner and its tests: percentiles, spreads and
span self-times."""
import math
import statistics


def percentile(values, p):
    """Linear-interpolated percentile (``p`` in [0, 100]) of a non-empty
    sequence, the same rule as numpy's default."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sequence")
    k = (len(xs) - 1) * p / 100.0
    lo = math.floor(k)
    hi = math.ceil(k)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def median(values):
    return percentile(values, 50)


def spread(values):
    """Inter-quartile range as a share of the median."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2


def union_length(intervals):
    """Total length covered by a set of ``(start, end)`` intervals."""
    total = 0
    cur_s = cur_e = None
    for a, b in sorted(intervals):
        if cur_e is None or a > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = a, b
        elif b > cur_e:
            cur_e = b
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """Per span: its duration minus the time covered by its children
    (children clipped to the parent; overlapping children counted once).
    ``spans`` are dicts with ``id``, ``parent``, ``name``, ``t0``, ``t1``.
    Returns ``{id: self_time}`` in the spans' time unit."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered = union_length([(max(c["t0"], s["t0"]), min(c["t1"], s["t1"]))
                                for c in kids.get(s["id"], [])
                                if min(c["t1"], s["t1"]) > max(c["t0"], s["t0"])])
        out[s["id"]] = (s["t1"] - s["t0"]) - covered
    return out


def layer_of(name):
    """The layer a span is reported under: its first dotted component."""
    return name.split(".", 1)[0]


def layer_self_seconds(spans):
    """Self-time per layer in seconds (spans carry nanosecond bounds)."""
    st = self_times(spans)
    out = {}
    for s in spans:
        k = layer_of(s["name"])
        out[k] = out.get(k, 0.0) + st[s["id"]] / 1e9
    return out
