"""Arithmetic of the benchmark: percentiles, span self time, and the
result line. Pure functions, tested by test_stats.py."""

import json
import math
import statistics

# A percentile is reported only when at least this many samples lie
# beyond it, so that it is not set by one or two outliers.
MIN_BEYOND = 10


def percentile(values, p):
    """Nearest-rank p-th percentile (0 < p < 100) of `values`, or None
    when fewer than MIN_BEYOND samples rank above it."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return None
    rank = max(1, math.ceil(p / 100.0 * n))
    if n - rank < MIN_BEYOND:
        return None
    return xs[rank - 1]


def median(values):
    return statistics.median(values) if values else 0.0


def covered(intervals):
    """Length of the union of (start, end) intervals."""
    total = 0.0
    end = -math.inf
    for s, e in sorted(intervals):
        s = max(s, end)
        if e > s:
            total += e - s
        end = max(end, e)
    return total


def self_times(spans):
    """Self time of each span, by id: its duration minus the part of its
    interval that its child spans cover."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ms"], s["end_ms"]
        kids = [(max(lo, c["start_ms"]), min(hi, c["end_ms"]))
                for c in children.get(s["id"], [])]
        out[s["id"]] = (hi - lo) - covered(kids)
    return out


def layer_of(name):
    """Spans are named `<layer>.<call>`."""
    return name.split(".", 1)[0]


def result_line(correct, attempted, failed, metrics):
    """The JSON result line. `metrics` maps a name to (value, unit)."""
    return json.dumps({
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }, sort_keys=False, allow_nan=False)


def parse_result(line):
    """Parses and validates a result line; raises ValueError if it does
    not have exactly the result keys."""
    obj = json.loads(line)
    if set(obj) != {"correct", "attempted", "failed", "metrics"}:
        raise ValueError("result keys are %s" % sorted(obj))
    if not isinstance(obj["correct"], bool):
        raise ValueError("correct is not a boolean")
    for k in ("attempted", "failed"):
        if not isinstance(obj[k], int) or isinstance(obj[k], bool) or obj[k] < 0:
            raise ValueError("%s is not a whole number" % k)
    if obj["attempted"] < 1:
        raise ValueError("nothing attempted")
    for name, m in obj["metrics"].items():
        if set(m) != {"value", "unit"} or not isinstance(m["value"], (int, float)):
            raise ValueError("metric %s is malformed" % name)
    return obj
