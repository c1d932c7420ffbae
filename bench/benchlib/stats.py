"""Statistics of a run: percentiles, the tail rule, spreads, span self
time, and the one-line summary format."""
import json
import math
import statistics

TAIL_MIN_BEYOND = 10


def percentile(values, p):
    """Linear-interpolated percentile (the usual 'linear' definition)."""
    xs = sorted(values)
    if not xs:
        return math.nan
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail(values):
    """The highest whole percentile from 50 up with at least ten samples
    strictly beyond it. Returns (percentile, value, samples); with fewer
    than twenty samples no percentile qualifies and the median is given."""
    n = len(values)
    for p in range(99, 49, -1):
        v = percentile(values, p)
        if sum(1 for x in values if x > v) >= TAIL_MIN_BEYOND:
            return float(p), v, n
    return 50.0, percentile(values, 50.0), n


def spread(values):
    """Distance between the first and third quartile as a share of the
    median, as `statistics.quantiles(values, n=4)` gives them."""
    q = statistics.quantiles(values, n=4)
    return (q[2] - q[0]) / statistics.median(values)


def self_times(spans):
    """Self time per span name: each span's duration minus the part of
    its interval that its child spans cover. Returns {name: ns}."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start_ns"], s["end_ns"]))
    out = {}
    for s in spans:
        own = uncovered(s["start_ns"], s["end_ns"], children.get(s["id"], ()))
        out[s["name"]] = out.get(s["name"], 0) + max(0, own)
    return out


def uncovered(start, end, intervals):
    """Length of [start, end) not covered by any of `intervals`."""
    ivs = sorted((max(a, start), min(b, end)) for a, b in intervals)
    covered, cur_s, cur_e = 0, None, None
    for a, b in ivs:
        if b <= a:
            continue
        if cur_e is None or a > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = a, b
        else:
            cur_e = max(cur_e, b)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (end - start) - covered


SUMMARY_KEYS = {"correct", "attempted", "failed", "metrics"}


def summary_line(correct, attempted, failed, metrics):
    """The one-line summary: {name: (value, unit)} -> JSON text."""
    return json.dumps({"correct": bool(correct), "attempted": int(attempted),
                       "failed": int(failed),
                       "metrics": {k: {"value": v, "unit": u}
                                   for k, (v, u) in metrics.items()}})


def parse_summary(text):
    """Parse the last non-empty line of a run's output and check its form."""
    lines = [ln for ln in text.splitlines() if ln.strip()]
    if not lines:
        raise ValueError("no output")
    d = json.loads(lines[-1])
    if set(d) != SUMMARY_KEYS:
        raise ValueError(f"summary keys {sorted(d)}")
    if not isinstance(d["correct"], bool):
        raise ValueError("correct is not a boolean")
    for k in ("attempted", "failed"):
        if not isinstance(d[k], int) or isinstance(d[k], bool) or d[k] < 0:
            raise ValueError(f"{k} is not a whole number")
    if d["attempted"] < 1:
        raise ValueError("attempted < 1")
    for name, m in d["metrics"].items():
        if set(m) != {"value", "unit"} or not isinstance(m["unit"], str):
            raise ValueError(f"metric {name} is malformed")
        if not isinstance(m["value"], (int, float)) or isinstance(m["value"], bool):
            raise ValueError(f"metric {name} has no numeric value")
    return d
