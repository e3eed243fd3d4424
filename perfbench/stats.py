"""Pure helpers for the workload benchmark: percentiles with their sample
counts, the tail-percentile rule, metric names, and per-layer self time
from spans. No I/O; the self-tests cover every function here."""
import math
import re

NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT_RE = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


def valid_name(name):
    """A metric or workload name: starts with a letter or digit, at most 64
    letters, digits, `_`, `.` and `-`."""
    return isinstance(name, str) and NAME_RE.fullmatch(name) is not None


def valid_unit(unit):
    return isinstance(unit, str) and UNIT_RE.fullmatch(unit) is not None


def percentile(values, q):
    """The q-quantile (0 <= q <= 1) by linear interpolation between closest
    ranks, returned with the sample count: (value, n). (nan, 0) when empty."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return float("nan"), 0
    if not 0.0 <= q <= 1.0:
        raise ValueError(f"quantile {q} outside [0, 1]")
    pos = q * (n - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, n - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo), n


def median(values):
    return percentile(values, 0.5)[0]


def beyond(values, v):
    """How many samples lie strictly above v."""
    return sum(1 for x in values if x > v)


def highest_supported(values, min_beyond=10):
    """The highest percentile (as q in [0, 1], in steps of 0.01) whose value
    leaves at least `min_beyond` samples strictly above it, with that value;
    None when the sample is too small for any."""
    for k in range(99, -1, -1):
        v, _ = percentile(values, k / 100.0)
        if beyond(values, v) >= min_beyond:
            return k / 100.0, v
    return None


def tail(values, q, min_beyond=10):
    """The workload's tail latency: the q-quantile when at least
    `min_beyond` samples lie above it; otherwise the highest percentile
    that does; otherwise (too few samples for any) the maximum. Returns
    (value, q_used), with q_used 1.0 for the maximum."""
    v, n = percentile(values, q)
    if n == 0:
        return float("nan"), q
    if beyond(values, v) >= min_beyond:
        return v, q
    best = highest_supported(values, min_beyond)
    if best is not None:
        return best[1], best[0]
    return max(values), 1.0


def self_times(spans):
    """Per span name, the summed self time in seconds: each span's duration
    minus the part of it that its direct children cover. `spans` are
    (id, parent, op, name, start_ns, end_ns) rows."""
    children = {}
    for s in spans:
        children.setdefault(s[1], []).append(s)
    out = {}
    for s in spans:
        sid, start, end = s[0], s[4], s[5]
        covered = _union_length([(max(c[4], start), min(c[5], end))
                                 for c in children.get(sid, []) if c[5] > start and c[4] < end])
        out[s[3]] = out.get(s[3], 0.0) + max(0, (end - start) - covered) / 1e9
    return out


def _union_length(intervals):
    total, cur_lo, cur_hi = 0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def layer_of(span_name):
    """Layer label of a span: the part before the first `:` (operations are
    named `<kind>:<name>`), else the span name itself."""
    return span_name.split(":", 1)[0]
