"""Statistics of the benchmark: medians, the supported-percentile rule and
span self time. Pure functions, tested by test_perfbench.py.
"""

import math
import statistics

# Percentile levels a tail may be reported at. A level is supported when at
# least `BEYOND` samples lie above it.
LEVELS = (99, 95, 90, 75, 50)
BEYOND = 10


def median(xs):
    return statistics.median(xs)


def op_gmean(passes):
    """Geometric mean over operations of each operation's median across
    passes. `passes` lists every pass's latencies in the same operation
    order. Unlike a median over unlike operations (a 2 s stream start next
    to a 0.4 s window query), it does not jump when two operations swap
    places."""
    width = max((len(p) for p in passes), default=0)
    per_op = [median(op) for op in zip(*[p for p in passes if p and len(p) == width])]
    if not per_op:  # every pass failed; the run reports failures anyway
        return 0.0
    return math.exp(sum(math.log(x) for x in per_op) / len(per_op))


def percentile(xs, p):
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    s = sorted(xs)
    return s[max(0, math.ceil(p / 100.0 * len(s)) - 1)]


def supported_tail(xs):
    """(level, value) of the highest level in LEVELS that leaves at least
    BEYOND samples above its nearest rank, or None if even the median
    does not."""
    n = len(xs)
    for p in LEVELS:
        if n - math.ceil(p / 100.0 * n) >= BEYOND:
            return p, percentile(xs, p)
    return None


def _covered(intervals):
    """Total length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
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
    """Map span id -> self time in ns: its duration minus the part of its
    interval that its child spans cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start_ns"], s["end_ns"]))
    out = {}
    for s in spans:
        inside = [(max(a, s["start_ns"]), min(b, s["end_ns"])) for a, b in kids.get(s["id"], [])]
        inside = [(a, b) for a, b in inside if b > a]
        out[s["id"]] = (s["end_ns"] - s["start_ns"]) - _covered(inside)
    return out


def _in_passes(spans, pass_ops):
    """The spans whose op is one of `pass_ops` or a sub-op of one
    (`pass3.refresh7` belongs to `pass3`)."""
    return [s for s in spans if s["op"].split(".")[0] in pass_ops]


def layer_self_seconds(spans, pass_ops):
    """Sum of self time per span name (seconds) over the spans of the
    passes `pass_ops`."""
    chosen = _in_passes(spans, pass_ops)
    st = self_times(chosen)
    out = {}
    for s in chosen:
        out[s["name"]] = out.get(s["name"], 0.0) + st[s["id"]] / 1e9
    return out


def unattributed_share(spans, pass_ops, reported):
    """Share of the passes' wall time (their root spans) that the self
    times of the spans `reported(name)` accepts do not cover: the pass
    roots' own self time plus that of every span no metric reports."""
    chosen = _in_passes(spans, pass_ops)
    st = self_times(chosen)
    wall = sum(s["end_ns"] - s["start_ns"] for s in chosen if s["parent"] == 0)
    covered = sum(st[s["id"]] for s in chosen if s["parent"] != 0 and reported(s["name"]))
    return (wall - covered) / wall if wall > 0 else 1.0

