"""Arithmetic of the benchmark's figures, kept apart from Spark so it can be
unit-tested: the tail-percentile rule, failure accounting, and span self
time and job attribution."""

import math
import statistics

TAIL_BEYOND = 10


def tail(values):
    """The highest percentile with at least TAIL_BEYOND samples beyond it.

    Returns (value, percentile, n). With n sorted samples the value at
    0-based index n-11 has exactly ten samples above it, and its percentile
    is the share of samples at or below it. A run with fewer than eleven
    samples has no such percentile; it reports its maximum as percentile 100.
    Failed calls enter as +inf, so they count as missing any latency limit.
    """
    v = sorted(values)
    n = len(v)
    if n == 0:
        raise ValueError("no samples")
    k = n - 1 - TAIL_BEYOND if n > TAIL_BEYOND else n - 1
    return v[k], 100.0 * (k + 1) / n, n


def latencies(calls, key="wall_s"):
    """Times of the calls (`key`: "wall_s" or "cpu_s"), a failed call as
    +inf."""
    return [c[key] if c["ok"] else math.inf for c in calls]


def median(values):
    return statistics.median(values)


def throughput(calls, key="wall_s"):
    """Units completed by successful calls per second of ALL calls' time
    (`key`: "wall_s" or "cpu_s"): a failed call adds its time and no work."""
    t = sum(c[key] for c in calls)
    return sum(c["units"] for c in calls if c["ok"]) / t if t > 0 else 0.0


def pass_throughput(calls, key="wall_s"):
    """Median over passes of each pass's throughput, so one slow pass (a
    late JIT compile, a host hiccup) does not move the figure."""
    passes = {}
    for c in calls:
        passes.setdefault(c["pass"], []).append(c)
    return median([throughput(cs, key) for cs in passes.values()])


def errors(calls, checks):
    """(attempted, failed). A call is failed if it threw or its output
    check failed; a check failing outside any call still fails the run, so
    it counts as one more attempted-and-failed operation."""
    attempted = len(calls)
    failed = sum(1 for c in calls if not c["ok"])
    if failed == 0 and any(not c["ok"] for c in checks):
        attempted, failed = attempted + 1, 1
    return attempted, failed


def self_times(spans):
    """span id -> self time: its duration minus the part of its interval
    covered by its children (overlapping children are counted once)."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["t0_s"], s["t1_s"]
        iv = sorted((max(lo, c["t0_s"]), min(hi, c["t1_s"])) for c in kids.get(s["id"], []))
        covered, end = 0.0, lo
        for a, b in iv:
            a = max(a, end)
            if b > a:
                covered += b - a
                end = b
        out[s["id"]] = (hi - lo) - covered
    return out


def attribute_jobs(spans, jobs):
    """span id -> list of jobs submitted while it was the innermost open
    span (the open span with the latest start that contains the submit
    time). Jobs outside every span are dropped."""
    out = {s["id"]: [] for s in spans}
    for j in jobs:
        t = j["submit_ms"]
        inside = [s for s in spans if s["start_ms"] <= t <= s["end_ms"]]
        if inside:
            best = max(inside, key=lambda s: (s["start_ms"], s["id"]))
            out[best["id"]].append(j)
    return out


def coverage(spans):
    """Sum of the self times of non-root spans over the roots' wall time."""
    st = self_times(spans)
    roots = sum(s["t1_s"] - s["t0_s"] for s in spans if s["parent"] == 0)
    layers = sum(st[s["id"]] for s in spans if s["parent"] != 0)
    return layers / roots if roots > 0 else 0.0
