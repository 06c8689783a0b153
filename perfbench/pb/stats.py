"""Pure logic of the benchmark: percentiles, span self time, failure
counting and the seeded query order. No I/O; tested in perfbench/tests."""

import math
import random
import statistics


def percentile(samples, p):
    """The p-th percentile, interpolated linearly between the two nearest
    samples (numpy's default, and `statistics.quantiles` 'inclusive')."""
    if not samples:
        raise ValueError("percentile of no samples")
    xs = sorted(samples)
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail(samples, p=90, min_beyond=10):
    """The p-th percentile with the number of samples above it. `ok` says
    whether at least `min_beyond` samples lie beyond it, the condition
    under which the percentile is worth reporting."""
    value = percentile(samples, p)
    beyond = sum(1 for x in samples if x > value)
    return {"value": value, "samples": len(samples), "beyond": beyond,
            "ok": beyond >= min_beyond}


def median(samples):
    return statistics.median(samples)


def covered(intervals, lo, hi):
    """Length of the union of [start, end) intervals, clipped to [lo, hi)."""
    clipped = sorted((max(s, lo), min(e, hi)) for s, e in intervals
                     if min(e, hi) > max(s, lo))
    total = 0
    cur_s = cur_e = None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span, children):
    """A span's duration minus the part of it its child spans cover.
    Spans are dicts with start_ns/end_ns; the result is in ns."""
    lo, hi = span["start_ns"], span["end_ns"]
    return (hi - lo) - covered(
        [(c["start_ns"], c["end_ns"]) for c in children], lo, hi)


def count_failures(execs, check_errors):
    """Timed executions that failed: those that threw, those whose query
    failed its output check, and those whose output digest differs from
    the checked output's (`expected_digest`, when the workload has one).
    Returns (attempted, failed)."""
    failed = 0
    for e in execs:
        want = e.get("expected_digest")
        if (e.get("error") is not None or check_errors.get(e["name"])
                or (want is not None and e.get("digest") != want)):
            failed += 1
    return len(execs), failed


def seeded_order(names, seed):
    """The run order of a workload's queries: its names sorted, then
    shuffled by a generator seeded with `seed` only."""
    order = sorted(names)
    random.Random(seed).shuffle(order)
    return order
