"""Pure helpers of the dedup benchmark: order statistics and span attribution.

Everything here works on plain Python values so it can be unit-tested without
a JVM (see perfbench/tests/test_spans.py).

Times are epoch seconds (floats). A *span* is a dict with ``name``,
``parent`` (a span name or None), ``start`` and ``end``. A *job* is a dict
with ``start`` and ``end``; a *stage* is a dict with ``submit`` and its
task-metric totals.
"""

import statistics


def median(values):
    return statistics.median(values)


def quartiles(values):
    """(q1, q2, q3) as ``statistics.quantiles(values, n=4)`` gives them."""
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values):
    """Inter-quartile distance as a share of the median (0 when the median is 0)."""
    q1, _, q3 = quartiles(values)
    m = median(values)
    return (q3 - q1) / m if m else 0.0


def ratio(num, den):
    """num / den, or 0.0 when there is nothing to divide by."""
    return num / den if den else 0.0


def merge_intervals(intervals):
    """Union of closed intervals as a sorted list of disjoint (start, end)."""
    out = []
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if out and s <= out[-1][1]:
            out[-1] = (out[-1][0], max(out[-1][1], e))
        else:
            out.append((s, e))
    return out


def covered(intervals, start, end):
    """Length of [start, end] covered by the union of ``intervals``."""
    total = 0.0
    for s, e in merge_intervals((max(s, start), min(e, end)) for s, e in intervals):
        total += e - s
    return total


def self_seconds(span, spans):
    """Span duration minus the part of it that its child spans cover."""
    kids = [(c["start"], c["end"]) for c in spans if c.get("parent") == span["name"]]
    return (span["end"] - span["start"]) - covered(kids, span["start"], span["end"])


def in_window(span, t):
    return span["start"] <= t <= span["end"]


def span_counters(span, spans, jobs, stages):
    """Listener counters of one span, attributed by time window.

    A job belongs to the span its start falls in, a stage to the span its
    submission falls in. The benchmark drives one job at a time from one
    thread, so windows decide attribution; call sites are not used because
    most jobs carry no engine frame in their stage details under adaptive
    execution.
    """
    mine = [j for j in jobs if in_window(span, j["start"])]
    ran = [s for s in stages if in_window(span, s["submit"])]
    wall = span["end"] - span["start"]
    return {
        "seconds": span.get("seconds", wall),
        "self_s": self_seconds(span, spans),
        "jobs": len(mine),
        "stages": len(ran),
        "executor_run_s": sum(s["run_ms"] for s in ran) / 1e3,
        "driver_s": wall - covered([(j["start"], j["end"]) for j in mine],
                                   span["start"], span["end"]),
        "shuffle_write_bytes": sum(s["shuffle_write_bytes"] for s in ran),
        "spill_bytes": sum(s["spill_bytes"] for s in ran),
        "peak_exec_mem_bytes": max((s["peak_exec_mem_bytes"] for s in ran), default=0),
    }
