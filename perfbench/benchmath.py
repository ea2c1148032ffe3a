"""The benchmark's arithmetic: percentiles with enough samples beyond them,
failure ratios, interval unions, span self time and the driver gap (op
time during which no Spark job ran)."""

import math
import statistics


class TooFewSamples(ValueError):
    pass


def percentile(values, q, min_beyond=10):
    """Nearest-rank q-quantile of `values` (0 < q < 1).

    A percentile is only reported when at least `min_beyond` samples lie
    beyond it, so p90 needs 100 samples and p50 needs 20; fewer raises
    TooFewSamples."""
    xs = sorted(values)
    rank = max(1, math.ceil(q * len(xs)))
    if len(xs) - rank < min_beyond:
        raise TooFewSamples(
            f"p{q * 100:g} of {len(xs)} samples leaves {len(xs) - rank} beyond it, need {min_beyond}")
    return xs[rank - 1]


def fail_ratio(attempted, failed):
    if attempted < 1:
        raise ValueError("no op was attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"{failed} failed of {attempted} attempted")
    return failed / attempted


def median(values, default=0.0):
    values = list(values)
    return statistics.median(values) if values else default


def union(intervals):
    """Merge (start, end) intervals; returns the disjoint sorted union."""
    out = []
    for s, e in sorted((s, e) for s, e in intervals if e > s):
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return [tuple(x) for x in out]


def covered(span, children):
    """Length of `span` covered by the union of `children`, clipped to it."""
    s0, e0 = span
    return sum(e - s for s, e in union((max(s, s0), min(e, e0)) for s, e in children))


def self_time(span, children):
    """A span's duration minus the part of its interval its children cover."""
    return (span[1] - span[0]) - covered(span, children)


def driver_gap(op_span, job_spans):
    """Op time during which no job was running (jobs may overlap)."""
    return self_time(op_span, job_spans)
