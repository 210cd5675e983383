"""Arithmetic of the benchmark: percentiles, freshness and self time.

Pure functions over the raw measurements the harness writes, so that
they can be unit-tested without Spark (see test_stats.py).
"""
import bisect
import statistics

# Tail percentiles, highest first; the reported one is the highest
# that has at least TAIL_BEYOND samples beyond it.
TAIL_PERCENTILES = (99, 95, 90, 75, 50)
TAIL_BEYOND = 10


def percentile(values, p):
    """The p-th percentile of values, interpolating between ranks."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    k = (len(xs) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail_percentile(n):
    """The highest of TAIL_PERCENTILES with at least TAIL_BEYOND of n
    samples beyond it; 50 when even the median has fewer."""
    for p in TAIL_PERCENTILES:
        if n * (100 - p) // 100 >= TAIL_BEYOND:
            return p
    return 50


def summary(values):
    """(median, tail percentile, value at that percentile, count)."""
    p = tail_percentile(len(values))
    return statistics.median(values), p, percentile(values, p), len(values)


def batch_ends(batches):
    """Sorted (cumulative input rows after the batch, emit time) per
    data batch. batches: dicts with id, rows and emit_ms."""
    ends, cum = [], 0
    for b in sorted(batches, key=lambda b: b["id"]):
        if b["rows"] > 0:
            cum += b["rows"]
            ends.append((cum, b["emit_ms"]))
    return ends


def emit_time(ends, cums, event):
    """When the batch holding input row `event` (0-based, in source
    order) was emitted, or None if no emitted batch holds it.
    cums: the cumulative row counts of ends."""
    i = bisect.bisect_right(cums, event)
    if i == len(ends) or ends[i][1] < 0:
        return None
    return ends[i][1]


def freshness(phase, batches_by_query):
    """Per-event freshness, ms, for the events of one open-loop phase:
    from the event's scheduled send time until the last query emitted
    the batch holding it. Returns (freshness values, events missed,
    time the last event was emitted)."""
    ends = [batch_ends(b) for b in batches_by_query.values()]
    cums = [[c for c, _ in e] for e in ends]
    fresh, missed, last = [], 0, phase["t0_ms"]
    for k in range(phase["count"]):
        event = phase["first"] + k
        emitted = [emit_time(e, c, event) for e, c in zip(ends, cums)]
        if None in emitted:
            missed += 1
            continue
        at = max(emitted)
        last = max(last, at)
        fresh.append(at - (phase["t0_ms"] + k * 1000.0 / phase["rate"]))
    return fresh, missed, last


def covered(start, end, intervals):
    """Length of [start, end) covered by the union of intervals."""
    clipped = sorted((max(s, start), min(e, end)) for s, e in intervals if s < end and e > start)
    total, cur_s, cur_e = 0, None, None
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
    """A span's duration minus the part of it its children cover.
    span: (start, end); children: iterable of (start, end)."""
    return (span[1] - span[0]) - covered(span[0], span[1], children)
