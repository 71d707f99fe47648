"""Pure helpers that turn what the harness and the tick generator recorded
into metrics. No I/O, no engine: everything here is unit-tested in
perfbench/tests/test_stats.py.

Times are epoch microseconds unless a name says otherwise.
"""
import bisect
import math
import statistics

MIN_BEYOND = 10


def percentile(values, q, min_beyond=MIN_BEYOND):
    """The q-quantile (0 < q < 1) of `values`, nearest-rank.

    The percentile rule: a percentile is reported only when at least
    `min_beyond` samples lie beyond its rank. Returns None when the sample
    is too small for that.
    """
    xs = sorted(values)
    n = len(xs)
    rank = max(1, math.ceil(q * n - 1e-9))
    if n == 0 or n - rank < min_beyond:
        return None
    return xs[rank - 1]


def percentile_or_max(values, q):
    """`percentile`, or the largest sample (an upper bound of the
    percentile) when the sample is too small; 0 for no samples."""
    p = percentile(values, q)
    if p is not None:
        return p
    return max(values) if values else 0


def median(values):
    return statistics.median(values) if values else 0


def quartiles(values):
    """(q1, median, q3) as statistics.quantiles(n=4) gives them."""
    if len(values) < 2:
        v = values[0] if values else 0
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values):
    """Inter-quartile range as a share of the median."""
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / q2 if q2 else 0.0


def geomean(values):
    vals = [v for v in values if v > 0]
    if not vals:
        return 0
    return math.exp(sum(math.log(v) for v in vals) / len(vals))


def merge_intervals(intervals):
    """Union of [start, end) intervals as a sorted list of disjoint ones."""
    merged = []
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if merged and s <= merged[-1][1]:
            merged[-1][1] = max(merged[-1][1], e)
        else:
            merged.append([s, e])
    return [tuple(m) for m in merged]


def covered(intervals, start, end):
    """Length of [start, end) covered by the union of `intervals`."""
    total = 0
    for s, e in merge_intervals(intervals):
        total += max(0, min(e, end) - max(s, start))
    return total


def driver_gap(window, job_intervals):
    """Wall time of `window` (start, end) not covered by any Spark job."""
    start, end = window
    return (end - start) - covered(job_intervals, start, end)


def self_times(spans):
    """Self time per span id: its duration minus the union of its children's
    intervals, clipped to the span. `spans` are dicts with id, parent,
    start_us, end_us."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start_us"], s["end_us"]))
    out = {}
    for s in spans:
        dur = s["end_us"] - s["start_us"]
        out[s["id"]] = dur - covered(children.get(s["id"], []), s["start_us"], s["end_us"])
    return out


def map_ticks_to_batches(batches, seqs):
    """For each tick sequence number, the index of the batch whose source
    offset range [start, end) holds it, or None.

    `batches` are (start_offset, end_offset) pairs from the streaming
    progress events, in any order; ranges do not overlap.
    """
    order = sorted(range(len(batches)), key=lambda i: batches[i][0])
    starts = [batches[i][0] for i in order]
    out = []
    for s in seqs:
        j = bisect.bisect_right(starts, s) - 1
        if j >= 0 and batches[order[j]][0] <= s < batches[order[j]][1]:
            out.append(order[j])
        else:
            out.append(None)
    return out


def lateness_ms(due_us, sent_us):
    """How late the generator sent each tick behind its schedule, in ms
    (never negative: a tick is never sent early)."""
    return [max(0, s - d) / 1000.0 for d, s in zip(due_us, sent_us)]


def due_before(sorted_due_us, t_us):
    """How many ticks were due at or before t (due times sorted)."""
    return bisect.bisect_right(sorted_due_us, t_us)
