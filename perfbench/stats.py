"""The benchmark's arithmetic: percentiles and which tail a sample
supports, the join from broker offsets to send stamps, and span self
time. Kept free of I/O so the unit tests in `tests/` cover it directly."""
import bisect
import math
import statistics

# Percentiles a tail is reported at, highest first.
LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
MIN_BEYOND = 10


def percentile(xs, p):
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    s = sorted(xs)
    if not s:
        raise ValueError("percentile of no samples")
    return s[rank(len(s), p) - 1]


def rank(n, p):
    """1-based rank of the nearest-rank p-th percentile of n samples (the
    epsilon keeps 99.9% of 10,000 at 9,990 despite binary rounding)."""
    return max(1, math.ceil(p * n / 100.0 - 1e-9))


def beyond(n, p):
    """How many of n samples lie above the nearest-rank p-th percentile."""
    return n - rank(n, p)


def tail_percentile(n, ladder=LADDER):
    """The highest percentile on the ladder with at least MIN_BEYOND
    samples beyond it, or None when even the median has fewer."""
    for p in ladder:
        if beyond(n, p) >= MIN_BEYOND:
            return p
    return None


def tail(xs, ladder=LADDER):
    """(percentile, value) of the highest tail the sample supports, or
    (None, None)."""
    p = tail_percentile(len(xs), ladder)
    return (p, percentile(xs, p)) if p is not None else (None, None)


def median(xs):
    return statistics.median(xs)


def batch_ends(batches):
    """Sorted (start_offset, end_offset, end_ms) of micro-batches that
    consumed rows. A batch covers the broker offsets start <= o < end; the
    first batch of a stream reports no start offset, which means 0."""
    out = []
    for b in batches:
        if b["rows"] <= 0 or b["end_offset"] < 0:
            continue
        start = max(0, b["start_offset"])
        out.append((start, b["end_offset"], b["start"] + b["duration_ms"]))
    return sorted(out, key=lambda x: x[1])


def offset_latency(sends, batches):
    """For each (offset, send_ms), the time from its send stamp to the end
    of the micro-batch whose offset range holds it. Offsets no batch holds
    are returned separately."""
    ends = batch_ends(batches)
    keys = [e[1] for e in ends]
    out, missing = [], []
    for off, sent in sends:
        i = bisect.bisect_right(keys, off)
        if i < len(ends) and ends[i][0] <= off < ends[i][1]:
            out.append(ends[i][2] - sent)
        else:
            missing.append(off)
    return out, missing


def self_times(spans):
    """Total self time per span name: each span's duration minus the part
    of it its children cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    total = {}
    for s in spans:
        covered, cur_s, cur_e = 0.0, None, None
        for c in sorted(kids.get(s["id"], []), key=lambda c: c["start"]):
            a, b = max(c["start"], s["start"]), min(c["end"], s["end"])
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
        total[s["name"]] = total.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
    return total
