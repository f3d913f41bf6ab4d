"""Pure metric arithmetic of the benchmark: percentiles and the tail rule,
span self time and job-free time, amplification ratios, and run-to-run
spread. No I/O; `test_perfbench.py` covers it."""

import statistics

TAIL_CANDIDATES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
TAIL_MIN_BEYOND = 10


def percentile(values, p):
    """Linear-interpolated percentile, p in [0, 100]."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    k = (len(xs) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail_percentile(n):
    """The highest candidate percentile with at least ten of n samples
    beyond it, or None when n is too small for any of them."""
    for p in TAIL_CANDIDATES:
        if n * (100.0 - p) / 100.0 >= TAIL_MIN_BEYOND - 1e-9:
            return p
    return None


def tail(values):
    """(percentile, value) by the tail rule, or (None, None)."""
    p = tail_percentile(len(values))
    return (p, percentile(values, p)) if p is not None else (None, None)


def union(intervals):
    """Merge [start, end) intervals into a sorted disjoint list."""
    out = []
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return out


def length(intervals):
    return sum(e - s for s, e in union(intervals))


def minus(base, holes):
    """Parts of interval `base` not covered by any of `holes`."""
    s0, e0 = base
    out, cur = [], s0
    for s, e in union(holes):
        if e <= cur or s >= e0:
            continue
        if s > cur:
            out.append([cur, min(s, e0)])
        cur = max(cur, e)
        if cur >= e0:
            break
    if cur < e0:
        out.append([cur, e0])
    return out


def span_metrics(spans, jobs):
    """Per span name: calls, self_ms, driver_ms, jobs, exec_ms and
    bytes_written, each exclusive of child spans.

    spans: dicts with id, parent, name, start_us, end_us, fs_bytes
    (file-system bytes the span's own thread wrote while it was open,
    children included). jobs: dicts with span (the innermost span that
    submitted the job, 0 for none), start_ms, end_ms, exec_ms, out_bytes
    (bytes its tasks wrote).

    self_ms is the span minus the union of its children, so overlapping
    children are counted once. driver_ms is the self part during which
    no Spark job ran at all."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    job_iv = [(j["start_ms"] * 1000, j["end_ms"] * 1000) for j in jobs]
    by_span = {}
    for j in jobs:
        by_span.setdefault(j["span"], []).append(j)
    out = {}
    for s in spans:
        iv = (s["start_us"], s["end_us"])
        kids = children.get(s["id"], [])
        own = minus(iv, [(k["start_us"], k["end_us"]) for k in kids])
        idle = sum(length(minus(part, job_iv)) for part in own)
        mine = by_span.get(s["id"], [])
        m = out.setdefault(s["name"], dict.fromkeys(
            ("calls", "self_ms", "driver_ms", "jobs", "exec_ms", "bytes_written"), 0))
        m["calls"] += 1
        m["self_ms"] += length(own) / 1000.0
        m["driver_ms"] += idle / 1000.0
        m["jobs"] += len(mine)
        m["exec_ms"] += sum(j["exec_ms"] for j in mine)
        m["bytes_written"] += (max(0, s["fs_bytes"] - sum(k["fs_bytes"] for k in kids))
                               + sum(j["out_bytes"] for j in mine))
    return out


def write_amp(bytes_written, input_bytes):
    """Bytes the run wrote per byte of generated input it consumed."""
    if input_bytes <= 0:
        raise ValueError("write_amp needs consumed input")
    return bytes_written / input_bytes


def space_amp(storage_bytes, live_bytes):
    """Bytes under the storage root per byte of live data files."""
    if live_bytes <= 0:
        raise ValueError("space_amp needs live data")
    return storage_bytes / live_bytes


def spread(values):
    """Interquartile distance as a share of the median."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)
