"""Metric arithmetic for the benchmark: pure functions over timings, job
intervals and spans, so the numbers a run reports can be unit-tested
(tests/test_metrics.py) apart from the engine."""
import hashlib
import math
import statistics

TAIL_BEYOND = 10


def median(xs):
    return statistics.median(xs)


def tail(samples, beyond=TAIL_BEYOND):
    """Latency at the highest percentile that has at least `beyond` samples
    above it. Returns (value, percentile, sample_count); with `beyond` or
    fewer samples no such percentile exists and the value is None."""
    s = sorted(samples)
    n = len(s)
    if n <= beyond:
        return None, None, n
    rank = n - beyond  # 1-based nearest rank: exactly `beyond` samples above
    return s[rank - 1], 100.0 * rank / n, n


def union_length(intervals):
    """Total length covered by (start, end) intervals, overlaps counted once."""
    total = 0
    cur_start = cur_end = None
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if cur_end is None or a > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = a, b
        else:
            cur_end = max(cur_end, b)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def clip(intervals, lo, hi):
    return [(max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo)]


def self_time(start, end, child_intervals):
    """A span's duration minus the part of it its children cover. With an
    op's Spark jobs as the children this is the driver gap: op wall minus
    the union of its job intervals, the time the driver spent planning,
    collecting or doing file IO with no job running."""
    return (end - start) - union_length(clip(child_intervals, start, end))


def job_overlap(job_intervals):
    """Sum of job walls over their union: 1.0 when jobs run one at a time,
    above 1 when jobs overlap (core.Par). 1.0 when there are no jobs."""
    u = union_length(job_intervals)
    if u <= 0:
        return 1.0
    return sum(b - a for a, b in job_intervals) / u


def fail_ratio(attempted, failed):
    if attempted <= 0:
        raise ValueError("no op was attempted")
    return failed / attempted


def rows_per_s(rows, walls_s):
    """Rows over the median wall of the ops that processed them."""
    return rows / median(walls_s)


def canon(v):
    """The oracle gate's value canonicalisation (tools/check_oracle.py):
    floats at full round-trip precision, NaN spelled out, rest via str."""
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    return str(v)


def row_digest(rows, cols):
    """(row count, order-insensitive hash) of a result: columns ordered by
    name, values canonicalised, rows sorted, then SHA-256."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x1f".join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\x1e")
    return len(lines), h.hexdigest()
