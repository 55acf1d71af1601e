"""Reductions from the raw run record to the benchmark's metrics.

Pure functions over plain lists and dicts, so the self-tests in
test_stats.py can drive them with synthetic inputs.
"""
import math

# Percentiles tried for the tail, highest first.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
MIN_BEYOND = 10


def nearest_rank(sorted_vals, pct):
    """Nearest-rank percentile of an ascending list: the value at rank
    ceil(n * pct / 100)."""
    n = len(sorted_vals)
    rank = max(1, math.ceil(n * pct / 100.0))
    return sorted_vals[rank - 1]


def median(vals):
    v = sorted(vals)
    n = len(v)
    if n == 0:
        return float("nan")
    return v[n // 2] if n % 2 else (v[n // 2 - 1] + v[n // 2]) / 2.0


def tail(vals):
    """The highest percentile on TAIL_LADDER with at least MIN_BEYOND
    samples above its rank. Returns (percentile, value, samples beyond).
    With fewer than 2 * MIN_BEYOND samples no percentile qualifies; the
    median is returned with its (short) beyond count, so the record
    shows that the tail is not resolved at this run length."""
    v = sorted(vals)
    n = len(v)
    if n == 0:
        return None, float("nan"), 0
    for p in TAIL_LADDER:
        beyond = n - max(1, math.ceil(n * p / 100.0))
        if beyond >= MIN_BEYOND:
            return p, nearest_rank(v, p), beyond
    return 50.0, median(v), n - max(1, math.ceil(n / 2.0))


def union_length(intervals, lo, hi):
    """Length of the union of [start, end) intervals clipped to [lo, hi)."""
    clipped = sorted((max(s, lo), min(e, hi)) for s, e in intervals if min(e, hi) > max(s, lo))
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


def driver_gap(op_start, op_end, job_intervals):
    """Op wall time during which none of the op's own jobs ran."""
    return (op_end - op_start) - union_length(job_intervals, op_start, op_end)


def self_time(span, children):
    """A span's duration minus the part of it its child spans cover."""
    s, e = span
    return (e - s) - union_length(children, s, e)


def op_summary(ops, clients, wall_ns):
    """Latency and throughput over the ops of one measured phase that
    took `wall_ns` of wall time.

    An op that failed (latency_ns < 0) is counted in `failed` and never
    enters a latency or throughput figure. Throughput is successful work
    over the phase's wall time, less each client's excluded time (op
    builds and failed ops, `excluded_ns`) shared over the clients that
    ran in parallel with it.
    """
    ok = [o for o in ops if o["latency_ns"] >= 0]
    lat_ms = [o["latency_ns"] / 1e6 for o in ok]
    span_s = (wall_ns - sum(o["excluded_ns"] for o in ops) / clients) / 1e9
    q = sum(o["queries"] for o in ok)
    pairs = sum(o["queries"] * o["rows"] for o in ok)
    pct, tail_ms, beyond = tail(lat_ms)

    def rate(x):
        return x / span_s if span_s > 0 else float("nan")

    return {
        "attempted": len(ops),
        "failed": len(ops) - len(ok),
        "error_rate": (len(ops) - len(ok)) / len(ops) if ops else float("nan"),
        "op_p50_ms": median(lat_ms),
        "op_tail_ms": tail_ms,
        "tail_pct": pct,
        "tail_beyond": beyond,
        "samples": len(lat_ms),
        "queries_per_s": rate(q),
        "pairs_per_s": rate(pairs),
    }
