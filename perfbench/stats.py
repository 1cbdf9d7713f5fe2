"""Statistics for the benchmark: percentile rule, open-loop latency and
failure accounting. Pure functions over the raw operation records the
JVM side writes, so they are testable without Spark.
"""
import math

# A failed or unfinished request misses every latency limit. JSON has no
# infinity, so such a latency is reported as this many milliseconds.
MISSED_MS = 1e9

TAIL_PERCENTILES = (99.0, 95.0, 90.0)
MIN_BEYOND = 10


def percentile(values, q):
    """Nearest-rank percentile q (0-100] of a non-empty list."""
    s = sorted(values)
    rank = max(1, math.ceil(q / 100.0 * len(s)))
    return s[rank - 1]


def median(values):
    s = sorted(values)
    n = len(s)
    if n == 0:
        raise ValueError("median of no samples")
    mid = n // 2
    return s[mid] if n % 2 else (s[mid - 1] + s[mid]) / 2.0


def tail_percentile(n):
    """Highest tail percentile that leaves at least MIN_BEYOND of n
    samples beyond it, or None when n is too small for any tail."""
    for q in TAIL_PERCENTILES:
        if n * (100.0 - q) >= MIN_BEYOND * 100.0:
            return q
    return None


def latency_ms(op):
    """Open-loop latency: from the request's due time to its completion.
    A failed or unfinished request counts as missing the limit."""
    if not op.get("ok") or op.get("end_ms") is None:
        return MISSED_MS
    return op["end_ms"] - op["due_ms"]


def lateness_ms(op):
    """How late the load generator dispatched a request."""
    return max(0.0, op["sent_ms"] - op["due_ms"])


def summarize(ops, window_s):
    """Latency and outcome summary of one set of operations."""
    lat = [latency_ms(o) for o in ops]
    ok = sum(1 for o in ops if o.get("ok"))
    out = {
        "n": len(ops),
        "ok": ok,
        "failed": len(ops) - ok,
        "failed_frac": (len(ops) - ok) / len(ops) if ops else 1.0,
        "p50_ms": median(lat) if lat else MISSED_MS,
        "ok_per_s": ok / window_s if window_s > 0 else 0.0,
    }
    q = tail_percentile(len(lat))
    if q is not None:
        out["tail_q"] = q
        out["tail_ms"] = percentile(lat, q)
    return out
