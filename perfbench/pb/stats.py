"""Percentiles, sample counts and the failure ratio of a run."""

import math

# A tail percentile is reported only from at least this many samples of
# one op type; below it the p90 is one or two samples and mostly noise.
MIN_P90_SAMPLES = 100


def percentile(values, q):
    """Linear-interpolated percentile (0 <= q <= 100) of a non-empty list,
    the same definition as numpy's default."""
    if not values:
        raise ValueError("percentile of no samples")
    if not 0 <= q <= 100:
        raise ValueError(f"percentile {q} outside [0, 100]")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = math.ceil(pos)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def latency_summary(values):
    """{p50, p90, n} of one op type's latencies; p90 is None below
    MIN_P90_SAMPLES samples, p50 is None with no samples."""
    n = len(values)
    return {
        "p50": percentile(values, 50) if n else None,
        "p90": percentile(values, 90) if n >= MIN_P90_SAMPLES else None,
        "n": n,
    }


def failed_ratio(attempted, errors, timeouts, wrong):
    """Errors, timeouts and wrong results over the ops attempted. An op
    that both erred and was judged wrong is counted once by its caller;
    here the three counts are disjoint."""
    if attempted <= 0:
        raise ValueError("failed_ratio needs at least one attempted op")
    failed = errors + timeouts + wrong
    if failed > attempted:
        raise ValueError(f"{failed} failures among {attempted} ops")
    return failed / attempted


def median(values):
    return percentile(values, 50)


def geomean(values):
    if not values or min(values) <= 0:
        raise ValueError("geomean needs positive values")
    return math.exp(sum(math.log(v) for v in values) / len(values))
