"""Small, tested pieces of the benchmark's arithmetic."""
import math
import re

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")
INF = float("inf")
# A percentile that lands on a failed operation is +inf; JSON has no
# infinity, so it is printed as this value (and the run is not correct).
INF_PRINTED = 1e9


def percentile(samples, q):
    """Nearest-rank percentile (0 < q <= 100) of latencies where a failed
    operation is +inf. Returns (value, n samples, n samples above it)."""
    xs = sorted(samples)
    if not xs:
        raise ValueError("no samples")
    k = max(1, math.ceil(q / 100.0 * len(xs)))
    v = xs[k - 1]
    return v, len(xs), sum(1 for x in xs if x > v)


def median(xs):
    xs = sorted(xs)
    if not xs:
        raise ValueError("no samples")
    n = len(xs)
    return xs[n // 2] if n % 2 else (xs[n // 2 - 1] + xs[n // 2]) / 2


def failed_frac(attempted, failed):
    """Failed or wrong operations over operations attempted."""
    if attempted < 1 or not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} of attempted={attempted}")
    return failed / attempted


def printable(v):
    return INF_PRINTED if math.isinf(v) else v


def valid_name(s):
    return NAME.fullmatch(s) is not None


def valid_unit(s):
    return UNIT.fullmatch(s) is not None
