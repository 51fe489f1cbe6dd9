"""Order statistics shared by the benchmark, its compare step and its tests."""
import math
import re

# A metric or workload name: starts with a letter or digit; letters, digits,
# `_`, `.` and `-`; at most 64 characters.
NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def median(xs):
    s = sorted(xs)
    if not s:
        raise ValueError("median of no values")
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def percentile(xs, p):
    """Linear interpolation between closest ranks (numpy's default)."""
    s = sorted(xs)
    if not s:
        raise ValueError("percentile of no values")
    pos = (len(s) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def quartiles(xs):
    """Q1, Q2, Q3 by the method of `statistics.quantiles(xs, n=4)`."""
    s = sorted(xs)
    n = len(s)
    if n < 2:
        raise ValueError("quartiles need at least two values")
    out = []
    for i in range(1, 4):
        j = min(max(i * (n + 1) // 4, 1), n - 1)
        delta = i * (n + 1) - 4 * j
        out.append((s[j - 1] * (4 - delta) + s[j] * delta) / 4)
    return out


def iqr_share(xs):
    """Distance between the first and third quartile over the median."""
    q1, q2, q3 = quartiles(xs)
    return (q3 - q1) / q2
