"""Summary statistics and number formatting shared by the benchmark."""

from __future__ import annotations

import math
import re

METRIC_NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
MIN_ABOVE = 10


def median(xs):
    s = sorted(xs)
    if not s:
        raise ValueError("median of no samples")
    mid = len(s) // 2
    return s[mid] if len(s) % 2 else (s[mid - 1] + s[mid]) / 2


def tail(xs, min_above: int = MIN_ABOVE):
    """The highest percentile that still has at least `min_above` samples
    above it: `(percentile, value)`, or None when there are too few
    samples for any percentile to qualify.  With 100 samples this is the
    p90; with 20 it is the p50."""
    s = sorted(xs)
    i = len(s) - min_above - 1
    if i < 0:
        return None
    return 100.0 * (i + 1) / len(s), s[i]


def sig(x: float, digits: int = 3) -> str:
    """`x` with at least `digits` significant digits and no exponent, so a
    small positive time never prints as 0."""
    if x == 0 or not math.isfinite(x):
        return str(x)
    decimals = max(digits - 1 - math.floor(math.log10(abs(x))), 0)
    return f"{x:.{decimals}f}"


def valid_name(name: str) -> bool:
    return METRIC_NAME.fullmatch(name) is not None
