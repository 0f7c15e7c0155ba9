"""Small numeric helpers shared by the workloads and their tests."""

from __future__ import annotations

import math
import re

# <layer or group>.<name> segments of letters, digits and underscores,
# starting with a letter or digit; at most 64 characters overall
METRIC_NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_]*(\.[A-Za-z0-9_]+)*$")
METRIC_UNIT = re.compile(r"^[A-Za-z0-9_/%.\-]{1,16}$")


def valid_metric_name(name: str) -> bool:
    return len(name) <= 64 and METRIC_NAME.match(name) is not None


def valid_metric_unit(unit: str) -> bool:
    return METRIC_UNIT.match(unit) is not None


def percentile(values, p: float) -> float:
    """Linear-interpolated percentile, ``p`` in [0, 100] (numpy's default
    method). Raises on an empty input."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def supported_percentile(n: int, want: float, min_beyond: int = 10) -> "float | None":
    """The highest percentile ``<= want`` that leaves at least
    ``min_beyond`` of ``n`` samples above it, rounded down to a whole
    number; None when even the median would not (``n < 2 * min_beyond``).

    A p99 from 200 samples rests on two values and says nothing steady,
    so tails are reported at the highest level the sample supports."""
    if n <= 0:
        return None
    best = math.floor(100.0 * (1.0 - min_beyond / n))
    p = min(float(want), float(best))
    return p if p >= 50 else None


def slope(xs, ys) -> float:
    """Least-squares slope of ys over xs (0 for fewer than two points)."""
    n = len(xs)
    if n < 2:
        return 0.0
    mx, my = sum(xs) / n, sum(ys) / n
    sxx = sum((x - mx) ** 2 for x in xs)
    if sxx == 0:
        return 0.0
    return sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / sxx


def backlog_grows(
    times_s, backlog_events, rate_eps: float, tolerance: float = 0.05
) -> bool:
    """True when the unprocessed backlog rises over the second half of a
    step by more than ``tolerance`` x the offered rate (events/s).

    The first half is skipped: a stream catching up on the files that
    arrived while it started has a falling backlog there even when it
    keeps up."""
    half = len(times_s) // 2
    return slope(times_s[half:], backlog_events[half:]) > tolerance * rate_eps


def sustained_rate(steps) -> "float | None":
    """The highest ladder rate at which the backlog did not grow.

    ``steps`` is a list of ``(rate_eps, times_s, backlog_events)`` in
    ascending rate order. The ladder stops at the first growing step: a
    rate above one the engine could not hold is not credited even if its
    own short series happened to look flat. None when the lowest rate
    already falls behind."""
    best = None
    for rate, ts, backlog in steps:
        if backlog_grows(ts, backlog, rate):
            break
        best = rate
    return best
