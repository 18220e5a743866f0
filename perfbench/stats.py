"""Order statistics, pair verdicts and result stamps.

Pure Python, no Spark: everything the benchmark reports as a summary of
samples goes through these functions, and ``test_stats.py`` pins them.
"""

from __future__ import annotations

import math
import statistics

#: A tail percentile is reported only where at least this many samples
#: lie beyond it.
MIN_BEYOND = 10


def tail_percentile(n: int, wanted: float = 90.0) -> float:
    """The highest whole percentile <= ``wanted`` with at least
    ``MIN_BEYOND`` of ``n`` samples above its (interpolated) position;
    50 when no percentile above the median has that many."""
    if n <= 0:
        raise ValueError("no samples")
    for pct in range(int(wanted), 50, -1):
        if n - 1 - math.floor((n - 1) * pct / 100.0) >= MIN_BEYOND:
            return float(pct)
    return 50.0


def percentile(values: list[float], pct: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    if not values:
        raise ValueError("no samples")
    xs = sorted(values)
    pos = (len(xs) - 1) * pct / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3) as ``statistics.quantiles(values, n=4)`` gives
    them; a single sample is its own quartiles."""
    if not values:
        raise ValueError("no samples")
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values: list[float]) -> float:
    """Inter-quartile range as a share of the median."""
    q1, med, q3 = quartiles(values)
    return (q3 - q1) / abs(med) if med else math.inf


def summary(values: list[float]) -> dict:
    q1, med, q3 = quartiles(values)
    return {"n": len(values), "median": med, "q1": q1, "q3": q3}


def pair_verdict(
    parent: list[float], change: list[float], better: str
) -> dict:
    """Count the pairs the change wins; a tie counts for neither side.

    The change is claimed only from at least 10 pairs, if it wins at
    least 9 of every 10 and the medians differ by more than the parent's
    own inter-quartile range."""
    if len(parent) != len(change) or not parent:
        raise ValueError("need equally many parent and change samples")
    if better not in ("lower", "higher"):
        raise ValueError(f"better must be 'lower' or 'higher', got {better!r}")
    sign = 1 if better == "lower" else -1
    wins = sum(1 for p, c in zip(parent, change) if sign * (p - c) > 0)
    losses = sum(1 for p, c in zip(parent, change) if sign * (c - p) > 0)
    q1, pmed, q3 = quartiles(parent)
    cmed = quartiles(change)[1]
    n = len(parent)
    return {
        "pairs": n,
        "wins": wins,
        "losses": losses,
        "ties": n - wins - losses,
        "parent_median": pmed,
        "change_median": cmed,
        "parent_iqr": q3 - q1,
        "claimed": n >= 10 and wins * 10 >= 9 * n and abs(cmed - pmed) > (q3 - q1),
    }


def within_bound(parent_median: float, change_median: float, better: str,
                 bound: float) -> bool:
    """True if the change is no worse than ``bound`` (a share of the
    parent's median) on a metric that is ``better`` lower or higher."""
    if better == "lower":
        return change_median <= parent_median * (1 + bound)
    return change_median >= parent_median * (1 - bound)


def bound_verdict(parent: list[float], change: list[float], better: str,
                  bound: float) -> str:
    """``ok``, ``WORSE``, or ``unresolved`` when the parent's own spread
    is wider than the bound, unless every change run beats every parent
    run: a regression the noise could hide is not reported as none."""
    sign = 1 if better == "lower" else -1
    if all(sign * (p - c) > 0 for p in parent for c in change):
        return "ok"
    if spread(parent) > bound:
        return "unresolved"
    pmed, cmed = quartiles(parent)[1], quartiles(change)[1]
    return "ok" if within_bound(pmed, cmed, better, bound) else "WORSE"


#: Stamp fields that say which code produced a result; every other
#: field says what was measured and how, and must match to compare.
CODE_FIELDS = ("git_commit", "source_sha256")


def stamp_mismatches(a: dict, b: dict, *, same_code: bool = False) -> list[str]:
    """Stamp fields on which two results differ. Results are comparable
    only when this is empty; the code identity may differ (that is what
    an A/B compares) unless ``same_code`` asks for a repeat check."""
    keys = sorted(set(a) | set(b))
    return [
        k
        for k in keys
        if (same_code or k not in CODE_FIELDS) and a.get(k) != b.get(k)
    ]
