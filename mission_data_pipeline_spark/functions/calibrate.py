"""Calibration math as Catalyst expressions.

Parity: reference ``src/mdp/plugins/transformers/calibration.py:53-67,
122-132`` — polynomial Σ cᵢ·rawⁱ (coefficients low→high, empty = identity)
and piecewise-linear table interpolation that **clamps** outside the
table range (the reference docstring says "extrapolation" but the code
clamps; we replicate the behavior, SURVEY §2.2 T10).

Both are literal-coefficient builders (Horner / CASE chains) that
constant-fold, for configs known at plan-build time.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F


def polynomial_expr(raw: Column, coefficients: Sequence[float]) -> Column:
    """Horner evaluation with literal coefficients; [] → identity."""
    if not coefficients:
        return raw
    acc: Column = F.lit(float(coefficients[-1]))
    for c in reversed(list(coefficients)[:-1]):
        acc = acc * raw + F.lit(float(c))
    return acc


def piecewise_linear_expr(
    raw: Column, xs: Sequence[float], ys: Sequence[float]
) -> Column:
    """CASE-chain piecewise-linear interpolation with end clamping."""
    if len(xs) != len(ys) or len(xs) < 2:
        raise ValueError("piecewise table needs >= 2 (x, y) pairs of equal length")
    expr = F.when(raw <= F.lit(float(xs[0])), F.lit(float(ys[0])))
    for (x0, y0), (x1, y1) in zip(zip(xs, ys), list(zip(xs, ys))[1:]):
        # same association order as the reference's _interpolate
        # (calibration.py:128-132): y0 + (x-x0)/(x1-x0) * (y1-y0) —
        # bit-identical to the Python original.
        expr = expr.when(
            raw <= F.lit(float(x1)),
            F.lit(float(y0))
            + (raw - F.lit(float(x0)))
            / F.lit(float(x1) - float(x0))
            * F.lit(float(y1) - float(y0)),
        )
    return expr.otherwise(F.lit(float(ys[-1])))
