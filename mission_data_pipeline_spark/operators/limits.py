"""Limit monitoring: set ``out_of_limit`` / ``alarm_level`` on params_df.

The reference's parameter model carries ``out_of_limit: bool`` and
``alarm_level: int`` (0–3) on every sample
(``src/mdp/models/parameter.py:26-56``) but ships no stage that sets
them — decom initializes both to nominal. This operator completes the
domain loop: a per-parameter limit definition (warn/critical low+high
bounds, any side optional) is checked against ``eng_value`` and the two
fields are populated.

Alarm levels: 0 nominal, 1 warning (outside warn band), 3 critical
(outside critical band) — level 2 is reserved for user-defined bands,
matching the model's 0–3 range. ``out_of_limit = alarm_level > 0``.

Same shape as calibration (``operators/calibration.py``): the limit
definitions are plan-time config and constant-fold into a literal CASE
dispatch inside whole-stage codegen. The fact side never shuffles, so
limit checking composes with decom/calibration into a single map-side
stage at any scale.
"""

from __future__ import annotations

import math
from collections.abc import Sequence
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["LimitDefinition", "apply_limits"]


@dataclass(frozen=True)
class LimitDefinition:
    """Limit bands for one parameter; any bound may be None (unchecked)."""

    parameter: str
    warn_low: float | None = None
    warn_high: float | None = None
    crit_low: float | None = None
    crit_high: float | None = None

    def __post_init__(self) -> None:
        for bound in ("warn_low", "warn_high", "crit_low", "crit_high"):
            x = getattr(self, bound)
            # Spark orders NaN above every number, so a NaN low bound
            # would trip on every sample and a NaN high bound on none.
            if x is not None and math.isnan(x):
                raise ValueError(f"limits for {self.parameter!r}: {bound} is NaN")
        lows = [x for x in (self.crit_low, self.warn_low) if x is not None]
        highs = [x for x in (self.warn_high, self.crit_high) if x is not None]
        if lows + highs != sorted(lows + highs):
            raise ValueError(
                f"limits for {self.parameter!r} must satisfy "
                "crit_low <= warn_low <= warn_high <= crit_high"
            )


def _level(
    val: Column,
    warn_low: Column,
    warn_high: Column,
    crit_low: Column,
    crit_high: Column,
) -> Column:
    """Alarm level for one value against (possibly null) bounds.

    A null bound never trips; a null value is nominal (validity is a
    separate concern carried by the ``validity`` column).
    """
    crit = (crit_low.isNotNull() & (val < crit_low)) | (
        crit_high.isNotNull() & (val > crit_high)
    )
    warn = (warn_low.isNotNull() & (val < warn_low)) | (
        warn_high.isNotNull() & (val > warn_high)
    )
    return (
        F.when(val.isNull(), F.lit(0))
        .when(crit, F.lit(3))
        .when(warn, F.lit(1))
        .otherwise(F.lit(0))
    )


def _fill_defaults(params: DataFrame) -> DataFrame:
    for col, typ in (("out_of_limit", "boolean"), ("alarm_level", "int")):
        if col not in params.columns:
            params = params.withColumn(col, F.lit(None).cast(typ))
    return params


def apply_limits(
    params: DataFrame,
    limits: Sequence[LimitDefinition],
    *,
    value_col: str = "eng_value",
) -> DataFrame:
    """Populate ``out_of_limit`` / ``alarm_level`` from limit definitions.

    Parameters without a limit entry keep their existing values
    (left-join semantics, mirroring calibration's touch-only-configured
    contract). First entry wins on duplicate names.

    A definition whose bounds are ALL None defines no check and leaves
    the parameter untouched, and a null ``eng_value`` on a checked
    parameter preserves any prior alarm state rather than resetting it
    to nominal (validity is a separate concern; an alarm must not clear
    on a data gap).
    """
    if not isinstance(limits, Sequence) or not all(
        isinstance(d, LimitDefinition) for d in limits
    ):
        raise TypeError(
            "apply_limits expects a sequence of LimitDefinition entries, "
            f"got {type(limits).__name__}"
        )
    params = _fill_defaults(params)
    limits = [
        d
        for d in limits
        if any(
            b is not None for b in (d.warn_low, d.warn_high, d.crit_low, d.crit_high)
        )
    ]
    if not limits:
        return params
    val = F.col(value_col).cast("double")
    w_level = None
    for d in limits:
        cond = F.col("name") == d.parameter

        def _b(x: float | None) -> Column:
            return F.lit(x).cast("double")

        lv = _level(val, _b(d.warn_low), _b(d.warn_high), _b(d.crit_low), _b(d.crit_high))
        w_level = (w_level.when if w_level is not None else F.when)(cond, lv)
    matched = F.col("name").isin([d.parameter for d in limits]) & val.isNotNull()
    return params.withColumn(
        "alarm_level",
        F.when(matched, w_level).otherwise(F.col("alarm_level")),
    ).withColumn(
        "out_of_limit",
        F.when(matched, F.col("alarm_level") > 0).otherwise(F.col("out_of_limit")),
    )
