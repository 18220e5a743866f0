"""Calibration application pass: params_df + calibration entries → params_df.

Parity: reference ``src/mdp/plugins/transformers/calibration.py:75-119``:
- only parameters with a calibration entry are touched;
- polynomial / table / identity methods (``:53-67``);
- samples whose raw value is non-numeric are **kept unchanged**
  (``:112-113`` — our tidy schema already separates numeric
  ``raw_value`` from ``raw_value_str``, so "non-castable" = null
  ``raw_value``);
- unit is overwritten by the calibration's unit when present
  (``:116-117``); ``calibration_id`` records the method.

Spark-first shape: the calibration entries are plan-time config
(the reference looks them up per parameter, ``:81-84``), so they
constant-fold into a literal CASE dispatch with Horner / piecewise CASE
chains inside whole-stage codegen — no join, no shuffle of the fact
side.
"""

from __future__ import annotations

from collections.abc import Sequence
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mission_data_pipeline_spark.functions.calibrate import (
    piecewise_linear_expr,
    polynomial_expr,
)


@dataclass(frozen=True)
class Calibration:
    """One parameter's calibration entry (reference ``calibration.py:31-67``)."""

    parameter: str
    method: str = "identity"  # identity | polynomial | table
    coefficients: tuple[float, ...] = field(default_factory=tuple)  # low→high
    table_raw: tuple[float, ...] = field(default_factory=tuple)
    table_eng: tuple[float, ...] = field(default_factory=tuple)
    unit: str | None = None

    def __post_init__(self) -> None:
        if self.method == "table" and (
            len(self.table_raw) != len(self.table_eng) or len(self.table_raw) < 2
        ):
            raise ValueError("table calibration needs >= 2 equal-length point lists")
        if self.method == "table" and any(
            b < a for a, b in zip(self.table_raw, self.table_raw[1:])
        ):
            # piecewise_linear_expr walks the knots in order; a descending
            # pair would interpolate silently wrong
            raise ValueError(
                f"calibration {self.parameter!r}: table_raw must be ascending, "
                f"got {tuple(self.table_raw)}"
            )
        if self.method not in ("identity", "polynomial", "table"):
            raise ValueError(f"unknown calibration method: {self.method}")


def _fill_defaults(params: DataFrame) -> DataFrame:
    # Tolerate partial input schemas (only name/raw_value are required):
    # missing optional columns materialize as typed nulls.
    defaults = {
        "eng_value": "double",
        "unit": "string",
        "calibration_id": "string",
    }
    for col, typ in defaults.items():
        if col not in params.columns:
            params = params.withColumn(col, F.lit(None).cast(typ))
    return params


def apply_calibrations(params: DataFrame, cals: Sequence[Calibration]) -> DataFrame:
    """Apply calibration entries as a literal name-dispatch CASE.

    The entries compile to Horner / piecewise CASE chains, fully inside
    whole-stage codegen (zero join, zero higher-order lambdas). First
    entry wins on duplicate names — the reference's dict semantics,
    ``calibration.py:81-84``.
    """
    if not isinstance(cals, Sequence) or not all(
        isinstance(c, Calibration) for c in cals
    ):
        raise TypeError(
            "apply_calibrations expects a sequence of Calibration entries, "
            f"got {type(cals).__name__}"
        )
    params = _fill_defaults(params)
    if not cals:
        return params
    name = F.col("name")
    raw = F.col("raw_value")
    w_eng = w_unit = w_cid = None
    for c in cals:
        cond = name == c.parameter
        if c.method == "polynomial":
            e = polynomial_expr(raw, c.coefficients)
        elif c.method == "table":
            e = piecewise_linear_expr(raw, c.table_raw, c.table_eng)
        else:
            e = raw
        applies = cond & raw.isNotNull()  # non-numeric raw: keep unchanged
        w_eng = (w_eng.when if w_eng is not None else F.when)(applies, e)
        w_unit = (w_unit.when if w_unit is not None else F.when)(
            cond, F.coalesce(F.lit(c.unit).cast("string"), F.col("unit"))
        )
        w_cid = (w_cid.when if w_cid is not None else F.when)(
            applies, F.lit(c.method)
        )
    return (
        params.withColumn("eng_value", w_eng.otherwise(F.col("eng_value")))
        .withColumn("unit", w_unit.otherwise(F.col("unit")))
        .withColumn("calibration_id", w_cid.otherwise(F.col("calibration_id")))
    )
