"""Limit monitoring (operators/limits.py): definition lists compile to a
literal CASE dispatch over ``eng_value``."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mission_data_pipeline_spark.operators.limits import (
    LimitDefinition,
    apply_limits,
)

ROWS = [
    # name, eng_value
    ("temp", -10.0),  # below crit_low -> 3
    ("temp", 5.0),    # below warn_low -> 1
    ("temp", 50.0),   # nominal -> 0
    ("temp", 95.0),   # above warn_high -> 1
    ("temp", 130.0),  # above crit_high -> 3
    ("temp", None),   # null value -> prior alarm state preserved
    ("volts", 999.0), # no limit entry -> untouched
]
LIMITS = [
    LimitDefinition("temp", warn_low=10.0, warn_high=90.0, crit_low=0.0, crit_high=120.0)
]


@pytest.fixture(scope="module")
def params(spark):
    return spark.createDataFrame(ROWS, "name string, eng_value double")


def _levels(df):
    return [
        (r["name"], r["eng_value"], r["alarm_level"], r["out_of_limit"])
        for r in df.orderBy(F.col("eng_value").asc_nulls_last(), "name").collect()
    ]


EXPECTED = [
    ("temp", -10.0, 3, True),
    ("temp", 5.0, 1, True),
    ("temp", 50.0, 0, False),
    ("temp", 95.0, 1, True),
    ("temp", 130.0, 3, True),
    ("volts", 999.0, None, None),
    # null value on a checked parameter: prior state (here null) is kept,
    # an alarm must not clear on a data gap
    ("temp", None, None, None),
]


def test_literal_path_levels(spark, params):
    assert _levels(apply_limits(params, LIMITS)) == EXPECTED


def test_tuple_input_and_first_entry_wins(spark, params):
    """Any sequence of definitions works; on a duplicate name the first
    entry wins (a later, looser band must not override it)."""
    loose = LimitDefinition("temp", crit_high=1000.0)
    assert _levels(apply_limits(params, tuple(LIMITS) + (loose,))) == EXPECTED


def test_non_sequence_limits_rejected(spark, params):
    """A DataFrame limit table is no longer accepted: the error names the
    expected entry type instead of failing deep inside the plan."""
    table = spark.createDataFrame([("temp", 0.0)], "name string, crit_low double")
    with pytest.raises(TypeError, match="LimitDefinition"):
        apply_limits(params, table)
    with pytest.raises(TypeError, match="LimitDefinition"):
        apply_limits(params, [("temp", 0.0)])


def test_one_sided_limit(spark):
    df = spark.createDataFrame(
        [("p", 5.0), ("p", 200.0)], "name string, eng_value double"
    )
    out = _levels(apply_limits(df, [LimitDefinition("p", crit_high=100.0)]))
    assert out == [("p", 5.0, 0, False), ("p", 200.0, 3, True)]


def test_untouched_columns_preserved(spark):
    df = spark.createDataFrame(
        [("other", 1.0, 2, True)],
        "name string, eng_value double, alarm_level int, out_of_limit boolean",
    )
    r = apply_limits(df, LIMITS).collect()[0]
    assert (r["alarm_level"], r["out_of_limit"]) == (2, True)


def test_null_value_preserves_prior_alarm(spark):
    """An in-alarm parameter that goes null (data gap) must stay in alarm,
    and an all-None-bounds definition defines no check."""
    df = spark.createDataFrame(
        [("temp", None, 3, True), ("idle", 5.0, 2, True)],
        "name string, eng_value double, alarm_level int, out_of_limit boolean",
    )
    defs = LIMITS + [LimitDefinition("idle")]  # idle: all bounds None
    expect = [("idle", 5.0, 2, True), ("temp", None, 3, True)]
    assert _levels(apply_limits(df, defs)) == expect


def test_misordered_bounds_rejected():
    with pytest.raises(ValueError):
        LimitDefinition("p", warn_low=10.0, crit_low=20.0)


def test_nan_bound_rejected():
    """Spark orders NaN above every number, so a NaN low bound would trip
    on every sample and a NaN high bound on none, both silently."""
    with pytest.raises(ValueError, match="'temp'.*crit_low"):
        LimitDefinition("temp", crit_low=float("nan"), warn_high=50.0)
    with pytest.raises(ValueError, match="'temp'.*warn_high"):
        LimitDefinition("temp", warn_high=float("nan"))


def test_decom_pipeline_integration(spark, hk_bin):
    """Limits compose with decom+calibration into one map-side stage."""
    from mission_data_pipeline_spark.operators import (
        Calibration,
        ParameterDefinition,
        apply_calibrations,
        decommutate,
    )
    from mission_data_pipeline_spark.sources import read_packets

    pk = read_packets(spark, hk_bin, sec_hdr_length=4)
    defs = [ParameterDefinition("obc_temp", 0x100, 0, 16)]
    cals = [Calibration("obc_temp", "polynomial", (-55.0, 0.04394531), unit="degC")]
    out = apply_limits(
        apply_calibrations(decommutate(pk, defs), cals),
        [LimitDefinition("obc_temp", warn_high=40.0, crit_high=43.0)],
    )
    by_level = {
        r["alarm_level"]: r["n"]
        for r in out.groupBy("alarm_level").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    # obc_temp = -55 + 0.04394531 * (2048 + 200*sin(i/20)) spans ~26..45 degC
    assert set(by_level) == {0, 1, 3} and sum(by_level.values()) == 200
    # scan->decom->calibrate->limits is one narrow pipeline: the scan
    # plans its ranges without a repartition and the definitions compile
    # into expressions, so no Exchange of any kind and no join appear
    out.collect()
    plan = (
        out._jdf.queryExecution()
        .executedPlan()
        .toString()
        .split("== Initial Plan ==")[0]
    )
    assert "Exchange" not in plan
    assert "Join" not in plan
