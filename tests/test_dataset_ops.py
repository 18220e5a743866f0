"""Dataset-op parity tests (reference ``tests/test_models_dataset.py``)."""

from pyspark.sql import functions as F

from mission_data_pipeline_spark.operators import to_wide
from mission_data_pipeline_spark.operators.dataset import dedup_samples

ROWS = [
    # name, apid, seq, time, raw, eng
    ("temperature", 0x200, 0, 0.0, 0.0, -273.15),
    ("temperature", 0x200, 1, 10.0, 100.0, -263.15),
    ("temperature", 0x200, 2, 20.0, 200.0, -253.15),
    ("pressure", 0x200, 0, 0.0, 5.0, 5.0),
    ("pressure", 0x200, 2, 20.0, 7.0, 7.0),
]
SCHEMA = "name string, apid int, seq_count int, time_tai double, raw_value double, eng_value double"


def _params(spark):
    df = spark.createDataFrame(ROWS, SCHEMA)
    return (
        df.withColumn("unit", F.lit(None).cast("string"))
        .withColumn("validity", F.lit(True))
        .withColumn("out_of_limit", F.lit(False))
        .withColumn("alarm_level", F.lit(0))
    )


def test_wide_pivot_shape_and_nulls(spark):
    wide = to_wide(_params(spark)).collect()
    assert [r["time_tai"] for r in wide] == [0.0, 10.0, 20.0]
    byt = {r["time_tai"]: r for r in wide}
    assert byt[10.0]["pressure"] is None  # no sample at t=10
    assert byt[10.0]["temperature"] == -263.15


def test_wide_pivot_duplicate_time_last_wins(spark):
    rows = [
        ("x", 1, 0, 5.0, 1.0, 1.0),
        ("x", 1, 1, 5.0, 2.0, 2.0),  # same time, later seq → wins
    ]
    df = spark.createDataFrame(rows, SCHEMA)
    wide = to_wide(df).collect()
    assert len(wide) == 1 and wide[0]["x"] == 2.0


def test_dedup_samples_keeps_highest_seq(spark):
    rows = [
        ("x", 1, 0, 5.0, 1.0, 1.0),
        ("x", 1, 3, 5.0, 9.0, 9.0),
        ("x", 1, 1, 6.0, 2.0, 2.0),
    ]
    df = spark.createDataFrame(rows, SCHEMA)
    out = {r["time_tai"]: r for r in dedup_samples(df).collect()}
    assert len(out) == 2 and out[5.0]["raw_value"] == 9.0


def test_two_phase_distinct_count_matches_direct(spark):
    from mission_data_pipeline_spark.operators.skew import two_phase_distinct_count

    df = spark.createDataFrame(
        [("a", i % 7) for i in range(100)] + [("b", i % 3) for i in range(50)],
        "k string, v int",
    )
    got = {
        r["k"]: r["n_distinct"]
        for r in two_phase_distinct_count(df, ["k"], "v").collect()
    }
    direct = {
        r["k"]: r["n"]
        for r in df.groupBy("k").agg(F.countDistinct("v").alias("n")).collect()
    }
    assert got == direct == {"a": 7, "b": 3}


def test_salted_agg_matches_direct(spark):
    from mission_data_pipeline_spark.operators.skew import salted_agg

    df = spark.createDataFrame(
        [("hot", float(i)) for i in range(1000)] + [("cold", 5.0)],
        "k string, v double",
    )
    out = salted_agg(
        df,
        ["k"],
        partial={"s": F.sum("v"), "c": F.count(F.lit(1))},
        merge={"s": F.sum("s"), "c": F.sum("c")},
        n_salts=8,
        salt_on="v",
    ).withColumn("avg", F.col("s") / F.col("c"))
    got = {r["k"]: (r["s"], r["c"], r["avg"]) for r in out.collect()}
    assert got["hot"] == (499500.0, 1000, 499.5)
    assert got["cold"] == (5.0, 1, 5.0)


def test_funnel_depths_strict_ordering(spark):
    from mission_data_pipeline_spark.operators.analytics import funnel_depths

    rows = [
        # user 1: full ordered funnel
        (1, "view", 10), (1, "click", 20), (1, "purchase", 30),
        # user 2: purchase BEFORE click -> depth 2, not 3
        (2, "view", 10), (2, "purchase", 15), (2, "click", 20),
        # user 3: click before any view -> depth 1 (view alone)
        (3, "click", 5), (3, "view", 10),
        # user 4: never views -> depth 0
        (4, "purchase", 10),
        # user 5: simultaneous ts does NOT count (strictly after)
        (5, "view", 10), (5, "click", 10),
    ]
    df = spark.createDataFrame(rows, "user_id long, event_type string, ts_us long")
    got = {
        r["user_id"]: r["funnel_depth"]
        for r in funnel_depths(df, ["view", "click", "purchase"]).collect()
    }
    assert got == {1: 3, 2: 2, 3: 1, 4: 0, 5: 1}


def test_funnel_depths_timestamp_ts_col(spark):
    """TimestampType ts (supported by the pre-r14 join formulation) must
    keep working: mapped to epoch micros for the numeric RANGE frame,
    full precision, same strictly-after rule for equal timestamps."""
    from pyspark.sql import functions as F

    from mission_data_pipeline_spark.operators.analytics import funnel_depths

    rows = [
        (1, "view", 10), (1, "click", 20), (1, "purchase", 30),
        (2, "view", 10), (2, "purchase", 15), (2, "click", 20),
        (5, "view", 10), (5, "click", 10),  # equal ts -> strictly-after
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_type string, us long"
    ).select("user_id", "event_type", F.timestamp_micros("us").alias("ts"))
    got = {
        r["user_id"]: r["funnel_depth"]
        for r in funnel_depths(
            df, ["view", "click", "purchase"], ts_col="ts"
        ).collect()
    }
    assert got == {1: 3, 2: 2, 5: 1}


def test_funnel_depths_validates_stages(spark):
    import pytest as _pytest

    from mission_data_pipeline_spark.operators.analytics import funnel_depths

    df = spark.createDataFrame(
        [(1, "view", 1)], "user_id long, event_type string, ts_us long"
    )
    with _pytest.raises(ValueError):
        funnel_depths(df, ["view"])
    with _pytest.raises(ValueError):
        funnel_depths(df, ["view", "view"])


def test_retention_cohorts_triangle(spark):
    from mission_data_pipeline_spark.operators.analytics import retention_cohorts

    day = 86_400_000_000
    rows = [
        # cohort day 0: users 1,2. user 1 returns day 1 and 2; user 2 never
        (1, 0), (1, day + 5), (1, 2 * day + 5),
        (2, 10),
        # cohort day 1: user 3, returns day 2
        (3, day + 1), (3, 2 * day + 1),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts_us long")
    got = {
        (r["cohort_day"], r["day_offset"]): r["n_active"]
        for r in retention_cohorts(df).collect()
    }
    assert got == {(0, 0): 2, (0, 1): 1, (0, 2): 1, (1, 0): 1, (1, 1): 1}


def test_profile_columns_single_pass_report(spark):
    from mission_data_pipeline_spark.operators.quality import profile_columns

    df = spark.createDataFrame(
        [(1, "a", 10.0), (2, "a", None), (3, None, 30.0), (3, "b", 40.0)],
        "id long, cat string, v double",
    )
    got = {r["col_name"]: r for r in profile_columns(df, ["id", "cat", "v"]).collect()}
    assert got["id"]["n_rows"] == 4 and got["id"]["n_null"] == 0
    assert got["id"]["n_distinct"] == 3  # id 3 repeats
    assert got["cat"]["n_null"] == 1 and got["cat"]["n_distinct"] == 2
    assert (got["v"]["min_value"], got["v"]["max_value"]) == ("10.0", "40.0")
    import pytest as _pytest

    with _pytest.raises(ValueError):
        profile_columns(df, [])
    with _pytest.raises(ValueError):
        profile_columns(df, ["nope"])


def test_validate_constraints_report(spark):
    from mission_data_pipeline_spark.operators.quality import (
        Constraint,
        validate_constraints,
    )

    df = spark.createDataFrame(
        [(1, "x", 5.0), (2, "x", 50.0), (2, "y", None), (4, "z", 7.0)],
        "id long, cat string, v double",
    )
    checks = [
        Constraint("unique", "id"),                       # id=2 dup -> fail
        Constraint("complete", "v"),                      # one null -> fail
        Constraint("between", "v", lo=0.0, hi=10.0),      # 50 out -> fail
        Constraint("accepted_values", "cat", values=("x", "y", "z")),  # pass
        Constraint("min_fraction_complete", "v", min_fraction=0.5),    # pass
    ]
    got = {(r["check"], r["column"]): r for r in validate_constraints(df, checks).collect()}
    assert not got[("unique", "id")]["passed"]
    assert got[("unique", "id")]["metric"] == 1.0
    assert not got[("complete", "v")]["passed"]
    assert not got[("between", "v")]["passed"]
    assert got[("between", "v")]["metric"] == 1.0
    assert got[("accepted_values", "cat")]["passed"]
    assert got[("min_fraction_complete", "v")]["passed"]
    import pytest as _pytest

    with _pytest.raises(ValueError):
        Constraint("between", "v")  # missing bounds
    with _pytest.raises(ValueError):
        Constraint("nope", "v")
    with _pytest.raises(ValueError):
        validate_constraints(df, [])

    # Empty input must REPORT (0/0 would crash under ANSI mode), and an
    # empty table passes completeness — no rows are incomplete.
    empty = df.limit(0)
    got0 = {
        (r["check"], r["column"]): r
        for r in validate_constraints(
            empty,
            [
                Constraint("complete", "v"),
                Constraint("min_fraction_complete", "v", min_fraction=0.9),
            ],
        ).collect()
    }
    assert got0[("complete", "v")]["passed"]
    assert got0[("complete", "v")]["metric"] == 0.0
    assert got0[("min_fraction_complete", "v")]["passed"]


def test_udx_grouped_median_and_token_spans(spark):
    from pyspark.sql import functions as F

    from mission_data_pipeline_spark.functions.udx import (
        grouped_median,
        register_udx,
    )

    df = spark.createDataFrame(
        [("a", 1.0), ("a", 9.0), ("a", 3.0), ("b", 4.0), ("b", 6.0)],
        "g string, v double",
    )
    got = {
        r["g"]: r["m"]
        for r in df.groupBy("g").agg(grouped_median("v").alias("m")).collect()
    }
    assert got == {"a": 3.0, "b": 5.0}  # odd: middle; even: interpolated

    # NULL handling matches SQL quantile aggregates: NULLs are ignored
    # (not NaN-poisoned); an all-NULL group is NULL, not NaN.
    dfn = spark.createDataFrame(
        [("a", 1.0), ("a", None), ("a", 3.0), ("b", None)],
        "g string, v double",
    )
    gotn = {
        r["g"]: r["m"]
        for r in dfn.groupBy("g").agg(grouped_median("v").alias("m")).collect()
    }
    assert gotn == {"a": 2.0, "b": None}

    register_udx(spark)
    spark.createDataFrame(
        [(1, "alpha bb c"), (2, None), (3, "")],
        "id long, text string",
    ).createOrReplaceTempView("udx_docs")
    rows = spark.sql(
        "SELECT d.id, t.* FROM udx_docs d, LATERAL token_spans(d.text) t"
        " ORDER BY d.id, t.pos"
    ).collect()
    assert [(r["id"], r["tok"], r["pos"], r["tok_len"]) for r in rows] == [
        (1, "alpha", 0, 5),
        (1, "bb", 1, 2),
        (1, "c", 2, 1),
    ]  # null/empty text yields no rows


def test_resample_grid_gapfill_semantics(spark):
    import pytest

    from mission_data_pipeline_spark.operators.dataset import resample_grid

    # series A: samples at t=100, 250, 400 (period 100 -> grid 100..400)
    # series B: duplicate timestamps resolve to MAX before filling
    rows = [
        ("A", 100, 10.0),
        ("A", 250, 40.0),
        ("A", 400, 10.0),
        ("B", 150, 5.0),
        ("B", 150, 7.0),  # dup -> 7.0 wins
        ("B", 350, 1.0),
    ]
    df = spark.createDataFrame(rows, "name string, t_us long, value double")
    out = {
        (r["name"], r["t_us"]): r
        for r in resample_grid(
            df,
            time_col="t_us",
            value_col="value",
            period_us=100,
            series_cols=["name"],
        ).collect()
    }
    # A grid: 100, 200, 300, 400
    assert out[("A", 100)]["locf"] == 10.0 and out[("A", 100)]["interp"] == 10.0
    assert out[("A", 200)]["locf"] == 10.0
    assert out[("A", 200)]["interp"] == pytest.approx(10 + 30 * 100 / 150)
    assert out[("A", 300)]["locf"] == 40.0
    assert out[("A", 300)]["interp"] == pytest.approx(40 - 30 * 50 / 150)
    # exact-hit at the last sample returns it under BOTH policies
    assert out[("A", 400)]["locf"] == 10.0 and out[("A", 400)]["interp"] == 10.0
    # B grid starts at floor(150/100)*100 = 100: before first sample ->
    # both policies null
    assert out[("B", 100)]["locf"] is None and out[("B", 100)]["interp"] is None
    # dup timestamp resolved to max (7.0) before filling
    assert out[("B", 200)]["locf"] == 7.0
    assert out[("B", 200)]["interp"] == pytest.approx(7.0 + (1.0 - 7.0) * 50 / 200)
    assert len(out) == 4 + 3  # A: 4 grid points, B: 100..300 = 3
