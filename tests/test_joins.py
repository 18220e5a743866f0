"""as-of join and banded range join (operators/joins.py).

Golden values hand-computed; semantics modeled on pandas ``merge_asof``
(backward) and interval self-joins.
"""

import pytest

from mission_data_pipeline_spark.operators.joins import asof_join, range_join


@pytest.fixture(scope="module")
def quotes_trades(spark):
    quotes = spark.createDataFrame(
        [("A", 10, 100.0), ("A", 20, 101.0), ("A", 40, 99.0), ("B", 15, 50.0)],
        "sym string, t long, px double",
    )
    trades = spark.createDataFrame(
        [("A", 5), ("A", 10), ("A", 25), ("A", 50), ("B", 14), ("C", 7)],
        "sym string, t long",
    )
    return quotes, trades


def test_asof_backward(spark, quotes_trades):
    quotes, trades = quotes_trades
    out = asof_join(trades, quotes, on="t", by=["sym"]).orderBy("sym", "t")
    rows = [(r["sym"], r["t"], r["right_t"], r["right_px"]) for r in out.collect()]
    assert rows == [
        ("A", 5, None, None),  # no quote yet
        ("A", 10, 10, 100.0),  # inclusive at equal time
        ("A", 25, 20, 101.0),
        ("A", 50, 40, 99.0),
        ("B", 14, None, None),  # B's quote is later
        ("C", 7, None, None),  # key never on right
    ]


def test_asof_preserves_left_rowcount(spark, quotes_trades):
    quotes, trades = quotes_trades
    assert asof_join(trades, quotes, on="t", by=["sym"]).count() == trades.count()


def test_range_join_pairs(spark):
    ev = spark.createDataFrame(
        [("x", 1, 0), ("x", 2, 7), ("x", 3, 10), ("x", 4, 25), ("y", 5, 9)],
        "k string, id long, t long",
    )
    out = range_join(ev, ev, on="t", by=["k"], lower=1, upper=10)
    pairs = sorted(
        (r["id"], r["right_id"]) for r in out.collect()
    )
    # dt in [1,10]: (1->2 dt7) (1->3 dt10) (2->3 dt3) — (3->4 dt15) excluded
    assert pairs == [(1, 2), (1, 3), (2, 3)]


def test_range_join_symmetric_band(spark):
    ev = spark.createDataFrame(
        [("x", 1, 100), ("x", 2, 104), ("x", 3, 111)], "k string, id long, t long"
    )
    out = range_join(ev, ev, on="t", by=["k"], lower=-5, upper=5)
    pairs = sorted((r["id"], r["right_id"]) for r in out.collect())
    # |dt|<=5 incl self-pairs: (1,1)(1,2)(2,1)(2,2)(3,3)... 104->111 dt 7 excluded
    assert pairs == [(1, 1), (1, 2), (2, 1), (2, 2), (3, 3)]


def test_range_join_rejects_empty_interval(spark):
    ev = spark.createDataFrame([("x", 1, 0)], "k string, id long, t long")
    with pytest.raises(ValueError):
        range_join(ev, ev, on="t", by=["k"], lower=5, upper=5)


def _final_plan(df) -> str:
    return (
        df._jdf.queryExecution()
        .executedPlan()
        .toString()
        .split("== Initial Plan ==")[0]
    )


def test_asof_join_single_shuffle_no_range_explosion(spark):
    """Scale-shape guard: the as-of join is union + one windowed carry —
    exactly ONE hash exchange on the `by` keys and NO join node at all
    (an inequality-join formulation would plan a range cross product
    that explodes at scale)."""
    from mission_data_pipeline_spark.operators.joins import asof_join

    left = spark.createDataFrame(
        [(k, float(t)) for k in ("a", "b") for t in range(0, 100, 3)],
        "k string, t double",
    )
    right = spark.createDataFrame(
        [(k, float(t), t * 10) for k in ("a", "b") for t in range(0, 100, 7)],
        "k string, t double, v long",
    )
    out = asof_join(left, right, on="t", by=["k"])
    out.collect()
    plan = _final_plan(out)
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan  # no join operator — union + window carry


def test_asof_keyless_matches_keyed_and_avoids_single_partition(spark):
    """Keyless (`by=[]`) as-of must (a) agree with the keyed path run on
    a constant key — same semantics, different physical shape — and
    (b) never plan a SinglePartition exchange: the carry runs as a
    range-partitioned segmented scan, parallel across time slices."""
    import random

    from pyspark.sql import functions as F

    from mission_data_pipeline_spark.operators.joins import asof_join

    rnd = random.Random(11)
    # distinct times on both sides -> fully deterministic matches
    lt = rnd.sample(range(10_000), 400)
    rt = rnd.sample(range(10_000), 60)
    left = spark.createDataFrame(
        [(i, float(t)) for i, t in enumerate(lt)], "lid long, t double"
    )
    right = spark.createDataFrame(
        [(float(t), f"r{i}") for i, t in enumerate(rt)], "t double, rv string"
    )
    keyless = asof_join(left, right, on="t", by=[])
    keyed = asof_join(
        left.withColumn("k", F.lit(1)),
        right.withColumn("k", F.lit(1)),
        on="t",
        by=["k"],
    ).drop("k")
    a = sorted(map(tuple, keyless.collect()))
    b = sorted(map(tuple, keyed.collect()))
    assert a == b
    assert len(a) == 400  # left row count preserved
    plan = _final_plan(asof_join(left, right, on="t", by=[]))
    assert "Exchange SinglePartition" not in plan
    assert "rangepartitioning" in plan


def test_asof_keyless_boundary_carry_across_slices(spark):
    """Right rows far rarer than range slices: most slices have NO right
    row, so their matches must arrive via the cross-slice carry-in."""
    from mission_data_pipeline_spark.operators.joins import asof_join

    left = spark.createDataFrame(
        [(i, float(i)) for i in range(1000)], "lid long, t double"
    )
    right = spark.createDataFrame(
        [(0.0, "lo"), (500.0, "hi")], "t double, rv string"
    )
    got = {
        r["lid"]: r["right_rv"]
        for r in asof_join(left, right, on="t", by=[]).collect()
    }
    assert all(got[i] == "lo" for i in range(0, 500))
    assert all(got[i] == "hi" for i in range(500, 1000))
