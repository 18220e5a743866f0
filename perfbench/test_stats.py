"""Unit tests for the benchmark's own arithmetic (no Spark needed).

    python3 -m pytest perfbench/ -q
"""

from __future__ import annotations

import os
import statistics
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import stats  # noqa: E402
from tracing import Span, parse_metric, self_times  # noqa: E402

# -- the percentile rule ------------------------------------------------------


@pytest.mark.parametrize("n", range(1, 400))
def test_tail_percentile_keeps_ten_samples_beyond(n):
    pct = stats.tail_percentile(n)
    assert 50.0 <= pct <= 90.0
    if pct > 50.0:
        pos = (n - 1) * pct / 100.0
        beyond = sum(1 for i in range(n) if i > pos)
        assert beyond >= stats.MIN_BEYOND
        # ...and it is the highest whole percentile that does.
        if pct < 90.0:
            pos_next = (n - 1) * (pct + 1) / 100.0
            assert sum(1 for i in range(n) if i > pos_next) < stats.MIN_BEYOND


@pytest.mark.parametrize("n, expect", [(1, 50.0), (11, 50.0), (20, 52.0), (21, 54.0),
                                       (26, 63.0), (100, 90.0), (1000, 90.0)])
def test_tail_percentile_values(n, expect):
    assert stats.tail_percentile(n) == expect


def test_tail_percentile_rejects_no_samples():
    with pytest.raises(ValueError):
        stats.tail_percentile(0)


def test_percentile_interpolates_like_numpy():
    xs = [4.0, 1.0, 3.0, 2.0]
    assert stats.percentile(xs, 0) == 1.0
    assert stats.percentile(xs, 100) == 4.0
    assert stats.percentile(xs, 50) == 2.5
    assert stats.percentile(xs, 90) == pytest.approx(3.7)
    assert stats.percentile([7.0], 90) == 7.0


# -- quartiles ----------------------------------------------------------------


@pytest.mark.parametrize("xs", [[1.0, 2.0], [3.0, 1.0, 2.0], [5.0, 1.0, 4.0, 2.0, 3.0],
                                [float(i * i % 17) for i in range(10)]])
def test_quartiles_match_statistics_quantiles(xs):
    assert stats.quartiles(xs) == tuple(statistics.quantiles(xs, n=4))


def test_quartiles_of_one_sample_and_none():
    assert stats.quartiles([2.5]) == (2.5, 2.5, 2.5)
    with pytest.raises(ValueError):
        stats.quartiles([])


def test_spread_is_iqr_over_median():
    xs = [9.0, 10.0, 10.0, 11.0, 10.0, 12.0, 8.0, 10.0, 10.0, 10.0]
    q1, med, q3 = statistics.quantiles(xs, n=4)
    assert stats.spread(xs) == pytest.approx((q3 - q1) / med)
    assert stats.summary(xs) == {"n": 10, "median": med, "q1": q1, "q3": q3}


# -- the pair verdict ----------------------------------------------------------


def test_pair_verdict_ties_count_for_neither_side():
    parent = [10.0] * 10
    change = [10.0] * 5 + [9.0] * 5
    v = stats.pair_verdict(parent, change, "lower")
    assert (v["wins"], v["losses"], v["ties"]) == (5, 0, 5)
    assert not v["claimed"]


def test_pair_verdict_nine_of_ten_claims():
    parent = [10.0 + 0.1 * i for i in range(10)]
    change = [p - 2.0 for p in parent[:9]] + [parent[9] + 1.0]
    v = stats.pair_verdict(parent, change, "lower")
    assert (v["wins"], v["losses"]) == (9, 1)
    assert v["claimed"]


def test_pair_verdict_eight_of_ten_does_not_claim():
    parent = [10.0 + 0.1 * i for i in range(10)]
    change = [p - 2.0 for p in parent[:8]] + [p + 1.0 for p in parent[8:]]
    assert not stats.pair_verdict(parent, change, "lower")["claimed"]


def test_pair_verdict_needs_medians_apart_by_more_than_parent_iqr():
    parent = [1.0, 5.0, 9.0, 1.0, 5.0, 9.0, 1.0, 5.0, 9.0, 5.0]
    change = [p - 0.01 for p in parent]  # wins every pair, by a hair
    v = stats.pair_verdict(parent, change, "lower")
    assert v["wins"] == 10
    assert not v["claimed"]


def test_pair_verdict_needs_ten_pairs():
    v = stats.pair_verdict([10.0, 11.0, 12.0], [1.0, 2.0, 3.0], "lower")
    assert v["wins"] == 3 and not v["claimed"]


def test_pair_verdict_higher_is_better():
    parent = [100.0 + i for i in range(10)]
    change = [p * 1.5 for p in parent]
    v = stats.pair_verdict(parent, change, "higher")
    assert v["wins"] == 10 and v["claimed"]
    assert stats.pair_verdict(change, parent, "higher")["losses"] == 10


def test_pair_verdict_rejects_unpaired_samples():
    with pytest.raises(ValueError):
        stats.pair_verdict([1.0, 2.0], [1.0], "lower")
    with pytest.raises(ValueError):
        stats.pair_verdict([1.0], [1.0], "sideways")


def test_within_bound():
    assert stats.within_bound(10.0, 11.0, "lower", 0.1)
    assert not stats.within_bound(10.0, 11.01, "lower", 0.1)
    assert stats.within_bound(10.0, 9.0, "higher", 0.1)
    assert not stats.within_bound(10.0, 8.99, "higher", 0.1)


def test_bound_verdict():
    parent = [10.0, 10.1, 9.9, 10.0, 10.2, 9.8, 10.0, 10.1, 9.9, 10.0]
    assert stats.bound_verdict(parent, [x * 1.05 for x in parent], "lower", 0.1) == "ok"
    assert stats.bound_verdict(parent, [x * 1.2 for x in parent], "lower", 0.1) == "WORSE"
    noisy = [5.0, 15.0] * 5
    assert stats.bound_verdict(noisy, [x * 1.05 for x in noisy], "lower", 0.1) == "unresolved"
    assert stats.bound_verdict(noisy, [1.0] * 10, "lower", 0.1) == "ok"


# -- span self time ----------------------------------------------------------


def _span(i, depth, start, end, layer="operators", shares=None, parent=0):
    return Span(i, parent, f"s{i}", layer, depth, start, end, shares=shares or {})


def test_self_times_add_up_to_the_operation_wall():
    op = _span(0, 0, 0.0, 10.0, layer="driver", parent=None)
    spans = [
        op,
        _span(1, 1, 1.0, 3.0, layer="plans"),
        _span(2, 3, 4.0, 8.0, layer="operators"),
        _span(3, 4, 4.0, 6.0, shares={"shuffle": 0.5, "sinks": 0.5}),
    ]
    out = self_times(op, spans)
    assert out["plans"] == pytest.approx(2.0)
    assert out["shuffle"] == pytest.approx(1.0)
    assert out["sinks"] == pytest.approx(1.0)
    assert out["operators"] == pytest.approx(2.0)  # the job beyond its stage
    assert out["driver"] == pytest.approx(4.0)  # [0,1) [3,4) [8,10)
    assert sum(out.values()) == pytest.approx(10.0)


def test_self_times_split_concurrent_leaves_evenly():
    op = _span(0, 0, 0.0, 4.0, layer="driver", parent=None)
    spans = [
        op,
        _span(1, 4, 0.0, 4.0, layer="sources"),
        _span(2, 4, 2.0, 4.0, layer="functions"),
    ]
    out = self_times(op, spans)
    assert out["sources"] == pytest.approx(3.0)
    assert out["functions"] == pytest.approx(1.0)
    assert out["driver"] == 0.0


def test_self_times_clip_spans_to_the_operation():
    op = _span(0, 0, 5.0, 6.0, layer="driver", parent=None)
    spans = [op, _span(1, 2, 4.0, 5.5, layer="plans"), _span(2, 2, 9.0, 9.5)]
    out = self_times(op, spans)
    assert out["plans"] == pytest.approx(0.5)
    assert out["driver"] == pytest.approx(0.5)
    assert out["operators"] == 0.0


# -- stamp matching ----------------------------------------------------------

_STAMP = {"workload": "ingest", "seed": 3, "cpus": 4, "driver_memory": "2g",
          "shuffle_partitions": 4, "input_sha256": "ab", "git_commit": "c1",
          "source_sha256": "s1"}


def test_stamps_may_differ_in_code_only():
    other = {**_STAMP, "git_commit": "c2", "source_sha256": "s2"}
    assert stats.stamp_mismatches(_STAMP, other) == []
    assert stats.stamp_mismatches(_STAMP, other, same_code=True) == [
        "git_commit", "source_sha256"]


@pytest.mark.parametrize("key", ["cpus", "driver_memory", "shuffle_partitions",
                                 "seed", "input_sha256"])
def test_stamps_that_differ_in_settings_are_refused(key):
    other = {**_STAMP, key: "other"}
    assert stats.stamp_mismatches(_STAMP, other) == [key]


def test_a_missing_stamp_field_is_a_mismatch():
    other = dict(_STAMP)
    del other["cpus"]
    assert stats.stamp_mismatches(_STAMP, other) == ["cpus"]


# -- SQL metric text -----------------------------------------------------------


def test_parse_metric():
    assert parse_metric("1,234") == (1234.0, None)
    size = "total (min, med, max (stageId: taskId))\n2.0 KiB (1.0 KiB, 1.0 KiB, 1.0 KiB (stage 4.0: task 17))"
    assert parse_metric(size) == (2048.0, 4)
    timing = "total (min, med, max (stageId: taskId))\n1.5 s (0 ms, 0 ms, 1.5 s (stage 12.1: task 3))"
    assert parse_metric(timing) == (1.5, 12)
    assert parse_metric("") == (0.0, None)
