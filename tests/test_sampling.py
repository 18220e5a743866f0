"""Deterministic curation sampling (operators/sampling.py) + forward fill."""

import pytest
from pyspark.sql import functions as F

from mission_data_pipeline_spark.operators.dataset import forward_fill
from mission_data_pipeline_spark.operators.sampling import (
    hash_sample,
    stratified_sample,
)


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [(i, f"lang{i % 3}", f"doc text {i}") for i in range(300)]
    return spark.createDataFrame(rows, "doc_id long, lang string, text string")


def test_hash_sample_deterministic_and_sized(corpus):
    a = sorted(r["doc_id"] for r in hash_sample(corpus, 0.3, key_cols=["doc_id"], seed=1).collect())
    b = sorted(r["doc_id"] for r in hash_sample(corpus, 0.3, key_cols=["doc_id"], seed=1).collect())
    assert a == b  # reproducible
    assert 50 <= len(a) <= 130  # ~90 expected, binomial spread
    c = sorted(r["doc_id"] for r in hash_sample(corpus, 0.3, key_cols=["doc_id"], seed=2).collect())
    assert a != c  # seed changes membership
    # nesting property: a smaller fraction is a subset of a larger one
    d = set(r["doc_id"] for r in hash_sample(corpus, 0.1, key_cols=["doc_id"], seed=1).collect())
    assert d <= set(a)
    # map-side only: no exchange in the plan
    plan = (
        hash_sample(corpus, 0.3, key_cols=["doc_id"])._jdf.queryExecution()
        .executedPlan().toString()
    )
    assert "Exchange" not in plan


def test_hash_sample_bad_fraction(corpus):
    with pytest.raises(ValueError):
        hash_sample(corpus, 1.5, key_cols=["doc_id"])


def test_stratified_sample_exact_n(corpus):
    out = stratified_sample(
        corpus, 7, strata_cols=["lang"], key_cols=["doc_id"], seed=5
    )
    per = {r["lang"]: r["n"] for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert per == {"lang0": 7, "lang1": 7, "lang2": 7}
    again = stratified_sample(
        corpus, 7, strata_cols=["lang"], key_cols=["doc_id"], seed=5
    )
    assert sorted(r["doc_id"] for r in out.collect()) == sorted(
        r["doc_id"] for r in again.collect()
    )


def test_stratified_sample_small_stratum(spark):
    df = spark.createDataFrame([(1, "a"), (2, "a"), (3, "b")], "id long, s string")
    out = stratified_sample(df, 5, strata_cols=["s"], key_cols=["id"])
    assert out.count() == 3  # min(n, |stratum|)


def test_forward_fill_holds_last_value(spark):
    rows = [
        ("p", 1, 10.0),
        ("p", 2, None),
        ("p", 3, None),
        ("p", 4, 40.0),
        ("p", 5, None),
        ("q", 1, None),  # leading null in another partition stays null
        ("q", 2, 7.0),
    ]
    df = spark.createDataFrame(rows, "name string, t long, v double")
    out = forward_fill(df, ["v"], order_cols=["t"], partition_cols=["name"])
    got = {(r["name"], r["t"]): r["v"] for r in out.collect()}
    assert got[("p", 2)] == 10.0 and got[("p", 3)] == 10.0
    assert got[("p", 5)] == 40.0
    assert got[("q", 1)] is None and got[("q", 2)] == 7.0


def test_mixture_sample_shares_and_binding_group(spark):
    from mission_data_pipeline_spark.operators.sampling import mixture_sample

    rows = [(i, "big" if i < 800 else "small") for i in range(1000)]
    df = spark.createDataFrame(rows, "id long, grp string")
    out = mixture_sample(
        df, {"big": 0.5, "small": 0.5}, group_col="grp", key_cols=["id"]
    )
    counts = {r["grp"]: r["n"] for r in out.groupBy("grp").agg(
        __import__("pyspark.sql.functions", fromlist=["count"]).count("*").alias("n")
    ).collect()}
    # small (200 rows) binds at 50% share: kept whole; big downsampled ~200
    assert counts["small"] == 200
    assert 150 <= counts["big"] <= 250  # binomial around 200
    # deterministic: same call -> same rows
    a = sorted(r["id"] for r in out.collect())
    b = sorted(r["id"] for r in mixture_sample(
        df, {"big": 0.5, "small": 0.5}, group_col="grp", key_cols=["id"]
    ).collect())
    assert a == b


def test_mixture_sample_drops_untargeted_and_validates(spark):
    import pytest

    from mission_data_pipeline_spark.operators.sampling import mixture_sample

    df = spark.createDataFrame(
        [(1, "en"), (2, "de"), (3, "zz")], "id long, grp string"
    )
    out = mixture_sample(df, {"en": 1.0, "de": 1.0}, group_col="grp", key_cols=["id"])
    assert {r["grp"] for r in out.collect()} <= {"en", "de"}
    with pytest.raises(ValueError):
        mixture_sample(df, {}, group_col="grp", key_cols=["id"])
    with pytest.raises(ValueError):
        mixture_sample(df, {"en": 0.0}, group_col="grp", key_cols=["id"])


def test_temperature_sample_flattens_heads(spark):
    from mission_data_pipeline_spark.operators.sampling import temperature_sample

    rows = [(i, "big" if i < 900 else "small") for i in range(1000)]
    df = spark.createDataFrame(rows, "id long, grp string")
    # alpha=0: equalize — big downsampled to ~|small|=100, small whole
    out0 = temperature_sample(df, 0.0, group_col="grp", key_cols=["id"])
    c0 = {r["grp"]: r["n"] for r in out0.groupBy("grp").agg(
        F.count("*").alias("n")).collect()}
    assert c0["small"] == 100
    assert 60 <= c0["big"] <= 140  # binomial around 100
    # alpha=1: natural mixture — everything kept
    out1 = temperature_sample(df, 1.0, group_col="grp", key_cols=["id"])
    assert out1.count() == 1000
    # 0<alpha<1 interpolates: big kept more than at alpha=0, less than whole
    outh = temperature_sample(df, 0.5, group_col="grp", key_cols=["id"])
    ch = {r["grp"]: r["n"] for r in outh.groupBy("grp").agg(
        F.count("*").alias("n")).collect()}
    assert ch["small"] == 100
    assert c0["big"] < ch["big"] < 900
    # deterministic
    assert sorted(r["id"] for r in outh.collect()) == sorted(
        r["id"] for r in temperature_sample(
            df, 0.5, group_col="grp", key_cols=["id"]).collect())
    with pytest.raises(ValueError):
        temperature_sample(df, 1.5, group_col="grp", key_cols=["id"])


def test_split_assign_disjoint_exhaustive_reproducible(corpus):
    from mission_data_pipeline_spark.operators.sampling import split_assign

    out = split_assign(
        corpus, {"train": 8, "val": 1, "test": 1}, key_cols=["doc_id"], seed=5
    )
    rows = out.collect()
    assert len(rows) == 300  # exhaustive: every row assigned
    by_split = {}
    for r in rows:
        by_split.setdefault(r["split"], set()).add(r["doc_id"])
    assert set(by_split) <= {"train", "val", "test"}
    # disjoint by construction: each doc appears exactly once overall
    assert sum(len(v) for v in by_split.values()) == 300
    # roughly 80/10/10 (binomial tolerance)
    assert 200 < len(by_split["train"]) < 280
    # reproducible: same seed identical; different seed differs
    again = {
        r["doc_id"]: r["split"]
        for r in split_assign(
            corpus, {"train": 8, "val": 1, "test": 1},
            key_cols=["doc_id"], seed=5,
        ).collect()
    }
    assert all(again[r["doc_id"]] == r["split"] for r in rows)
    other = {
        r["doc_id"]: r["split"]
        for r in split_assign(
            corpus, {"train": 8, "val": 1, "test": 1},
            key_cols=["doc_id"], seed=6,
        ).collect()
    }
    assert any(other[d] != s for d, s in again.items())


def test_split_assign_validates(corpus):
    from mission_data_pipeline_spark.operators.sampling import split_assign

    with pytest.raises(ValueError):
        split_assign(corpus, {"train": 1}, key_cols=["doc_id"])
    with pytest.raises(ValueError):
        split_assign(corpus, {"a": 1, "b": -1}, key_cols=["doc_id"])


def test_weighted_sample_biases_toward_heavy_rows(spark):
    from mission_data_pipeline_spark.operators.sampling import weighted_sample

    # 100 heavy rows (w=1000) + 100 light rows (w=1): a 50-row weighted
    # sample should be overwhelmingly heavy rows.
    rows = [(i, 1000.0) for i in range(100)] + [(100 + i, 1.0) for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, w double")
    out = weighted_sample(df, 50, weight_col="w", key_cols=["doc_id"], seed=1)
    got = [r["doc_id"] for r in out.collect()]
    assert len(got) == 50
    assert sum(1 for d in got if d < 100) >= 45
    # without replacement: no duplicates
    assert len(set(got)) == 50
    # deterministic
    again = [
        r["doc_id"]
        for r in weighted_sample(
            df, 50, weight_col="w", key_cols=["doc_id"], seed=1
        ).collect()
    ]
    assert sorted(got) == sorted(again)


def test_weighted_sample_excludes_nonpositive_weights(spark):
    from mission_data_pipeline_spark.operators.sampling import weighted_sample

    df = spark.createDataFrame(
        [(1, 5.0), (2, 0.0), (3, -2.0), (4, 5.0)], "doc_id long, w double"
    )
    out = weighted_sample(df, 10, weight_col="w", key_cols=["doc_id"])
    assert sorted(r["doc_id"] for r in out.collect()) == [1, 4]
    with pytest.raises(ValueError):
        weighted_sample(df, 0, weight_col="w", key_cols=["doc_id"])


def test_weighted_sample_plans_distributed_topn(corpus):
    """The E-S selection must plan as TakeOrderedAndProject (per-partition
    local top-n, n-row merges) — not a single-partition global window."""
    from mission_data_pipeline_spark.operators.sampling import weighted_sample

    df = corpus.withColumn(
        "w", __import__("pyspark.sql.functions", fromlist=["lit"]).lit(2.0)
    )
    out = weighted_sample(df, 5, weight_col="w", key_cols=["doc_id"])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan


def test_leakage_safe_split_keeps_clusters_together(spark):
    """Every near-dup cluster lands in ONE split; per-document hashing
    on the same corpus demonstrably leaks (that's the point)."""
    from pyspark.sql import functions as F

    from mission_data_pipeline_spark.operators.sampling import (
        leakage_safe_split,
        split_assign,
    )

    docs = spark.range(200).select(F.col("id").alias("doc_id"))
    # clusters: (i, i+100) pairs for i < 60, chains 0-100, 1-101, ...
    pairs = spark.range(60).select(
        F.col("id").alias("doc_a"), (F.col("id") + 100).alias("doc_b")
    )
    out = leakage_safe_split(
        docs, pairs, {"train": 8, "val": 1, "test": 1}, seed=3
    )
    rows = {r["doc_id"]: r["split"] for r in out.collect()}
    assert len(rows) == 200  # row count preserved
    assert all(rows[i] == rows[i + 100] for i in range(60))  # no straddle
    assert len(set(rows.values())) == 3  # all splits populated

    # plain per-document hashing DOES straddle this corpus (property
    # check that the cluster-level operator is not vacuous)
    plain = {
        r["doc_id"]: r["split"]
        for r in split_assign(
            docs, {"train": 8, "val": 1, "test": 1},
            key_cols=["doc_id"], seed=3,
        ).collect()
    }
    assert any(plain[i] != plain[i + 100] for i in range(60))

    # determinism: same inputs + seed -> same assignment
    again = {
        r["doc_id"]: r["split"]
        for r in leakage_safe_split(
            docs, pairs, {"train": 8, "val": 1, "test": 1}, seed=3
        ).collect()
    }
    assert again == rows


def test_dsir_select_prefers_target_like_docs(spark):
    """DSIR semantics: raw docs drawn from the target's vocabulary must
    out-weigh docs from a disjoint vocabulary. Target speaks 'alpha
    beta gamma...'; raw has 6 target-like and 6 off-vocabulary docs —
    a top-6 selection must be exactly the target-like ones, and their
    logw must all exceed every off-target logw."""
    from mission_data_pipeline_spark.operators.sampling import dsir_select

    tgt_words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta"]
    off_words = ["uno", "dos", "tres", "cuatro", "cinco", "seis"]

    def sent(words, i):
        return " ".join(words[(i + j) % len(words)] for j in range(8))

    target = spark.createDataFrame(
        [(100 + i, sent(tgt_words, i)) for i in range(6)],
        "doc_id long, text string",
    )
    raw = spark.createDataFrame(
        [(i, sent(tgt_words, i)) for i in range(6)]
        + [(10 + i, sent(off_words, i)) for i in range(6)],
        "doc_id long, text string",
    )
    all_scored = dsir_select(raw, target, 12, buckets=512, seed=1)
    rows = {r["doc_id"]: r for r in all_scored.collect()}
    like = [rows[i]["logw"] for i in range(6)]
    off = [rows[10 + i]["logw"] for i in range(6)]
    assert min(like) > max(off), (like, off)
    top6 = {r["doc_id"] for r in dsir_select(
        raw, target, 6, buckets=512, seed=1).collect()}
    assert top6 == set(range(6))


def test_dsir_select_validation_and_determinism(spark):
    from mission_data_pipeline_spark.operators.sampling import dsir_select

    df = spark.createDataFrame(
        [(1, "a b c"), (2, "d e f")], "doc_id long, text string"
    )
    import pytest as _pytest

    with _pytest.raises(ValueError):
        dsir_select(df, df, 0)
    with _pytest.raises(ValueError):
        dsir_select(df, df, 1, buckets=1)
    # same inputs + seed -> identical selection under different layouts
    a = dsir_select(df, df, 2, seed=5).collect()
    b = dsir_select(df.repartition(7), df.repartition(3), 2, seed=5).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_domain_cap_keeps_best_per_domain(spark):
    """Per-domain cap: each domain keeps its best `cap` docs by quality
    (ties -> min id); smaller domains survive whole."""
    from mission_data_pipeline_spark.operators.sampling import domain_cap

    rows = [
        (1, "a", 9), (2, "a", 9), (3, "a", 5), (4, "a", 7),
        (10, "b", 1),
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, q long")
    out = {
        r["doc_id"]: r["domain_rank"]
        for r in domain_cap(df, cap=2, quality_col="q").collect()
    }
    assert out == {1: 1, 2: 2, 10: 1}  # 4 (q=7) ranks 3rd -> dropped
    # no quality: crawl order (min id) wins
    out2 = sorted(
        r["doc_id"] for r in domain_cap(df, cap=2).collect()
    )
    assert out2 == [1, 2, 10]


def test_budget_select_exact_and_layout_invariant(spark):
    """Distributed prefix-sum budget selection: kept set equals the
    single-window reference, cum_weight is the true global running sum,
    and the result is identical under an adversarial repartitioning
    (total order -> running sums independent of range boundaries)."""
    from pyspark.sql import Window

    from mission_data_pipeline_spark.operators.sampling import budget_select

    rows = [(i, (i * 7) % 5, 10 + (i * 3) % 4) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, q long, w long")
    ref_w = Window.orderBy(F.desc("q"), F.asc("doc_id")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ref = {
        r["doc_id"]: r["cw"]
        for r in df.withColumn("cw", F.sum("w").over(ref_w))
        .filter(F.col("cw") <= 900)
        .collect()
    }
    for frame in (df, df.repartition(13)):
        got = {
            r["doc_id"]: r["cum_weight"]
            for r in budget_select(
                frame,
                budget=900,
                weight_col="w",
                quality_col="q",
                num_partitions=7,
            ).collect()
        }
        assert got == ref
    # plan shape: the operator must never contain an UNPARTITIONED
    # window (the single-task funnel it exists to avoid)
    plan = (
        budget_select(
            df, budget=900, weight_col="w", quality_col="q",
            num_partitions=7,
        )
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    import re

    for m in re.finditer(r"Window \[", plan):
        seg = plan[m.start(): plan.find("\n", m.start())]
        assert "__pid" in seg, seg


def test_unimax_allocate_water_filling_properties():
    """Closed-form integer water-filling vs the defining properties:
    never over budget, never over cap, unsaturated groups share one
    waterline, and the waterline is maximal (one more doc per
    unsaturated group would blow the budget)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from mission_data_pipeline_spark.operators.sampling import unimax_allocate

    @settings(max_examples=200, deadline=None)
    @given(
        counts=st.lists(st.integers(0, 1000), min_size=1, max_size=12),
        budget=st.integers(0, 20000),
        num=st.integers(0, 4),
        den=st.integers(1, 3),
    )
    def run(counts, budget, num, den):
        groups = [(f"g{i}", c) for i, c in enumerate(counts)]
        caps = {g: (c * num) // den for g, c in groups}
        alloc = unimax_allocate(groups, budget, epochs_num=num, epochs_den=den)
        assert set(alloc) == set(caps)
        assert all(0 <= alloc[g] <= caps[g] for g in alloc)
        assert sum(alloc.values()) <= budget
        unsat = [g for g in alloc if alloc[g] < caps[g]]
        if unsat:
            base = alloc[unsat[0]]
            assert all(alloc[g] == base for g in unsat)
            # maximality: waterline + 1 exceeds the budget
            assert sum(min(caps[g], base + 1) for g in caps) > budget
        else:
            assert sum(alloc.values()) == sum(caps.values())

    run()


def test_unimax_sample_saturates_small_langs_and_is_layout_invariant(spark):
    from mission_data_pipeline_spark.operators.sampling import (
        unimax_allocate,
        unimax_sample,
    )

    rows = (
        [(i, "en") for i in range(100)]
        + [(100 + i, "de") for i in range(20)]
        + [(120 + i, "fr") for i in range(10)]
    )
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = unimax_sample(df, budget=80, seed=3)
    kept = out.groupBy("lang").count().collect()
    counts = {r["lang"]: r["count"] for r in kept}
    # water-filling at budget 80 over caps (100, 20, 10): fr and de
    # saturate, en gets the waterline (80 - 30) // 1 = 50
    assert counts == {"en": 50, "de": 20, "fr": 10}
    assert unimax_allocate(
        [("en", 100), ("de", 20), ("fr", 10)], 80
    ) == {"en": 50, "de": 20, "fr": 10}
    ref = sorted(r["doc_id"] for r in out.collect())
    again = sorted(
        r["doc_id"]
        for r in unimax_sample(df.repartition(13), budget=80, seed=3).collect()
    )
    assert again == ref
    # different seed -> same per-lang counts, different membership
    other = sorted(
        r["doc_id"] for r in unimax_sample(df, budget=80, seed=4).collect()
    )
    assert other != ref
    # epochs > 1 raises caps but selection is without replacement:
    # never more rows than the language has
    burst = unimax_sample(df, budget=500, epochs_num=3, seed=3)
    got = {r["lang"]: r["count"] for r in burst.groupBy("lang").count().collect()}
    assert got == {"en": 100, "de": 20, "fr": 10}
    import pytest as _pytest

    with _pytest.raises(ValueError, match="budget"):
        unimax_sample(df, budget=-1)


def test_unimax_sample_null_lang_rows_are_excluded(spark):
    """NULL lang must not crash the allocation sort (None vs str) and
    must be excluded from the mixture, as documented."""
    from mission_data_pipeline_spark.operators.sampling import unimax_sample

    rows = [(i, "en") for i in range(30)] + [(100 + i, None) for i in range(5)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = unimax_sample(df, budget=10, seed=1)
    got = out.select("lang").distinct().collect()
    assert [r["lang"] for r in got] == ["en"]
    assert out.count() == 10
