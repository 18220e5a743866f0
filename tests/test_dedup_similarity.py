"""Dedup + similarity operator tests (X1–X3) on synthetic documents."""

import pytest
from pyspark.sql import functions as F

from mission_data_pipeline_spark.operators.dedup import (
    connected_components,
    exact_dedup,
    jaccard_verify,
    lsh_candidate_pairs,
    minhash_signatures,
    near_dedup_minhash,
    shingles,
)
from mission_data_pipeline_spark.operators.similarity import (
    cosine_topk,
    lsh_topk,
    quantize_embeddings,
)


@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (1, base),
        (2, base),  # exact dup of 1
        (3, base + " tonight"),  # near dup of 1
        (4, "completely different content about spacecraft telemetry processing"),
        (5, "another unrelated document mentioning data pipelines at scale"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(docs):
    out = exact_dedup(docs)
    ids = sorted(r["doc_id"] for r in out.collect())
    assert ids == [1, 3, 4, 5]  # 2 dropped, representative = min id


def test_shingles_distinct(docs):
    g = shingles(docs.filter("doc_id = 1"), n=3)
    grams = [r["gram"] for r in g.collect()]
    assert "the quick brown" in grams
    assert len(grams) == len(set(grams))


def test_minhash_lsh_finds_near_dup(docs):
    g = shingles(docs, n=2)
    sig = minhash_signatures(g, num_hashes=16)
    assert sig.count() == 5 * 16
    pairs = lsh_candidate_pairs(sig, bands=8)  # 2 rows/band → sensitive
    got = {(r["doc_a"], r["doc_b"]) for r in pairs.collect()}
    assert (1, 2) in got  # exact dup always collides
    # verification: exact jaccard confirms 1-2 at 1.0 and rejects 1-4
    verified = jaccard_verify(pairs, g, threshold=0.99)
    v = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in verified.collect()}
    assert v[(1, 2)] == pytest.approx(1.0)
    assert (1, 4) not in v


def test_near_dedup_end_to_end(docs):
    out = near_dedup_minhash(docs, n=2, num_hashes=16, bands=8, threshold=0.5)
    ids = sorted(r["doc_id"] for r in out.collect())
    assert 1 in ids and 4 in ids and 5 in ids
    assert 2 not in ids  # exact dup removed


def test_bucket_cap_identity_when_under_cap(docs):
    """A cap no bucket exceeds must produce exactly the uncapped pairs."""
    g = shingles(docs, n=2)
    sig = minhash_signatures(g, num_hashes=16)
    uncapped = {
        (r["doc_a"], r["doc_b"])
        for r in lsh_candidate_pairs(sig, bands=8).collect()
    }
    capped = {
        (r["doc_a"], r["doc_b"])
        for r in lsh_candidate_pairs(sig, bands=8, max_bucket=100).collect()
    }
    assert capped == uncapped


def test_bucket_cap_star_topology_on_giant_bucket(spark):
    """A planted giant bucket (30 identical docs) pairs star-wise above
    the cap — O(m) candidates anchored at the min id, never m(m-1)/2 —
    and end-to-end dedup still keeps exactly the representative."""
    boiler = [(100 + i, "all rights reserved contact us about cookies") for i in range(30)]
    other = [(1, "completely different content about spacecraft telemetry")]
    docs = spark.createDataFrame(boiler + other, "doc_id long, text string")
    g = shingles(docs, n=2)
    sig = minhash_signatures(g, num_hashes=8)
    pairs = lsh_candidate_pairs(sig, bands=4, max_bucket=10).collect()
    got = {(r["doc_a"], r["doc_b"]) for r in pairs}
    # star: every candidate pair is anchored at the bucket min (100)
    assert got == {(100, 100 + i) for i in range(1, 30)}
    out = near_dedup_minhash(
        docs, n=2, num_hashes=8, bands=4, threshold=0.9, max_bucket=10
    )
    assert sorted(r["doc_id"] for r in out.collect()) == [1, 100]


def test_hashed_grams_match_string_grams(spark, docs):
    """hash_grams=True must produce the same shingle SETS up to the
    hash bijection (no collisions at fixture scale): Jaccard is a set
    statistic, so hashing gram identities changes nothing but the
    shuffle width."""
    g_str = shingles(docs, n=2)
    g_hash = shingles(docs, n=2, hash_grams=True)
    # per-doc set sizes identical (injective at this scale)
    a = {r["doc_id"]: r["n"] for r in
         g_str.groupBy("doc_id").count().withColumnRenamed("count", "n").collect()}
    b = {r["doc_id"]: r["n"] for r in
         g_hash.groupBy("doc_id").count().withColumnRenamed("count", "n").collect()}
    assert a == b


def test_bucket_cap_rejects_degenerate_cap(docs):
    g = shingles(docs, n=2)
    sig = minhash_signatures(g, num_hashes=8)
    with pytest.raises(ValueError):
        lsh_candidate_pairs(sig, bands=4, max_bucket=1)


def _grams_df(spark, gram_sets: dict[int, set[str]]):
    rows = [(d, g) for d, gs in gram_sets.items() for g in gs]
    return spark.createDataFrame(rows, "doc_id long, gram string")


def test_star_cap_recall_borderline_bucket_worst_case(spark):
    """VERDICT r11 item 2: quantify the star cap's recall loss on a
    planted BORDERLINE over-cap bucket — members that are true near-dups
    of EACH OTHER (J = 1.0) but not of the bucket's min-id
    representative (J = 1/3 < threshold).

    Single-band worst case: the capped topology forgoes 100% of the
    non-representative pairs (10/10 here), because every capped
    candidate goes through the representative and fails verification.
    The uncapped all-pairs join finds all 10. This is the bound the
    lsh_pairs_from_bands docstring states: within ONE over-cap bucket,
    pairs not involving the representative are forgone entirely —
    recovery comes only from other bands (next test)."""
    from mission_data_pipeline_spark.operators.dedup import (
        lsh_pairs_from_bands,
    )

    rep_grams = {f"r{i}" for i in range(10)}
    gram_sets: dict[int, set[str]] = {0: rep_grams}
    banded_rows = [(0, 0, 42)]
    for p in range(10):  # pairs (2p+1, 2p+2), identical within the pair
        pg = set(list(rep_grams)[:5]) | {f"p{p}_{j}" for j in range(5)}
        for d in (2 * p + 1, 2 * p + 2):
            gram_sets[d] = pg  # J(d, rep) = 5/15; J within pair = 1.0
            banded_rows.append((d, 0, 42))  # all in ONE giant bucket
    banded = spark.createDataFrame(
        banded_rows, "doc_id long, band int, band_hash long"
    )
    grams = _grams_df(spark, gram_sets)

    uncapped = jaccard_verify(
        lsh_pairs_from_bands(banded), grams, threshold=0.8
    )
    capped_pairs = lsh_pairs_from_bands(banded, max_bucket=5)
    capped = jaccard_verify(capped_pairs, grams, threshold=0.8)

    expect = {(2 * p + 1, 2 * p + 2) for p in range(10)}
    assert {(r["doc_a"], r["doc_b"]) for r in uncapped.collect()} == expect
    # candidates stay LINEAR: m-1 star rows, never m(m-1)/2 = 210
    assert capped_pairs.count() == 20
    # and the measured single-band recall is 0/10 — the documented
    # worst case, not a lossless rewrite (ADVICE r11)
    assert capped.count() == 0

    # max_bucket_reps recall dial (the two-hop-closure option VERDICT
    # r11 suggested): p representatives recover every borderline pair
    # with a member among the bucket's p smallest ids, at ~m*p
    # candidate cost. reps=5 -> docs 0..4 are reps -> pairs (1,2) and
    # (3,4) found; reps covering the bucket -> all-pairs recall.
    found5 = jaccard_verify(
        lsh_pairs_from_bands(banded, max_bucket=5, max_bucket_reps=5),
        grams,
        threshold=0.8,
    )
    assert {(r["doc_a"], r["doc_b"]) for r in found5.collect()} == {
        (1, 2),
        (3, 4),
    }
    found_all = jaccard_verify(
        lsh_pairs_from_bands(banded, max_bucket=5, max_bucket_reps=21),
        grams,
        threshold=0.8,
    )
    assert {(r["doc_a"], r["doc_b"]) for r in found_all.collect()} == expect
    with pytest.raises(ValueError):
        lsh_pairs_from_bands(banded, max_bucket=5, max_bucket_reps=0)


def test_star_cap_recall_recovered_by_other_bands(spark):
    """Multi-band recovery, pinned exactly: the same borderline bucket
    in band 0, but half the pairs ALSO collide in a private 2-doc
    bucket of band 1 (the usual case — a J >= threshold pair agrees on
    a full band of minima with probability J^r per band, so it is
    confined to the giant bucket only with probability
    (1 - J^r)^(bands-1)). The capped pipeline recovers exactly those
    pairs and misses exactly the band-0-confined ones."""
    from mission_data_pipeline_spark.operators.dedup import (
        lsh_pairs_from_bands,
    )

    rep_grams = {f"r{i}" for i in range(10)}
    gram_sets: dict[int, set[str]] = {0: rep_grams}
    banded_rows = [(0, 0, 42), (0, 1, 7)]
    for p in range(10):
        pg = set(list(rep_grams)[:5]) | {f"p{p}_{j}" for j in range(5)}
        for d in (2 * p + 1, 2 * p + 2):
            gram_sets[d] = pg
            banded_rows.append((d, 0, 42))  # giant bucket, band 0
            if p < 5:  # recovered pairs: own 2-doc bucket in band 1
                banded_rows.append((d, 1, 1000 + p))
            else:  # confined pairs: band-1 minima disagree -> singleton
                banded_rows.append((d, 1, 2000 + 10 * p + d))
    banded = spark.createDataFrame(
        banded_rows, "doc_id long, band int, band_hash long"
    )
    grams = _grams_df(spark, gram_sets)

    capped = jaccard_verify(
        lsh_pairs_from_bands(banded, max_bucket=5), grams, threshold=0.8
    )
    got = {(r["doc_a"], r["doc_b"]) for r in capped.collect()}
    assert got == {(2 * p + 1, 2 * p + 2) for p in range(5)}  # recovered
    # missed-pair rate on this fixture: 5/10 — exactly the pairs with
    # no band outside the over-cap bucket
    missed = {(2 * p + 1, 2 * p + 2) for p in range(5, 10)}
    assert got.isdisjoint(missed)


def test_incremental_probe_cap_bounds_corpus_bucket(spark):
    """ADVICE r11: the stored-index probe join caps the CORPUS side per
    bucket. A giant index bucket of 30 near-identical corpus docs probed
    by a batch doc near-duplicating them must still gate the batch doc
    (a representative stands in), while a batch doc near a
    NON-representative borderline corpus doc in the over-cap bucket is
    the documented recall trade-off."""
    from mission_data_pipeline_spark.operators.dedup import (
        incremental_near_dedup,
    )

    boiler = "all rights reserved contact us about cookies and privacy"
    corpus = spark.createDataFrame(
        [(i, boiler) for i in range(100, 130)]
        + [(1, "completely different corpus text about spark shuffle joins")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            (1000, boiler + " today"),  # near-dup of the giant cluster
            (1001, "fresh unrelated content with brand new tokens only"),
        ],
        "doc_id long, text string",
    )
    for cap in (None, 5):
        kept = sorted(
            r["doc_id"]
            for r in incremental_near_dedup(
                batch,
                corpus,
                n=2,
                num_hashes=8,
                bands=4,
                threshold=0.6,
                max_bucket=cap,
            ).collect()
        )
        assert kept == [1001], f"cap={cap}: {kept}"
    with pytest.raises(ValueError):
        incremental_near_dedup(
            batch, corpus, n=2, num_hashes=8, bands=4, max_bucket=0
        )


def test_connected_components_transitive_chain(spark):
    """A 5-node chain (1-2, 2-3, 3-4, 4-5) needs min-label iteration to a
    fixpoint — one round of min-id chaining would under-merge it."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (20, 21), (11, 12)],
        "doc_a long, doc_b long",
    )
    out = {r["node"]: r["component_id"] for r in connected_components(pairs).collect()}
    assert {out[i] for i in (1, 2, 3, 4, 5)} == {1}
    assert {out[i] for i in (10, 11, 12)} == {10}
    assert {out[i] for i in (20, 21)} == {20}


def test_connected_components_converges_early(spark):
    pairs = spark.createDataFrame([(7, 8)], "doc_a long, doc_b long")
    out = connected_components(pairs, max_iter=1).collect()
    assert {(r["node"], r["component_id"]) for r in out} == {(7, 7), (8, 7)}


@pytest.fixture(scope="module")
def vectors(spark):
    import math

    rows = []
    for i in range(50):
        angle = (i % 10) / 10.0 * math.pi
        rows.append((i, [math.cos(angle), math.sin(angle), float(i % 3)], f"l{i % 10}"))
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label string"
    )


def test_cosine_topk_exact(vectors):
    q = vectors.filter("vec_id = 0")
    out = cosine_topk(vectors, q, k=3)
    rows = sorted(out.collect(), key=lambda r: r["rank"])
    assert len(rows) == 3
    assert all(r["query_id"] == 0 for r in rows)
    # vec 30 has identical direction (same angle, same i%3=0) → cosine 1
    assert rows[0]["cosine"] == pytest.approx(1.0)
    assert rows[0]["neighbor_id"] in (30,)


def test_kmeans_centroids_improve_ivf(vectors):
    from mission_data_pipeline_spark.operators.similarity import (
        ivf_topk,
        kmeans_centroids,
    )

    cents = kmeans_centroids(vectors, n_centroids=4, seed=42)
    rows = cents.collect()
    assert len(rows) == 4
    assert all(len(r["centroid_vec"]) == 3 for r in rows)
    out = ivf_topk(
        vectors, vectors.filter("vec_id < 3"), centroids=cents, k=2, n_probe=2
    )
    got = {(r["query_id"], r["rank"]): r["neighbor_id"] for r in out.collect()}
    assert len(got) == 6  # 3 queries x top-2
    # query 0's true nearest (vec 30: identical direction) is found
    assert got[(0, 1)] == 30


def test_quantize_embeddings_roundtrip(vectors):
    out = {r["vec_id"]: r for r in quantize_embeddings(vectors).collect()}
    assert len(out) == 50
    row = out[1]
    orig = [0.9510565162951535, 0.3090169943749474, 1.0]  # cos/sin(pi/10), 1%3
    assert row["scale"] == pytest.approx(1.0)
    # round-trip error bounded by scale/254 per element
    for q, x in zip(row["qvec"], orig):
        assert abs(q * row["scale"] / 127 - x) <= row["scale"] / 254 + 1e-12
    assert all(max(abs(q) for q in r["qvec"]) == 127 for r in out.values())
    # expression-only: no Python eval in the plan
    plan = quantize_embeddings(vectors)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_lsh_topk_approximates_exact(vectors):
    q = vectors.filter("vec_id < 5")
    exact = cosine_topk(vectors, q, k=1)
    approx = lsh_topk(vectors, q, k=1, bits=4, tables=4)
    e = {r["query_id"]: r["cosine"] for r in exact.collect()}
    a = {r["query_id"]: r["cosine"] for r in approx.collect()}
    # every query found *some* neighbor, and at least 3/5 match exact top-1
    assert set(a) == set(e)
    hits = sum(1 for k in e if abs(a[k] - e[k]) < 1e-9)
    assert hits >= 3


def test_ivf_topk_partition_then_probe(vectors):
    from mission_data_pipeline_spark.operators.similarity import cosine_topk, ivf_topk

    q = vectors.filter("vec_id < 5")
    exact = cosine_topk(vectors, q, k=1)
    approx = ivf_topk(vectors, q, k=1, n_probe=4, n_centroids=8)
    e = {r["query_id"]: round(r["cosine"], 6) for r in exact.collect()}
    a = {r["query_id"]: r["cosine"] for r in approx.collect()}
    assert set(a) == set(e)  # every query answered
    # probing half the partitions must recover most exact top-1s
    hits = sum(1 for k in e if abs(a[k] - e[k]) < 1e-6)
    assert hits >= 3
    # self never returned
    full = ivf_topk(vectors, q, k=5, n_probe=8, n_centroids=8)
    assert full.filter("query_id = neighbor_id").count() == 0


def test_default_centroids_distributed_plan(vectors):
    """default_centroids must plan as TakeOrderedAndProject (distributed
    per-partition top-n), never a single-partition global Sort — the
    latter funnels the whole corpus through one task at scale."""
    from mission_data_pipeline_spark.operators.similarity import default_centroids

    cents = default_centroids(vectors.repartition(8), n_centroids=4)
    got = sorted(r["centroid_id"] for r in cents.collect())
    assert got == [0, 1, 2, 3]
    plan = cents._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "Exchange SinglePartition" not in plan


def test_lsh_topk_explicit_dim_no_probe_job(vectors):
    """Passing dim= must produce the same result as the inferred path."""
    q = vectors.filter("vec_id < 3")
    inferred = lsh_topk(vectors, q, k=2, bits=4, tables=2)
    explicit = lsh_topk(vectors, q, k=2, bits=4, tables=2, dim=3)
    assert sorted(map(tuple, inferred.collect())) == sorted(
        map(tuple, explicit.collect())
    )


def test_ann_recall_measures_quality(vectors):
    from mission_data_pipeline_spark.operators.similarity import (
        ann_recall,
        cosine_topk,
        ivf_topk,
        lsh_topk,
    )
    from pyspark.sql import functions as F

    q = vectors.filter("vec_id < 5")
    exact = cosine_topk(vectors, q, k=5)
    # exact vs itself: perfect recall on every query
    self_r = ann_recall(exact, exact, k=5)
    assert all(r["recall"] == 1.0 for r in self_r.collect())
    # approximate paths: recall floor on this fixture (10 angle groups,
    # near-identical vectors exist for every query)
    lsh = lsh_topk(vectors, q, k=5, bits=4, tables=4, dim=3)
    ivf = ivf_topk(vectors, q, k=5, n_centroids=8, n_probe=4)
    lsh_mean = ann_recall(lsh, exact, k=5).agg(F.avg("recall")).collect()[0][0]
    ivf_mean = ann_recall(ivf, exact, k=5).agg(F.avg("recall")).collect()[0][0]
    assert lsh_mean >= 0.5, lsh_mean
    assert ivf_mean >= 0.5, ivf_mean


def _final_plan(df) -> str:
    """Executed plan with AQE's '== Initial Plan ==' section stripped, so
    node counts reflect the plan that actually ran."""
    return (
        df._jdf.queryExecution()
        .executedPlan()
        .toString()
        .split("== Initial Plan ==")[0]
    )


@pytest.fixture()
def no_auto_broadcast(spark):
    """Disable size-based auto-broadcast so only EXPLICIT broadcast()
    hints survive — makes 'this join is broadcast by construction'
    assertions meaningful rather than an artifact of tiny test data."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    yield
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def _smj_lines(plan: str) -> list[str]:
    return [ln for ln in plan.splitlines() if "SortMergeJoin" in ln]


def test_lsh_topk_corpus_never_shuffles(spark, no_auto_broadcast):
    """Plan-shape guard for the docstring's scale claim: the single
    bucket-and-score join on (table, bucket) must be broadcast — the
    corpus is scanned once, map-side, and never shuffles. If someone
    drops the broadcast() hint, the join key shows up in a
    SortMergeJoin line and this fails."""
    import random

    random.seed(7)
    emb = spark.createDataFrame(
        [(i, [random.random() for _ in range(8)]) for i in range(200)],
        "vec_id long, embedding array<double>",
    )
    q = emb.filter("vec_id < 3")
    out = lsh_topk(emb, q, k=3, bits=4, tables=2, dim=8)
    out.collect()
    plan = _final_plan(out)
    assert plan.count("BroadcastHashJoin") == 1
    assert not _smj_lines(plan), _smj_lines(plan)


def test_ivf_topk_rerank_is_broadcast(spark, no_auto_broadcast):
    """The corpus never shuffles in ivf_topk: assignment is a literal
    argmax expression (no centroid crossJoin, no per-id window), and the
    single probe-and-rerank join broadcasts the query-derived side — one
    corpus scan, no sort-merge join anywhere in the plan."""
    import random

    from mission_data_pipeline_spark.operators.similarity import (
        default_centroids,
        ivf_topk,
    )

    random.seed(7)
    emb = spark.createDataFrame(
        [(i, [random.random() for _ in range(8)]) for i in range(200)],
        "vec_id long, embedding array<double>",
    )
    q = emb.filter("vec_id < 3")
    cents = default_centroids(emb, n_centroids=8, vec_col="embedding")
    out = ivf_topk(emb, q, k=3, n_probe=2, centroids=cents, vec_col="embedding")
    out.collect()
    plan = _final_plan(out)
    assert plan.count("BroadcastHashJoin") >= 1
    assert not _smj_lines(plan), _smj_lines(plan)


def test_operators_handle_empty_inputs(spark):
    """Drained-shard robustness: every dedup/similarity/sampling/packing
    operator yields an empty result on empty input (ivf_topk's
    zero-centroid guard raises by design — an accidentally-empty
    codebook on a real corpus must fail loudly, not return nothing)."""
    from mission_data_pipeline_spark.operators.dedup import (
        exact_dedup,
        near_dedup_minhash,
    )
    from mission_data_pipeline_spark.operators.packing import (
        chunk_tokens,
        pack_token_budget,
    )
    from mission_data_pipeline_spark.operators.sampling import (
        hash_sample,
        stratified_sample,
    )
    from mission_data_pipeline_spark.operators.similarity import (
        default_centroids,
        ivf_topk,
        quantize_embeddings,
    )

    ed = spark.createDataFrame([], "doc_id long, text string")
    ee = spark.createDataFrame([], "vec_id long, embedding array<double>")
    assert exact_dedup(ed).count() == 0
    assert near_dedup_minhash(
        ed, n=2, num_hashes=4, bands=2, threshold=0.5
    ).count() == 0
    assert connected_components(
        spark.createDataFrame([], "doc_a long, doc_b long")
    ).count() == 0
    assert cosine_topk(ee, ee).count() == 0
    assert lsh_topk(ee, ee, dim=8).count() == 0
    assert quantize_embeddings(ee).count() == 0
    assert hash_sample(ed, fraction=0.5, key_cols=["text"]).count() == 0
    assert stratified_sample(
        ed.withColumn("lang", F.lit("en")),
        n_per_stratum=2,
        strata_cols=["lang"],
        key_cols=["text"],
    ).count() == 0
    assert pack_token_budget(
        ed.withColumn("n_tokens", F.col("doc_id")), 100
    ).count() == 0
    assert chunk_tokens(ed, size=8, overlap=2).count() == 0
    with pytest.raises(ValueError):
        ivf_topk(ee, ee, centroids=default_centroids(ee), vec_col="embedding")


def test_similarity_ops_skip_malformed_vectors(spark):
    """Skip-don't-crash for vector ops: NULL and wrong-width embeddings
    must not kill the Arrow batch (np.vstack on ragged input raises);
    they are masked to NULL sketches/assignments, which downstream
    posexplode/equi-joins drop — results over the valid rows are
    unchanged."""
    import random

    from mission_data_pipeline_spark.operators.similarity import (
        cosine_topk,
        default_centroids,
        ivf_topk,
        lsh_topk,
    )

    random.seed(11)
    good = [(i, [random.random() for _ in range(8)]) for i in range(50)]
    bad = [(100, None), (101, [1.0, 2.0])]  # NULL + wrong width
    emb = spark.createDataFrame(
        good + bad, "vec_id long, embedding array<double>"
    )
    clean = spark.createDataFrame(good, "vec_id long, embedding array<double>")
    q = emb.filter("vec_id < 3")

    for out in (
        cosine_topk(emb, q, k=3),
        lsh_topk(emb, q, k=3, bits=4, tables=2, dim=8),
        ivf_topk(
            emb, q, k=3, n_probe=2,
            centroids=default_centroids(clean, n_centroids=8), 
        ),
    ):
        rows = out.collect()  # must not raise
        assert rows, "valid rows must still produce neighbors"
        assert all(r["neighbor_id"] < 100 for r in rows)

    # parity: malformed rows don't perturb the valid-row results
    a = sorted(map(tuple, cosine_topk(emb, q, k=3).collect()))
    b = sorted(map(tuple, cosine_topk(clean, q, k=3).collect()))
    assert a == b


def test_duplicate_span_fraction_golden(spark):
    from mission_data_pipeline_spark.operators.dedup import (
        duplicate_span_fraction,
    )

    a = "one two three four five six seven eight nine ten"
    rows = [
        (1, a),                                # shares 1 gram run with 2
        (2, a + " extra"),                     # superset of 1
        (3, "totally different words here now then also more and so on"),
        (4, "short doc"),                      # < n tokens -> no rows
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in duplicate_span_fraction(df, n=10).collect()}
    # doc 4 has no 10-token span at all
    assert set(got) == {1, 2, 3}
    # doc 1: its single 10-gram also opens doc 2 -> fully duplicated
    assert got[1]["n_grams"] == 1 and got[1]["dup_fraction"] == 1.0
    # doc 2: 2 grams, one shared -> 0.5
    assert got[2]["n_grams"] == 2 and got[2]["dup_fraction"] == 0.5
    # doc 3: nothing shared
    assert got[3]["n_dup_occurrences"] == 0 and got[3]["dup_fraction"] == 0.0
    import pytest as _pytest

    with _pytest.raises(ValueError):
        duplicate_span_fraction(df, n=1)


def test_ivf_disk_index_parity_and_partition_pruning(spark, tmp_path):
    """The on-disk IVF index must reproduce the in-memory ivf_topk
    exactly, and the probe scan must carry a partition filter on
    centroid_id (unprobed directories pruned, never read)."""
    import random

    from pyspark.sql import functions as F

    from mission_data_pipeline_spark.operators.similarity import (
        default_centroids,
        ivf_probe_index,
        ivf_topk,
        ivf_write_index,
    )

    rng = random.Random(5)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(300)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = default_centroids(emb, n_centroids=8)
    queries = emb.filter(F.col("vec_id") < 3)

    mem = ivf_topk(emb, queries, k=5, n_probe=3, centroids=cents)
    d = str(tmp_path / "ivf_idx")
    ivf_write_index(emb, d, cents)
    disk = ivf_probe_index(spark, d, queries, cents, k=5, n_probe=3)

    assert sorted(map(tuple, mem.collect())) == sorted(map(tuple, disk.collect()))

    plan = disk._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "centroid_id" in plan
    # the scan must not read all 8 partitions: <=3 probes per query,
    # <=9 distinct probed centroids total (here far fewer)
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and m.group(1).strip(), "partition filter must be non-empty"


def test_duplicate_span_fraction_total_duplication_property(spark):
    """50 random docs each duplicated under a different id, ONE job:
    every row of an exactly-duplicated corpus must score dup_fraction
    1.0 (all of its spans occur verbatim in its twin)."""
    import random

    from mission_data_pipeline_spark.operators.dedup import (
        duplicate_span_fraction,
    )

    rng = random.Random(7)
    vocab = [f"t{i}" for i in range(40)]
    rows = []
    for i in range(50):
        text = " ".join(rng.choice(vocab) for _ in range(rng.randint(5, 30)))
        rows.append((2 * i, text))
        rows.append((2 * i + 1, text))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = duplicate_span_fraction(df, n=5).collect()
    # docs shorter than n have no spans and produce no row; every
    # emitted row must be fully duplicated
    assert out and all(r["dup_fraction"] == 1.0 for r in out)


def test_pq_encode_and_rerank_properties(spark):
    """PQ pipeline: codes in range, deterministic, rerank >= bare ADC
    recall, and m must divide dim."""
    import numpy as np
    import pytest as _pytest
    from pyspark.sql import functions as F

    from mission_data_pipeline_spark.operators.similarity import (
        ann_recall,
        cosine_topk,
        pq_encode,
        pq_topk,
        pq_topk_rerank,
        pq_train_codebooks,
    )

    rng = np.random.default_rng(5)
    base = rng.normal(size=(80, 16))
    # plant 3 near-neighbors of vector 0
    for i in (40, 41, 42):
        base[i] = base[0] + rng.normal(scale=0.05, size=16)
    base = base / np.linalg.norm(base, axis=1, keepdims=True)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in base[i]]) for i in range(80)],
        "vec_id long, v array<double>",
    )
    books = pq_train_codebooks(emb, m=4, k=8, vec_col="v", sample_n=64, n_iter=6)
    assert books.shape == (4, 8, 4)
    enc = pq_encode(emb, books, vec_col="v")
    rows = enc.collect()
    assert len(rows) == 80
    assert all(0 <= c < 8 for r in rows for c in r["pq_codes"])
    # deterministic re-run
    again = pq_encode(emb, books, vec_col="v").collect()
    assert sorted(map(tuple, ((r["vec_id"], tuple(r["pq_codes"])) for r in rows))) == \
           sorted(map(tuple, ((r["vec_id"], tuple(r["pq_codes"])) for r in again)))

    q = emb.filter(F.col("vec_id") == 0)
    exact = cosine_topk(emb, q, k=5, vec_col="v", round_digits=6)
    bare = pq_topk(enc, q, books, k=5, query_vec_col="v")
    rer = pq_topk_rerank(enc, emb, q, books, k=5, shortlist=20, vec_col="v")
    rb = ann_recall(bare, exact, k=5).agg(F.sum("n_hit")).first()[0]
    rr = ann_recall(rer, exact, k=5).agg(F.sum("n_hit")).first()[0]
    assert rr >= rb  # re-rank never hurts
    # planted neighbors must surface in the re-ranked top-5
    top = {r["neighbor_id"] for r in rer.collect()}
    assert {40, 41, 42} <= top

    with _pytest.raises(ValueError):
        pq_train_codebooks(emb, m=5, k=8, vec_col="v")  # 5 does not divide 16


def test_pq_rerank_tie_guard_auto_recovers_clone_cluster(spark):
    """VERDICT r13 item 1: the shortlist knob rule as an in-plan guard.
    A clone cluster LARGER than the shortlist collapses to identical PQ
    codes, so every member is ADC-tied at the cutoff; the r13 sfx10
    probe read recall 0.505 from exactly this. The RANK()-cut
    shortlist keeps the boundary tie group whole and recall
    auto-recovers to 1.0 at shortlist=8 against a 30-clone cluster;
    when the tie group exceeds the 8 * shortlist bound the plan fails
    LOUDLY instead of silently truncating."""
    import numpy as np
    import pytest as _pytest
    from pyspark.errors.exceptions.captured import SparkRuntimeException
    from pyspark.sql import functions as F

    from mission_data_pipeline_spark.operators.similarity import (
        ann_recall,
        cosine_topk,
        pq_encode,
        pq_topk_rerank,
        pq_train_codebooks,
    )

    rng = np.random.default_rng(11)
    base = rng.normal(size=(60, 16))
    # vectors 30..59: a 30-clone cluster of vector 0 — bigger than the
    # shortlist below, so the whole cluster ADC-ties across the cut
    for i in range(30, 60):
        base[i] = base[0]
    base = base / np.linalg.norm(base, axis=1, keepdims=True)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in base[i]]) for i in range(60)],
        "vec_id long, v array<double>",
    )
    books = pq_train_codebooks(
        emb, m=4, k=8, vec_col="v", sample_n=60, n_iter=6
    )
    enc = pq_encode(emb, books, vec_col="v")
    q = emb.filter(F.col("vec_id") == 0)
    # tie-extended ground truth: any clone is an admissible answer
    tied = cosine_topk(
        emb, q, k=5, vec_col="v", round_digits=6, include_ties=True
    )
    rer = pq_topk_rerank(
        enc, emb, q, books, k=5, shortlist=8, vec_col="v"
    )
    r = ann_recall(rer, tied, k=5, tie_aware=True).first()
    assert r["recall"] == 1.0  # auto-recovered, no knob turn
    # a bound (8 * 2 = 16) smaller than the 31-way tie group fails
    # LOUDLY, never truncates
    with _pytest.raises(SparkRuntimeException, match="near-duplicate cluster"):
        pq_topk_rerank(enc, emb, q, books, k=2, shortlist=2, vec_col="v").collect()


def test_connected_components_reliable_checkpoint_dir(
    spark, tmp_path, monkeypatch
):
    """Reliable checkpoint dir ($SPARK_GRAFT_CHECKPOINT_DIR): identical
    labels, files on disk."""
    import os

    from mission_data_pipeline_spark.operators.dedup import connected_components
    from mission_data_pipeline_spark.operators.lineage import CHECKPOINT_DIR_ENV

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (12, 11)], "doc_a long, doc_b long"
    )
    ckpt = str(tmp_path / "cc_ckpt")
    monkeypatch.setenv(CHECKPOINT_DIR_ENV, ckpt)
    got = {
        r["node"]: r["component_id"]
        for r in connected_components(pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10}
    found = [f for _, _, fs in os.walk(ckpt) for f in fs]
    assert found, "no reliable checkpoint files written"


def test_semantic_dedup_cluster_scoped(spark, tmp_path, monkeypatch):
    """SemDeDup semantics: within-cluster near-dups collapse to the
    min-id representative; distinct directions survive; candidate pairs
    are generated only inside clusters (the paper's known limitation:
    a near-dup pair split across clusters is NOT caught - asserted here
    so the contract is pinned, not accidental)."""
    from mission_data_pipeline_spark.operators.lineage import CHECKPOINT_DIR_ENV
    from mission_data_pipeline_spark.operators.similarity import (
        default_centroids,
        semantic_dedup,
    )

    # two orthogonal directions; ids 0/1 seed the two centroids
    ex = [1.0, 0.0, 0.0, 0.0]
    ey = [0.0, 1.0, 0.0, 0.0]
    ez = [0.0, 0.0, 1.0, 0.0]
    mix = [0.8, 0.0, 0.6, 0.0]  # cos vs ex = 0.8 -> near-dup of 0 at 0.7
    rows = [
        (0, ex), (1, ey),
        (10, [x * 2 for x in ex]),   # same direction as 0 -> dup
        (11, mix),                   # cos 0.8 vs ex -> dup at thr 0.7
        (12, [x * 3 for x in ey]),   # dup of 1
        (13, ez),                    # assigned somewhere, no near-dup
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = default_centroids(emb, n_centroids=2)
    out = semantic_dedup(emb, cents, threshold=0.7)
    got = sorted(r["vec_id"] for r in out.collect())
    assert got == [0, 1, 13]  # min-id canonical per semantic group

    # higher threshold: 11 (cos 0.8) survives once threshold > 0.8
    out2 = semantic_dedup(emb, cents, threshold=0.9)
    assert sorted(r["vec_id"] for r in out2.collect()) == [0, 1, 11, 13]

    # the reliable checkpoint dir reaches the component step
    monkeypatch.setenv(CHECKPOINT_DIR_ENV, str(tmp_path / "sd"))
    out3 = semantic_dedup(emb, cents, threshold=0.7)
    assert sorted(r["vec_id"] for r in out3.collect()) == [0, 1, 13]


def test_dedup_exact_segments_first_occurrence_wins(spark):
    """Corpus-level segment dedup: repeated segments keep only their
    lowest-(doc_id, seg_idx) occurrence; docs reassemble in order."""
    from mission_data_pipeline_spark.operators.dedup import (
        dedup_exact_segments,
    )

    rows = [
        (1, "a b c d"),          # segs: "a b", "c d"
        (2, "a b x y"),          # "a b" dups doc 1 -> dropped
        (3, "x y c d a b"),      # all three segs already seen -> doc dropped
        (4, "p q"),              # unique
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in dedup_exact_segments(docs, seg_tokens=2).collect()
    }
    assert out[1]["clean_text"] == "a b c d"
    assert (out[1]["n_segs"], out[1]["n_kept"]) == (2, 2)
    assert out[2]["clean_text"] == "x y"
    assert (out[2]["n_segs"], out[2]["n_kept"]) == (2, 1)
    assert 3 not in out  # every segment was a duplicate
    assert out[4]["clean_text"] == "p q"
    # short tail segment: 5 tokens at width 2 -> 3 segs, last is 1 token
    five = spark.createDataFrame([(9, "q r s t u")], "doc_id long, text string")
    (r,) = dedup_exact_segments(five, seg_tokens=2).collect()
    assert r["clean_text"] == "q r s t u" and r["n_segs"] == 3


def test_image_dhash_and_banded_near_pairs(spark):
    """dHash image near-dup: identical images hash equal, a re-encoded
    copy hashes equal (PNG decode is lossless), a small perturbation
    stays within a few bits, a different image is far; the 8-band
    bucket join finds exactly the planted pairs without an all-pairs
    join; undecodable payloads drop out."""
    import numpy as np

    from mission_data_pipeline_spark.functions.multimodal import (
        encode_png,
        image_dhash,
    )
    from mission_data_pipeline_spark.operators.dedup import dhash_near_pairs

    def img(k):
        x = np.arange(18)[None, :, None]
        y = np.arange(12)[:, None, None]
        c = np.arange(3)[None, None, :]
        return (((k + 7) * (x + 3) * (y + 5) + c * 5) % 256).astype(np.uint8)

    near = img(0).copy()
    near[0, 4, :] = (near[0, 4, :].astype(int) + 40) % 256
    media = spark.createDataFrame(
        [
            (0, bytearray(encode_png(img(0)))),
            (1, bytearray(encode_png(img(0)))),   # exact duplicate
            (2, bytearray(encode_png(near))),      # near duplicate
            (3, bytearray(encode_png(img(9)))),    # far
            (4, bytearray(b"not an image")),       # undecodable
        ],
        "item_id long, payload binary",
    )
    hashes = image_dhash(media)
    h = {r["item_id"]: r["dhash"] for r in hashes.collect()}
    assert h[0] == h[1] and h[4] is None
    assert 0 < bin((h[0] ^ h[2]) & ((1 << 64) - 1)).count("1") <= 4
    assert bin((h[0] ^ h[3]) & ((1 << 64) - 1)).count("1") > 7
    pairs = {
        (r["item_a"], r["item_b"]): r["hamming"]
        for r in dhash_near_pairs(hashes, max_hamming=4).collect()
    }
    assert pairs == {(0, 1): 0, (0, 2): pairs[(0, 2)], (1, 2): pairs[(1, 2)]}
    assert 0 < pairs[(0, 2)] <= 4
    import pytest as _pt

    with _pt.raises(ValueError):
        dhash_near_pairs(hashes, max_hamming=8)  # beyond 8-band recall


def test_dhash_banding_exact_recall_to_hamming_7(spark):
    """Pigeonhole guarantee pinned: for random 64-bit hashes with
    planted perturbations of 1..7 bits, the 8-band bucket join finds
    EXACTLY the brute-force pair set at max_hamming=7 — no missed pair
    (recall) and no extra pair (the bit_count filter)."""
    import itertools
    import random

    from mission_data_pipeline_spark.operators.dedup import dhash_near_pairs

    rng = random.Random(11)
    hashes: list[int] = []
    while len(hashes) < 12:  # far-apart bases
        h = rng.getrandbits(64)
        if all(bin(h ^ o).count("1") > 14 for o in hashes):
            hashes.append(h)
    rows = []
    for i, h in enumerate(hashes):
        rows.append((i, h - (1 << 64) if h >= (1 << 63) else h))
        flip = h
        for b in rng.sample(range(64), k=(i % 7) + 1):  # 1..7 bit flips
            flip ^= 1 << b
        rows.append(
            (100 + i, flip - (1 << 64) if flip >= (1 << 63) else flip)
        )
    df = spark.createDataFrame(rows, "item_id long, dhash long")
    got = {
        (r["item_a"], r["item_b"])
        for r in dhash_near_pairs(df, max_hamming=7).collect()
    }
    expect = {
        (a, b)
        for (a, ha), (b, hb) in itertools.combinations(rows, 2)
        if a < b and bin((ha ^ hb) & ((1 << 64) - 1)).count("1") <= 7
    }
    # normalize ordering (combinations preserve list order, ids ascend
    # within but 100+i > i pairs may appear reversed)
    expect = {(min(a, b), max(a, b)) for a, b in expect}
    assert got == expect and len(got) >= 12  # every planted twin found


def test_exact_substring_dedup_surgery_semantics(spark):
    """ExactSubstr (Lee et al. 2022 §4.1) hand-checkable corpus:
    - docs A and B share a verbatim 4-token run; A is first by
      (doc_id, pos) so A keeps it, B loses exactly those tokens as ONE
      merged span;
    - doc C is a verbatim copy of A → C empties out entirely;
    - doc D shares nothing → untouched;
    - doc E repeats a 4-gram WITHIN itself → second occurrence removed.
    """
    from mission_data_pipeline_spark.operators.dedup import (
        exact_substring_dedup,
    )

    a = "the quick brown fox jumps over the lazy dog today"
    rows = [
        (1, a),
        (2, "intro words here quick brown fox jumps closing remark now"),
        (3, a),  # whole-doc dup of 1
        (4, "completely unrelated text with plenty distinct tokens inside"),
        (5, "alpha beta gamma delta filler one alpha beta gamma delta"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r
        for r in exact_substring_dedup(df, k=4).collect()
    }
    assert len(got) == 5
    # A: first occurrence of every shared gram → intact
    assert got[1]["n_removed"] == 0 and got[1]["kept_text"] == a
    # B: loses exactly "quick brown fox jumps" as one merged span
    assert got[2]["n_removed"] == 4 and got[2]["n_spans"] == 1
    assert (
        got[2]["kept_text"] == "intro words here closing remark now"
    )
    # C: whole-doc dup → fully excised
    assert got[3]["n_removed"] == got[3]["n_tokens"] == 10
    assert got[3]["kept_text"] == "" and got[3]["n_spans"] == 1
    # D: untouched
    assert got[4]["n_removed"] == 0 and got[4]["kept_text"] == rows[3][1]
    # E: within-doc repeat — tail occurrence of "alpha beta gamma
    # delta" removed, head kept
    assert got[5]["n_removed"] == 4 and got[5]["n_spans"] == 1
    assert got[5]["kept_text"] == "alpha beta gamma delta filler one"


def test_exact_substring_dedup_short_docs_and_validation(spark):
    from mission_data_pipeline_spark.operators.dedup import (
        exact_substring_dedup,
    )

    df = spark.createDataFrame(
        [(1, "too short"), (2, "also short")], "doc_id long, text string"
    )
    # < k tokens → ineligible, dropped (a span shorter than k tokens
    # cannot be a k-token duplicate)
    assert exact_substring_dedup(df, k=4).count() == 0
    import pytest as _pytest

    with _pytest.raises(ValueError):
        exact_substring_dedup(df, k=1)


def test_incremental_near_dedup_gates_batch_against_corpus(spark):
    """Batch rows near-duplicating a corpus doc must drop; genuinely new
    rows survive; batch-internal twins are NOT collapsed (corpus-build
    concern, documented)."""
    from mission_data_pipeline_spark.operators.dedup import (
        incremental_near_dedup,
    )

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog near river"),
            (2, "completely different corpus text about spark shuffles and joins"),
        ],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            # near-copy of corpus doc 1 (tail appended) -> drop
            (10, "the quick brown fox jumps over the lazy dog near river extra"),
            # brand-new -> survive
            (11, "unrelated fresh content with tokens nobody used before today"),
            # batch-internal twins of each other, no corpus match -> BOTH survive
            (12, "twin sentence alpha beta gamma delta epsilon zeta eta theta"),
            (13, "twin sentence alpha beta gamma delta epsilon zeta eta theta"),
        ],
        "doc_id long, text string",
    )
    kept = sorted(
        r["doc_id"]
        for r in incremental_near_dedup(
            batch, corpus, n=2, num_hashes=8, bands=4, threshold=0.6
        ).collect()
    )
    assert kept == [11, 12, 13]


def test_hard_negative_mining_hardest_first(spark):
    """Hand-built 2-D fixture: anchor (label 0) at [1,0]; positive at
    cos=0.8; negatives at cos≈0.9, 0.7 and 0.3. The top-k is plain
    hardest-first, each row carrying the hardest positive's cosine."""
    import math

    from mission_data_pipeline_spark.operators.similarity import (
        hard_negative_mining,
    )

    def vec(cos):  # unit vector at the angle giving this cosine vs [1,0]
        return [float(cos), float(math.sqrt(1 - cos * cos))]

    rows = [
        (0, 0, [1.0, 0.0]),  # anchor
        (1, 0, vec(0.8)),    # hardest positive
        (2, 1, vec(0.9)),    # negative harder than the positive
        (3, 1, vec(0.7)),    # semi-hard negative
        (4, 1, vec(0.3)),    # easy negative
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<double>"
    )
    anchors = df.filter("vec_id = 0")
    plain = hard_negative_mining(df, anchors, k=3).collect()
    assert [r["neighbor_id"] for r in plain] == [2, 3, 4]
    assert all(abs(r["pos_cosine"] - 0.8) < 1e-9 for r in plain)
    assert [r["rank"] for r in plain] == [1, 2, 3]
    # anchor with no same-label neighbor: pos_cosine NULL
    lonely = df.filter("vec_id != 1")
    out = hard_negative_mining(lonely, lonely.filter("vec_id = 0"), k=3).collect()
    assert [r["neighbor_id"] for r in out] == [2, 3, 4]
    assert all(r["pos_cosine"] is None for r in out)
    import pytest as _pytest

    with _pytest.raises(ValueError):
        hard_negative_mining(df, anchors, k=0)


def test_matryoshka_recall_prefix_agreement_and_loss(spark):
    """Hand-built fixture: vectors whose 2-dim prefix preserves the
    full-4-dim ranking give recall 1.0; a corpus where the tail
    coordinates INVERT the ranking scores recall < 1 for k=1."""
    from mission_data_pipeline_spark.operators.similarity import (
        matryoshka_recall,
    )

    # prefix-faithful corpus: tail dims are constant -> identical order
    rows = [
        (0, [1.0, 0.0, 0.5, 0.5]),
        (1, [0.9, 0.1, 0.5, 0.5]),
        (2, [0.5, 0.5, 0.5, 0.5]),
        (3, [0.1, 0.9, 0.5, 0.5]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = matryoshka_recall(df, df.filter("vec_id = 0"), k=2, prefix_dim=2)
    r = out.collect()[0]
    assert r["n_hits"] == 2 and r["recall"] == 1.0
    # adversarial corpus: prefix says 1 is closest, full says 2 is
    adv = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [1.0, 0.0, -1.0, -1.0]),   # prefix-identical, full-far
        (2, [0.7, 0.1, 0.05, 0.05]),   # full-near
    ]
    df2 = spark.createDataFrame(adv, "vec_id long, embedding array<double>")
    r2 = matryoshka_recall(
        df2, df2.filter("vec_id = 0"), k=1, prefix_dim=2
    ).collect()[0]
    assert r2["n_hits"] == 0 and r2["recall"] == 0.0
    import pytest as _pytest

    with _pytest.raises(ValueError):
        matryoshka_recall(df, df, k=0)
    with _pytest.raises(ValueError):
        matryoshka_recall(df, df, k=1, prefix_dim=0)


def _exact_substring_reference(rows, k):
    """Brute-force Python reference for exact_substring_dedup: same
    tokenize → gram → count/first-occurrence → remove → interval-merge
    → rebuild pipeline, computed with plain dicts. The oracle-of-the-
    oracle for the hypothesis sweep below."""
    toks = {d: t.strip().lower().split() for d, t in rows}
    toks = {d: [x for x in t if x] for d, t in toks.items()}
    eligible = {d: t for d, t in toks.items() if len(t) >= k}
    occ: dict[tuple, list] = {}
    for d in sorted(eligible):
        t = eligible[d]
        for p in range(len(t) - k + 1):
            occ.setdefault(tuple(t[p : p + k]), []).append((d, p))
    covered: dict[int, set] = {d: set() for d in eligible}
    for places in occ.values():
        if len(places) < 2:
            continue
        for d, p in places[1:]:  # first (min doc,pos) kept
            covered[d].update(range(p, p + k))
    out = {}
    for d, t in eligible.items():
        cov = covered[d]
        spans = sum(1 for p in cov if p - 1 not in cov)
        kept = " ".join(x for i, x in enumerate(t) if i not in cov)
        out[d] = (len(t), len(cov), spans, kept)
    return out


def test_exact_substring_dedup_matches_reference_property(spark):
    """Hypothesis sweep: random tiny-vocabulary corpora (to force heavy
    gram collisions, overlaps, and within-doc repeats) must match the
    brute-force reference exactly — tokens, removals, merged spans,
    and the rebuilt text."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from mission_data_pipeline_spark.operators.dedup import (
        exact_substring_dedup,
    )

    vocab = ["aa", "bb", "cc"]
    doc = st.lists(st.sampled_from(vocab), min_size=0, max_size=10).map(
        " ".join
    )

    @settings(max_examples=12, deadline=None)
    @given(texts=st.lists(doc, min_size=1, max_size=5), k=st.integers(2, 3))
    def run(texts, k):
        rows = list(enumerate(texts))
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            r["doc_id"]: (
                r["n_tokens"],
                r["n_removed"],
                r["n_spans"],
                r["kept_text"],
            )
            for r in exact_substring_dedup(df, k=k).collect()
        }
        assert got == _exact_substring_reference(rows, k)

    run()


def test_exact_substring_dedup_bpe_token_vs_word_granularity(spark):
    """Pins a case where word- and BPE-token-granularity disagree
    (VERDICT r08 item 6): under merges [(a,b),(c,d)] the words
    'abcd' and 'ab cd' tokenize to the SAME run [ab, cd], so two docs
    that share no word-level k-gram share a token-level one — the
    token-granularity pass excises the later doc, the word pass
    touches nothing. ``exact_substring_dedup_bpe`` is this composition
    over the default merge table."""
    from mission_data_pipeline_spark.operators.bpe import bpe_token_sequences
    from mission_data_pipeline_spark.operators.dedup import (
        exact_substring_dedup,
        exact_substring_dedup_tokens,
    )

    merges = [("a", "b"), ("c", "d")]
    rows = [(1, "abcd efgh"), (2, "ab cd efgh")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # word granularity, k=2: doc1 gram "abcd efgh"; doc2 grams
    # "ab cd", "cd efgh" — no overlap, nothing removed
    word = {r["doc_id"]: r for r in exact_substring_dedup(df, k=2).collect()}
    assert word[1]["n_removed"] == 0 and word[2]["n_removed"] == 0
    # BPE token granularity: both docs -> [ab, cd, e, f, g, h]; the
    # 6-token run duplicates, doc 1 (first occurrence) keeps it, doc 2
    # empties out
    seqs = bpe_token_sequences(df, merges)
    bpe = {
        r["doc_id"]: r
        for r in exact_substring_dedup_tokens(
            seqs, k=6, tokens_col="toks", id_col="doc_id"
        ).collect()
    }
    assert bpe[1]["n_tokens"] == 6 and bpe[1]["n_removed"] == 0
    assert bpe[1]["kept_text"] == "ab cd e f g h"
    assert bpe[2]["n_removed"] == 6 and bpe[2]["n_spans"] == 1
    assert bpe[2]["kept_text"] == ""


def test_bpe_token_sequences_order_and_eligibility(spark):
    """Token sequences preserve word order through the distinct-vocab
    encode/join/flatten, and docs with zero alphabetic words yield no
    row."""
    from mission_data_pipeline_spark.operators.bpe import (
        bpe_token_sequences,
    )

    merges = [("a", "b"), ("c", "d")]
    df = spark.createDataFrame(
        [(1, "abcd ab abcd"), (2, "123 456 --")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in bpe_token_sequences(df, merges).collect()}
    assert set(rows) == {1}
    assert rows[1]["toks"] == ["ab", "cd", "ab", "ab", "cd"]


def test_near_dedup_stored_index_roundtrip_and_plan(spark, tmp_path):
    """The materialized-index production path (VERDICT r08 item 2):
    write_near_dedup_index -> read_near_dedup_index ->
    incremental_near_dedup(corpus_bands=, corpus_grams=) must equal the
    recompute path, and the probe plan's corpus side must scan the
    STORED parquet index — never the corpus text table."""
    from mission_data_pipeline_spark.operators.dedup import (
        incremental_near_dedup,
        read_near_dedup_index,
        write_near_dedup_index,
    )

    corpus_rows = [
        (1, "the quick brown fox jumps over the lazy dog near river"),
        (2, "completely different corpus text about spark shuffles and joins"),
    ]
    corpus_path = str(tmp_path / "corpus_tbl")
    spark.createDataFrame(
        corpus_rows, "doc_id long, text string"
    ).write.parquet(corpus_path)
    corpus = spark.read.parquet(corpus_path)
    batch = spark.createDataFrame(
        [
            (10, "the quick brown fox jumps over the lazy dog near river extra"),
            (11, "unrelated fresh content with tokens nobody used before today"),
        ],
        "doc_id long, text string",
    )
    idx = str(tmp_path / "idx")
    paths = write_near_dedup_index(
        corpus, idx, n=2, num_hashes=8, bands=4
    )
    assert paths["bands"].endswith("bands-v0")  # versioned, manifest-pointed
    bands_df, grams_df = read_near_dedup_index(
        spark, idx, n=2, num_hashes=8, bands=4
    )
    stored = incremental_near_dedup(
        batch,
        n=2,
        num_hashes=8,
        bands=4,
        threshold=0.6,
        corpus_bands=bands_df,
        corpus_grams=grams_df,
    )
    assert sorted(r["doc_id"] for r in stored.collect()) == [11]
    # recompute path agrees
    recompute = incremental_near_dedup(
        batch, corpus, n=2, num_hashes=8, bands=4, threshold=0.6
    )
    assert sorted(r["doc_id"] for r in recompute.collect()) == [11]
    # plan pin: every file scan in the probe is an INDEX scan (bands:
    # band_hash + the band partition column; grams: gram) — the corpus
    # text parquet is never read (its scan would carry a text column).
    # Path strings are elided in toString, so pin on the read schemas.
    plan = _final_plan(stored)
    scans = [ln for ln in plan.splitlines() if "FileScan" in ln]
    assert scans, "expected parquet index scans in the probe plan"
    assert all("text" not in ln for ln in scans), scans
    assert any("band_hash" in ln for ln in scans), scans
    assert any("gram" in ln and "band_hash" not in ln for ln in scans), scans


def test_near_dedup_index_format_version_gates_old_readers(
    spark, tmp_path
):
    """ADVICE r13: flipping the default to hash_grams=True changed the
    on-disk gram payload (bigint), but a pre-r13 reader ignores the
    unknown params.json key and has no dtype cross-check — it would
    join string probes against bigint grams and silently match
    nothing. r14: hashed-gram indexes publish a FORMAT-2 manifest
    whose base dirs live under bands_h64/grams_h64, so an old
    reader's m["bands"] lookup raises KeyError at open time."""
    import pytest as _pytest

    from mission_data_pipeline_spark.operators.dedup import (
        manifest_base_dirs,
        read_index_manifest,
        read_near_dedup_index,
        write_index_manifest,
        write_near_dedup_index,
    )

    df = spark.createDataFrame(
        [(1, "some corpus text with enough tokens to shingle cleanly")],
        "doc_id long, text string",
    )
    hashed = str(tmp_path / "idx_hashed")
    write_near_dedup_index(df, hashed, n=2, num_hashes=8, bands=4)
    m = read_index_manifest(hashed)
    assert m["format_version"] == 2
    # the exact lookup a pre-r13 reader performs must fail LOUDLY
    with _pytest.raises(KeyError):
        m["bands"]
    assert manifest_base_dirs(m) == ("bands-v0", "grams-v0")
    bands_df, grams_df = read_near_dedup_index(spark, hashed)
    assert dict(grams_df.dtypes)["gram"] == "bigint"
    # string-gram indexes keep the legacy format-1 shape: a pre-r13
    # reader can still open them (the payload it expects is unchanged)
    legacy = str(tmp_path / "idx_legacy")
    write_near_dedup_index(
        df, legacy, n=2, num_hashes=8, bands=4, hash_grams=False
    )
    ml = read_index_manifest(legacy)
    assert "format_version" not in ml and ml["bands"] == "bands-v0"
    _, gl = read_near_dedup_index(spark, legacy)
    assert dict(gl.dtypes)["gram"] == "string"
    # a manifest from the future is refused, not guessed at
    write_index_manifest(hashed, {"format_version": 3, "version": 0})
    with _pytest.raises(ValueError, match="format_version=3"):
        read_near_dedup_index(spark, hashed)
    # torn state (format-2 manifest, hash_grams=false params) is loud
    import json as _json
    import os as _os

    write_index_manifest(
        hashed,
        {
            "format_version": 2,
            "version": 0,
            "bands_h64": "bands-v0",
            "grams_h64": "grams-v0",
            "delta_epochs": [],
        },
    )
    with open(_os.path.join(hashed, "params.json")) as f:
        p = _json.load(f)
    p["hash_grams"] = False
    with open(_os.path.join(hashed, "params.json"), "w") as f:
        _json.dump(p, f)
    with _pytest.raises(ValueError, match="torn index"):
        read_near_dedup_index(spark, hashed)


def test_near_dedup_index_compaction_preserves_format(spark, tmp_path):
    """Compaction rewrites the base dirs and republishes the manifest —
    it must carry the format through, or a compacted hashed-gram index
    would become openable (and silently wrong) for pre-r13 readers."""
    from mission_data_pipeline_spark.operators.dedup import (
        read_index_manifest,
        write_near_dedup_index,
    )
    from mission_data_pipeline_spark.streaming.ingest import (
        compact_near_dedup_index,
        gc_near_dedup_index,
    )

    df = spark.createDataFrame(
        [(1, "corpus text with enough tokens to shingle and index")],
        "doc_id long, text string",
    )
    idx = str(tmp_path / "idx_fmt")
    write_near_dedup_index(df, idx, n=2, num_hashes=8, bands=4)
    # no deltas: compaction is a no-op but still exercises gc resolve
    out = compact_near_dedup_index(spark, idx)
    assert out["epochs_folded"] == 0
    m = read_index_manifest(idx)
    assert m["format_version"] == 2 and m["bands_h64"] == "bands-v0"
    assert gc_near_dedup_index(idx)["removed"] == []


def test_near_dedup_stored_index_validation(spark, tmp_path):
    """Mismatched probe parameters and half-supplied corpus sides fail
    loudly — a probe built with a different shingle width would
    silently match nothing and wave every near-dup through."""
    import pytest as _pytest

    from mission_data_pipeline_spark.operators.dedup import (
        incremental_near_dedup,
        read_near_dedup_index,
        write_near_dedup_index,
    )

    df = spark.createDataFrame(
        [(1, "some corpus text with enough tokens to shingle")],
        "doc_id long, text string",
    )
    idx = str(tmp_path / "idx2")
    write_near_dedup_index(df, idx, n=2, num_hashes=8, bands=4)
    with _pytest.raises(ValueError, match="n=2"):
        read_near_dedup_index(spark, idx, n=3)
    with _pytest.raises(ValueError, match="bands=4"):
        read_near_dedup_index(spark, idx, bands=8)
    bands_df, grams_df = read_near_dedup_index(spark, idx)
    with _pytest.raises(ValueError, match="together"):
        incremental_near_dedup(df, corpus_bands=bands_df)
    with _pytest.raises(ValueError, match="exactly one"):
        incremental_near_dedup(df)
    with _pytest.raises(ValueError, match="exactly one"):
        incremental_near_dedup(
            df, df, corpus_bands=bands_df, corpus_grams=grams_df
        )


def test_quality_dedup_keeps_best_member(spark):
    """Quality-aware dedup: each duplicate cluster keeps its highest-
    quality member (tie -> min id), not the min-id member; unpaired
    docs always survive."""
    from mission_data_pipeline_spark.operators.dedup import quality_dedup

    docs = spark.createDataFrame(
        [(1, 5), (2, 9), (3, 9), (4, 1), (10, 7)],
        "doc_id long, quality long",
    )
    # chain 1-2-3 is ONE cluster (transitive closure); 4 and 10 unpaired
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3)], "doc_a long, doc_b long"
    )
    kept = sorted(
        r["doc_id"]
        for r in quality_dedup(docs, pairs, quality_col="quality").collect()
    )
    # cluster max quality 9 is shared by 2 and 3 -> min id 2 kept
    assert kept == [2, 4, 10]


def test_quality_dedup_string_ids_and_null_quality(spark):
    """ADVICE r09: id_col is generic — STRING ids must keep the
    documented 'ties toward smallest id' semantics (the old numeric
    -node negation would cast to NULL and silently flip to largest-id).
    NULL quality loses to any non-NULL; an all-NULL cluster keeps its
    smallest id."""
    from mission_data_pipeline_spark.operators.dedup import quality_dedup

    docs = spark.createDataFrame(
        [
            ("url-a", 9), ("url-b", 9), ("url-c", 5),   # tie 9: keep url-a
            ("url-x", None), ("url-y", 3),              # null loses: url-y
            ("url-p", None), ("url-q", None),           # all-null: url-p
            ("solo", None),                              # unpaired survives
        ],
        "doc_id string, quality long",
    )
    pairs = spark.createDataFrame(
        [("url-a", "url-b"), ("url-b", "url-c"),
         ("url-x", "url-y"), ("url-p", "url-q")],
        "doc_a string, doc_b string",
    )
    kept = sorted(
        r["doc_id"]
        for r in quality_dedup(docs, pairs, quality_col="quality").collect()
    )
    assert kept == ["solo", "url-a", "url-p", "url-y"]


def test_prototype_prune_drops_most_prototypical(spark):
    """D4/SSL-prototypes pruning: per cluster, exactly floor(frac*n)
    points drop, the ones MOST similar to their centroid — hand-built
    2-D fixture with known cosines."""
    import math

    import pytest as _pytest

    from mission_data_pipeline_spark.operators.similarity import (
        default_centroids,
        prototype_prune,
    )

    def vec(deg):
        r = math.radians(deg)
        return [math.cos(r), math.sin(r)]

    rows = [
        (0, vec(0)),   # centroid A (most prototypical of cluster A)
        (1, vec(90)),  # centroid B (most prototypical of cluster B)
        (2, vec(5)),
        (3, vec(20)),
        (4, vec(40)),  # cluster A: n=4 -> floor(0.5*4)=2 drop (0, 2)
        (5, vec(85)),
        (6, vec(70)),  # cluster B: n=3 -> floor(0.5*3)=1 drop (1)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = default_centroids(emb, n_centroids=2)
    kept = sorted(
        r["vec_id"]
        for r in prototype_prune(emb, cents, drop_frac=0.5).collect()
    )
    assert kept == [3, 4, 5, 6]
    # frac 0 keeps everything; out-of-range frac fails loudly
    assert prototype_prune(emb, cents, drop_frac=0.0).count() == 7
    with _pytest.raises(ValueError):
        prototype_prune(emb, cents, drop_frac=1.5)
    # malformed vectors belong to no cluster and are kept
    bad = emb.unionByName(
        spark.createDataFrame(
            [(99, [1.0, 2.0, 3.0])], "vec_id long, embedding array<double>"
        )
    )
    kept_bad = {
        r["vec_id"]
        for r in prototype_prune(bad, cents, drop_frac=0.5).collect()
    }
    assert 99 in kept_bad


def _quality_dedup_reference(quality: dict, pairs: list) -> set:
    """Union-find + per-cluster argmax(quality, tie min id) — the
    brute-force survivor set."""
    parent = {n: n for n in quality}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    clusters: dict = {}
    for n in quality:
        clusters.setdefault(find(n), []).append(n)
    return {
        max(members, key=lambda n: (quality[n], -n))
        for members in clusters.values()
    }


def test_quality_dedup_matches_reference_property(spark):
    """Hypothesis sweep: random small pair graphs (chains, cliques,
    self-contradictory duplicate edges, isolated nodes) + random
    qualities must keep exactly the brute-force argmax representative
    per connected component."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from mission_data_pipeline_spark.operators.dedup import quality_dedup

    @settings(max_examples=10, deadline=None)
    @given(
        n=st.integers(2, 8),
        edges=st.lists(
            st.tuples(st.integers(0, 7), st.integers(0, 7)), max_size=10
        ),
        quals=st.lists(
            st.integers(0, 5), min_size=8, max_size=8
        ),
    )
    def run(n, edges, quals):
        nodes = list(range(n))
        pairs = [(a, b) for a, b in edges if a != b and a < n and b < n]
        quality = {i: quals[i] for i in nodes}
        docs = spark.createDataFrame(
            [(i, quality[i]) for i in nodes], "doc_id long, quality long"
        )
        pdf = spark.createDataFrame(pairs, "doc_a long, doc_b long")
        kept = {
            r["doc_id"]
            for r in quality_dedup(docs, pdf, quality_col="quality").collect()
        }
        assert kept == _quality_dedup_reference(quality, pairs), (
            pairs,
            quality,
        )

    run()


def test_near_dedup_index_rejects_non_local_path(spark):
    """ADVICE r09: the index's sidecars (manifest/params) and atomic
    renames are driver-local POSIX — an object-store URI would write
    the parquet remotely and the sidecars locally, a torn index that
    only surfaces on another host. Reject loudly at every entry point."""
    import pytest as _pytest

    from mission_data_pipeline_spark.operators.dedup import (
        read_index_manifest,
        read_near_dedup_index,
        write_near_dedup_index,
    )

    df = spark.createDataFrame(
        [(1, "some corpus text with enough tokens")],
        "doc_id long, text string",
    )
    for bad in ("s3://bucket/idx", "hdfs://nn/idx", "abfs://c@a/idx"):
        with _pytest.raises(ValueError, match="driver-local"):
            write_near_dedup_index(df, bad, n=2, num_hashes=8, bands=4)
        with _pytest.raises(ValueError, match="driver-local"):
            read_near_dedup_index(spark, bad)
        with _pytest.raises(ValueError, match="driver-local"):
            read_index_manifest(bad)


def build_graph(spark, n_giant: int, n_small: int):
    """(pairs, docs): hub-skewed giant component over nodes
    [0, n_giant) + 2-node clusters over [10**9, 10**9 + n_small).
    Pure Spark expressions — deterministic, no driver-side data."""
    giant = spark.range(1, n_giant).select(
        F.col("id").alias("doc_a"),
        F.when(F.col("id") % 4 == 0, F.lit(0).cast("long"))
        .otherwise(F.pmod(F.xxhash64(F.col("id")), F.col("id")))
        .alias("doc_b"),
    )
    base = 10**9
    small = spark.range(0, n_small // 2).select(
        (F.col("id") * 2 + base).alias("doc_a"),
        (F.col("id") * 2 + base + 1).alias("doc_b"),
    )
    pairs = giant.unionByName(small)
    nodes = spark.range(0, n_giant).unionByName(
        spark.range(base, base + n_small)
    )
    docs = nodes.select(
        F.col("id").alias("doc_id"),
        F.pmod(F.xxhash64(F.col("id") * 7 + 13), F.lit(1000)).alias(
            "quality"
        ),
    )
    return pairs, docs


def expected_keepers(docs, n_giant: int):
    """Independent argmax reference: component membership is known by
    construction (node < n_giant -> giant; else its 2-node pair)."""
    base = 10**9
    labeled = docs.select(
        "doc_id",
        "quality",
        F.when(F.col("doc_id") < n_giant, F.lit(0).cast("long"))
        .otherwise(
            base + F.floor((F.col("doc_id") - base) / 2) * 2
        )
        .alias("cid"),
    )
    qmax = labeled.groupBy("cid").agg(F.max("quality").alias("qm"))
    return (
        labeled.join(qmax, "cid")
        .filter(F.col("quality") == F.col("qm"))
        .groupBy("cid")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )


def test_giant_component_power_law_graph(spark):
    """VERDICT r09 item 2: real crawl pair graphs are power-law — one
    component holds a large fraction of all duplicates and one hub node
    carries ~N/4 of the edges. The fixpoint must stay at O(log
    diameter) rounds (path halving), label every giant-component node
    0, and quality_dedup's two partial aggregates must keep the exact
    argmax representative — computed here against an independent
    reference that never runs the fixpoint (membership is known by
    construction). BASELINE.md §round 10 records the same shape at
    millions of nodes."""
    from mission_data_pipeline_spark.operators.dedup import (
        connected_components,
        quality_dedup,
    )

    n_giant, n_small = 60_000, 10_000
    pairs, docs = build_graph(spark, n_giant, n_small)
    # uniform-random-earlier attachment gives tree depth O(log n);
    # pointer jumping then converges in O(log depth) + verification:
    # at most 9 rounds, or max_iter=8 raises
    comp = connected_components(pairs, max_iter=8)
    giant = comp.filter(F.col("node") < n_giant)
    assert giant.select("component_id").distinct().collect() == [
        __import__("pyspark.sql", fromlist=["Row"]).Row(component_id=0)
    ]
    assert giant.count() == n_giant
    kept = quality_dedup(docs, pairs, quality_col="quality")
    exp = expected_keepers(docs, n_giant)
    assert (
        kept.select("doc_id")
        .exceptAll(exp)
        .unionByName(exp.exceptAll(kept.select("doc_id")))
        .count()
        == 0
    )
    # one representative per component: giant + n_small/2 pairs
    assert kept.count() == 1 + n_small // 2


def test_stored_index_records_and_validates_hash_grams(spark, tmp_path):
    """ADVICE r12 (medium): the stored index records its featurization
    MODE (hash_grams) in params.json, read validates it, and every
    probe path fails loudly on a mismatch — a hashed-gram (bigint)
    corpus joined against string batch grams silently intersects as
    empty, waving every near-dup through the gate."""
    import json
    import os

    from mission_data_pipeline_spark.operators.dedup import (
        incremental_near_dedup,
        read_near_dedup_index,
        write_near_dedup_index,
    )

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog near river"),
            (2, "completely different corpus text about spark shuffles and joins"),
        ],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            (10, "the quick brown fox jumps over the lazy dog near river extra"),
            (11, "unrelated fresh content with tokens nobody used before today"),
        ],
        "doc_id long, text string",
    )
    idx = str(tmp_path / "idxh")
    write_near_dedup_index(
        corpus, idx, n=2, num_hashes=8, bands=4, hash_grams=True
    )
    with open(os.path.join(idx, "params.json")) as f:
        assert json.load(f)["hash_grams"] is True
    # read validates the mode both ways
    with pytest.raises(ValueError, match="hash_grams"):
        read_near_dedup_index(spark, idx, hash_grams=False)
    bands_df, grams_df = read_near_dedup_index(spark, idx, hash_grams=True)
    assert dict(grams_df.dtypes)["gram"] == "bigint"
    # matched-mode probe gates exactly like the string-mode index path
    kept = incremental_near_dedup(
        batch,
        n=2,
        num_hashes=8,
        bands=4,
        threshold=0.6,
        corpus_bands=bands_df,
        corpus_grams=grams_df,
        hash_grams=True,
    )
    assert sorted(r["doc_id"] for r in kept.collect()) == [11]
    # mismatched internal featurization vs stored hashed grams raises
    # EAGERLY (dtype cross-check at plan-build, not an empty result)
    with pytest.raises(ValueError, match="gram dtype mismatch"):
        incremental_near_dedup(
            batch,
            n=2,
            num_hashes=8,
            bands=4,
            threshold=0.6,
            corpus_bands=bands_df,
            corpus_grams=grams_df,
            hash_grams=False,
        )
    # and the recompute path honors the mode end-to-end
    kept2 = incremental_near_dedup(
        batch, corpus, n=2, num_hashes=8, bands=4, threshold=0.6,
        hash_grams=True,
    )
    assert sorted(r["doc_id"] for r in kept2.collect()) == [11]


def test_stored_index_pre_r13_params_default_string_mode(spark, tmp_path):
    """Indexes written before hash_grams was recorded (pre-r13
    params.json without the key) were always string-gram builds: read
    must default the missing key to False, accept hash_grams=False
    probes, and reject hash_grams=True ones."""
    import json
    import os

    from mission_data_pipeline_spark.operators.dedup import (
        read_near_dedup_index,
        write_near_dedup_index,
    )

    df = spark.createDataFrame(
        [(1, "some corpus text with enough tokens to shingle")],
        "doc_id long, text string",
    )
    idx = str(tmp_path / "idx_old")
    # pre-r13 indexes were always string-gram builds (the old default)
    write_near_dedup_index(
        df, idx, n=2, num_hashes=8, bands=4, hash_grams=False
    )
    pj = os.path.join(idx, "params.json")
    with open(pj) as f:
        params = json.load(f)
    params.pop("hash_grams")
    with open(pj, "w") as f:
        json.dump(params, f)
    bands_df, grams_df = read_near_dedup_index(spark, idx, hash_grams=False)
    assert dict(grams_df.dtypes)["gram"] == "string"
    with pytest.raises(ValueError, match="hash_grams"):
        read_near_dedup_index(spark, idx, hash_grams=True)


def test_shingles_dedupe_repetition_doc_locally(spark):
    """ADVICE r12 (low): duplicate gram OCCURRENCES in repetition-heavy
    docs are removed doc-locally (array_distinct before the explode, in
    a codegen'd expression) — they never materialize as rows, so they
    never cross the featurization exchange. Output sets are unchanged
    and the whole shingle->minhash featurization still runs on exactly
    ONE exchange (the r12 doc_id repartition)."""
    boiler = "click here to subscribe now "
    docs = spark.createDataFrame(
        [(1, boiler * 50), (2, boiler * 3 + "plus unique tail words here")],
        "doc_id long, text string",
    )
    g = shingles(docs, n=3)
    rows = [(r["doc_id"], r["gram"]) for r in g.collect()]
    assert len(rows) == len(set(rows))
    # doc 1 is one 5-word sentence repeated: exactly 5 distinct 3-grams
    # survive out of ~248 occurrences
    assert sum(1 for d, _ in rows if d == 1) == 5
    sig = minhash_signatures(g, num_hashes=8)
    plan = sig._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1


def test_cosine_topk_include_ties_and_tie_aware_recall(spark):
    """Tie-aware ANN gauge (r13 sfx10 probe finding): on a corpus with
    a clone cluster larger than k, row-number ground truth makes "the"
    top-k ambiguous and an ANN method returning different-but-equal
    neighbors reads as a miss. include_ties=True keeps the whole tie
    group; ann_recall(tie_aware=True) then scores any admissible
    neighbor as a hit — separating tie ambiguity from real error."""
    from mission_data_pipeline_spark.operators.similarity import (
        ann_recall,
        cosine_topk,
    )

    clone = [1.0, 0.0, 0.0, 0.0]
    far = [0.0, 1.0, 0.0, 0.0]
    rows = [(0, clone)]  # the query vector
    rows += [(i, clone) for i in range(1, 6)]  # 5 exact clones
    rows += [(i, far) for i in range(6, 9)]
    corpus = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    queries = corpus.filter("vec_id = 0")
    k = 3
    plain = cosine_topk(corpus, queries, k=k, round_digits=6)
    assert plain.count() == k  # row_number: exactly k rows
    assert sorted(r["neighbor_id"] for r in plain.collect()) == [1, 2, 3]
    tied = cosine_topk(
        corpus, queries, k=k, round_digits=6, include_ties=True
    )
    got = sorted(r["neighbor_id"] for r in tied.collect())
    assert got == [1, 2, 3, 4, 5]  # the whole tie group survives
    assert {r["rank"] for r in tied.collect()} == {1}
    # an ANN method that returns clones {3, 4, 5}: all cosine-equal to
    # the row-number pick {1, 2, 3} — 1/3 plain overlap, perfect
    # tie-aware recall
    approx = spark.createDataFrame(
        [(0, 3, 1), (0, 4, 2), (0, 5, 3)],
        "query_id long, neighbor_id long, rank int",
    )
    plain_r = ann_recall(approx, plain, k=k).collect()[0]
    assert plain_r["n_hit"] == 1 and plain_r["recall"] < 0.5
    tie_r = ann_recall(approx, tied, k=k, tie_aware=True).collect()[0]
    assert tie_r["n_hit"] == 3 and tie_r["recall"] == 1.0
    assert tie_r["n_exact"] == 3  # denominator = approx top-k size


def test_tie_aware_recall_scores_missed_queries_zero(spark):
    """ADVICE r13: with tie_aware=True the denominator used to come
    from the approx side only, so a query the ANN method missed
    ENTIRELY (zero approx rows) vanished from the output and a mean
    over recall overstated quality. r14: the per-query key set is the
    union of both sides — a missed query now scores recall 0 over
    min(k, admissible-set size), matching plain mode's behavior."""
    from mission_data_pipeline_spark.operators.similarity import ann_recall

    exact = spark.createDataFrame(
        [(0, 10, 1), (0, 11, 2), (1, 20, 1), (1, 21, 2)],
        "query_id long, neighbor_id long, rank int",
    )
    # approx covers query 0 only; query 1 is dropped entirely
    approx = spark.createDataFrame(
        [(0, 10, 1), (0, 99, 2)],
        "query_id long, neighbor_id long, rank int",
    )
    out = {
        r["query_id"]: r
        for r in ann_recall(approx, exact, k=2, tie_aware=True).collect()
    }
    assert set(out) == {0, 1}  # missed query present, not vanished
    assert out[0]["n_hit"] == 1 and out[0]["n_exact"] == 2
    assert out[0]["recall"] == 0.5
    assert out[1]["n_hit"] == 0 and out[1]["n_exact"] == 2
    assert out[1]["recall"] == 0.0
    # plain mode: identical verdict for the missed query (unchanged)
    plain = {
        r["query_id"]: r for r in ann_recall(approx, exact, k=2).collect()
    }
    assert plain[1]["recall"] == 0.0
    # approx-only query (no ground truth): tie-aware keeps it at 0
    # rather than crediting unverifiable hits
    extra = approx.union(
        spark.createDataFrame([(2, 30, 1)], approx.schema)
    )
    out2 = {
        r["query_id"]: r
        for r in ann_recall(extra, exact, k=2, tie_aware=True).collect()
    }
    assert out2[2]["n_hit"] == 0 and out2[2]["recall"] == 0.0
