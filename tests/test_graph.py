"""Graph operator tests (operators/graph.py): PageRank, triangle
counting, label propagation, co-occurrence edge building."""

from itertools import combinations

import numpy as np
import pytest


def _reference_pagerank(edges, n, n_iter, d=0.85):
    M = np.zeros((n, n))
    outdeg = {}
    for s, t in edges:
        outdeg[s] = outdeg.get(s, 0) + 1
    for s, t in edges:
        M[t, s] += 1.0 / outdeg[s]
    r = np.full(n, 1 / n)
    for _ in range(n_iter):
        dangling = sum(r[i] for i in range(n) if i not in outdeg)
        r = (1 - d) / n + d * (M @ r + dangling / n)
    return r


def test_pagerank_matches_power_iteration(spark):
    from mission_data_pipeline_spark.operators.graph import pagerank

    edges = [(0, 1), (0, 2), (1, 2), (2, 0), (3, 2), (2, 4)]  # 4 dangling
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["rank"] for r in pagerank(df, n_iter=20).collect()}
    ref = _reference_pagerank(edges, 5, 20)
    assert sorted(got) == [0, 1, 2, 3, 4]
    assert all(abs(got[i] - ref[i]) < 1e-9 for i in range(5))
    assert abs(sum(got.values()) - 1.0) < 1e-9  # no mass leak (dangling)


def test_pagerank_multigraph_and_validation(spark):
    from mission_data_pipeline_spark.operators.graph import pagerank

    # duplicate edge doubles its weight share (multigraph semantics)
    df = spark.createDataFrame(
        [(0, 1), (0, 1), (0, 2)], "src long, dst long"
    )
    got = {r["node"]: r["rank"] for r in pagerank(df, n_iter=5).collect()}
    assert got[1] > got[2]  # node 1 receives 2/3 of node 0's mass
    with pytest.raises(ValueError):
        pagerank(df, n_iter=0)
    with pytest.raises(ValueError):
        pagerank(df, damping=1.0)


def test_pagerank_reliable_checkpoint_dir(spark, tmp_path, monkeypatch):
    """$SPARK_GRAFT_CHECKPOINT_DIR routes pagerank's lineage truncation
    through reliable RDD checkpointing (files on shared storage survive
    executor loss) and must be result-identical to the localCheckpoint
    default."""
    from mission_data_pipeline_spark.operators.graph import pagerank
    from mission_data_pipeline_spark.operators.lineage import CHECKPOINT_DIR_ENV

    edges = [(0, 1), (0, 2), (1, 2), (2, 0), (3, 2), (2, 4)]
    df = spark.createDataFrame(edges, "src long, dst long")
    ckpt = str(tmp_path / "pr_ckpt")
    monkeypatch.setenv(CHECKPOINT_DIR_ENV, ckpt)
    got = {r["node"]: r["rank"] for r in pagerank(df, n_iter=8).collect()}
    monkeypatch.delenv(CHECKPOINT_DIR_ENV)
    base = {r["node"]: r["rank"] for r in pagerank(df, n_iter=8).collect()}
    assert got == base
    # checkpoint files actually landed in the reliable dir
    import os

    found = [f for _, _, fs in os.walk(ckpt) for f in fs]
    assert found, "no reliable checkpoint files written"


def _files_under(root):
    import os

    return sorted(
        os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs
    )


def test_reliable_checkpoint_one_subdir_per_root(spark, tmp_path, monkeypatch):
    """Spark's setCheckpointDir makes a fresh ``<root>/<uuid>/`` on every
    call; the reliable truncator sets it only when the context is not
    already under the root, so an 8-iteration pagerank (11 truncations)
    leaves ONE subdirectory, and switching the env var to a second root
    in the same session moves later checkpoint files there."""
    import os

    from mission_data_pipeline_spark.operators.graph import pagerank
    from mission_data_pipeline_spark.operators.lineage import CHECKPOINT_DIR_ENV

    df = spark.createDataFrame(
        [(0, 1), (0, 2), (1, 2), (2, 0), (3, 2), (2, 4)], "src long, dst long"
    )
    first, second = tmp_path / "first", tmp_path / "second"
    monkeypatch.setenv(CHECKPOINT_DIR_ENV, str(first))
    pagerank(df, n_iter=8).collect()
    assert len(os.listdir(first)) == 1
    before = _files_under(first)
    assert before

    monkeypatch.setenv(CHECKPOINT_DIR_ENV, str(second))
    pagerank(df, n_iter=8).collect()
    assert len(os.listdir(second)) == 1
    assert _files_under(second)
    assert _files_under(first) == before


@pytest.mark.parametrize(
    "name", ["g_pagerank", "x2_canonical_per_cluster", "curation_quality_tiers"]
)
def test_declared_query_truncations_honor_checkpoint_dir(
    spark, sf0001, tmp_path, monkeypatch, name
):
    """Every truncation a declared query runs — its own and the ones
    inside the operators it calls — reads $SPARK_GRAFT_CHECKPOINT_DIR:
    reliable checkpoint files land in the dir, and the rows equal the
    localCheckpoint run."""
    from collections import Counter

    from mission_data_pipeline_spark.operators.lineage import CHECKPOINT_DIR_ENV
    from mission_data_pipeline_spark.plans.queries import QUERIES

    q = QUERIES[name]
    monkeypatch.delenv(CHECKPOINT_DIR_ENV, raising=False)
    local = Counter(map(tuple, q.spark(spark, sf0001).collect()))
    ckpt = tmp_path / "ckpt"
    monkeypatch.setenv(CHECKPOINT_DIR_ENV, str(ckpt))
    reliable = Counter(map(tuple, q.spark(spark, sf0001).collect()))
    assert _files_under(ckpt), "no reliable checkpoint files written"
    assert reliable == local


def test_query_truncator_env_plumbing(spark, tmp_path, monkeypatch):
    """query_truncator() (the declared-query truncation entrypoint)
    must route through reliable RDD checkpointing when
    $SPARK_GRAFT_CHECKPOINT_DIR is set, and localCheckpoint otherwise —
    result-identical both ways, files landing in the reliable dir."""
    import os

    from mission_data_pipeline_spark.operators.lineage import (
        CHECKPOINT_DIR_ENV,
        query_truncator,
    )

    df = spark.range(100).selectExpr("id", "id * 2 AS v")
    monkeypatch.delenv(CHECKPOINT_DIR_ENV, raising=False)
    local = query_truncator()(df)
    assert local.count() == 100

    ckpt = str(tmp_path / "q_ckpt")
    monkeypatch.setenv(CHECKPOINT_DIR_ENV, ckpt)
    reliable = query_truncator()(df)
    assert sorted(map(tuple, reliable.collect())) == sorted(
        map(tuple, local.collect())
    )
    found = [f for _, _, fs in os.walk(ckpt) for f in fs]
    assert found, "no reliable checkpoint files written"


def _brute_triangles(edges):
    adj = {}
    for u, v in edges:
        if u == v:
            continue
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    return {
        (a, b, c)
        for a in adj
        for b, c in combinations(sorted(adj[a]), 2)
        if a < b and c in adj[b]
    }


def test_triangle_count_matches_bruteforce(spark):
    from mission_data_pipeline_spark.operators.graph import triangle_count

    # K4 plus a pendant, a disconnected triangle, a self-loop, a dup
    # edge, and a reversed duplicate — canonicalization must absorb all
    edges = (
        list(combinations(range(4), 2))
        + [(3, 4), (10, 11), (11, 12), (12, 10), (5, 5), (0, 1), (1, 0)]
    )
    df = spark.createDataFrame(edges, "src long, dst long")
    rows = triangle_count(df).collect()
    # triples come out in (degree, id) orientation order — normalize to
    # sorted node triples for comparison, and check each emitted ONCE
    got = [tuple(sorted((r["a"], r["b"], r["c"]))) for r in rows]
    exp = _brute_triangles(edges)
    assert set(got) == exp and len(exp) == 5  # C(4,3)=4 + the 10-11-12 one
    assert len(got) == len(set(got))


def test_label_propagation_finds_cliques(spark):
    from mission_data_pipeline_spark.operators.graph import label_propagation

    # two 4-cliques joined by one bridge -> two communities at the
    # cliques' min nodes (deterministic smallest-label ties)
    edges = (
        list(combinations(range(4), 2))
        + list(combinations(range(10, 14), 2))
        + [(0, 10)]
    )
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["label"] for r in label_propagation(df, n_iter=4).collect()}
    assert {got[i] for i in range(4)} == {0}
    assert {got[i] for i in range(10, 14)} == {10}
    with pytest.raises(ValueError):
        label_propagation(df, n_iter=0)


def test_cooccurrence_edges_support_and_cap(spark):
    from mission_data_pipeline_spark.operators.graph import cooccurrence_edges

    rows = [
        # group 1: items 1,2,3 ; group 2: items 1,2 ; big group dropped
        ("g1", 1), ("g1", 2), ("g1", 3), ("g1", 2),  # dup collapses
        ("g2", 1), ("g2", 2),
        ("big", 100), ("big", 101), ("big", 102), ("big", 103),
    ]
    df = spark.createDataFrame(rows, "g string, item long")
    got = {
        (r["u"], r["v"]): r["support"]
        for r in cooccurrence_edges(
            df, group_cols=["g"], item_col="item", max_items_per_group=3
        ).collect()
    }
    assert got == {(1, 2): 2, (1, 3): 1, (2, 3): 1}  # big group capped out
    kept = cooccurrence_edges(
        df, group_cols=["g"], item_col="item", max_items_per_group=3,
        min_support=2,
    ).collect()
    assert {(r["u"], r["v"]) for r in kept} == {(1, 2)}
