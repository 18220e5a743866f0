"""Link-analysis operators — PageRank, triangle counting, label
propagation, and co-occurrence edge building over edge DataFrames.

Complements ``operators/dedup.py:connected_components`` (duplicate
clustering) with the other classic iterative graph primitives: rank
propagation (corpus weighting by link structure), triangle counting
(local clustering / spam-graph signals), and synchronous label
propagation (community detection over near-dup or co-occurrence
graphs) — the graph surface a web-scale training-data pipeline uses to
weight, cluster, and diversify documents.

Scale shape per iteration: ranks ⋈ edges on ``src`` (both sides hash on
the join key), contributions groupBy ``dst`` (map-side partial), plus
one broadcast one-row frame for the dangling-mass total — the classic
join-agg PageRank, O(edges) shuffle per iteration, no driver-side graph.
Lineage is truncated each round (same discipline as connected_components;
an unflattened 10-iteration plan re-executes the whole chain at every
action) through ``operators/lineage.py:query_truncator`` —
``localCheckpoint`` by default, reliable checkpoint files when
``$SPARK_GRAFT_CHECKPOINT_DIR`` is set.

Determinism: per-edge contributions are rounded to 12 decimals and
summed as DECIMAL(30,12) — float addition order across partitions would
otherwise flip low bits and break exact oracle comparison. The same
round-then-exact-sum sequence is reproducible in any engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pagerank(
    edges: DataFrame,
    *,
    n_iter: int = 10,
    damping: float = 0.85,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Fixed-iteration PageRank. Returns ``(node, rank)`` for every node
    appearing as source or destination; ranks sum to ~1.

    Dangling nodes (no out-edges) redistribute their mass uniformly —
    the standard stochastic-matrix completion, without which total rank
    leaks every iteration. Duplicate edges count once per occurrence
    (a multigraph; pre-``distinct`` the edges for simple-graph
    semantics).

    Lineage is truncated every iteration through
    :func:`operators.lineage.query_truncator`: ``localCheckpoint``
    (executor-local, NOT fault-tolerant) unless
    ``$SPARK_GRAFT_CHECKPOINT_DIR`` names a reliable dir (HDFS/S3A), in
    which case executor loss mid-iteration recovers from checkpoint
    files.
    """
    from mission_data_pipeline_spark.operators.lineage import query_truncator

    trunc = query_truncator()
    if n_iter < 1:
        raise ValueError("pagerank needs n_iter >= 1")
    if not (0.0 < damping < 1.0):
        raise ValueError("damping must be in (0, 1)")
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    )
    # The edge list joins against ranks in EVERY iteration (and feeds
    # nodes/deg): without truncation each of the n_iter actions
    # re-executes the caller's whole edge-derivation pipeline — the
    # same per-round re-derivation connected_components already
    # truncates away. Edge-list-sized.
    e = trunc(e)
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    nodes = trunc(nodes)
    deg = e.groupBy("src").agg(F.count("*").alias("deg"))
    # out-degree rides on the node table so each iteration joins
    # ranks⋈edges only once; deg=null marks dangling nodes
    base = nodes.join(deg, nodes.node == deg.src, "left").select(
        "node", "deg"
    )
    base = trunc(base)
    n_total = base.agg(F.count("*").alias("n"))
    ranks = base.crossJoin(F.broadcast(n_total)).select(
        "node",
        "deg",
        F.round(F.lit(1.0) / F.col("n"), 12).alias("rank"),
        "n",
    )
    dec = "decimal(30,12)"
    for _ in range(n_iter):
        # mass arriving over edges: rank/deg per out-edge, exact-sum
        contrib = (
            ranks.join(e, ranks.node == e.src)
            .select(
                "dst",
                F.round(F.col("rank") / F.col("deg"), 12)
                .cast(dec)
                .alias("c"),
            )
            .groupBy("dst")
            .agg(F.sum("c").alias("mass"))
        )
        # dangling mass redistributes uniformly
        dangling = ranks.filter(F.col("deg").isNull()).agg(
            F.coalesce(
                F.sum(F.col("rank").cast(dec)), F.lit(0).cast(dec)
            ).alias("dmass")
        )
        ranks = (
            ranks.join(contrib, ranks.node == contrib.dst, "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "node",
                "deg",
                F.round(
                    (1.0 - damping) / F.col("n")
                    + damping
                    * (
                        F.coalesce(F.col("mass").cast("double"), F.lit(0.0))
                        + F.col("dmass").cast("double") / F.col("n")
                    ),
                    12,
                ).alias("rank"),
                "n",
            )
        )
        ranks = trunc(ranks)
    return ranks.select("node", "rank")


def cooccurrence_edges(
    df: DataFrame,
    *,
    group_cols: list[str],
    item_col: str,
    max_items_per_group: int = 1000,
    min_support: int = 1,
) -> DataFrame:
    """Item–item co-occurrence edges: connect two items whenever they
    appear in the same group (basket / user-day / document). Returns
    undirected edges ``(u, v, support)`` with ``u < v`` and ``support``
    the number of distinct groups containing both.

    Scale shape: the pair join is a per-group self-join — O(m²) pairs
    for a group with m distinct items, the classic market-basket
    blowup. A single pathological group (one user touching a million
    items) makes a quadratic task, so groups above
    ``max_items_per_group`` distinct items are DROPPED (the standard
    frequency-cap mitigation; a hub that touches everything co-occurs
    with everything and carries no signal). The join shuffles on the
    group key only; the support aggregation shuffles on the edge key.
    ``min_support`` prunes noise edges map-reduce-side (raise it at
    scale — real basket graphs keep support >= some floor).
    """
    pairs = df.select(
        *[F.col(c) for c in group_cols], F.col(item_col).alias("i")
    ).distinct()
    sized = pairs.join(
        pairs.groupBy(*group_cols)
        .agg(F.count("*").alias("__m"))
        .filter(F.col("__m") <= max_items_per_group)
        .select(*group_cols),
        group_cols,
    )
    a, b = sized.alias("a"), sized.alias("b")
    return (
        a.join(b, group_cols)
        .filter(F.col("a.i") < F.col("b.i"))
        .groupBy(F.col("a.i").alias("u"), F.col("b.i").alias("v"))
        .agg(F.count("*").alias("support"))
        .filter(F.col("support") >= min_support)
    )


def triangle_count(
    edges: DataFrame,
    *,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Exact triangle enumeration over an undirected simple graph.
    Returns one row per triangle ``(a, b, c)``; aggregate downstream for
    global or per-node counts.

    The input is canonicalized first (self-loops dropped, both
    directions and duplicates collapsed to one ``u < v`` edge), so any
    edge DataFrame works.

    Scale shape — degree-ordered orientation (the standard wedge-count
    bound): each undirected edge is oriented from the endpoint with
    smaller ``(degree, id)`` to the larger, so every node's OUT-degree
    is bounded by O(sqrt(edges)) on any graph, and the wedge self-join
    (the quadratic step) is per-out-neighborhood rather than
    per-neighborhood — a hub with degree d contributes wedges only
    through its low-degree endpoints. Two hash-shuffle joins total:
    wedges on the pivot node, closure on the ``(b, c)`` edge key. Each
    triangle is produced exactly once.

    Lineage is truncated at the canonicalized edge set and at the
    oriented table (same :func:`operators.lineage.query_truncator`
    policy as :func:`pagerank`): ``oriented`` is
    referenced three times (both wedge sides and the closure probe) and
    ``e`` three more underneath it, so an untruncated plan re-expands
    the whole upstream subtree per reference — with a non-trivial edge
    producer (e.g. ``cooccurrence_edges``) that multiplied into a
    3,335-operator / 480-scan physical plan at bench scale where the
    truncated one is ~50 operators with the edge pipeline executed
    once.
    """
    from mission_data_pipeline_spark.operators.lineage import query_truncator

    trunc = query_truncator()
    e = (
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("u"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    e = trunc(e)
    deg = (
        e.select(F.col("u").alias("node"))
        .unionByName(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("deg").alias("dv"))
    withdeg = e.join(du, "u").join(dv, "v")
    lower_is_u = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = withdeg.select(
        F.when(lower_is_u, F.col("u")).otherwise(F.col("v")).alias("lo"),
        F.when(lower_is_u, F.col("v")).otherwise(F.col("u")).alias("hi"),
        F.when(lower_is_u, F.col("dv")).otherwise(F.col("du")).alias("dhi"),
    )
    oriented = trunc(oriented)
    o1, o2 = oriented.alias("o1"), oriented.alias("o2")
    # wedges pivoting at `lo`: unordered pair of out-neighbors, ordered
    # by the same (deg, id) key so each wedge is generated once
    wedges = o1.join(o2, F.col("o1.lo") == F.col("o2.lo")).filter(
        (F.col("o1.dhi") < F.col("o2.dhi"))
        | (
            (F.col("o1.dhi") == F.col("o2.dhi"))
            & (F.col("o1.hi") < F.col("o2.hi"))
        )
    )
    closure = oriented.select(
        F.col("lo").alias("b"), F.col("hi").alias("c")
    )
    return (
        wedges.select(
            F.col("o1.lo").alias("a"),
            F.col("o1.hi").alias("b"),
            F.col("o2.hi").alias("c"),
        )
        .join(closure, ["b", "c"])
        .select("a", "b", "c")
    )


def label_propagation(
    edges: DataFrame,
    *,
    n_iter: int = 5,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Synchronous label propagation (community detection). Returns
    ``(node, label)`` after ``n_iter`` rounds.

    Every node starts labeled with its own id; each round, every node
    simultaneously adopts the most frequent label among its neighbors,
    ties broken by the SMALLEST label — fully deterministic, so the
    result is engine-reproducible (the async/randomized LPA variants
    are not). Isolated nodes never appear (edges define the node set).

    Scale shape per round: labels ⋈ edges on the neighbor key, then two
    partial-agg reductions — ``(node, label)`` counts, then per-node
    argmax via ``max(struct(count, -label))`` which keeps the whole
    round map-reduce shaped (no per-node window sort). O(edges) shuffle
    per round; lineage truncated every round like :func:`pagerank`.
    """
    from mission_data_pipeline_spark.operators.lineage import query_truncator

    trunc = query_truncator()
    if n_iter < 1:
        raise ValueError("label_propagation needs n_iter >= 1")
    e = edges.select(
        F.col(src_col).alias("u"), F.col(dst_col).alias("v")
    ).filter(F.col("u") != F.col("v"))
    und = e.unionByName(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).distinct()
    und = trunc(und)
    labels = und.select(F.col("u").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    for _ in range(n_iter):
        nbr = und.join(
            labels.select(
                F.col("node").alias("v"), F.col("label").alias("nlabel")
            ),
            "v",
        ).select(F.col("u").alias("node"), F.col("nlabel").alias("label"))
        counts = nbr.groupBy("node", "label").agg(F.count("*").alias("cnt"))
        labels = counts.groupBy("node").agg(
            F.max(
                F.struct(F.col("cnt"), (-F.col("label")).alias("neg"))
            ).alias("m")
        ).select("node", (-F.col("m.neg")).alias("label"))
        labels = trunc(labels)
    return labels
