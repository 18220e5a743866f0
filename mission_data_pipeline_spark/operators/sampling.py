"""Deterministic sampling for corpus curation — SURVEY §2.11 X-ops.

Training-data curation needs *reproducible* samples: the same corpus,
seed, and parameters must select the same rows on any cluster layout,
which rules out partition-order-dependent ``df.sample``. Both operators
here key off a seeded md5 of caller-named key columns, so membership is
a pure function of row content (and expressible in the DuckDB oracle).

- :func:`hash_sample` — keep rows whose seeded 32-bit hash bucket falls
  below the target fraction. Map-side filter only: no shuffle, no sort,
  scales to any corpus size; the fraction is approximate (binomial
  around the target) exactly like Bernoulli sampling.
- :func:`stratified_sample` — exact n per stratum: rank rows inside
  each stratum by seeded hash and keep the first n. One shuffle on the
  strata columns + a per-stratum top-n sort; for gigantic strata
  prefer :func:`hash_sample` per stratum (two-pass: count strata, pick
  per-stratum fractions) — exact-n requires a per-stratum order by
  construction.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _seeded_hash(key_cols: list[str], seed: int) -> Column:
    """32-bit uniform bucket from a seeded md5 over the key columns."""
    tag = F.md5(
        F.concat_ws(
            "|", F.lit(str(seed)), *[F.col(c).cast("string") for c in key_cols]
        )
    )
    return F.conv(F.substring(tag, 1, 8), 16, 10).cast("long")


def hash_sample(
    df: DataFrame, fraction: float, *, key_cols: list[str], seed: int = 0
) -> DataFrame:
    """Reproducible ~``fraction`` sample, map-side only (no shuffle)."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0, 1], got {fraction}")
    threshold = int(fraction * (1 << 32))
    return df.filter(_seeded_hash(key_cols, seed) < F.lit(threshold))


def stratified_sample(
    df: DataFrame,
    n_per_stratum: int,
    *,
    strata_cols: list[str],
    key_cols: list[str],
    seed: int = 0,
) -> DataFrame:
    """Exactly ``min(n, |stratum|)`` rows per stratum, seeded-hash ranked.

    The hash order makes the pick uniform within each stratum and
    independent of physical row order; ``key_cols`` breaks hash ties so
    the result is total-order deterministic.
    """
    if n_per_stratum < 1:
        raise ValueError(f"n_per_stratum must be >= 1, got {n_per_stratum}")
    w = Window.partitionBy(*strata_cols).orderBy(
        _seeded_hash(key_cols, seed), *[F.col(c) for c in key_cols]
    )
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= n_per_stratum)
        .drop("__rk")
    )


def mixture_sample(
    df: DataFrame,
    targets: dict[str, float],
    *,
    group_col: str,
    key_cols: list[str],
    seed: int = 0,
) -> DataFrame:
    """Downsample groups to a target mixture (domain/language balancing).

    ``targets`` maps group value -> desired share of the output (only
    the ratios matter; they need not sum to 1). The operator finds the
    largest output size that honors the mixture without oversampling
    any group — ``T = min_g(m_g / w_g)`` where ``m_g`` is the group's
    current row count — then keeps each group at rate ``w_g * T / m_g``
    with the same seeded-hash gate as :func:`hash_sample`. The binding (scarcest
    relative to its target) group is kept whole. Groups absent from
    ``targets`` are dropped.

    Scale shape: one aggregation over ``group_col`` (tiny result), the
    per-group rates broadcast back, and the gate is a map-side filter —
    the corpus itself never shuffles.
    """
    if not targets:
        raise ValueError("mixture_sample needs at least one target share")
    if any(w <= 0 for w in targets.values()):
        raise ValueError("target shares must all be > 0")
    mapping = F.create_map(
        *[F.lit(x) for kv in targets.items() for x in kv]
    )
    masses = (
        df.groupBy(group_col)
        .agg(F.count("*").cast("double").alias("__m"))
        .withColumn("__w", mapping[F.col(group_col)].cast("double"))
        .filter(F.col("__w").isNotNull())
    )
    tmax = masses.agg(F.min(F.col("__m") / F.col("__w")).alias("__T"))
    rates = masses.crossJoin(F.broadcast(tmax)).select(
        group_col,
        (F.col("__w") * F.col("__T") / F.col("__m")).alias("__rate"),
    )
    gated = df.join(F.broadcast(rates), group_col)
    # floor, not round: Spark's double->long cast truncates while DuckDB's
    # rounds, so only an explicit floor keeps the oracle bit-identical
    threshold = F.floor(F.col("__rate") * F.lit(float(1 << 32)))
    return gated.filter(_seeded_hash(key_cols, seed) < threshold).drop("__rate")


def temperature_sample(
    df: DataFrame,
    alpha: float,
    *,
    group_col: str,
    key_cols: list[str],
    seed: int = 0,
    round_digits: int = 9,
) -> DataFrame:
    """Temperature-flattened natural mixture (the multilingual-LM
    sampling scheme: target share of group g is proportional to
    ``m_g ** alpha``, e.g. alpha=0.3 in published multilingual-BERT /
    XLM-R recipes). Group g is kept at rate
    ``(m_min / m_g) ** (1 - alpha)``: alpha=1 keeps the natural
    mixture (all rates 1), alpha=0 equalizes every group's mass down
    to the smallest, in between flattens heads toward tails. Heads are
    downsampled, the scarcest group is kept whole — never oversampled.

    Same scale shape as :func:`mixture_sample`: one tiny group
    aggregation, rates broadcast back, map-side seeded-hash gate — the
    corpus never shuffles. The rate is rounded to ``round_digits``
    before gating so the threshold is reproducible across engines
    (pow() last-ulp differences between libm implementations).
    """
    if not 0.0 <= alpha <= 1.0:
        raise ValueError(f"alpha must be in [0, 1], got {alpha}")
    masses = df.groupBy(group_col).agg(F.count("*").cast("double").alias("__m"))
    mmin = masses.agg(F.min("__m").alias("__mmin"))
    rates = masses.crossJoin(F.broadcast(mmin)).select(
        group_col,
        F.round(
            F.pow(F.col("__mmin") / F.col("__m"), F.lit(1.0 - alpha)),
            round_digits,
        ).alias("__rate"),
    )
    gated = df.join(F.broadcast(rates), group_col)
    threshold = F.floor(F.col("__rate") * F.lit(float(1 << 32)))
    return gated.filter(_seeded_hash(key_cols, seed) < threshold).drop("__rate")


def split_assign(
    df: DataFrame,
    splits: dict[str, float],
    *,
    key_cols: list[str],
    seed: int = 0,
    out_col: str = "split",
) -> DataFrame:
    """Deterministic train/val/test split assignment: each row lands in
    exactly one named split, chosen by its seeded hash bucket against
    cumulative share thresholds. Disjointness and exhaustiveness are
    structural (one CASE over one hash), membership is a pure function
    of row content + seed — re-running on any cluster layout, or on a
    re-partitioned copy of the corpus, reproduces the same assignment
    (the property train/test leakage audits depend on).

    Map-side projection only — no shuffle at any corpus size. Shares
    are normalized to sum to 1, so ``{"train": 8, "val": 1, "test": 1}``
    means 80/10/10.
    """
    if len(splits) < 2:
        raise ValueError("split_assign needs at least two splits")
    if any(w <= 0 for w in splits.values()):
        raise ValueError("split shares must all be > 0")
    total = float(sum(splits.values()))
    bucket = _seeded_hash(key_cols, seed)
    expr = None
    acc = 0.0
    names = sorted(splits)  # deterministic threshold order
    for name in names[:-1]:
        acc += splits[name] / total
        threshold = int(acc * (1 << 32))
        cond = bucket < F.lit(threshold)
        expr = (
            F.when(cond, F.lit(name))
            if expr is None
            else expr.when(cond, F.lit(name))
        )
    return df.withColumn(out_col, expr.otherwise(F.lit(names[-1])))


def weighted_sample(
    df: DataFrame,
    n: int,
    *,
    weight_col: str,
    key_cols: list[str],
    seed: int = 0,
    round_digits: int = 12,
) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis & Spirakis
    2006 exponential-keys scheme): each row draws a reproducible
    uniform ``u`` from its seeded hash and ranks by ``u ** (1/w)``;
    the top ``n`` keys are a weighted sample without replacement —
    e.g. sampling documents proportional to token count so the sample's
    token mass, not its document count, matches the corpus.

    Scale shape: the key is a map-side expression; selection is
    ``orderBy(key).limit(n)``, which Catalyst executes as
    TakeOrderedAndProject — each partition keeps its local top-n and
    only n-row candidate sets merge, never a global sort or a
    single-partition window. The key is rounded (pow() last-ulp
    differences between engines) and ties break on ``key_cols``, so
    the selected set is a pure function of the corpus.
    """
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    u = (_seeded_hash(key_cols, seed) + 1).cast("double") / F.lit(float(1 << 32))
    key = F.round(
        F.pow(u, F.lit(1.0) / F.col(weight_col).cast("double")), round_digits
    )
    return (
        df.filter(F.col(weight_col).cast("double") > 0)
        .withColumn("__es_key", key)
        .orderBy(F.desc("__es_key"), *[F.col(c) for c in key_cols])
        .limit(n)
        .drop("__es_key")
    )


def leakage_safe_split(
    df: DataFrame,
    pairs: DataFrame,
    splits: dict[str, float],
    *,
    key_col: str = "doc_id",
    id_a: str = "doc_a",
    id_b: str = "doc_b",
    seed: int = 0,
    out_col: str = "split",
) -> DataFrame:
    """Train/val/test assignment with NO near-duplicate leakage across
    splits: the unit of assignment is the duplicate CLUSTER, not the
    document. A benchmark-grade eval split is worthless if a near-copy
    of a test document sits in train — per-document hash splitting
    (:func:`split_assign`) guarantees exactly that failure whenever the
    corpus has near-dups, because two near-identical documents hash
    independently.

    ``pairs`` is the verified near-dup pair set (MinHash/SimHash +
    Jaccard verification output). Documents are closed into connected
    components (``operators/dedup.py:connected_components``), every
    document inherits its component's minimum id (singletons: their own
    id), and the seeded split hash is computed over THAT group key — so
    an entire cluster lands in one split, and membership remains a pure
    function of corpus content + seed (cluster-layout independent,
    re-run reproducible).

    Cost: the components fixpoint is pair-graph-sized (near-dup graphs
    are a small fraction of the corpus); the assignment itself is the
    same one-hash map-side CASE as :func:`split_assign` after one
    left join against the component map.
    """
    from mission_data_pipeline_spark.operators.dedup import (
        connected_components,
    )

    comps = connected_components(pairs, id_a=id_a, id_b=id_b)
    grouped = (
        df.join(comps, df[key_col] == comps.node, "left")
        .drop("node")
        .withColumn(
            "__split_group",
            F.coalesce(F.col("component_id"), F.col(key_col)).cast("string"),
        )
        .drop("component_id")
    )
    return split_assign(
        grouped,
        splits,
        key_cols=["__split_group"],
        seed=seed,
        out_col=out_col,
    ).drop("__split_group")


def _hashed_gram_buckets(
    docs: DataFrame,
    *,
    buckets: int,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """(doc_id, bucket) per unigram+bigram occurrence — DSIR's hashed
    bag-of-ngrams featurization. The bucket hash is md5's first 32 bits,
    exactly replayable in the DuckDB oracle (any uniform hash gives DSIR
    the same distributional semantics)."""
    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    staged = docs.select(F.col(id_col).alias("doc_id"), toks.alias("__t"))
    # Stage the token array before HOF lambdas reference it (interpreted
    # lambdas re-evaluate captured expressions per element).
    unis = F.filter("__t", lambda t: F.length(t) > 0)
    bis = F.when(
        F.size("__t") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size("__t") - 1),
            lambda i: F.concat_ws(
                " ", F.element_at("__t", i), F.element_at("__t", i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    grams = staged.select(
        "doc_id", F.explode(F.concat(unis, bis)).alias("gram")
    )
    h = F.conv(F.substring(F.md5("gram"), 1, 8), 16, 10).cast("long")
    return grams.select("doc_id", F.pmod(h, F.lit(buckets)).alias("bucket"))


def dsir_select(
    raw: DataFrame,
    target: DataFrame,
    n: int,
    *,
    buckets: int = 4096,
    alpha: float = 1.0,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: int = 0,
) -> DataFrame:
    """Data Selection via Importance Resampling (DSIR, Xie et al. 2023):
    pick the ``n`` raw-corpus documents whose hashed-ngram distribution
    looks most like the ``target`` corpus, with Gumbel-noise resampling
    so the selection is a sample from the importance weights rather
    than a hard argmax. Returns the selected rows:
    ``(doc_id, n_grams, logw, sel_key)``, ``sel_key`` descending.

    Construction (all public, from the paper):
    - featurize both corpora as hashed unigram+bigram bags into
      ``buckets`` buckets;
    - fit two add-``alpha``-smoothed categorical distributions p̂_target
      and q̂_raw over the buckets (two partial-agg shuffles over the
      gram tables; the fitted tables are ≤ ``buckets`` rows);
    - per-doc importance weight ``log w = Σ_grams (ln p̂_t[b] − ln
      q̂_r[b])`` via a broadcast join of the tiny log-ratio table onto
      the exploded gram table and one doc-keyed partial agg;
    - Gumbel-top-n: ``sel_key = logw + Gumbel(seeded md5 uniform)`` and
      TakeOrderedAndProject keeps the per-partition top-n — no global
      sort, no single-partition window.

    Determinism engineering (the perturb sweep's contract): each
    per-bucket log-ratio is rounded to 9 decimals then accumulated as
    DECIMAL(20,9) — commutative-exact, layout-invariant — and cast back
    via STRING (the repo's exact decimal→double convention). At 100 TB
    everything that touches the corpus is map-side expression work plus
    two gram-keyed partial aggs; only the O(buckets) model broadcasts.

    The raw-corpus gram table and the O(buckets) count table are
    materialized once (:func:`operators.lineage.query_truncator`): each
    feeds two consumer subtrees that exchange reuse cannot deduplicate,
    so unmaterialized the raw featurization runs twice and the target
    featurization re-runs per consumer.
    """
    from mission_data_pipeline_spark.operators.lineage import query_truncator

    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    if buckets < 2:
        raise ValueError(f"buckets must be >= 2, got {buckets}")
    kw = dict(buckets=buckets, text_col=text_col, id_col=id_col)
    trunc = query_truncator()
    # raw_grams feeds BOTH the q̂_raw bucket counts and the per-doc
    # scoring join through different subtrees (one has a partial agg
    # below its exchange), so exchange reuse cannot deduplicate them —
    # unmaterialized, the regex tokenize + explode + hash featurization
    # of the RAW CORPUS runs twice per action.
    raw_grams = trunc(_hashed_gram_buckets(raw, **kw))
    tgt_grams = _hashed_gram_buckets(target, **kw)
    rc = raw_grams.groupBy("bucket").agg(F.count("*").alias("cr"))
    tc = tgt_grams.groupBy("bucket").agg(F.count("*").alias("ct"))
    counts = (
        rc.join(tc, "bucket", "full")
        .select(
            "bucket",
            F.coalesce("cr", F.lit(0)).alias("cr"),
            F.coalesce("ct", F.lit(0)).alias("ct"),
        )
    )
    # counts (≤ buckets rows) feeds both the corpus totals and the
    # log-ratio model; truncating it stops the TARGET featurization +
    # both bucket aggs from re-running in each consumer subtree.
    counts = trunc(counts)
    tot = counts.agg(
        F.sum("cr").alias("totr"), F.sum("ct").alias("tott")
    )
    a, b = float(alpha), float(buckets)
    model = counts.crossJoin(F.broadcast(tot)).select(
        "bucket",
        F.round(
            F.log((F.col("ct") + a) / (F.col("tott") + a * b))
            - F.log((F.col("cr") + a) / (F.col("totr") + a * b)),
            9,
        ).alias("lr"),
    )
    scored = (
        raw_grams.join(F.broadcast(model), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.round(
                F.sum(F.col("lr").cast("decimal(20,9)"))
                .cast("string")
                .cast("double"),
                6,
            ).alias("logw"),
        )
    )
    # +0.5 keeps u strictly inside (0,1): u=1 would hit ln(0), whose
    # result differs across engines (Spark NULL vs DuckDB -inf).
    u = (_seeded_hash(["doc_id"], seed) + F.lit(0.5)).cast(
        "double"
    ) / F.lit(float(1 << 32))
    gumbel = F.round(-F.log(-F.log(u)), 9)
    return (
        scored.withColumn("sel_key", F.round(F.col("logw") + gumbel, 6))
        .orderBy(F.desc("sel_key"), "doc_id")
        .limit(n)
    )


def domain_cap(
    docs: DataFrame,
    *,
    cap: int,
    domain_col: str = "source",
    quality_col: str | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-domain document cap — the RefinedWeb/FineWeb anti-monoculture
    rule: no single domain may contribute more than ``cap`` documents,
    keeping each domain's BEST ``cap`` by ``quality_col`` (ties, and the
    no-quality case, break toward the smallest ``id_col`` — crawl order).
    Returns the surviving rows plus ``domain_rank`` (1-based within the
    domain).

    Scale shape: one shuffle on the domain column and a per-domain
    top-``cap`` window — rank windows partition by domain, so no global
    sort and no single-task funnel. A power-law mega-domain (the usual
    skew suspect) is exactly what AQE's skew-join/partition splitting
    handles; at 100 TB pre-aggregate candidates map-side by filtering on
    a cheap quality floor first so the window input is the plausible
    survivors, not the whole crawl.
    """
    order = (
        [F.desc(quality_col), F.asc(id_col)]
        if quality_col is not None
        else [F.asc(id_col)]
    )
    w = Window.partitionBy(domain_col).orderBy(*order)
    return (
        docs.withColumn("domain_rank", F.row_number().over(w))
        .filter(F.col("domain_rank") <= cap)
    )


def budget_select(
    docs: DataFrame,
    *,
    budget: int,
    weight_col: str,
    quality_col: str,
    id_col: str = "doc_id",
    num_partitions: int | None = None,
) -> DataFrame:
    """Select the highest-quality documents until a corpus budget is
    exhausted — "take the best N tokens", the final step of a curation
    pipeline with a fixed training-token target (e.g. FineWeb-Edu's
    score-ranked selection). Documents are ordered by
    (``quality_col`` DESC, ``id_col`` ASC — a total order) and kept
    while the running sum of ``weight_col`` stays ≤ ``budget``.
    Returns (id, quality, weight, ``cum_weight``).

    A single ``SUM() OVER (ORDER BY ...)`` window is the textbook
    construction and a single-task funnel: an unpartitioned window
    pulls the whole corpus through one executor. This is the
    DISTRIBUTED prefix sum instead:

    1. ``repartitionByRange`` on the selection order — globally ordered
       partitions, each locally sortable;
    2. lineage-truncate the ranged frame
       (:func:`operators.lineage.query_truncator`) so the two passes
       below read the SAME materialized partitioning — range sampling
       is not guaranteed stable across recomputes;
    3. pass 1: per-partition weight totals (``num_partitions`` rows to
       the driver) → exclusive prefix offsets, broadcast back;
    4. pass 2: per-partition cumulative window (partitioned by the
       range partition id — 1 task per partition, JVM-side) + offset,
       then the budget filter.

    The kept SET is layout-invariant: the order is total (quality ties
    broken by id), so each row's global running sum is independent of
    where the range boundaries land.
    """
    spark = docs.sparkSession
    from mission_data_pipeline_spark.operators.lineage import query_truncator

    n = num_partitions or spark.sparkContext.defaultParallelism
    ranged = query_truncator()(
        docs.select(
            F.col(id_col),
            F.col(quality_col),
            F.col(weight_col).cast("long").alias(weight_col),
        )
        .repartitionByRange(n, F.desc(quality_col), F.asc(id_col))
        .withColumn("__pid", F.spark_partition_id())
    )
    per = ranged.groupBy("__pid").agg(
        F.sum(weight_col).alias("__w")
    ).collect()  # bounded: one row per partition
    offs, acc = [], 0
    for r in sorted(per, key=lambda r: r["__pid"]):
        offs.append((r["__pid"], acc))
        acc += r["__w"] or 0
    off_df = spark.createDataFrame(offs, "__pid int, __off long")
    w = (
        Window.partitionBy("__pid")
        .orderBy(F.desc(quality_col), F.asc(id_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        ranged.join(F.broadcast(off_df), "__pid")
        .withColumn(
            "cum_weight", F.sum(weight_col).over(w) + F.col("__off")
        )
        .filter(F.col("cum_weight") <= budget)
        .drop("__pid", "__off")
    )


def unimax_allocate(
    counts: list[tuple[str, int]],
    budget: int,
    *,
    epochs_num: int = 1,
    epochs_den: int = 1,
) -> dict[str, int]:
    """UniMax budget allocation (Chung et al. 2023) in exact integer
    arithmetic: distribute ``budget`` documents across groups (languages)
    as uniformly as possible, capping each group at
    ``floor(counts * epochs_num / epochs_den)`` — low-resource groups
    saturate at their cap, the rest share the remainder equally
    (water-filling).

    Closed form, no iteration: sort ascending by (cap, group); with
    prefix sums ``P`` over caps and ``L`` groups, group ``i`` saturates
    iff ``cap_i * (L - i + 1) <= budget - P_{i-1}`` — the predicate is
    monotone under the ascending order, so the saturated set is a
    prefix ``s`` and every unsaturated group gets the same waterline
    floor ``(budget - P_s) // (L - s)``. All-integer, so the SQL-oracle
    replay is exact on any engine (no float division at the knife
    edge). Floor remainders (< L docs) are deliberately NOT
    redistributed — allocation is a pure function of the sorted caps.
    """
    if budget < 0:
        raise ValueError(f"budget must be >= 0, got {budget}")
    if epochs_num < 0 or epochs_den <= 0:
        raise ValueError("epochs ratio must be >= 0 with a positive denominator")
    caps = sorted(
        ((cnt * epochs_num) // epochs_den, grp) for grp, cnt in counts
    )
    total_groups = len(caps)
    prefix = 0
    saturated_sum = 0
    saturated_n = 0
    for i, (cap, _grp) in enumerate(caps, start=1):
        if cap * (total_groups - i + 1) <= budget - prefix:
            saturated_sum += cap
            saturated_n += 1
        prefix += cap
    base = (
        (budget - saturated_sum) // (total_groups - saturated_n)
        if saturated_n < total_groups
        else 0
    )
    return {
        grp: (cap if i <= saturated_n else base)
        for i, (cap, grp) in enumerate(caps, start=1)
    }


def unimax_sample(
    docs: DataFrame,
    *,
    budget: int,
    epochs_num: int = 1,
    epochs_den: int = 1,
    lang_col: str = "lang",
    id_col: str = "doc_id",
    seed: int = 0,
) -> DataFrame:
    """UniMax language-balanced corpus sampling: allocate ``budget``
    documents across languages with :func:`unimax_allocate` (each
    language capped at ``epochs_num/epochs_den`` passes over its own
    corpus), then keep each language's first ``alloc`` documents under
    the seeded-hash total order (ties toward smallest ``id_col``).
    Returns the kept rows plus ``lang_rank`` (1-based within language)
    and ``lang_alloc``.

    Selection is without replacement, so a language never yields more
    than its corpus size even when ``epochs > 1`` raises its cap.
    Rows with a NULL ``lang_col`` are excluded from the mixture (the
    allocation join is an equi-join): unlabeled text is not a language
    — run language ID first.

    Scale shape: per-language counts are one partial-agg shuffle with a
    bounded collect (one row per language); the allocation table is
    broadcast back; selection is a per-language rank window (one
    shuffle on ``lang_col``, no global sort). Membership is a pure
    function of row content + seed — layout-invariant by construction.
    """
    spark = docs.sparkSession
    counts = [
        (r[lang_col], r["count"])
        for r in docs.groupBy(lang_col).count().collect()
        # NULL is not a language: drop it here, BEFORE the allocation
        # sort (a None key would TypeError against the string groups)
        # — matching the equi-join exclusion documented above.
        if r[lang_col] is not None
    ]  # bounded: one row per language
    alloc = unimax_allocate(
        counts, budget, epochs_num=epochs_num, epochs_den=epochs_den
    )
    alloc_df = spark.createDataFrame(
        sorted(alloc.items()), f"{lang_col} string, lang_alloc bigint"
    )
    w = Window.partitionBy(lang_col).orderBy(
        _seeded_hash([id_col], seed), F.asc(id_col)
    )
    return (
        docs.withColumn("lang_rank", F.row_number().over(w))
        .join(F.broadcast(alloc_df), lang_col)
        .filter(F.col("lang_rank") <= F.col("lang_alloc"))
    )
