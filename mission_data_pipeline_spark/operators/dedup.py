"""Document deduplication operators — SURVEY §2.11 X1/X2.

Training-data dedup at 100 TB, three strategies (each also declared as
an oracle-checked query in ``plans/queries.py``; SimHash is declared
there as SQL only):

- exact: content-hash groupBy (one shuffle on a 64-bit key);
- MinHash + LSH banding: shingle → per-seed min-hash → band → bucket
  join — candidate pairs WITHOUT a cross join (the classic
  Broder/LSH construction; cost is #collisions, not n²);
- n-gram Jaccard verification for candidate pairs (exact similarity on
  the *small* candidate set only).

Everything is JVM-side expression work (md5/xxhash64, explode,
groupBy) — no Python UDFs, so the constructions survive whole-stage
codegen and AQE handles skewed buckets (a viral duplicated doc salts
into many LSH bands by construction).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

from mission_data_pipeline_spark.core.observe import _row_or_none

# -- exact --------------------------------------------------------------


def exact_dedup(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """X1: keep one representative (min id) per exact text hash."""
    h = F.xxhash64(F.col(text_col))
    w = Window.partitionBy("__h").orderBy(F.col(id_col))
    return (
        docs.withColumn("__h", h)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__h", "__rn")
    )


# -- shingles / MinHash -------------------------------------------------


def word_ngrams(text_col: "F.Column | str", n: int) -> "F.Column":
    """Array of space-joined word n-grams of lowercased ``text_col``.

    A doc with fewer than ``n`` tokens yields one shorter gram (its whole
    token run); an empty doc yields an empty-string gram the callers
    filter out. Pure expression — shared by shingling, repetition
    signals, and decontamination so every consumer (and its SQL oracle)
    agrees on tokenization.

    Implementation: one JVM regex pass, not a higher-order transform.
    The text is whitespace-normalized once, then every token start is
    matched with a zero-width ``(?<= )(?=(tok tok ...))`` lookaround —
    the capture grabs the n-gram without consuming it, so grams overlap
    correctly. This stays entirely in codegen'd JVM expressions;
    the previous interpreted per-position ``transform`` lambda (slice +
    concat per gram) measured 2.7-6x slower at sf1 even after the
    O(tokens²) rebind fix. The short-doc fallback binds the match array
    once through a single-element ``transform`` so the regex runs once,
    not twice (captured exprs re-evaluate per lambda element).
    """
    col = F.col(text_col) if isinstance(text_col, str) else text_col
    norm = F.regexp_replace(F.lower(col), r"\s+", " ")
    pat = r"(?<= )(?=(\S+" + r" \S+" * (n - 1) + r"))"
    full = F.regexp_extract_all(F.concat(F.lit(" "), norm), F.lit(pat), 1)
    return F.transform(
        F.array(full),
        lambda g: F.when(F.size(g) > 0, g).otherwise(
            F.array(F.trim(norm))  # <n tokens: one whole-run gram
        ),
    )[0]


def shingles(docs: DataFrame, *, n: int = 3, text_col: str = "text",
             id_col: str = "doc_id", hash_grams: bool = False) -> DataFrame:
    """Word n-gram shingle set per doc: (id, gram), distinct.

    ``hash_grams=True`` replaces the gram STRING with its xxhash64
    (a long) BEFORE the distinct — the production MinHash shape: every
    downstream shuffle (the distinct here, the Jaccard-verify gram
    joins) then moves 8-byte keys instead of ~n-word strings, a 3-5×
    byte cut on the dominant near-dedup exchanges at corpus scale.
    Jaccard over hashed shingles equals Jaccard over shingles up to
    64-bit collisions (expected extra intersections ~ |grams|²/2^65 —
    immaterial below ~10^9 distinct grams). Minhash values differ from
    the string-gram construction (they hash the hash), so the two
    modes are internally consistent but not mixable within one index;
    the stored-index layer records and validates the mode
    (``params.json``, ADVICE r12). This low-level function keeps the
    string default because it is the SQL-replayable construction every
    DuckDB oracle twin mirrors; the production index/ingest entry
    points (:func:`write_near_dedup_index`,
    :func:`incremental_near_dedup`, streaming
    ``near_dedup_ingest_stream``) default to hashed — the r13 A/B at
    500k docs measured 2.1× faster candidates and half the shuffle
    read at equal survivors."""
    grams = word_ngrams(text_col, n)
    # array_distinct BEFORE the explode (ADVICE r12): a doc's grams all
    # live in its one pre-explode row, so deduping the gram ARRAY in a
    # codegen'd expression removes every duplicate occurrence doc-locally
    # — repeated boilerplate in repetition-heavy docs never materializes
    # as rows, and never crosses the doc_id exchange below. The trailing
    # .distinct() is then only folding duplicate doc_id rows / 64-bit
    # gram-hash collisions, not per-doc repetition.
    exploded = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array_distinct(grams)).alias("gram"),
    ).filter(F.length("gram") > 0)
    if hash_grams:
        exploded = exploded.select("doc_id", F.xxhash64("gram").alias("gram"))
    # Partition by doc_id BEFORE the distinct — the one exchange the
    # whole featurization needs. A bare .distinct() would hash-partition
    # on (doc_id, gram), scattering every doc across all partitions; the
    # downstream minhash partial aggregate (groupBy doc_id[, seed]) then
    # emits ~docs×seeds rows PER PARTITION (measured as a 2.5B-row /
    # ~60 GB shuffle at 5M docs, sfx100 probe r12). Hash-partitioning on
    # doc_id satisfies ClusteredDistribution for BOTH the (doc_id, gram)
    # dedup and every doc-keyed aggregate after it, so dedup and minhash
    # run doc-local with zero further exchanges. Per-partition skew is
    # bounded by the largest single document's gram set.
    return exploded.repartition(F.col("doc_id")).distinct()


def minhash_signatures(
    grams: DataFrame, *, num_hashes: int = 16
) -> DataFrame:
    """(doc_id, seed, minhash): per-seed minimum of a seeded 48-bit hash.

    Seeding by string concat keeps the whole construction in JVM
    expressions; 48 bits of md5 is plenty for min-of-set uniqueness.
    """
    seeds = F.explode(F.sequence(F.lit(0), F.lit(num_hashes - 1))).alias("seed")
    hashed = grams.select("doc_id", "gram", seeds).select(
        "doc_id",
        "seed",
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":",
                        F.col("seed").cast("string"),
                        # explicit cast: grams may be hashed longs
                        # (shingles(hash_grams=True)) or strings
                        F.col("gram").cast("string"),
                    )
                ),
                1,
                12,
            ),
            16,
            10,
        )
        .cast("long")
        .alias("h"),
    )
    return hashed.groupBy("doc_id", "seed").agg(F.min("h").alias("minhash"))


def lsh_candidate_pairs(
    signatures: DataFrame,
    *,
    bands: int = 4,
    max_bucket: "int | None" = None,
    max_bucket_reps: int = 1,
) -> DataFrame:
    """Band the signature and bucket-join: (doc_a, doc_b) candidates.

    Docs agreeing on ALL rows of any band collide. The join key is
    (band, band_hash) — shuffle is proportional to collisions, never n².
    ``max_bucket`` caps per-bucket pair generation and
    ``max_bucket_reps`` dials over-cap recall (see
    :func:`lsh_pairs_from_bands`).
    """
    return lsh_pairs_from_bands(
        band_signatures(signatures, bands=bands),
        max_bucket=max_bucket,
        max_bucket_reps=max_bucket_reps,
    )


def _all_pairs(banded: DataFrame) -> DataFrame:
    a = banded.alias("a")
    b = banded.alias("b")
    return a.join(
        b,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.band_hash") == F.col("b.band_hash"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
    )


def lsh_pairs_from_bands(
    banded: DataFrame,
    *,
    max_bucket: "int | None" = None,
    max_bucket_reps: int = 1,
) -> DataFrame:
    """Candidate pairs from an ALREADY-banded signature table
    (:func:`band_signatures` layout) — the shared building block for
    callers that reuse one featurization across several passes (e.g.
    the streaming ingest gate runs intra-batch dedup AND the stored-
    index probe on the same batch; featurizing twice doubles the
    per-batch cost for identical results).

    ``max_bucket`` is the at-scale guard against GIANT buckets: one
    boilerplate band signature shared by m documents yields m(m-1)/2
    candidates (m = 1M → 5·10^11 pair rows) under the all-pairs
    bucket join — the classic production near-dedup blowup, and the
    one shape where "shuffle ∝ collisions" stops being a comfort.
    With ``max_bucket = k``, buckets larger than k switch to STAR
    topology: each member pairs only with the bucket's min-id
    representative, O(m) rows.

    RECALL TRADE-OFF (quantified; not a lossless rewrite): for a
    bucket of exact/near-identical docs — the common cause of giant
    buckets — clusters come out identical, because every member
    verifies against the representative and dedup links through the
    min id anyway. But a band agreement certifies only that band's r
    minhash minima, so an over-cap bucket CAN mix docs that are not
    near-dups of the representative; a genuine near-dup pair between
    two NON-representative members is then forgone unless the pair
    also collides in another, smaller bucket. Within a single band
    that loss is total — the planted borderline bucket in
    ``tests/test_dedup_similarity.py`` measures 0/10 such pairs found
    capped vs 10/10 uncapped — and recovery comes from the other
    bands: a pair at Jaccard J shares a full band of minima with
    probability J^r per band, so it stays confined to the giant
    bucket with probability ~(1 - J^r)^(bands-1) (defaults r=4,
    bands=4: ≈ 21% at J = 0.8 falling to < 1% at J = 0.95; the
    companion multi-band test pins the recovered/confined split
    exactly). Use uncapped pairing where borderline-threshold recall
    is contractual; at production scale the cap is what keeps one
    viral page from quadraticing the shuffle — per-bucket cost
    becomes min(m², m·k)/2 pair rows and total output stays linear
    in the corpus for any fixed cap.

    ``max_bucket_reps`` is the recall dial between pure star and
    all-pairs for over-cap buckets: with reps = p, the bucket's p
    smallest doc_ids all act as representatives — candidates are
    all pairs among the reps plus every remaining member × every rep
    (≈ m·p rows per bucket, still linear for fixed p). A borderline
    pair is then found whenever EITHER member ranks among the bucket's
    p smallest ids, so single-band recall on mixed buckets grows with
    p (the planted-bucket test measures 0/10 at p=1, 2/10 at p=5,
    10/10 once p covers the bucket) at proportional candidate cost.
    Default 1 = the classic min-id star."""
    if max_bucket is None:
        return _all_pairs(banded).distinct()
    if max_bucket < 2:
        raise ValueError(f"max_bucket must be >= 2, got {max_bucket}")
    if max_bucket_reps < 1:
        raise ValueError(
            f"max_bucket_reps must be >= 1, got {max_bucket_reps}"
        )
    if max_bucket_reps == 1:
        # classic star: min-id representative via a plain aggregate —
        # no per-row rank needed
        sized = banded.groupBy("band", "band_hash").agg(
            F.count("*").alias("_n"), F.min("doc_id").alias("_rep")
        )
        keyed = banded.join(sized, ["band", "band_hash"])
        small = keyed.filter(F.col("_n") <= max_bucket).select(
            "doc_id", "band", "band_hash"
        )
        star = (
            keyed.filter(
                (F.col("_n") > max_bucket)
                & (F.col("doc_id") != F.col("_rep"))
            )
            .select(
                F.col("_rep").alias("doc_a"), F.col("doc_id").alias("doc_b")
            )
        )
        return _all_pairs(small).unionByName(star).distinct()
    # multi-rep star: rank members within their bucket (window is
    # partitioned by the bucket key — the same key every join here
    # shuffles on; never a global window), take the p smallest as
    # representatives, pair rep < member.
    w = Window.partitionBy("band", "band_hash").orderBy("doc_id")
    ranked = banded.withColumn("_rn", F.row_number().over(w))
    sized = ranked.groupBy("band", "band_hash").agg(
        F.max("_rn").alias("_n")
    )
    keyed = ranked.join(sized, ["band", "band_hash"])
    small = keyed.filter(F.col("_n") <= max_bucket).select(
        "doc_id", "band", "band_hash"
    )
    big = keyed.filter(F.col("_n") > max_bucket)
    reps = big.filter(F.col("_rn") <= max_bucket_reps).select(
        "band", "band_hash", F.col("doc_id").alias("_rep_id")
    )
    star = (
        big.join(reps, ["band", "band_hash"])
        .filter(F.col("_rep_id") < F.col("doc_id"))
        .select(
            F.col("_rep_id").alias("doc_a"), F.col("doc_id").alias("doc_b")
        )
    )
    return _all_pairs(small).unionByName(star).distinct()


def jaccard_verify(
    pairs: DataFrame, grams: DataFrame, *, threshold: float = 0.8
) -> DataFrame:
    """Exact n-gram Jaccard on the candidate set only → (doc_a, doc_b, jaccard)."""
    ga = grams.select(F.col("doc_id").alias("doc_a"), "gram")
    gb = grams.select(F.col("doc_id").alias("doc_b"), "gram")
    inter = (
        pairs.join(ga, "doc_a")
        .join(gb, ["doc_b", "gram"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_inter"))
    )
    sizes = grams.groupBy("doc_id").agg(F.count("*").alias("n"))
    return (
        inter.join(sizes.withColumnRenamed("doc_id", "doc_a")
                   .withColumnRenamed("n", "n_a"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b")
              .withColumnRenamed("n", "n_b"), "doc_b")
        .withColumn(
            "jaccard",
            F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def near_dedup_minhash(
    docs: DataFrame,
    *,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket: "int | None" = None,
) -> DataFrame:
    """End-to-end near-dup removal: keep docs minus verified duplicates.

    A doc is dropped iff it is the larger id of a verified pair chained
    to a smaller survivor (single-link via min-id representative —
    one iteration is the standard approximation; full connected
    components would iterate to a fixpoint, unnecessary for dedup where
    transitive over-merging only drops a few extra near-dups).

    ``max_bucket`` bounds per-bucket candidate generation against
    boilerplate-driven giant LSH buckets (star topology above the cap
    — see :func:`lsh_pairs_from_bands`); at production corpus sizes
    pass a cap (e.g. 1000) so one viral page can never quadratic the
    shuffle.

    The featurized gram table is materialized once
    (:func:`operators.lineage.query_truncator`): it feeds the
    signature pass AND three sides of the Jaccard verify, whose join
    keys differ (doc_a, (doc_b, gram), doc_id), so exchange reuse
    cannot deduplicate them and an unmaterialized plan re-runs the
    corpus tokenize+hash featurization per reference — measured 7
    parquet scans of the doc table in the executed survivors plan at
    bench scale, 1 after truncation.
    """
    from mission_data_pipeline_spark.operators.lineage import query_truncator

    g = query_truncator()(shingles(docs, n=n, text_col=text_col, id_col=id_col))
    sig = minhash_signatures(g, num_hashes=num_hashes)
    cand = lsh_candidate_pairs(sig, bands=bands, max_bucket=max_bucket)
    dups = (
        jaccard_verify(cand, g, threshold=threshold)
        .select(F.col("doc_b").alias(id_col))
        .distinct()
    )
    return docs.join(dups, on=id_col, how="left_anti")


# -- connected components ----------------------------------------------


def connected_components(
    pairs: DataFrame,
    *,
    id_a: str = "doc_a",
    id_b: str = "doc_b",
    max_iter: int = 20,
) -> DataFrame:
    """Duplicate clusters from candidate pairs: (node, component_id).

    ``component_id`` is the minimum id in each connected component —
    single-link closure over the verified near-dup pair graph, the
    standard cluster step after MinHash/SimHash candidate generation
    (one-iteration min-id chaining, as in :func:`near_dedup_minhash`,
    under-merges transitive chains; this iterates to the fixpoint).

    Min-label propagation with a pointer-jump shortcut: each round
    (a) joins labels to the symmetrized edge list and takes the
    elementwise min, then (b) replaces every label by ITS label
    (``comp := label(comp)`` — path halving), so label information
    travels 2^round hops and chains converge in O(log diameter) rounds
    instead of O(diameter). Lineage is truncated after every round
    (unbounded lineage growth, not data volume, is what kills iterative
    DataFrame jobs at scale), and the per-round changed flag is computed
    INSIDE the checkpointed frame so the convergence check re-reads
    checkpoint blocks instead of re-joining old vs new labels. Near-dup
    graphs are overwhelmingly tiny cliques (diameter ≤ 3), so the loop
    exits on the converged-round check almost immediately; ``max_iter``
    bounds adversarial chains, and a graph that has not converged within
    it raises.

    Truncation goes through :func:`operators.lineage.query_truncator`:
    ``localCheckpoint`` (executor-local blocks — right for local mode,
    NOT fault-tolerant) unless ``$SPARK_GRAFT_CHECKPOINT_DIR`` names a
    reliable dir (HDFS/S3A), in which case executor loss mid-fixpoint
    recovers from the checkpoint files instead of killing the job.
    """
    from mission_data_pipeline_spark.operators.lineage import query_truncator

    trunc = query_truncator()
    e = pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))
    # Checkpoint the symmetrized edge list: it joins against labels in
    # EVERY round, and without a checkpoint each round re-executes the
    # caller's whole pair-generation pipeline (MinHash/SimHash candidate
    # construction — typically far more expensive than the propagation
    # itself). Pair-graph-sized.
    edges = trunc(
        e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b"))).distinct()
    )
    labels = trunc(
        edges.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("comp", F.col("node"))
    )
    # max_iter bounds the *propagation* rounds; one extra round is allowed
    # so a graph that converges exactly at max_iter hops can verify that
    # the fixpoint was reached (that round observes zero changes).
    changed = 0
    for _ in range(max_iter + 1):
        neigh = (
            edges.join(
                labels.select(
                    F.col("node").alias("b"), F.col("comp").alias("nb_comp")
                ),
                "b",
            )
            .groupBy("a")
            .agg(F.min("nb_comp").alias("min_nb"))
        )
        stepped = labels.join(
            neigh.withColumnRenamed("a", "node"), "node", "left"
        ).select(
            "node",
            F.col("comp").alias("old_comp"),
            F.least(F.col("comp"), F.coalesce("min_nb", "comp")).alias("comp"),
        )
        # pointer jump: comp := label(comp). Labels are node ids, so the
        # parent lookup is a self-join on the label table; min-labels
        # only ever decrease, so least() keeps monotonicity.
        new_labels = (
            stepped.join(
                labels.select(
                    F.col("node").alias("comp"),
                    F.col("comp").alias("parent"),
                ),
                "comp",
                "left",
            )
            .select(
                "node",
                F.least(
                    F.col("comp"), F.coalesce("parent", "comp")
                ).alias("comp"),
                (
                    F.least(F.col("comp"), F.coalesce("parent", "comp"))
                    != F.col("old_comp")
                ).alias("__ch"),
            )
        )
        # The changed flag is harvested from the SAME action that
        # materializes the round (observe + non-blocking getRowOrEmpty
        # bridge), so convergence costs one job per round, not two.
        # The count fallback covers a runtime whose checkpoint action
        # bypasses the SQL-execution listener.
        obs = Observation()
        new_labels = trunc(
            new_labels.observe(
                obs, F.sum(F.col("__ch").cast("long")).alias("changed")
            )
        )
        row = _row_or_none(obs)
        if row is None:  # listener delivery is async-in-principle;
            import time as _time  # measured synchronous in practice

            for _ in range(50):
                _time.sleep(0.01)
                row = _row_or_none(obs)
                if row is not None:
                    break
        if row is not None:
            changed = int(row["changed"] or 0)
        else:  # pragma: no cover - listener did not fire at all
            changed = new_labels.filter(F.col("__ch")).limit(1).count()
        labels = new_labels.drop("__ch")
        if changed == 0:
            break
    if changed != 0:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            "(a duplicate chain longer than max_iter hops exists); raise "
            "max_iter — returning intermediate labels would silently split "
            "one real component into several"
        )
    return labels.select("node", F.col("comp").alias("component_id"))


def duplicate_span_fraction(
    docs: DataFrame,
    *,
    n: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact substring duplication per document (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): the
    fraction of a document's ``n``-token spans that also occur verbatim
    in at least one OTHER document — the memorization-risk signal that
    drives substring-level (not whole-document) dedup decisions.
    Returns ``(doc_id, n_grams, n_dup_occurrences, dup_fraction)`` for
    documents with at least one full span.

    Scale shape: one explode to the position-gram table, a gram-keyed
    groupBy for cross-document occurrence counts, and a gram-keyed join
    back — all shuffles proportional to the token table, no pairwise
    comparison anywhere. Both shuffles are keyed on ``xxhash64(gram)``
    so 8-byte keys move instead of ~100-byte gram strings (measured
    ~4x at 10x bench scale); a 64-bit collision could only overcount a
    span as duplicated, never lose one, and the oracle's exact
    string-grouped twin would surface it.

    The call is EAGER — the hashed gram table is truncated through
    :func:`operators.lineage.query_truncator` at call time (a Spark job
    runs before any action on the result; the blocks are executor-local
    unless ``$SPARK_GRAFT_CHECKPOINT_DIR`` names a reliable dir).
    """
    if n < 2:
        raise ValueError(f"n must be >= 2, got {n}")
    # Exclude docs with < n tokens up front (a span shorter than n
    # tokens is not an n-token duplicate): every exploded gram is then
    # full-length — no per-gram re-tokenization to filter stubs.
    # The token array is materialized as its own projection before the
    # gram transform references it: higher-order lambdas evaluate
    # interpreted, so an inline split() would re-tokenize the document
    # once per gram position — O(tokens²) per doc (measured ~8x here).
    toks = F.split(F.lower(F.col(text_col)), r"\s+")
    staged = docs.filter(F.size(toks) >= n).select(
        F.col(id_col).alias("doc_id"), toks.alias("__toks")
    )
    gram_list = F.transform(
        F.sequence(F.lit(0), F.size("__toks") - n),
        lambda i: F.concat_ws(" ", F.slice("__toks", i + 1, n)),
    )
    grams = staged.select(
        "doc_id", F.explode(gram_list).alias("gram")
    ).select("doc_id", F.xxhash64("gram").alias("__gh"))
    # The hashed gram table feeds THREE subtrees (per-doc totals,
    # cross-doc occurrence counts, the dup tag-back join); without
    # truncation each consumer re-runs the n-token concat_ws explode —
    # the most expensive projection in the operator.
    from mission_data_pipeline_spark.operators.lineage import query_truncator

    grams = query_truncator()(grams)
    per_doc = grams.groupBy("doc_id").agg(F.count("*").alias("n_grams"))
    cross = grams.groupBy("__gh").agg(
        F.count_distinct("doc_id").alias("__nd")
    )
    dup = (
        grams.join(cross.filter(F.col("__nd") >= 2), "__gh")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_dup_occurrences"))
    )
    return (
        per_doc.join(dup, "doc_id", "left")
        .select(
            "doc_id",
            "n_grams",
            F.coalesce("n_dup_occurrences", F.lit(0)).alias(
                "n_dup_occurrences"
            ),
            F.round(
                F.coalesce("n_dup_occurrences", F.lit(0))
                / F.col("n_grams").cast("double"),
                6,
            ).alias("dup_fraction"),
        )
    )


def dhash_near_pairs(
    hashes: DataFrame,
    *,
    max_hamming: int = 4,
    id_col: str = "item_id",
    hash_col: str = "dhash",
) -> DataFrame:
    """Near-duplicate IMAGE pairs from 64-bit dHash fingerprints
    (:func:`~mission_data_pipeline_spark.functions.multimodal.image_dhash`):
    all ``(item_a < item_b)`` pairs within Hamming distance
    ``max_hamming``, found WITHOUT an all-pairs join.

    Banding: the hash splits into eight 8-bit bands; two hashes within
    Hamming distance 7 must agree exactly on at least one band
    (pigeonhole), so candidate generation is eight per-band bucket
    joins — the corpus shuffles as (band, byte) keys, 8 rows per image,
    never images x images. ``max_hamming`` must stay <= 7 to keep the
    guarantee exact (raise the band count for looser thresholds).
    Returns ``(item_a, item_b, hamming)`` distinct pairs.
    """
    if not 0 <= max_hamming <= 7:
        raise ValueError(
            f"max_hamming must be 0..7 for 8-band exact recall, "
            f"got {max_hamming}"
        )
    h = hashes.select(
        F.col(id_col).alias("item_id"),
        F.col(hash_col).cast("long").alias("__h"),
    ).filter(F.col("__h").isNotNull())
    bands = h.select(
        "item_id",
        "__h",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    F.expr(f"(shiftright(__h, {8 * b}) & 255)").alias("val"),
                )
                for b in range(8)
            ])
        ).alias("bv"),
    ).select("item_id", "__h", "bv.band", "bv.val")
    a, b = bands.alias("a"), bands.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.item_id") < F.col("b.item_id")),
        )
        .select(
            F.col("a.item_id").alias("item_a"),
            F.col("b.item_id").alias("item_b"),
            F.bit_count(
                F.col("a.__h").bitwiseXOR(F.col("b.__h"))
            ).cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )
    return pairs


# -- exact segment (line-level) corpus dedup ----------------------------


def dedup_exact_segments(
    docs: DataFrame,
    *,
    seg_tokens: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """C4/RefinedWeb-style corpus-level exact segment dedup: the corpus
    is cut into fixed-width token segments (the "line" unit for corpora
    without newlines), every segment occurring more than once ACROSS
    the whole corpus is removed except its first occurrence (lowest
    ``(doc_id, seg_idx)``), and each document is reassembled from its
    surviving segments. This is the removal TRANSFORM that
    :func:`duplicate_span_fraction` only measures — the step that
    strips boilerplate headers/footers repeated across millions of
    pages. Returns ``(doc_id, n_segs, n_kept, clean_text)`` for
    documents with at least one surviving segment.

    Scale shape: one explode to the segment table, occurrence ranking
    keyed on ``xxhash64(segment)`` (8-byte shuffle keys, never segment
    strings), and a doc-keyed reassembly groupBy — three key-bounded
    shuffles, linear in the token table, no pairwise comparison. The
    token array is staged as its own projection so the lambda reads a
    materialized column (a captured split() would re-evaluate per
    element — see the gram-operator history).
    """
    if seg_tokens < 1:
        raise ValueError("seg_tokens must be >= 1")
    toked = docs.select(
        F.col(id_col).alias("doc_id"),
        F.split(F.trim(F.col(text_col)), r"\s+").alias("__toks"),
    )
    n_segs = F.ceil(F.size("__toks") / F.lit(seg_tokens)).cast("int")
    segged = toked.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.greatest(n_segs, F.lit(1)) - 1),
                lambda i: F.array_join(
                    F.slice(F.col("__toks"), i * seg_tokens + 1, seg_tokens),
                    " ",
                ),
            )
        ).alias("seg_idx", "seg"),
    )
    # Partition by (hash, seg): the shuffle key stays the 8-byte hash,
    # but equality within a bucket is exact on the segment string, so a
    # 64-bit hash collision between two distinct segments can never
    # silently drop one of them (and matches the string-keyed oracle).
    w = Window.partitionBy(F.xxhash64("seg"), "seg").orderBy(
        "doc_id", "seg_idx"
    )
    kept = (
        segged.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    totals = segged.groupBy("doc_id").agg(F.count("*").alias("n_segs"))
    rebuilt = kept.groupBy("doc_id").agg(
        F.count("*").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("seg_idx", "seg"))),
                lambda s: s["seg"],
            ),
            " ",
        ).alias("clean_text"),
    )
    return totals.join(rebuilt, "doc_id").select(
        "doc_id", "n_segs", "n_kept", "clean_text"
    )


def exact_substring_dedup(
    docs: DataFrame,
    *,
    k: int = 12,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """ExactSubstr dedup (Lee et al. 2022 §4.1): find every ``k``-token
    span that occurs more than once in the corpus, keep its globally
    first occurrence (min ``(doc_id, pos)``), and remove the tokens of
    every other occurrence from their documents. Returns one row per
    eligible document (``>= k`` tokens):
    ``(doc_id, n_tokens, n_removed, n_spans, kept_text)`` where
    ``n_spans`` counts maximal merged removal intervals and
    ``kept_text`` is the surviving tokens rejoined with single spaces.

    Tokens are lowercased whitespace words; for the paper's
    BPE-token-granularity setting compose a tokenizer with
    :func:`exact_substring_dedup_tokens` (see
    ``exact_substring_dedup_bpe``). See the core function for the
    algorithm and plan-shape decisions.
    """
    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    return exact_substring_dedup_tokens(
        docs.select(F.col(id_col).alias("doc_id"), toks.alias("toks")),
        k=k,
        tokens_col="toks",
        id_col="doc_id",
    )


def exact_substring_dedup_bpe(
    docs: DataFrame,
    *,
    k: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """ExactSubstr dedup at BPE-token granularity — the setting Lee et
    al. 2022 actually ran (§4.1 dedups 50-token windows of the BPE id
    stream, not whitespace words). Word granularity under-merges
    near-boundary duplicates: two documents sharing a long span that
    differs only inside one word (a typo, an inflection) still share
    the sub-word token run. Composition: the corpus is tokenized by the
    repo's distributed BPE encoder (``operators/bpe.py
    bpe_token_sequences`` — distinct vocabulary encoded once, joined
    back, order-preserving flatten), then the same gram-keyed span
    surgery runs over the token sequences. ``kept_text`` is the
    surviving BPE tokens rejoined with single spaces (a token-level
    view, not detokenized text — the removal decisions are what
    downstream consumes).

    At 100 TB the added cost over word granularity is the vocabulary-
    bounded Python encode plus one word-keyed join; everything
    corpus-sized stays in the same JVM gram/interval plan.
    """
    from mission_data_pipeline_spark.operators.bpe import bpe_token_sequences

    seqs = bpe_token_sequences(docs, text_col=text_col, id_col=id_col)
    return exact_substring_dedup_tokens(
        seqs, k=k, tokens_col="toks", id_col="doc_id"
    )


def exact_substring_dedup_tokens(
    docs: DataFrame,
    *,
    k: int = 12,
    tokens_col: str = "toks",
    id_col: str = "doc_id",
) -> DataFrame:
    """Core ExactSubstr span surgery over pre-tokenized documents
    (``tokens_col``: ``array<string>``). Every ``k``-token span that
    occurs more than once in the corpus keeps its globally first
    occurrence (min ``(doc_id, pos)``) and is removed everywhere else.

    This is the remove-the-substring-itself variant — the repo's other
    Lee et al. operator (``duplicate_span_fraction``) only *scores*
    span duplication; this one performs the surgery. The reference
    suffix-array construction is a single-node in-memory algorithm;
    the distributed shape here is gram-keyed: one gram-keyed partial-
    agg shuffle yields (count, first-occurrence), a join back tags
    removable occurrences, and a doc-keyed interval merge rebuilds the
    text. Every shuffle is token-table- or duplicated-subset-
    proportional — no suffix array, no pairwise scan.

    Plan-shape decisions (measured at 100x bench scale on a ~90%-
    duplicated corpus, 90 s → 22 s):
    - gram keys come from ``xxhash64`` over ``k`` lead() window columns
      of the exploded token table — whole-stage-codegen JVM hashing of
      token values directly, replacing an interpreted higher-order
      ``concat_ws(slice(...))`` per position that re-copied every token
      ``k`` times into strings before hashing (2x on the gram stage);
    - per-doc coverage is computed by sorting each doc's removable
      START positions and merging ``[s, s+k-1]`` intervals in one
      ``aggregate`` fold — O(starts) integer state per doc, replacing a
      corpus x k coverage-position explode + distinct whose shuffle
      dominated everything on heavily-duplicated corpora;
    - text reconstruction is a map-side position filter against the
      merged intervals after one doc-keyed join — documents that lost
      nothing never leave expression land.

    A 64-bit gram-key collision could only over-remove a span, and the
    exact string-grouped DuckDB oracle would surface it. Like the
    paper's own implementation, "keep one occurrence" is best-effort
    under overlap: the kept occurrence's tokens may still be removed
    if a *different* duplicated gram covers them.

    The gram table (posexplode + k-wide lead window) feeds both the
    occurrence aggregate and the join back that tags removable
    occurrences through DIFFERENT subtrees (one has a partial agg below
    its exchange), so exchange reuse cannot deduplicate them —
    unmaterialized, the token explode and the per-doc sort/lead window
    run twice per action. It is deliberately NOT truncated: the
    duplicated subtree is pure whole-stage-codegen expression work over
    a compressed columnar scan, and the block-manager round trip LOSES
    to recomputation as the corpus grows (interleaved A/B, r15:
    truncating was 1.2x faster at sf0.1 but 1.5x slower at sfx10, med
    6.39 vs 4.30 s; ``persist(MEMORY_AND_DISK)`` also slower at 4.69).
    """
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    staged = docs.select(
        F.col(id_col).alias("doc_id"), F.col(tokens_col).alias("__toks")
    ).filter(F.size("__toks") >= k)
    pos = staged.select(
        "doc_id", F.posexplode("__toks").alias("pos", "tok")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    leads = [F.col("tok")] + [F.lead("tok", i).over(w) for i in range(1, k)]
    grams = (
        pos.select(
            "doc_id",
            "pos",
            F.xxhash64(*leads).alias("__gh"),
            F.lead("pos", k - 1).over(w).alias("__end"),
        )
        .filter(F.col("__end").isNotNull())  # full-length grams only
        .drop("__end")
    )
    # Not truncated: recomputing this gram table twice beats a
    # checkpoint at scale (r15 A/B: 1.5x slower with it at sfx10).
    # One gram-keyed partial-agg shuffle yields both the corpus count
    # and the canonical first occurrence (min struct = lexicographic
    # (doc_id, pos) — the survivor Lee et al. keep).
    occ = grams.groupBy("__gh").agg(
        F.count("*").alias("__n"),
        F.min(F.struct("doc_id", "pos")).alias("__first"),
    )
    removable = (
        grams.join(occ.filter(F.col("__n") >= 2), "__gh")
        .filter(
            ~(
                (F.col("doc_id") == F.col("__first.doc_id"))
                & (F.col("pos") == F.col("__first.pos"))
            )
        )
        .select("doc_id", "pos")
    )
    # Sorted removable starts -> merged covered intervals, one
    # aggregate fold per doc (chained when(): the tail element is only
    # read once the array is known non-empty — ANSI-safe).
    empty = F.array().cast("array<struct<s:int,e:int>>")
    intervals = F.aggregate(
        "__starts",
        empty,
        lambda acc, s: F.when(
            F.size(acc) == 0,
            F.array(F.struct(s.alias("s"), (s + (k - 1)).alias("e"))),
        )
        .when(
            s > F.element_at(acc, -1)["e"] + 1,
            F.concat(
                acc,
                F.array(F.struct(s.alias("s"), (s + (k - 1)).alias("e"))),
            ),
        )
        .otherwise(
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(
                    F.struct(
                        F.element_at(acc, -1)["s"].alias("s"),
                        (s + (k - 1)).alias("e"),
                    )
                ),
            )
        ),
    )
    per_doc = (
        removable.groupBy("doc_id")
        .agg(F.array_sort(F.collect_list("pos")).alias("__starts"))
        .select("doc_id", intervals.alias("__iv"))
        .select(
            "doc_id",
            "__iv",
            F.aggregate(
                "__iv",
                F.lit(0).cast("long"),
                lambda acc, v: acc + (v["e"] - v["s"] + 1),
            ).alias("n_removed"),
            F.size("__iv").cast("long").alias("n_spans"),
        )
    )
    covered = lambda i, iv: F.exists(  # noqa: E731
        iv, lambda v: (i >= v["s"]) & (i <= v["e"])
    )
    return (
        staged.join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.size("__toks").alias("n_tokens"),
            F.coalesce("n_removed", F.lit(0)).alias("n_removed"),
            F.coalesce("n_spans", F.lit(0)).alias("n_spans"),
            F.when(
                F.col("__iv").isNull(), F.concat_ws(" ", "__toks")
            )
            .otherwise(
                F.array_join(
                    F.filter(
                        "__toks",
                        lambda t, i: ~covered(i, F.col("__iv")),
                    ),
                    " ",
                )
            )
            .alias("kept_text"),
        )
    )


def band_signatures(signatures: DataFrame, *, bands: int = 4) -> DataFrame:
    """(doc_id, band, band_hash) from per-seed minhashes — the stored
    LSH index shape. ``band_hash`` fingerprints the band's sorted
    minima; docs agreeing on ALL rows of a band collide. This is the
    table a production ingest pipeline MATERIALIZES for the existing
    corpus (parquet, partitioned by band) so that new batches join
    against it without ever re-featurizing the corpus."""
    return (
        signatures.withColumn("band", F.col("seed") % bands)
        .groupBy("doc_id", "band")
        .agg(
            F.xxhash64(
                F.concat_ws(
                    ",",
                    F.sort_array(
                        F.collect_list(F.col("minhash").cast("string"))
                    ),
                )
            ).alias("band_hash")
        )
    )


def quality_dedup(
    docs: DataFrame,
    pairs: DataFrame,
    *,
    quality_col: str,
    id_col: str = "doc_id",
    id_a: str = "doc_a",
    id_b: str = "doc_b",
) -> DataFrame:
    """Quality-aware near-dedup: close the verified near-dup ``pairs``
    into clusters (:func:`connected_components` to the fixpoint) and
    keep ONE representative per cluster — the HIGHEST ``quality_col``,
    ties broken toward the smallest ``id_col``. Returns the surviving
    rows of ``docs``.

    Production dedup pipelines keep the *best* member of a duplicate
    cluster (longest, highest quality-classifier score, canonical
    source), not the arbitrary min-id member the plain constructions
    keep — on crawl data the first-crawled copy is often the truncated
    or boilerplate-wrapped one.

    Scale shape: everything cluster-related touches only the PAIR
    GRAPH (duplicated subset), never the corpus — the quality join is
    node-keyed, representative selection is two partial aggregates per
    component (max quality, then min id among the maximal rows — both
    map-side combinable, so a power-law giant component never funnels
    raw rows through one task the way a rank window would), and
    survivors come from one anti-join of the losers. ``id_col`` may be
    any orderable type (numeric OR string — no numeric-negation
    tie-break trick); a doc whose quality is NULL sorts below every
    non-NULL quality, and an all-NULL cluster keeps its smallest id.
    For layout-invariant results pass a quality column that is exactly
    reproducible across partitionings (integer counts or a rounded
    score — same contract as every other accumulator in this repo).
    """
    comp = connected_components(pairs, id_a=id_a, id_b=id_b)
    q = docs.select(
        F.col(id_col).alias("node"), F.col(quality_col).alias("__q")
    )
    cq = comp.join(q, "node")
    best_q = cq.groupBy("component_id").agg(F.max("__q").alias("__qbest"))
    # eqNullSafe: max() ignores NULLs, so a mixed cluster's NULL-quality
    # rows fail the equality (they lose); an all-NULL cluster matches
    # NULL<=>NULL and falls through to the min-id tie-break.
    keep = (
        cq.join(best_q, "component_id")
        .filter(F.col("__q").eqNullSafe(F.col("__qbest")))
        .groupBy("component_id")
        .agg(F.min("node").alias("keep_id"))
    )
    losers = (
        comp.join(keep, "component_id")
        .filter(F.col("node") != F.col("keep_id"))
        .select(F.col("node").alias(id_col))
    )
    return docs.join(losers, on=id_col, how="left_anti")


def _require_local_index_path(path: str) -> None:
    """The stored near-dedup index manages its sidecar files
    (``manifest.json``, ``params.json``) and atomic manifest swaps with
    driver-local POSIX calls while the parquet goes through Spark
    writers. A URI-scheme path (``s3://``, ``hdfs://``, ...) would land
    the parquet remotely but the sidecars locally — a torn index that
    only fails at probe time on another host. Reject it loudly; at real
    scale this layer is a transactional table format (Delta/Iceberg)
    whose commit protocol subsumes the manifest."""
    import re

    if re.match(r"^[A-Za-z][A-Za-z0-9+.-]*://", path) or path.startswith(
        ("hdfs:", "s3:", "s3a:", "s3n:", "gs:", "abfs:", "wasb:")
    ):
        raise ValueError(
            f"near-dedup index path must be driver-local POSIX, got "
            f"{path!r}: the manifest/params sidecars and atomic renames "
            "use local filesystem calls; use a transactional table "
            "format for object-store deployments"
        )


def _index_manifest_path(path: str) -> str:
    import os

    return os.path.join(path, "manifest.json")


def read_index_manifest(path: str) -> dict:
    """Read the index's current ``manifest.json`` — the single atomic
    pointer naming the exact base version directories and committed
    delta epochs that constitute the index. Readers resolve through it
    once, then only ever touch immutable version directories, so a
    concurrent compaction can never present a torn base/delta set."""
    import json

    _require_local_index_path(path)
    with open(_index_manifest_path(path)) as f:
        return json.load(f)


def write_index_manifest(path: str, manifest: dict) -> None:
    """Atomically publish ``manifest.json`` (temp file + ``os.replace``
    — readers see the old or the new manifest in full, never a partial
    write). This is the index's only mutable file; everything it points
    to is written-once."""
    import json
    import os

    _require_local_index_path(path)
    tmp = _index_manifest_path(path) + ".tmp"
    with open(tmp, "w") as f:
        json.dump(manifest, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, _index_manifest_path(path))


def manifest_base_dirs(manifest: dict) -> "tuple[str, str]":
    """Resolve the base ``(bands_dir, grams_dir)`` across manifest
    formats. Format 1 (string grams, pre-r14 shape) stores them under
    ``bands``/``grams``; format 2 (8-byte hashed grams) stores them
    under ``bands_h64``/``grams_h64`` WITH a ``format_version`` key.

    The key rename is deliberate (ADVICE r13): a pre-r13 reader given a
    hashed-gram index would ignore the unknown ``hash_grams`` params
    key, featurize its probe as strings, join string against bigint,
    silently match nothing and wave every near-dup through. With the
    format-2 keys such a reader dies on ``KeyError: 'bands'`` at open
    time instead — loud, not silent. New readers handle both formats.
    """
    fmt = manifest.get("format_version", 1)
    if fmt == 1:
        return manifest["bands"], manifest["grams"]
    if fmt == 2:
        return manifest["bands_h64"], manifest["grams_h64"]
    raise ValueError(
        f"near-dedup index manifest format_version={fmt} is newer than "
        "this reader understands (max 2) — refusing to guess at the "
        "index layout"
    )


def _build_manifest(
    fmt: int, version: int, bands_dir: str, grams_dir: str,
    delta_epochs: list,
) -> dict:
    """Manifest dict for the given format (inverse of
    :func:`manifest_base_dirs`); compaction uses it to preserve the
    index's format across base-version rewrites."""
    if fmt == 1:
        return {
            "version": version,
            "bands": bands_dir,
            "grams": grams_dir,
            "delta_epochs": delta_epochs,
        }
    if fmt == 2:
        return {
            "format_version": 2,
            "version": version,
            "bands_h64": bands_dir,
            "grams_h64": grams_dir,
            "delta_epochs": delta_epochs,
        }
    raise ValueError(f"unknown near-dedup index format_version={fmt}")


def write_near_dedup_index(
    corpus: DataFrame,
    path: str,
    *,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_grams: bool = True,
) -> dict:
    """Materialize the production LSH ingest-gate index for ``corpus``:

    - ``{path}/bands-v0`` — ``(doc_id, band_hash)`` parquet PARTITIONED
      BY ``band`` (the :func:`band_signatures` shape, at rest);
    - ``{path}/grams-v0`` — the distinct ``(doc_id, gram)`` shingle sets
      the exact-Jaccard verification step joins (only candidate docs'
      rows are ever touched at probe time);
    - ``{path}/params.json`` — the featurization parameters INCLUDING
      ``hash_grams`` (ADVICE r12), so a probe with mismatched
      n/num_hashes/bands — or one that featurizes strings against an
      index of 8-byte hashed grams, which would join bigint against
      string and silently match nothing — fails loudly instead of
      waving every near-dup through;
    - ``{path}/manifest.json`` — the atomic version pointer
      (:func:`read_index_manifest`): base dirs are versioned and
      written-once, streaming deltas register here per epoch, and
      compaction publishes a new version before garbage-collecting the
      old one, so a reader never sees a torn base/delta set.

    This is what a 100 TB crawl-ingest materializes nightly: each new
    batch featurizes ONLY itself and joins this index
    (:func:`incremental_near_dedup` with ``corpus_bands``/
    ``corpus_grams``) — the corpus is never re-shingled per batch.
    Returns ``{"bands": ..., "grams": ..., "manifest": ...}`` paths.
    """
    import json
    import os

    _require_local_index_path(path)
    g = shingles(
        corpus, n=n, text_col=text_col, id_col=id_col, hash_grams=hash_grams
    )
    sig = minhash_signatures(g, num_hashes=num_hashes)
    bands_path = os.path.join(path, "bands-v0")
    grams_path = os.path.join(path, "grams-v0")
    band_signatures(sig, bands=bands).write.mode("overwrite").partitionBy(
        "band"
    ).parquet(bands_path)
    g.write.mode("overwrite").parquet(grams_path)
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, "params.json"), "w") as f:
        json.dump(
            {
                "n": n,
                "num_hashes": num_hashes,
                "bands": bands,
                "hash_grams": hash_grams,
            },
            f,
        )
    # publish LAST: until the manifest lands the index does not exist
    # to readers, so a crash mid-build leaves no torn state behind.
    # Hashed-gram indexes publish as manifest FORMAT 2 (base dirs under
    # bands_h64/grams_h64 + required format_version) so a pre-r13
    # reader rejects them with a KeyError instead of silently joining
    # string probes against bigint grams (ADVICE r13).
    write_index_manifest(
        path,
        _build_manifest(
            2 if hash_grams else 1, 0, "bands-v0", "grams-v0", []
        ),
    )
    return {
        "bands": bands_path,
        "grams": grams_path,
        "manifest": _index_manifest_path(path),
    }


def read_near_dedup_index(
    spark,
    path: str,
    *,
    n: int | None = None,
    num_hashes: int | None = None,
    bands: int | None = None,
    hash_grams: bool | None = None,
    exclude_epoch: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Load a stored :func:`write_near_dedup_index` →
    ``(corpus_bands, corpus_grams)``, resolved through the atomic
    ``manifest.json``: the returned frames scan exactly the base
    version directories plus the committed delta epochs the manifest
    names — never a directory listing — so a compaction publishing a
    new version mid-read cannot present a half-folded index.

    Any featurization parameter the caller passes is validated against
    the index's recorded ``params.json`` — a probe built with different
    shingle width or band count would silently match nothing, which at
    ingest time means every near-duplicate slips through.

    ``exclude_epoch`` is for the streaming ingest gate: the epoch being
    processed derives from the very batch being gated, and including
    its (possibly half-written, from an aborted attempt) delta would
    let a batch near-dup itself."""
    import json
    import os

    _require_local_index_path(path)
    with open(os.path.join(path, "params.json")) as f:
        params = json.load(f)
    # hash_grams defaults to False for pre-r13 indexes that did not
    # record it — those were always built with string grams.
    params.setdefault("hash_grams", False)
    for name, want in (
        ("n", n),
        ("num_hashes", num_hashes),
        ("bands", bands),
        ("hash_grams", hash_grams),
    ):
        if want is not None and params[name] != want:
            raise ValueError(
                f"index at {path} was built with {name}={params[name]}, "
                f"probe requested {name}={want}"
            )
    m = read_index_manifest(path)
    fmt = m.get("format_version", 1)
    if fmt == 2 and not params["hash_grams"]:
        raise ValueError(
            f"index at {path} has a format-2 (hashed-gram) manifest but "
            "params.json says hash_grams=false — torn index; rebuild it"
        )
    bands_dir, grams_dir = manifest_base_dirs(m)
    bands_df = spark.read.parquet(os.path.join(path, bands_dir))
    grams_df = spark.read.parquet(os.path.join(path, grams_dir))
    epochs = [e for e in m.get("delta_epochs", []) if e != exclude_epoch]
    if epochs:
        dbp = [
            os.path.join(path, "delta", f"epoch={e}", "bands")
            for e in epochs
        ]
        dgp = [
            os.path.join(path, "delta", f"epoch={e}", "grams")
            for e in epochs
        ]
        bands_df = bands_df.select("doc_id", "band", "band_hash").unionByName(
            spark.read.parquet(*dbp).select("doc_id", "band", "band_hash")
        )
        grams_df = grams_df.select("doc_id", "gram").unionByName(
            spark.read.parquet(*dgp).select("doc_id", "gram")
        )
    return bands_df, grams_df


def incremental_near_dedup(
    batch: DataFrame,
    corpus: DataFrame | None = None,
    *,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    corpus_bands: DataFrame | None = None,
    corpus_grams: DataFrame | None = None,
    batch_grams: DataFrame | None = None,
    batch_bands: DataFrame | None = None,
    max_bucket: "int | None" = None,
    hash_grams: bool = True,
) -> DataFrame:
    """Incremental ingest near-dedup: keep only the rows of ``batch``
    that are NOT near-duplicates of the existing ``corpus`` — the
    production crawl-ingest shape (the near-dup twin of the exact
    content-hash anti-join in ``x1_incremental_dedup``).

    Only the BATCH is fully featurized. The corpus side needs its LSH
    band index (:func:`band_signatures`) plus gram sets for the
    verification step, which touch only the candidate docs. Two ways
    to supply it:

    - ``corpus=`` — recompute both from the corpus text
      (self-contained; fine for one-shot jobs);
    - ``corpus_bands=``/``corpus_grams=`` — the MATERIALIZED index
      (:func:`write_near_dedup_index` / :func:`read_near_dedup_index`),
      the production path: the corpus text is never re-featurized per
      ingest batch, its scan is the stored parquet index.

    Batch band hashes join the corpus index on (band, band_hash)
    — shuffle proportional to the batch and its collisions, never
    batch x corpus — and candidates are confirmed with exact n-gram
    Jaccard before a batch row is dropped. Batch-internal duplicates
    are NOT collapsed here (that is a corpus-build step, see
    ``near_dedup_minhash``); this operator answers "is it new?".

    ``max_bucket`` caps the CORPUS side of the probe join per
    (band, band_hash) bucket (ADVICE r11): a giant bucket in the stored
    index (one boilerplate band signature shared by m corpus docs)
    crossed with a matching batch bucket otherwise produces
    m × batch-collisions candidate rows per epoch. Above the cap only
    the bucket's ``max_bucket`` smallest doc_ids stay as probe
    representatives, bounding per-bucket candidates at
    max_bucket × batch-collisions. Recall trade-off (same shape as the
    star cap in :func:`lsh_pairs_from_bands`): a batch doc whose only
    true near-dup in the corpus is a NON-representative member of an
    over-cap bucket — and which collides with it in no other band — is
    waved through. The miss requires a borderline batch doc near some
    bucket members but not the representatives AND no other band
    catching it — probability ~(1 - J^r)^(bands-1) for a pair at
    Jaccard J (see the quantified bound in
    :func:`lsh_pairs_from_bands`); ``tests/test_dedup_similarity.py``
    pins that an over-cap cluster still gates its near-dups through
    the representatives.

    ``hash_grams`` selects the 8-byte hashed-gram featurization
    (:func:`shingles`) for every side this operator computes itself —
    it MUST match the mode the corpus index was built with
    (:func:`write_near_dedup_index` records it in ``params.json``,
    :func:`read_near_dedup_index` validates it). Whatever the supply
    path, the gram dtypes of the two sides are cross-checked here: a
    bigint-vs-string join would silently match nothing and wave every
    near-dup through (ADVICE r12). The default is True — the measured
    production choice (r13 A/B at 500k docs: candidates wall 41.7 s vs
    89.1 s, shuffle read 1.0 GB vs 2.1 GB, survivors equal) — pass
    ``hash_grams=False`` only for SQL-replayable string-gram
    constructions (xxhash64 has no ANSI-SQL twin) or pre-r13 indexes.
    """
    if (corpus_bands is None) != (corpus_grams is None):
        raise ValueError(
            "corpus_bands and corpus_grams must be passed together "
            "(the band index generates candidates, the gram sets verify "
            "them — one without the other cannot gate a batch)"
        )
    if (corpus is None) == (corpus_bands is None):
        raise ValueError(
            "pass exactly one corpus side: corpus= (recompute) or "
            "corpus_bands=/corpus_grams= (stored index)"
        )
    if batch_bands is not None and batch_grams is None:
        raise ValueError(
            "batch_bands without batch_grams cannot gate a batch "
            "(bands generate candidates, grams verify them)"
        )
    # batch features may be supplied precomputed (batch_grams, and
    # optionally batch_bands) so a caller that already featurized the
    # batch — e.g. the streaming gate's intra-batch dedup pass — does
    # not pay the shingle/minhash work twice. They MUST cover exactly
    # the rows of ``batch``.
    # A gram table this operator computes ITSELF feeds three consumer
    # subtrees (band signatures, the intersection join, the size agg)
    # that exchange reuse cannot deduplicate — unmaterialized, the
    # regex/shingle featurization runs three times per action.
    # Lineage is truncated at each self-computed gram table
    # (query_truncator). SUPPLIED frames (batch_grams / the stored
    # index) are the caller's to materialize — the streaming gate
    # persists its batch features, the stored index IS parquet.
    from mission_data_pipeline_spark.operators.lineage import query_truncator

    trunc = query_truncator()
    gb = (
        batch_grams.select("doc_id", "gram")
        if batch_grams is not None
        else trunc(
            shingles(
                batch, n=n, text_col=text_col, id_col=id_col,
                hash_grams=hash_grams,
            )
        )
    )
    if corpus_bands is None:
        gc = trunc(
            shingles(
                corpus, n=n, text_col=text_col, id_col=id_col,
                hash_grams=hash_grams,
            )
        )
        sc = minhash_signatures(gc, num_hashes=num_hashes)
        bc = band_signatures(sc, bands=bands)
    else:
        gc = corpus_grams.select("doc_id", "gram")
        bc = corpus_bands.select("doc_id", "band", "band_hash")
    # Fail loudly on a featurization-mode mismatch whatever the supply
    # path (stored index, precomputed frames, or recompute): joining
    # bigint hashed grams against string grams silently intersects as
    # empty, so every batch doc would gate through as "new".
    bt, ct = dict(gb.dtypes)["gram"], dict(gc.dtypes)["gram"]
    if bt != ct:
        raise ValueError(
            f"gram dtype mismatch: batch grams are {bt} but corpus grams "
            f"are {ct} — one side was featurized with "
            "shingles(hash_grams=True) and the other without; rebuild or "
            "re-featurize with a consistent hash_grams mode"
        )
    if max_bucket is not None:
        if max_bucket < 1:
            raise ValueError(f"max_bucket must be >= 1, got {max_bucket}")
        # Keep only the max_bucket smallest doc_ids per corpus bucket as
        # probe representatives (window is partitioned by the bucket key
        # — the same key the probe join shuffles on, so no extra
        # exchange shape; never a global window).
        w = Window.partitionBy("band", "band_hash").orderBy("doc_id")
        bc = (
            bc.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= max_bucket)
            .drop("_rn")
        )
    if batch_bands is not None:
        bb = batch_bands.select("doc_id", "band", "band_hash")
    else:
        sb = minhash_signatures(gb, num_hashes=num_hashes)
        bb = band_signatures(sb, bands=bands)
    cand = (
        bb.alias("b")
        .join(
            bc.alias("c"),
            (F.col("b.band") == F.col("c.band"))
            & (F.col("b.band_hash") == F.col("c.band_hash")),
        )
        .select(
            F.col("b.doc_id").alias("batch_id"),
            F.col("c.doc_id").alias("corpus_id"),
        )
        .distinct()
    )
    inter = (
        cand.join(gb.withColumnRenamed("doc_id", "batch_id"), "batch_id")
        .join(
            gc.withColumnRenamed("doc_id", "corpus_id"),
            ["corpus_id", "gram"],
        )
        .groupBy("batch_id", "corpus_id")
        .agg(F.count("*").alias("n_inter"))
    )
    szb = gb.groupBy("doc_id").agg(F.count("*").alias("n_b"))
    szc = gc.groupBy("doc_id").agg(F.count("*").alias("n_c"))
    dups = (
        inter.join(szb.withColumnRenamed("doc_id", "batch_id"), "batch_id")
        .join(szc.withColumnRenamed("doc_id", "corpus_id"), "corpus_id")
        .filter(
            F.col("n_inter")
            / (F.col("n_b") + F.col("n_c") - F.col("n_inter"))
            >= threshold
        )
        .select(F.col("batch_id").alias(id_col))
        .distinct()
    )
    return batch.join(dups, on=id_col, how="left_anti")
