"""Text relevance scoring over document tables — SURVEY §2.11 X4+.

BM25 (Okapi) term-relevance ranking as pure DataFrame aggregation —
the standard lexical scorer for corpus curation and retrieval-quality
filtering in LLM data pipelines (e.g. scoring documents against a
topic term list before sampling).

Scale shape: one explode to the token table, two groupBys (term
frequencies on (doc, term); document lengths on doc), corpus-level
scalars (N, avgdl) carried on a broadcast one-row frame, document
frequencies broadcast per query term. Shuffles are proportional to the
token table — the same cost envelope as the X4 token statistics — and
nothing driver-side ever materializes per-document state.

Determinism note: per-term contributions are transcendental (ln), so
cross-term addition order could flip the last float bit between
engines; contributions are rounded to 9 decimals and summed exactly as
DECIMAL(20,9) so the oracle (same math in SQL) matches bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast


#: Default scrub patterns — written in the regex subset that Java
#: (Spark) and RE2 (DuckDB/Go tooling) interpret identically, so the
#: same strings drive the operator and its SQL oracle.
SCRUB_PATTERNS: tuple[tuple[str, str], ...] = (
    (r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}", "<EMAIL>"),
    (r"https?://[^\s]+", "<URL>"),
    (r"\b\d{3}[-.]\d{3,4}[-.]\d{4}\b", "<PHONE>"),
    (r"\b\d{13,19}\b", "<LONGNUM>"),  # card/account-number shaped
)


def scrub_text(
    docs: DataFrame,
    *,
    text_col: str = "text",
    patterns: tuple[tuple[str, str], ...] = SCRUB_PATTERNS,
) -> DataFrame:
    """Redact PII-shaped spans (emails, URLs, phone/card numbers) with
    typed placeholder tokens — the standard scrub pass before a corpus
    is used for training.

    A chain of ``regexp_replace`` expressions applied in order (earlier
    patterns win on overlaps), entirely inside whole-stage codegen: the
    scrub adds zero shuffles and rides the same scan as any other
    projection. Patterns stay in the Java∩RE2 regex subset so the
    operator and its DuckDB oracle run the same strings.
    """
    col = F.col(text_col)
    for pat, token in patterns:
        col = F.regexp_replace(col, pat, token)
    return docs.withColumn(text_col, col)


def bm25_scores(
    docs: DataFrame,
    terms: list[str],
    *,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Okapi BM25 score of each document against a bag of query terms.

    Returns ``(doc_id, n_matched, bm25)`` for documents matching at
    least one term. ``idf = ln(1 + (N - df + 0.5)/(df + 0.5))`` (the
    always-positive Robertson-Sparck Jones variant); ``N``/``avgdl``
    are computed over documents with at least one token.
    """
    if not terms:
        raise ValueError("bm25_scores needs at least one query term")
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("term"),
    ).filter(F.length("term") > 0)
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    # document length from tf, not a second pass over the token table:
    # reuses the (doc, term) shuffle instead of re-exploding the corpus
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    stats = dl.agg(
        F.count("*").cast("double").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    )
    hits = tf.filter(F.col("term").isin(list(terms)))
    dfreq = hits.groupBy("term").agg(
        F.count_distinct("doc_id").cast("double").alias("df")
    )
    scored = (
        hits.join(dl, "doc_id")
        .crossJoin(broadcast(stats))
        .join(broadcast(dfreq), "term")
    )
    idf = F.log(
        F.lit(1.0) + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    tf_d = F.col("tf").cast("double")
    norm = tf_d + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
    contrib = idf * tf_d * (k1 + 1.0) / norm
    return (
        scored.withColumn(
            "__c", F.round(contrib, 9).cast("decimal(20,9)")
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_matched"),
            F.round(F.sum("__c").cast("double"), 6).alias("bm25"),
        )
    )


def repetition_signals(
    docs: DataFrame,
    *,
    ngram_n: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Gopher-style repetition quality signals per document.

    Returns ``(doc_id, n_lines, dup_line_frac, dup_line_char_frac,
    top_ngram_frac)``:

    - ``dup_line_frac``: fraction of (trimmed, non-empty) lines that are
      repeats of an earlier identical line — the "duplicate line
      fraction" filter from the Gopher/MassiveText quality rules;
    - ``dup_line_char_frac``: same, weighted by line length in chars;
    - ``top_ngram_frac``: occurrences of the most frequent word
      ``ngram_n``-gram over total n-gram occurrences (the "top n-gram
      fraction" rule).

    High values on any signal mark boilerplate/spam for corpus
    filtering. Scale shape: two explode → groupBy pipelines (lines and
    n-grams), both partially aggregated map-side, shuffling only
    ``(doc_id, line/gram)`` tuples — the same cost envelope as token
    statistics; no Python, no windows, no driver state.
    """
    lines = (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.explode(F.split(F.col(text_col), "\n")).alias("line"),
        )
        .withColumn("line", F.trim("line"))
        .filter(F.length("line") > 0)
    )
    per_line = lines.groupBy("doc_id", "line").agg(F.count("*").alias("cnt"))
    chars = F.col("cnt") * F.length("line")
    line_stats = per_line.groupBy("doc_id").agg(
        F.sum("cnt").cast("long").alias("n_lines"),
        (F.sum(F.col("cnt") - 1).cast("double") / F.sum("cnt"))
        .alias("dup_line_frac"),
        (
            F.sum((F.col("cnt") - 1) * F.length("line")).cast("double")
            / F.sum(chars)
        ).alias("dup_line_char_frac"),
    )
    from mission_data_pipeline_spark.operators.dedup import word_ngrams

    grams = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(word_ngrams(text_col, ngram_n)).alias("gram"),
    ).filter(F.length("gram") > 0)
    per_gram = grams.groupBy("doc_id", "gram").agg(F.count("*").alias("cnt"))
    gram_stats = per_gram.groupBy("doc_id").agg(
        (F.max("cnt").cast("double") / F.sum("cnt")).alias("top_ngram_frac")
    )
    return line_stats.join(gram_stats, "doc_id", "left")


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    *,
    n: int = 13,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str = "text",
) -> DataFrame:
    """Flag training documents that share any word ``n``-gram with a
    benchmark/eval set — the standard pre-training decontamination pass
    (13-gram overlap is the published GPT-3/PaLM convention).

    Returns ``docs`` plus ``n_contaminated_grams`` (count of distinct
    doc n-grams present in the benchmark set) and ``is_contaminated``.

    Scale shape: the benchmark gram set is tiny next to a 100 TB corpus
    — it is deduplicated and **broadcast**, so the corpus-side gram
    table joins map-side and never shuffles; per-doc hit counts then
    aggregate on ``doc_id`` (one shuffle of the *hits only*). The
    corpus gram explode prunes to (id, gram) before the join. The
    final docs ⋈ hits left join is deliberately NOT broadcast-hinted:
    hits is usually tiny (AQE converts it to broadcast at runtime) but
    is bounded only by the contaminated-doc count, so a static hint
    could OOM an adversarial corpus.
    """
    from mission_data_pipeline_spark.operators.dedup import shingles, word_ngrams

    doc_grams = shingles(docs, n=n, text_col=text_col, id_col=id_col)
    bench_grams = (
        benchmark.select(F.explode(word_ngrams(bench_text_col, n)).alias("gram"))
        .filter(F.length("gram") > 0)
        .distinct()
    )
    hits = (
        doc_grams.join(F.broadcast(bench_grams), "gram")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_contaminated_grams"))
        .withColumnRenamed("doc_id", "__hit_id")
    )
    out = docs.join(
        hits, F.col(id_col) == F.col("__hit_id"), "left"
    ).drop("__hit_id")
    n_hits = F.coalesce(F.col("n_contaminated_grams"), F.lit(0)).cast("long")
    return out.withColumn("n_contaminated_grams", n_hits).withColumn(
        "is_contaminated", n_hits > 0
    )


def bloom_decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    *,
    n: int = 13,
    m_bits: int = 1 << 20,
    k: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str = "text",
) -> DataFrame:
    """Bloom-filter decontamination gate — the broadcast-bitset shape
    of :func:`decontaminate` (Dolma / RedPajama-style): instead of
    broadcasting every distinct benchmark n-gram, the benchmark is
    folded into an ``m_bits``-bit Bloom filter (``k`` hash functions)
    whose size is bounded by the BENCHMARK — which is constant-sized in
    production — regardless of corpus scale. A corpus gram is flagged
    when all ``k`` of its bit probes are set; per published Bloom
    semantics the gate is one-sided (no false negatives, a deterministic
    false-positive rate of roughly ``(set_bits/m)^k``).

    Returns ``docs`` plus ``n_bloom_grams`` (count of DISTINCT doc
    n-grams the filter flags — a superset of the exact overlap count)
    and ``bloom_contaminated``.

    Scale shape: the filter is built with one map-side hash pass over
    the benchmark grams and a ``bit_or`` partial aggregate onto at most
    ``m_bits / 64`` word rows (the only shuffle on the benchmark side),
    collected bounded (≤ 16 Ki rows at the 1 Mi-bit default) and
    embedded as ONE array literal. The corpus side explodes each doc's
    DISTINCT grams (array_distinct rides the scan, so the explode never
    duplicates) into the md5 probes + bit test as WHOLE-STAGE-CODEGEN
    expressions — deliberately NOT a higher-order ``F.filter`` lambda,
    which evaluates its body INTERPRETED per element (measured 6x
    slower end-to-end at sf1; same pitfall word_ngrams fixed). The
    gram table itself never shuffles: flagged grams partial-aggregate
    to per-doc counts before the only corpus-side exchange (rows ∝
    flagged docs, not grams), and the hit join back to ``docs`` is
    AQE-broadcastable whenever contamination is sparse (a saturated
    filter degrades it to a corpus-keyed join — size ``m_bits`` to the
    benchmark). Hashes are seeded md5 (``j|gram``) so the DuckDB
    oracle replays bit-identically via a position semi-join.
    """
    if m_bits <= 0 or m_bits % 64 != 0:
        raise ValueError(f"m_bits must be a positive multiple of 64, got {m_bits}")
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    from mission_data_pipeline_spark.operators.dedup import word_ngrams

    def _pos(gram: F.Column, j: int) -> F.Column:
        tag = F.md5(F.concat(F.lit(f"{j}|"), gram))
        return F.conv(F.substring(tag, 1, 8), 16, 10).cast("long") % m_bits

    # Filter build: benchmark grams -> k positions each -> bit_or fold
    # into <= m_bits/64 words (bounded collect, independent of corpus).
    bench_grams = (
        benchmark.select(F.explode(word_ngrams(bench_text_col, n)).alias("gram"))
        .filter(F.length("gram") > 0)
        .distinct()
    )
    positions = bench_grams.select(
        F.explode(F.array(*[_pos(F.col("gram"), j) for j in range(1, k + 1)]))
        .alias("pos")
    )
    word_rows = (
        positions.select(
            (F.col("pos") / 64).cast("int").alias("w"),
            # call_function: the shiftleft Python wrapper only takes a
            # literal bit count, the SQL function takes a column.
            F.call_function(
                "shiftleft", F.lit(1).cast("long"), (F.col("pos") % 64).cast("int")
            ).alias("m"),
        )
        .groupBy("w")
        .agg(F.bit_or("m").alias("m"))
        .collect()
    )  # bounded: at most m_bits / 64 rows
    words = [0] * (m_bits // 64)
    for r in word_rows:
        words[r["w"]] = r["m"]
    # ONE string literal, folded to the array literal by Catalyst's
    # ConstantFolding: F.lit(<python list>) converts element-by-element
    # over py4j (measured 6 s for 16 Ki longs — slower than the whole
    # corpus probe); a single string crosses the bridge in one call.
    bitset = F.split(F.lit(",".join(map(str, words))), ",").cast("array<bigint>")

    def _bit_set(pos: F.Column) -> F.Column:
        word = F.element_at(bitset, (pos / 64).cast("int") + 1)
        return (
            F.call_function("shiftright", word, (pos % 64).cast("int"))
            .bitwiseAND(F.lit(1).cast("long"))
            == 1
        )

    gram = F.col("__gram")
    flagged = F.lit(True)
    for j in range(1, k + 1):
        flagged = flagged & _bit_set(_pos(gram, j))
    hits = (
        docs.select(
            F.col(id_col).alias("__hit_id"),
            F.explode(
                F.array_distinct(
                    F.filter(word_ngrams(text_col, n), lambda g: F.length(g) > 0)
                )
            ).alias("__gram"),
        )
        .filter(flagged)
        .groupBy("__hit_id")
        .agg(F.count("*").alias("n_bloom_grams"))
    )
    out = docs.join(hits, F.col(id_col) == F.col("__hit_id"), "left").drop(
        "__hit_id"
    )
    n_bloom = F.coalesce(F.col("n_bloom_grams"), F.lit(0)).cast("long")
    return out.withColumn("n_bloom_grams", n_bloom).withColumn(
        "bloom_contaminated", n_bloom > 0
    )


def c4_signals(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 5,
    min_terminal_frac: float = 0.5,
) -> DataFrame:
    """C4-style document quality gates (Raffel et al. 2020 cleaning rules).

    Per document: ``n_words``, ``frac_lines_terminal_punct`` (lines
    ending in ``. ! ? "``), ``has_curly_brace`` (code/markup tell),
    ``has_lorem_ipsum``, and the composite ``keep`` verdict. All
    higher-order array expressions over the split text — zero shuffles,
    rides the scan like any projection; at 100 TB this is a pure
    map-side filter in front of the expensive dedup/scoring stages.
    """
    text = F.col(text_col)
    words = F.filter(
        F.split(F.lower(text), r"\s+"), lambda x: F.length(x) > 0
    )
    lines = F.filter(
        F.transform(F.split(text, "\n"), lambda x: F.trim(x)),
        lambda x: F.length(x) > 0,
    )
    term = F.filter(lines, lambda x: x.rlike('[.!?"]$'))
    n_words = F.size(words).cast("long")
    frac_term = F.when(
        F.size(lines) > 0,
        F.size(term).cast("double") / F.size(lines).cast("double"),
    ).otherwise(F.lit(0.0))
    has_brace = text.contains("{") | text.contains("}")
    has_lorem = F.lower(text).contains("lorem ipsum")
    keep = (
        (n_words >= min_words)
        & (frac_term >= min_terminal_frac)
        & ~has_brace
        & ~has_lorem
    )
    return docs.select(
        F.col(id_col).alias("doc_id"),
        n_words.alias("n_words"),
        frac_term.alias("frac_lines_terminal_punct"),
        has_brace.alias("has_curly_brace"),
        has_lorem.alias("has_lorem_ipsum"),
        keep.alias("keep"),
    )


#: GPT-2-style pre-tokenizer split pattern, constrained to the Java∩RE2
#: regex subset (the published pattern's trailing-space lookahead is
#: dropped — RE2 has no lookahead): contractions, space-prefixed
#: letter/digit/punctuation runs, residual whitespace runs.
BPE_SPLIT_PATTERN = (
    r"'s|'t|'re|'ve|'m|'ll|'d"
    r"| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+"
)


def bpe_token_count(col: "F.Column | str") -> "F.Column":
    """Token count under the GPT-2-ish pre-tokenizer split — the standard
    'how many tokens will this cost' estimator when the real BPE vocab
    isn't in the pipeline. Pure JVM regex expression, zero shuffle."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(c, F.lit(BPE_SPLIT_PATTERN), F.lit(0))).cast(
        "long"
    )


def tfidf_sparse(
    docs: DataFrame,
    *,
    dim: int = 1024,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: int = 0,
    signed: bool = False,
) -> DataFrame:
    """Hashed TF-IDF document vectors in sparse form: ``(doc_id, bucket,
    weight)`` — the text→vector bridge into the ANN/similarity path
    without an external embedding model (HashingTF+IDF restated as pure
    aggregation).

    ``bucket = seeded_md5(term) % dim`` (hashing trick; md5 rather than
    ``xxhash64`` so the DuckDB oracle can reproduce the bucketing),
    ``idf = ln((N+1)/(df+1)) + 1`` (smoothed, sklearn convention).
    Sparse rows are the honest 100 TB shape — densifying to
    ``array<double>(dim)`` is one ``transform(sequence(...))`` away for
    :func:`~mission_data_pipeline_spark.operators.similarity.cosine_topk`.

    Shuffles: token explode → (doc, term) tf groupBy, an unbroadcast
    term-keyed ``dfreq`` join (the vocabulary can exceed any broadcast
    threshold at corpus scale, so it shuffles on ``term`` — a key the
    ``tf`` side already hashes on), and the final (doc, bucket)
    collision sum — all partially aggregated map-side. Bucket-collision addition order is made
    deterministic by the round-to-9/DECIMAL sum pattern (same as BM25).
    """
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("term"),
    ).filter(F.length("term") > 0)
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    n_docs = docs.agg(F.count("*").cast("double").alias("n_docs"))
    dfreq = tf.groupBy("term").agg(
        F.count_distinct("doc_id").cast("double").alias("df")
    )
    bucket = F.pmod(
        F.conv(
            F.substring(
                F.md5(F.concat_ws("|", F.lit(str(seed)), F.col("term"))), 1, 12
            ),
            16,
            10,
        ).cast("long"),
        F.lit(dim),
    )
    idf = F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)) + 1.0
    w = F.round(F.col("tf").cast("double") * idf, 9)
    if signed:
        # sign-hash (feature hashing, Weinberger et al. 2009): a second
        # seeded hash flips each TERM's sign so bucket collisions cancel
        # in expectation instead of accumulating — the standard trick
        # that makes the folded vector an unbiased dot-product sketch.
        # ±1 times an already-rounded double is exact, so the DECIMAL
        # collision-sum determinism is unchanged.
        sign = F.when(
            F.pmod(
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat_ws(
                                "|", F.lit("s"), F.lit(str(seed)), F.col("term")
                            )
                        ),
                        1,
                        12,
                    ),
                    16,
                    10,
                ).cast("long"),
                F.lit(2),
            )
            == 0,
            F.lit(1.0),
        ).otherwise(F.lit(-1.0))
        w = w * sign
    w = w.cast("decimal(20,9)")
    return (
        tf.join(dfreq, "term")
        .crossJoin(broadcast(n_docs))
        .withColumn("bucket", bucket)
        .groupBy("doc_id", "bucket")
        .agg(F.round(F.sum(w).cast("double"), 6).alias("weight"))
    )


def embed_text_hashed(
    docs: DataFrame,
    *,
    dim: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: int = 0,
    out_col: str = "v",
) -> DataFrame:
    """Dense document vectors derived IN-ENGINE from text — the
    text→vector bridge that lets semantic_dedup / cosine_topk /
    ivf_topk run on real corpora with zero model dependencies
    (VERDICT r10 item 3): :func:`tfidf_sparse` with the sign-hash
    (``signed=True``) folded to a fixed ``dim``-length ``array<double>``
    and L2-normalized. Deterministic (md5 bucket/sign hashes, DECIMAL
    collision sums, staged norm) and fully SQL-replayable.

    Docs with no tokens produce no vector (no rows) — same convention
    as the sparse form. Normalized components are rounded to 9 digits
    so downstream cosine arithmetic is engine-reproducible.

    Scale shape: the sparse stage's shuffles (token tf, term-keyed idf
    join, (doc,bucket) collision sum) plus ONE (doc)-keyed map-fold —
    nothing quadratic, nothing driver-side; the dense array is dim
    doubles per doc regardless of corpus size.
    """
    sparse = tfidf_sparse(
        docs,
        dim=dim,
        text_col=text_col,
        id_col=id_col,
        seed=seed,
        signed=True,
    )
    dense = (
        sparse.groupBy("doc_id")
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct(F.col("bucket"), F.col("weight")))
            ).alias("__m")
        )
        .withColumn(
            out_col,
            F.transform(
                F.sequence(F.lit(0), F.lit(dim - 1)),
                lambda i: F.coalesce(
                    F.try_element_at(F.col("__m"), i.cast("long")),
                    F.lit(0.0),
                ),
            ),
        )
    )
    # stage the norm as its OWN column: a captured aggregate inside
    # the transform lambda would re-evaluate per element (the
    # interpreted-HOF pitfall — see BASELINE.md round 4)
    dense = (
        dense.withColumn(
            "__norm",
            F.sqrt(
                F.aggregate(
                    F.col(out_col), F.lit(0.0), lambda a, x: a + x * x
                )
            ),
        )
        .withColumn(
            out_col,
            F.when(
                F.col("__norm") > 0,
                F.transform(
                    F.col(out_col),
                    lambda x: F.round(x / F.col("__norm"), 9),
                ),
            ).otherwise(F.col(out_col)),
        )
    )
    return dense.select(F.col("doc_id").alias(id_col), out_col)


def unigram_logprob(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-unigram language-model score per document: mean
    ``-ln p(token)`` under the corpus's own unigram distribution — the
    cheap, model-free stand-in for CCNet's KenLM perplexity filter
    (documents full of rare/garbled tokens score high; boilerplate full
    of common tokens scores low). Returns ``(doc_id, n_tokens,
    neg_logprob)``.

    Scale shape: one explode → (doc, term) tf groupBy (map-side partial
    agg), a term-keyed join against the
    vocabulary-sized frequency table. The join is flat: a hybrid that
    broadcast the hot terms and shuffled the tail measured 2x SLOWER at
    sf1 (its matched/tail union recomputes the tf subtree), while AQE
    skew handling covers the flat join's hot keys. The corpus total
    rides a broadcast one-row frame.
    Per-term contributions are rounded to 9 decimals and summed as
    DECIMAL(20,9) (the BM25 determinism pattern) so the SQL oracle
    matches exactly.
    """
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("term"),
    ).filter(F.length("term") > 0)
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    freq = tf.groupBy("term").agg(F.sum("tf").cast("double").alias("cf"))
    total = freq.agg(F.sum("cf").alias("ctot"))
    contrib = -F.log(F.col("cf") / F.col("ctot")) * F.col("tf").cast("double")
    return (
        tf.join(freq, "term")
        .crossJoin(broadcast(total))
        .withColumn("__c", F.round(contrib, 9).cast("decimal(20,9)"))
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("long").alias("n_tokens"),
            F.sum("__c").alias("__s"),
        )
        .select(
            "doc_id",
            "n_tokens",
            F.round(
                F.col("__s").cast("double") / F.col("n_tokens"), 6
            ).alias("neg_logprob"),
        )
    )


def filter_badwords(
    docs: DataFrame,
    words: list[str],
    *,
    text_col: str = "text",
) -> DataFrame:
    """C4's blocklist gate: drop documents containing any listed word
    (Raffel et al. 2020 apply the "List of Dirty, Naughty, Obscene..."
    list this way — whole-word, case-insensitive, one hit disqualifies).

    One compiled regex alternation with word boundaries, kept in the
    Java∩RE2 common subset so the operator and its SQL oracle run the
    same pattern. Zero shuffle — a map-side gate riding the scan, like
    :func:`c4_signals`.
    """
    import re as _re

    if not words:
        raise ValueError("filter_badwords needs at least one word")
    pat = r"\b(" + "|".join(_re.escape(w.lower()) for w in sorted(words)) + r")\b"
    return docs.filter(~F.lower(F.col(text_col)).rlike(pat))


def normalize_text(
    docs: DataFrame,
    *,
    text_col: str = "text",
) -> DataFrame:
    """Whitespace/control normalization — the cleanup pass before
    tokenization and hashing (dedup keys and token counts are only
    stable if two visually-identical documents hash identically):

    1. C0/C1 control characters (except ``\\t\\n\\r``) removed;
    2. ``\\r\\n`` / ``\\r`` → ``\\n`` (line-ending canonicalization);
    3. horizontal runs of spaces/tabs collapsed to one space;
    4. per-line edge spaces/tabs trimmed, plus edge spaces of the whole
       document (``trim`` strips spaces only — leading/trailing blank
       lines/newlines are preserved, matching the property-test model).

    A zero-shuffle ``regexp_replace`` chain in the Java∩RE2 subset
    (same contract as :func:`scrub_text`), so the SQL oracle runs the
    identical patterns.
    """
    c = F.col(text_col)
    c = F.regexp_replace(c, "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]", "")
    c = F.regexp_replace(c, "\\r\\n?", "\n")
    c = F.regexp_replace(c, "[ \\t]+", " ")
    c = F.regexp_replace(c, " ?\\n ?", "\n")
    c = F.trim(c)
    return docs.withColumn(text_col, c)


#: Tracking query parameters stripped by canonicalize_url — the
#: standard crawl-dedup list (analytics/click identifiers that vary per
#: visit without changing the resource).
TRACKING_PARAM_PREFIXES: tuple[str, ...] = ("utm_",)
TRACKING_PARAM_NAMES: tuple[str, ...] = ("gclid", "fbclid", "msclkid")


def canonicalize_url(url: "F.Column | str") -> "F.Column":
    """Canonical form of a URL for crawl-level deduplication — the
    normalization pass every web-corpus pipeline runs before URL dedup
    (the same page arrives as ``http://Example.COM/a?b=2&a=1#x``,
    ``http://example.com:80/a?a=1&b=2``, and with ``utm_*`` junk):

    1. trim; drop the ``#fragment``;
    2. lowercase the ``scheme://authority`` prefix (path/query keep
       their case — paths are case-sensitive per RFC 3986);
    3. strip the scheme's default port (``:80`` http, ``:443`` https);
    4. drop tracking query params (``utm_*``, ``gclid``/``fbclid``/
       ``msclkid``), sort the surviving params byte-lexicographically,
       and re-join (param ORDER is never semantic for dedup purposes);
    5. collapse a bare ``/`` path with no query to the authority root.

    Pure expression chain (regex in the Java∩RE2 subset; HOFs over the
    small per-URL param array) — zero shuffles, rides the scan. The
    canonical string is byte-deterministic, so a SQL oracle replaying
    the same steps matches exactly.
    """
    u = F.trim(F.col(url) if isinstance(url, str) else url)
    u = F.regexp_replace(u, "#.*", "")
    pre = F.regexp_extract(u, "^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)", 1)
    rest = F.substring(u, F.length(pre) + 1, F.lit(1 << 30))
    pre_l = F.lower(pre)
    pre_l = (
        F.when(
            pre_l.startswith("http://"), F.regexp_replace(pre_l, ":80$", "")
        )
        .when(
            pre_l.startswith("https://"), F.regexp_replace(pre_l, ":443$", "")
        )
        .otherwise(pre_l)
    )
    qpos = F.instr(rest, "?")
    path = F.when(qpos > 0, F.substring(rest, F.lit(1), qpos - 1)).otherwise(
        rest
    )
    query = F.when(
        qpos > 0, F.substring(rest, qpos + 1, F.lit(1 << 30))
    ).otherwise(F.lit(""))

    def _keep(p):  # drop empties, utm_* prefixes, named click ids
        bad = F.lit(False)
        for x in TRACKING_PARAM_PREFIXES:
            bad = bad | (F.substring(p, 1, len(x)) == x)
        return (
            (p != "")
            & ~bad
            & ~F.substring_index(p, "=", 1).isin(*TRACKING_PARAM_NAMES)
        )

    params = F.filter(F.split(query, "&"), _keep)
    qs = F.array_join(F.array_sort(params), "&")
    path = F.when((path == "/") & (qs == ""), F.lit("")).otherwise(path)
    return F.concat(
        pre_l,
        path,
        F.when(qs != "", F.concat(F.lit("?"), qs)).otherwise(F.lit("")),
    )


def url_canonical_dedup(
    df: DataFrame,
    *,
    url_col: str = "url",
    id_col: str = "doc_id",
) -> DataFrame:
    """URL-level crawl dedup: group by :func:`canonicalize_url`, keep
    the minimum-id member as the canonical fetch, count the rest as
    duplicates. One hash shuffle on the canonical string — the
    canonicalization itself is map-side."""
    return (
        df.select(
            F.col(id_col).alias("id"),
            canonicalize_url(url_col).alias("canonical_url"),
        )
        .groupBy("canonical_url")
        .agg(
            F.count("*").alias("n_urls"),
            F.min("id").alias("keep_id"),
        )
    )


def bigram_logprob(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-bigram conditional LM score per document: mean
    ``-ln P(w2 | w1)`` with ``P = count(w1 w2) / count(w1 ·)`` — one
    order up from :func:`unigram_logprob` toward the KenLM-style
    n-gram perplexity filters (CCNet); word order now matters, so
    shuffled boilerplate scores high even when its unigram mix looks
    normal. Returns ``(doc_id, n_bigrams, neg_logprob)``; documents
    with fewer than two tokens have no bigrams and are omitted.

    Scale shape: one bigram explode → (doc, gram) tf groupBy (map-side
    partial), gram- and head-keyed flat joins against corpus count
    tables (a hot-key broadcast hybrid measured 2x slower at sf1; see
    the unigram note).
    DECIMAL-sum determinism as in BM25/unigram.
    """
    from mission_data_pipeline_spark.operators.dedup import word_ngrams

    grams = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(word_ngrams(text_col, 2)).alias("gram"),
    ).filter(F.col("gram").contains(" "))
    # Every shuffle/join after the explode keys on xxhash64, not the
    # gram/head STRINGS: 8-byte fixed keys vs ~20-byte variable strings
    # cut shuffle bytes and comparator cost (the duplicate_span_fraction
    # precedent; 64-bit collisions are negligible at vocabulary scale).
    # The head hash rides along from the explode — head is functionally
    # dependent on gram, so (gh, hh) grouping equals (gram) grouping.
    keyed = grams.select(
        "doc_id",
        F.xxhash64("gram").alias("gh"),
        F.xxhash64(F.substring_index("gram", " ", 1)).alias("hh"),
    )
    tf = keyed.groupBy("doc_id", "gh", "hh").agg(F.count("*").alias("tf"))
    bigc = tf.groupBy("gh").agg(F.sum("tf").cast("double").alias("cb"))
    headc = tf.groupBy("hh").agg(F.sum("tf").cast("double").alias("ch"))
    contrib = -F.log(F.col("cb") / F.col("ch")) * F.col("tf").cast("double")
    return (
        tf.join(bigc, "gh")
        .join(headc, "hh")
        .withColumn("__c", F.round(contrib, 9).cast("decimal(20,9)"))
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("long").alias("n_bigrams"),
            F.sum("__c").alias("__s"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            F.round(
                F.col("__s").cast("double") / F.col("n_bigrams"), 6
            ).alias("neg_logprob"),
        )
    )


def winnow_fingerprints(
    docs: DataFrame,
    *,
    k: int = 4,
    window: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: int = 0,
    out_col: str = "fps",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken 2003,
    the MOSS algorithm): hash every ``k``-token gram with a seeded
    rolling hash, slide a ``window``-wide frame over the hash sequence,
    keep the minimum of each frame, and de-duplicate. The selected
    minima are guaranteed to include a shared fingerprint for any
    shared run of at least ``k + window - 1`` tokens, so two documents
    that share a long-enough passage always share a fingerprint — the
    locality property plain MinHash lacks (reference fingerprints whole
    records only; this is the sub-document rolling-hash variant the
    large-scale curation brief asks for).

    Pure higher-order-function pipeline (``transform`` over
    ``sequence`` + ``slice`` + ``array_min``): zero shuffle, zero
    Python — the fingerprint set rides the scan like any projection.
    The gram hash is the same seeded-md5 32-bit bucket the sampling
    operators use, so the SQL oracle recomputes it exactly.

    Documents with fewer than ``k`` tokens get an empty set; documents
    with fewer than ``k + window - 1`` tokens get the single global
    minimum (the standard short-document degeneration).
    """
    if k < 1 or window < 1:
        raise ValueError(f"k and window must be >= 1, got k={k} window={window}")
    # Each stage is its own projection: higher-order functions run
    # interpreted (no codegen subexpression elimination), so inlining
    # `hashes` into every `when` branch would re-hash the whole gram
    # list per reference — measured ~25x slower. CollapseProject keeps
    # these apart because collapsing would duplicate non-cheap exprs.
    _t, _g, _h = f"__{out_col}_toks", f"__{out_col}_grams", f"__{out_col}_hash"
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), r"\s+"), lambda t: F.length(t) > 0
    )
    staged = docs.withColumn(_t, toks)
    n = F.size(F.col(_t))
    staged = staged.withColumn(
        _g,
        F.when(
            n >= k,
            F.transform(
                F.sequence(F.lit(1), n - k + 1),
                lambda i: F.array_join(F.slice(F.col(_t), i, k), " "),
            ),
        ).otherwise(F.array().cast("array<string>")),
    )
    staged = staged.withColumn(
        _h,
        F.transform(
            F.col(_g),
            lambda g: F.conv(
                F.substring(F.md5(F.concat_ws("|", F.lit(str(seed)), g)), 1, 8),
                16,
                10,
            ).cast("long"),
        ),
    )
    m = F.size(F.col(_h))
    fps = F.when(
        m >= window,
        F.transform(
            F.sequence(F.lit(1), m - window + 1),
            lambda i: F.array_min(F.slice(F.col(_h), i, window)),
        ),
    ).otherwise(
        F.when(m > 0, F.array(F.array_min(F.col(_h)))).otherwise(
            F.array().cast("array<bigint>")
        )
    )
    return staged.withColumn(
        out_col, F.array_sort(F.array_distinct(fps))
    ).drop(_t, _g, _h)


def lang_id_naive_bayes(
    docs: DataFrame,
    *,
    text_col: str = "text",
    label_col: str = "lang",
    id_col: str = "doc_id",
    train_modulus: int = 5,
) -> DataFrame:
    """Multinomial naive-Bayes language identification — the n-gram
    statistical lang-ID scheme (langid.py / fastText-style) trained and
    scored entirely inside the engine. Documents whose ``id % modulus
    != 0`` train per-language token distributions (add-one smoothing
    over the shared vocabulary) and label priors; the held-out rest are
    classified by argmax posterior. Returns one row per held-out
    document: ``(doc_id, true_lang, pred_lang)``.

    Scale shape: the model is vocabulary x languages — broadcast-tiny
    by construction (vocabularies are bounded; languages are dozens) —
    so classification is an explode → (doc, term) tf groupBy, a
    broadcast join against the model, and one (doc) aggregation.
    The corpus is scanned twice (train counts, test scoring); nothing
    driver-side materializes per-document state.

    Determinism: log-probabilities are scaled to integer nano-units
    (``round(ln(p) * 1e9)`` as BIGINT) so every downstream sum and
    comparison is exact integer arithmetic — no float addition order,
    no decimal-widening dialect differences; the argmax tie-breaks on
    language code, so the prediction is a pure function of the corpus.
    """
    if train_modulus < 2:
        raise ValueError(f"train_modulus must be >= 2, got {train_modulus}")
    is_train = (F.col(id_col) % train_modulus) != 0
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.col(label_col).alias("lang"),
        is_train.alias("__train"),
        F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("term"),
    ).filter(F.length("term") > 0)
    train = toks.filter("__train")

    counts = train.groupBy("lang", "term").agg(F.count("*").alias("c"))
    lang_tot = counts.groupBy("lang").agg(F.sum("c").alias("n_lang"))
    vocab = counts.select("term").distinct().agg(
        F.count("*").cast("double").alias("v")
    )
    n_train_docs = (
        docs.filter(is_train)
        .agg(F.count("*").cast("double").alias("n_docs"))
    )
    priors = (
        docs.filter(is_train)
        .groupBy(F.col(label_col).alias("lang"))
        .agg(F.count("*").cast("double").alias("n_lang_docs"))
        .crossJoin(broadcast(n_train_docs))
        .select(
            "lang",
            F.round(F.log(F.col("n_lang_docs") / F.col("n_docs")) * 1e9)
            .cast("long")
            .alias("log_prior"),
        )
    )
    # Per-(lang, term) smoothed log-likelihood + per-lang unseen-token
    # default ln(1 / (n_lang + V)); both in integer nano-log units.
    langs = lang_tot.crossJoin(broadcast(vocab)).select(
        "lang",
        "n_lang",
        "v",
        F.round(-F.log(F.col("n_lang") + F.col("v")) * 1e9)
        .cast("long")
        .alias("logp_unseen"),
    )
    model = (
        counts.join(langs, "lang")
        .select(
            "lang",
            "term",
            F.round(
                F.log((F.col("c") + 1) / (F.col("n_lang") + F.col("v"))) * 1e9
            )
            .cast("long")
            .alias("logp"),
        )
    )

    tf = (
        toks.filter(~F.col("__train"))
        .groupBy("doc_id", "lang", "term")
        .agg(F.count("*").alias("tf"))
        .withColumnRenamed("lang", "true_lang")
    )
    scored = (
        tf.crossJoin(broadcast(langs.select("lang", "logp_unseen")))
        .join(broadcast(model), ["lang", "term"], "left")
        .withColumn(
            "__c",
            F.col("tf") * F.coalesce(F.col("logp"), F.col("logp_unseen")),
        )
        .groupBy("doc_id", "true_lang", "lang")
        .agg(F.sum("__c").cast("long").alias("__like"))
        .join(broadcast(priors), "lang")
        .withColumn("score", F.col("__like") + F.col("log_prior"))
    )
    return (
        scored.groupBy("doc_id", "true_lang")
        .agg(
            F.max(F.struct(F.col("score"), F.col("lang"))).alias("__best")
        )
        .select(
            "doc_id",
            "true_lang",
            F.col("__best.lang").alias("pred_lang"),
        )
    )


def heldout_backoff_logprob(
    docs_train: DataFrame,
    docs_score: DataFrame,
    *,
    alpha: float = 0.4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Held-out LM scoring with stupid backoff (Brants et al. 2007) —
    the real shape of the CCNet/KenLM perplexity filter: the language
    model is COUNTED ON ONE CORPUS (``docs_train``, e.g. a trusted
    reference like Wikipedia) and SCORES ANOTHER (``docs_score``, the
    crawl being curated). Self-scoring (:func:`bigram_logprob`) can
    never exercise backoff — every bigram it scores is by construction
    in its own counts; held-out scoring is where out-of-vocabulary
    handling actually matters.

    Per scored bigram (w1, w2):

    - seen bigram:   -ln( C(w1 w2) / C(w1 ·) )
    - unseen bigram, seen w2:   -ln( alpha · C(w2) / C(·) )
    - unseen w2 (OOV):          -ln( alpha / (C(·) + 1) )

    Returns ``(doc_id, n_bigrams, n_backoff, n_oov, neg_logprob)`` for
    the scored documents — the backoff/OOV counts are the curation
    signal alongside the score (a document full of OOV tokens is
    garbage or another language).

    Scale shape: identical to :func:`bigram_logprob` — all post-explode
    shuffles/joins key on ``xxhash64`` of the gram/word, never strings;
    the train-side count tables are vocabulary-sized; DECIMAL-exact
    contribution sums for the oracle.

    The train corpus is exploded once into grams and once into tokens:
    ``cb`` and ``ch`` both derive from ONE vocabulary-sized (gh, hh)
    pair-count table, and ``ctot`` from ``cf``, so each explode feeds a
    single aggregate (guide §2.3, aggregate before you shuffle).
    """
    from mission_data_pipeline_spark.operators.dedup import word_ngrams

    def grams_of(df: DataFrame) -> DataFrame:
        return df.select(
            F.col(id_col).alias("doc_id"),
            F.explode(word_ngrams(text_col, 2)).alias("gram"),
        ).filter(F.col("gram").contains(" "))

    def toks_of(df: DataFrame) -> DataFrame:
        return df.select(
            F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("w")
        ).filter(F.length("w") > 0)

    tg = grams_of(docs_train).select(
        F.xxhash64("gram").alias("gh"),
        F.xxhash64(F.substring_index("gram", " ", 1)).alias("hh"),
    )
    cf = toks_of(docs_train).groupBy(F.xxhash64("w").alias("wh")).agg(
        F.count("*").cast("double").alias("cf")
    )
    # one (gh, hh) pair-count shuffle over the gram table; gh is a hash
    # of the full bigram so it determines hh up to 64-bit collisions —
    # cb still groups by gh alone so a collision cannot change its count
    pc = tg.groupBy("gh", "hh").agg(F.count("*").alias("__n"))
    cb = pc.groupBy("gh").agg(F.sum("__n").cast("double").alias("cb"))
    ch = pc.groupBy("hh").agg(F.sum("__n").cast("double").alias("ch"))
    # coalesce: sum over an EMPTY vocab is NULL; the token count is 0
    ctot = cf.agg(
        F.coalesce(F.sum("cf"), F.lit(0.0)).cast("double").alias("ctot")
    )

    sg = grams_of(docs_score).select(
        "doc_id",
        F.xxhash64("gram").alias("gh"),
        F.xxhash64(F.substring_index("gram", " ", 1)).alias("hh"),
        F.xxhash64(F.substring_index("gram", " ", -1)).alias("wh"),
    )
    tf = sg.groupBy("doc_id", "gh", "hh", "wh").agg(
        F.count("*").alias("tf")
    )
    joined = (
        tf.join(cb, "gh", "left")
        .join(ch, "hh", "left")
        .join(cf, "wh", "left")
        .crossJoin(broadcast(ctot))
    )
    p = (
        F.when(
            F.col("cb").isNotNull(), F.col("cb") / F.col("ch")
        )
        .when(
            F.col("cf").isNotNull(),
            F.lit(alpha) * F.col("cf") / F.col("ctot"),
        )
        .otherwise(F.lit(alpha) / (F.col("ctot") + 1.0))
    )
    contrib = -F.log(p) * F.col("tf").cast("double")
    is_backoff = F.col("cb").isNull() & F.col("cf").isNotNull()
    is_oov = F.col("cf").isNull()
    return (
        joined.withColumn("__c", F.round(contrib, 9).cast("decimal(20,9)"))
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("long").alias("n_bigrams"),
            F.sum(F.when(is_backoff, F.col("tf")).otherwise(0))
            .cast("long")
            .alias("n_backoff"),
            F.sum(F.when(is_oov, F.col("tf")).otherwise(0))
            .cast("long")
            .alias("n_oov"),
            F.sum("__c").alias("__s"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            "n_backoff",
            "n_oov",
            F.round(
                F.col("__s").cast("double") / F.col("n_bigrams"), 6
            ).alias("neg_logprob"),
        )
    )


GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_quality_signals(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    min_alpha_frac: float = 0.8,
    min_stopwords: int = 2,
    keep_text: bool = False,
    keep_cols: "list[str] | None" = None,
) -> DataFrame:
    """Gopher/MassiveText repetition-free quality rules (Rae et al.
    2021, Appendix A "quality filtering"): the word-level half of the
    rule set — word-count window, mean-word-length window, hash/
    ellipsis symbol-to-word ratio, alphabetic-word fraction, and the
    required-stopword count (≥ ``min_stopwords`` distinct members of
    the canonical 8-word set). Returns per-doc signals plus the
    composite ``gopher_pass``. (The line-level rules — bullet/ellipsis
    line fractions — live with the C4 line gates in ``c4_signals``;
    this corpus is single-line.)

    All array/higher-order expressions over one token split — zero
    shuffles, rides the scan; at 100 TB this is the cheap map-side gate
    in front of dedup/scoring, same as ``c4_signals``. Ratios round to
    6 so the DuckDB oracle reproduces every comparison bit-for-bit.
    """
    text = F.col(text_col)
    toks = F.filter(
        F.split(F.trim(F.lower(text)), r"\s+"), lambda x: F.length(x) > 0
    )
    # keep_cols threads extra columns (e.g. lang, source) through the
    # gate so callers don't need a corpus self-join to recover them —
    # the gate stays ONE map-side projection at any scale.
    extra = list(keep_cols or [])
    staged = docs.select(
        F.col(id_col).alias("doc_id"),
        text.alias("__text"),
        toks.alias("__t"),
        *extra,
    )
    n_words = F.size("__t").cast("long")
    char_mass = F.aggregate(
        F.transform("__t", lambda t: F.length(t).cast("long")),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    mean_wl = F.round(
        char_mass.cast("double") / F.col("n_words").cast("double"), 6
    )
    n_hash = F.length("__text") - F.length(F.replace("__text", F.lit("#")))
    n_ellipsis = (
        F.length("__text") - F.length(F.replace("__text", F.lit("...")))
    ) / F.lit(3)
    symbol_ratio = F.round(
        (n_hash + n_ellipsis).cast("double")
        / F.col("n_words").cast("double"),
        6,
    )
    alpha_frac = F.round(
        F.size(F.filter("__t", lambda t: t.rlike("[a-z]"))).cast("double")
        / F.col("n_words").cast("double"),
        6,
    )
    n_stop = F.size(
        F.array_intersect(
            "__t", F.array(*[F.lit(w) for w in GOPHER_STOPWORDS])
        )
    ).cast("long")
    # mean_wl/symbol_ratio/alpha_frac reference n_words — bind it first
    # as its own projection (HOF lambdas evaluate interpreted; see the
    # module's staged-projection convention).
    # keep_text=True threads the text column through (aliased back to
    # ``text_col``) so the gate composes as ONE streaming-safe
    # projection — filter gopher_pass then feed the ingest stream
    # without a stream-stream self-join to recover the text.
    sig = (
        staged.filter(F.size("__t") > 0)
        .select("doc_id", "__text", "__t", n_words.alias("n_words"), *extra)
        .select(
            "doc_id",
            *extra,
            *([F.col("__text").alias(text_col)] if keep_text else []),
            "n_words",
            mean_wl.alias("mean_word_len"),
            symbol_ratio.alias("symbol_ratio"),
            alpha_frac.alias("alpha_frac"),
            n_stop.alias("n_stopwords"),
        )
    )
    return sig.select(
        "*",
        (
            (F.col("n_words") >= min_words)
            & (F.col("n_words") <= max_words)
            & (F.col("mean_word_len") >= min_mean_word_len)
            & (F.col("mean_word_len") <= max_mean_word_len)
            & (F.col("symbol_ratio") <= max_symbol_ratio)
            & (F.col("alpha_frac") >= min_alpha_frac)
            & (F.col("n_stopwords") >= min_stopwords)
        ).alias("gopher_pass"),
    )
