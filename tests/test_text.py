"""BM25 text relevance (operators/text.py)."""

import math

import pytest

from mission_data_pipeline_spark.operators.text import bm25_scores


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "spark spark spark query"),
        (2, "spark query join window table"),
        (3, "table window batch data row column value"),
        (4, "join join join join join join join join"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_bm25_golden(docs):
    out = {r["doc_id"]: r for r in bm25_scores(docs, ["spark", "join"]).collect()}
    assert set(out) == {1, 2, 4}  # doc 3 matches nothing
    assert out[1]["n_matched"] == 1 and out[2]["n_matched"] == 2

    # hand-computed reference: N=4, avgdl=(4+5+7+8)/4=6
    def ref(tf, dl, df, k1=1.2, b=0.75, n=4.0, avgdl=6.0):
        idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
        return idf * tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dl / avgdl))

    assert out[1]["bm25"] == pytest.approx(ref(3, 4, 2), abs=1e-6)
    assert out[2]["bm25"] == pytest.approx(ref(1, 5, 2) + ref(1, 5, 2), abs=1e-6)
    assert out[4]["bm25"] == pytest.approx(ref(8, 8, 2), abs=1e-6)
    # tf saturation: 8x 'join' scores below idf*(k1+1) asymptote
    idf_join = math.log(1.0 + (4.0 - 2 + 0.5) / 2.5)
    assert out[4]["bm25"] < idf_join * 2.2


def test_bm25_empty_terms_rejected(docs):
    with pytest.raises(ValueError):
        bm25_scores(docs, [])


def test_scrub_text_redacts_pii(spark):
    from mission_data_pipeline_spark.operators.text import scrub_text

    rows = [
        (1, "contact bob.smith+x@example.co.uk or visit https://a.io/x?q=1 now"),
        (2, "call 555-123-4567 card 4111111111111111 ok"),
        (3, "clean text with numbers 42 and 2024 stays"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["text"] for r in scrub_text(df).collect()}
    assert got[1] == "contact <EMAIL> or visit <URL> now"
    assert got[2] == "call <PHONE> card <LONGNUM> ok"
    assert got[3] == rows[2][1]  # short numbers untouched
    # expression-only, no shuffle
    plan = scrub_text(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_repetition_signals_dup_lines_and_top_bigram(spark):
    from mission_data_pipeline_spark.operators.text import repetition_signals

    text = "spam spam spam spam\nunique line here\nspam spam spam spam\n\n  \n"
    df = spark.createDataFrame([(1, text), (2, "no repeats at all")],
                               "doc_id long, text string")
    rows = {r["doc_id"]: r for r in repetition_signals(df).collect()}
    r1 = rows[1]
    # 3 non-empty lines, one a duplicate of an earlier identical line
    assert r1["n_lines"] == 3
    assert abs(r1["dup_line_frac"] - 1 / 3) < 1e-12
    # duplicated chars = 19 of 19+16+19
    assert abs(r1["dup_line_char_frac"] - 19 / 54) < 1e-12
    # "spam spam" occurs 3x per spam line... bigrams across the full doc
    assert r1["top_ngram_frac"] > 0.5
    r2 = rows[2]
    assert r2["dup_line_frac"] == 0.0 and r2["top_ngram_frac"] <= 0.5


def test_decontaminate_flags_overlap(spark):
    from mission_data_pipeline_spark.operators.text import decontaminate

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog tonight ok")],
        "doc_id long, text string",
    )
    docs = spark.createDataFrame(
        [
            (1, "prefix words the quick brown fox jumps over the lazy dog tonight ok suffix"),
            (2, "completely different content with no benchmark overlap at all whatsoever"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in decontaminate(docs, bench, n=8).collect()}
    assert out[1]["is_contaminated"] and out[1]["n_contaminated_grams"] > 0
    assert not out[2]["is_contaminated"] and out[2]["n_contaminated_grams"] == 0
    # benchmark side must broadcast: the corpus gram table never shuffles
    plan = decontaminate(docs, bench, n=8)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoop" in plan


def test_c4_signals_gates(spark):
    from mission_data_pipeline_spark.operators.text import c4_signals

    rows = [
        (1, "This is a good clean sentence.\nAnd another proper one!"),
        (2, "code { margin: 0; }"),            # brace tell
        (3, "Lorem ipsum dolor sit amet etc."),  # boilerplate tell
        (4, "short"),                           # under min_words
        (5, "no terminal punctuation on this line\nnor on this one"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in c4_signals(df).collect()}
    assert out[1]["keep"] and out[1]["frac_lines_terminal_punct"] == 1.0
    assert not out[2]["keep"] and out[2]["has_curly_brace"]
    assert not out[3]["keep"] and out[3]["has_lorem_ipsum"]
    assert not out[4]["keep"] and out[4]["n_words"] == 1
    assert not out[5]["keep"] and out[5]["frac_lines_terminal_punct"] == 0.0
    # zero-shuffle: pure projection, no Exchange in the plan
    plan = c4_signals(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_bpe_token_count_expression(spark):
    from mission_data_pipeline_spark.operators.text import bpe_token_count

    df = spark.createDataFrame(
        [(1, "It's fine."), (2, ""), (3, "hello world")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["n"] for r in
           df.select("doc_id", bpe_token_count("text").alias("n")).collect()}
    # "It" + "'s" + " fine" + "." = 4; empty = 0; "hello" + " world" = 2
    assert out == {1: 4, 2: 0, 3: 2}
    plan = df.select(bpe_token_count("text"))._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Python" not in plan


def test_tfidf_sparse_bridges_to_ann(spark):
    from pyspark.sql import functions as F

    from mission_data_pipeline_spark.operators.similarity import cosine_topk
    from mission_data_pipeline_spark.operators.text import tfidf_sparse

    docs = spark.createDataFrame(
        [
            (1, "spark engine for telemetry processing"),
            (2, "spark engine for telemetry processing"),  # exact dup of 1
            (3, "completely unrelated cooking recipe with butter and salt"),
        ],
        "doc_id long, text string",
    )
    sparse = tfidf_sparse(docs, dim=32)
    rows = sparse.collect()
    assert all(0 <= r["bucket"] < 32 for r in rows)
    # identical docs -> identical sparse vectors
    v1 = {(r["bucket"], r["weight"]) for r in rows if r["doc_id"] == 1}
    v2 = {(r["bucket"], r["weight"]) for r in rows if r["doc_id"] == 2}
    assert v1 == v2 and len(v1) > 0
    # densify and run exact cosine top-k: doc 1's nearest is its dup
    dense = (
        sparse.groupBy("doc_id")
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("bucket", "weight"))
            ).alias("m")
        )
        .select(
            "doc_id",
            F.transform(
                F.sequence(F.lit(0), F.lit(31)),
                lambda i: F.coalesce(
                    F.element_at(F.col("m"), i.cast("long")), F.lit(0.0)
                ),
            ).alias("embedding"),
        )
    )
    top = cosine_topk(dense, dense.filter("doc_id = 1"), k=1, id_col="doc_id")
    r = top.collect()[0]
    assert r["neighbor_id"] == 2 and abs(r["cosine"] - 1.0) < 1e-9


def test_decontaminate_gram_join_is_broadcast(spark):
    """Plan-shape guard for the scale claim: the benchmark gram set is
    broadcast, so the corpus-side gram table joins map-side — if the
    broadcast() hint is dropped, the gram key appears in a SortMergeJoin
    line and this fails."""
    from mission_data_pipeline_spark.operators.text import decontaminate

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        corpus = spark.createDataFrame(
            [(i, "alpha beta gamma delta epsilon zeta eta theta") for i in range(50)],
            "doc_id long, text string",
        )
        bench = spark.createDataFrame(
            [(1, "alpha beta gamma delta epsilon zeta eta theta iota")],
            "bid long, text string",
        )
        out = decontaminate(corpus, bench, n=4)
        assert out.filter("is_contaminated").count() == 50
        plan = (
            out._jdf.queryExecution()
            .executedPlan()
            .toString()
            .split("== Initial Plan ==")[0]
        )
        assert "BroadcastHashJoin" in plan
        for ln in plan.splitlines():
            if "SortMergeJoin" in ln:
                assert "gram" not in ln, ln
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_unigram_logprob_rare_tokens_score_higher(spark):
    """A doc of corpus-rare tokens must out-score (higher -ln p) a doc of
    corpus-common tokens; token accounting must match; all-identical
    corpus scores 0."""
    import math

    from mission_data_pipeline_spark.operators.text import unigram_logprob

    docs = spark.createDataFrame(
        [
            (1, "common common common common"),
            (2, "common common common common"),
            (3, "rare singleton"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in unigram_logprob(docs).collect()}
    assert got[1]["n_tokens"] == 4 and got[3]["n_tokens"] == 2
    assert got[3]["neg_logprob"] > got[1]["neg_logprob"]
    # exact check: p(common) = 8/10 -> -ln(0.8); p(rare)=p(singleton)=1/10
    assert abs(got[1]["neg_logprob"] - round(-math.log(0.8), 6)) < 1e-6
    assert abs(got[3]["neg_logprob"] - round(-math.log(0.1), 6)) < 1e-6

    same = spark.createDataFrame(
        [(1, "a a a"), (2, "a a")], "doc_id long, text string"
    )
    for r in unigram_logprob(same).collect():
        assert r["neg_logprob"] == 0.0


def test_filter_badwords_whole_word_case_insensitive(spark):
    from mission_data_pipeline_spark.operators.text import filter_badwords

    docs = spark.createDataFrame(
        [
            (1, "a perfectly clean document"),
            (2, "contains the BADWORD here"),
            (3, "badwords is a different token"),  # substring, not whole word
            (4, "ends with badword"),
        ],
        "doc_id long, text string",
    )
    kept = filter_badwords(docs, ["badword"])
    assert sorted(r["doc_id"] for r in kept.collect()) == [1, 3]
    flagged = filter_badwords(docs, ["badword"], keep_flag=True)
    got = {r["doc_id"]: r["has_badword"] for r in flagged.collect()}
    assert got == {1: False, 2: True, 3: False, 4: True}
    import pytest as _pytest

    with _pytest.raises(ValueError):
        filter_badwords(docs, [])


def test_normalize_text_canonicalizes_whitespace(spark):
    from mission_data_pipeline_spark.operators.text import normalize_text

    docs = spark.createDataFrame(
        [
            (1, "  hello\t\tworld  \r\nsecond\rline\x00\x07 "),
            (2, "already clean"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["text"] for r in normalize_text(docs).collect()}
    assert got[1] == "hello world\nsecond\nline"
    assert got[2] == "already clean"
    # normalization makes dedup keys stable: two visually-equal docs hash equal
    pair = spark.createDataFrame(
        [(1, "a  b\r\nc"), (2, "a b\nc")], "doc_id long, text string"
    )
    texts = {r["text"] for r in normalize_text(pair).collect()}
    assert texts == {"a b\nc"}


def test_bigram_logprob_order_sensitivity(spark):
    """Bigram scoring must penalize word-order scrambling that unigram
    scoring cannot see: same token multiset, different order, higher
    -ln P(w2|w1)."""
    import math

    from mission_data_pipeline_spark.operators.text import bigram_logprob

    docs = spark.createDataFrame(
        [
            (1, "a b c a b c a b c"),
            (2, "a b c a b c"),
            (3, "c b a c b a c b a"),  # same unigrams, reversed transitions
            (4, "solo"),  # single token: no bigrams, omitted
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in bigram_logprob(docs).collect()}
    assert 4 not in rows
    assert rows[1]["n_bigrams"] == 8
    # 'a b' transitions dominate the corpus, so docs 1/2 (all common
    # transitions) must score lower than doc 3 (rare 'b a' transitions)
    assert rows[1]["neg_logprob"] < rows[3]["neg_logprob"]
    # exact: corpus bigram counts c('a b')=12? compute independently
    # heads: c('a .')-starts and c('b .')-starts from the three docs
    from collections import Counter

    grams = Counter()
    for t in ("a b c a b c a b c", "a b c a b c", "c b a c b a c b a"):
        w = t.split()
        grams.update(zip(w, w[1:]))
    heads = Counter()
    for (w1, _), c in grams.items():
        heads[w1] += c
    for doc_id, text in ((1, "a b c a b c a b c"), (3, "c b a c b a c b a")):
        w = text.split()
        contribs = [
            round(-math.log(grams[bg] / heads[bg[0]]), 9)
            for bg in zip(w, w[1:])
        ]
        exp = round(sum(contribs) / len(contribs), 6)
        assert abs(rows[doc_id]["neg_logprob"] - exp) < 1e-6


def test_text_operators_handle_empty_corpus(spark):
    """Every corpus-level scorer must yield an empty (not failing)
    result on an empty input — at scale a filter chain can legitimately
    drain a partition or a whole shard."""
    from mission_data_pipeline_spark.operators.text import (
        bigram_logprob,
        c4_signals,
        filter_badwords,
        normalize_text,
        repetition_signals,
        scrub_text,
        tfidf_sparse,
        unigram_logprob,
    )

    empty = spark.createDataFrame([], "doc_id long, text string")
    for op in (
        lambda d: unigram_logprob(d),
        lambda d: bigram_logprob(d),
        lambda d: tfidf_sparse(d, dim=16),
        lambda d: c4_signals(d),
        lambda d: repetition_signals(d),
        lambda d: scrub_text(d),
        lambda d: normalize_text(d),
        lambda d: filter_badwords(d, ["bad"]),
    ):
        assert op(empty).count() == 0


def test_winnow_fingerprints_locality_and_edges(spark):
    from mission_data_pipeline_spark.operators.text import winnow_fingerprints

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lam mu"
    rows = [
        (1, base),
        # same text with a local edit at the end: winnowing guarantees a
        # shared fingerprint for any shared run of >= k+window-1 tokens
        (2, base + " extra tokens appended here"),
        # completely different text: no shared grams, no shared fps
        (3, "one two three four five six seven eight nine ten"),
        (4, "a b"),  # fewer than k tokens -> empty set
        (5, "a b c d e"),  # >=k grams but fewer than window -> global min
        (6, ""),  # empty -> empty set
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: list(r["fps"])
        for r in winnow_fingerprints(df, k=4, window=5, seed=7).collect()
    }
    assert set(out[1]) & set(out[2]), "local edit must keep shared fps"
    assert not set(out[1]) & set(out[3]), "disjoint text shares nothing"
    assert out[4] == [] and out[6] == []
    assert len(out[5]) == 1  # 2 grams < window -> single global minimum
    # deterministic: same seed reproduces; different seed reshuffles
    again = {
        r["doc_id"]: list(r["fps"])
        for r in winnow_fingerprints(df, k=4, window=5, seed=7).collect()
    }
    assert again == out
    other = {
        r["doc_id"]: list(r["fps"])
        for r in winnow_fingerprints(df, k=4, window=5, seed=8).collect()
    }
    assert other[1] != out[1]
    # sorted-distinct contract
    assert all(v == sorted(set(v)) for v in out.values())


def test_winnow_fingerprints_rejects_bad_params(spark):
    from mission_data_pipeline_spark.operators.text import winnow_fingerprints

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    import pytest as _pytest

    with _pytest.raises(ValueError):
        winnow_fingerprints(df, k=0)
    with _pytest.raises(ValueError):
        winnow_fingerprints(df, window=0)


def test_lang_id_naive_bayes_separable_corpus(spark):
    from mission_data_pipeline_spark.operators.text import lang_id_naive_bayes

    # Two languages with disjoint vocabularies: NB must classify the
    # held-out docs (doc_id % 3 == 0) perfectly.
    rows = []
    for i in range(30):
        rows.append((2 * i, "aa bb cc aa bb", "xx"))
        rows.append((2 * i + 1, "dd ee ff dd ee", "yy"))
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = lang_id_naive_bayes(df, train_modulus=3).collect()
    held_out = [r for r in rows if r[0] % 3 == 0]
    assert len(out) == len(held_out)
    assert all(r["pred_lang"] == r["true_lang"] for r in out)


def test_lang_id_naive_bayes_prior_tiebreak(spark):
    from mission_data_pipeline_spark.operators.text import lang_id_naive_bayes

    # Identical token distributions: the likelihoods tie, so the label
    # prior decides — the majority language wins for every test doc.
    rows = []
    for i in range(40):
        rows.append((2 * i, "tok tok tok", "big"))
    for i in range(5):
        rows.append((2 * i + 1, "tok tok tok", "small"))
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = lang_id_naive_bayes(df, train_modulus=4).collect()
    assert out and all(r["pred_lang"] == "big" for r in out)


def test_lang_id_naive_bayes_rejects_bad_modulus(spark):
    from mission_data_pipeline_spark.operators.text import lang_id_naive_bayes

    df = spark.createDataFrame([(1, "a", "x")], "doc_id long, text string, lang string")
    import pytest as _pytest

    with _pytest.raises(ValueError):
        lang_id_naive_bayes(df, train_modulus=1)


def test_new_text_operators_handle_null_text(spark):
    """NULL text must degrade gracefully, never throw (ANSI mode)."""
    from mission_data_pipeline_spark.operators.dedup import (
        duplicate_span_fraction,
    )
    from mission_data_pipeline_spark.operators.text import (
        lang_id_naive_bayes,
        winnow_fingerprints,
    )

    df = spark.createDataFrame(
        [(1, None, "en"), (2, "a b c d e f g h i j k l", "fr")],
        "doc_id long, text string, lang string",
    )
    w = {r["doc_id"]: list(r["fps"]) for r in winnow_fingerprints(df).collect()}
    assert w[1] == [] and len(w[2]) > 0
    d = duplicate_span_fraction(df, n=3).collect()
    assert [r["doc_id"] for r in d] == [2]  # null-text doc contributes no spans
    # null text trains nothing; classification stays empty, not an error
    assert lang_id_naive_bayes(df, train_modulus=2).collect() == []


def test_lang_id_classification_joins_broadcast(spark):
    """The vocabulary x languages model must broadcast to the token
    table — classification adds no model-side shuffle of the corpus."""
    from mission_data_pipeline_spark.operators.text import lang_id_naive_bayes

    rows = [(i, "aa bb cc", "x" if i % 2 else "y") for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    plan = (
        lang_id_naive_bayes(df, train_modulus=3)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_winnow_locality_property_bulk(spark):
    """Winnowing's guarantee, checked over 100 random pairs in ONE job:
    any two texts sharing a run of >= k+window-1 tokens share at least
    one fingerprint. Each pair is (base, base + random suffix) with
    |base| >= 8 = k+window-1, so sharing is guaranteed for all pairs."""
    import random

    from mission_data_pipeline_spark.operators.text import winnow_fingerprints

    rng = random.Random(42)
    vocab = [f"w{i}" for i in range(50)]
    rows = []
    for i in range(100):
        base = [rng.choice(vocab) for _ in range(rng.randint(8, 40))]
        edit = base + [rng.choice(vocab) for _ in range(rng.randint(1, 10))]
        rows.append((2 * i, " ".join(base)))
        rows.append((2 * i + 1, " ".join(edit)))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fps = {
        r["doc_id"]: set(r["fps"])
        for r in winnow_fingerprints(df, k=4, window=5, seed=3).collect()
    }
    for i in range(100):
        assert fps[2 * i] & fps[2 * i + 1], f"pair {i} shares no fingerprint"


def test_word_ngrams_regex_edge_semantics(spark):
    """The regex-lookaround n-gram rewrite must keep the legacy edge
    contract: <n tokens -> one whole-run gram; empty doc -> [""];
    overlapping grams, single-space joined, lowercased."""
    from pyspark.sql import functions as F

    from mission_data_pipeline_spark.operators.dedup import word_ngrams

    rows = [
        (1, "The quick Brown fox"),
        (2, "one two"),      # exactly n tokens for n=2
        (3, "solo"),          # fewer than n
        (4, ""),              # empty
        (5, "a  b\t c\nd"),   # messy whitespace
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r["g"]
        for r in df.select(
            "doc_id", word_ngrams("text", 2).alias("g")
        ).collect()
    }
    assert got[1] == ["the quick", "quick brown", "brown fox"]
    assert got[2] == ["one two"]
    assert got[3] == ["solo"]
    assert got[4] == [""]
    assert got[5] == ["a b", "b c", "c d"]
    got3 = {
        r["doc_id"]: r["g"]
        for r in df.select(
            "doc_id", word_ngrams("text", 3).alias("g")
        ).collect()
    }
    assert got3[1] == ["the quick brown", "quick brown fox"]
    assert got3[2] == ["one two"]  # whole-run fallback


def test_heavy_tail_join_equivalence(spark):
    """heavy_k>0 (broadcast hot keys + shuffled tail) must be
    row-identical to the flat vocabulary join, for any heavy_k."""
    from mission_data_pipeline_spark.operators.text import (
        bigram_logprob,
        unigram_logprob,
    )

    docs = spark.createDataFrame(
        [(i, ("alpha beta " * (i % 5 + 1)) + f"rare{i} tail{i%7}")
         for i in range(40)],
        "doc_id long, text string",
    )
    for op in (unigram_logprob, bigram_logprob):
        flat = sorted(map(tuple, op(docs, heavy_k=0).collect()))
        for k in (1, 3, 10_000):
            hyb = sorted(map(tuple, op(docs, heavy_k=k).collect()))
            assert hyb == flat, (op.__name__, k)


def test_heldout_backoff_branches(spark):
    """All three probability branches must fire and be correct: seen
    bigram (train ratio), backoff (unseen bigram, seen word), OOV."""
    import math

    from mission_data_pipeline_spark.operators.text import (
        heldout_backoff_logprob,
    )

    train = spark.createDataFrame(
        [(1, "a b a b a c")], "doc_id long, text string"
    )
    # "a b": seen (C=2, C(a ·)=3) -> -ln(2/3)
    # "b z": z seen? z not in train -> OOV -> -ln(0.4/(6+1))
    # "z a": head z unseen but bigram unseen, second word a seen ->
    #        backoff -> -ln(0.4 * C(a)=3 / 6)
    score = spark.createDataFrame(
        [(10, "a b z a")], "doc_id long, text string"
    )
    r = heldout_backoff_logprob(train, score, alpha=0.4).collect()[0]
    assert (r["n_bigrams"], r["n_backoff"], r["n_oov"]) == (3, 1, 1)
    exp = (
        -math.log(2 / 3)          # a b
        + -math.log(0.4 / 7.0)    # b z (OOV z)
        + -math.log(0.4 * 3 / 6)  # z a (backoff to unigram a)
    ) / 3
    assert abs(r["neg_logprob"] - exp) < 1e-5


def test_heldout_backoff_single_pass_train_identical(spark):
    """single_pass_train=True (the default: one (gh,hh) pair-count table
    deriving cb/ch, ctot from cf — the corpus-scale shape) must produce
    exactly the two-pass form's rows (single_pass_train=False), all
    three branches included."""
    from mission_data_pipeline_spark.operators.text import (
        heldout_backoff_logprob,
    )

    train = spark.createDataFrame(
        [(1, "a b a b a c"), (2, "c d e e e"), (3, "")],
        "doc_id long, text string",
    )
    score = spark.createDataFrame(
        [(10, "a b z a"), (11, "e e q"), (12, "solo")],
        "doc_id long, text string",
    )
    two = sorted(
        map(
            tuple,
            heldout_backoff_logprob(
                train, score, single_pass_train=False
            ).collect(),
        )
    )
    one = sorted(
        map(
            tuple,
            heldout_backoff_logprob(
                train, score, single_pass_train=True
            ).collect(),
        )
    )
    assert one == two
    assert len(two) == 2  # doc 12 has no bigrams


def test_canonicalize_url_variants(spark):
    from mission_data_pipeline_spark.operators.text import (
        canonicalize_url,
        url_canonical_dedup,
    )
    from pyspark.sql import functions as F

    cases = {
        "http://Example.COM/path?b=2&a=1#frag": "http://example.com/path?a=1&b=2",
        "http://example.com:80/path?a=1&b=2": "http://example.com/path?a=1&b=2",
        "HTTP://EXAMPLE.com/path?utm_source=x&a=1&b=2": "http://example.com/path?a=1&b=2",
        "https://example.com:443/p?gclid=z&a=1": "https://example.com/p?a=1",
        "http://example.com/": "http://example.com",
        "http://example.com/?utm_campaign=a": "http://example.com",
        "http://example.com:8080/x": "http://example.com:8080/x",  # non-default port kept
        "https://h.com/A/B?z=1&y=2": "https://h.com/A/B?y=2&z=1",  # path case kept
    }
    df = spark.createDataFrame([(u,) for u in cases], "url string")
    got = {
        r["url"]: r["c"]
        for r in df.select("url", canonicalize_url("url").alias("c")).collect()
    }
    assert got == cases
    # dedup groups the three equivalent fetches, keeps min id
    dd = spark.createDataFrame(
        [(i, u) for i, u in enumerate(cases)], "doc_id long, url string"
    )
    out = {
        r["canonical_url"]: (r["n_urls"], r["keep_id"])
        for r in url_canonical_dedup(dd).collect()
    }
    assert out["http://example.com/path?a=1&b=2"] == (3, 0)
    assert out["http://example.com"] == (2, 4)


def test_gopher_quality_signals_rule_trips(spark):
    """Each Gopher rule trips on its designed offender and the clean doc
    passes (Rae et al. 2021 App. A word-level rules)."""
    from mission_data_pipeline_spark.operators.text import (
        gopher_quality_signals,
    )

    clean = (
        "the quick brown fox and the lazy dog have gone to rest "
        "with some friends of theirs beside that quiet river today"
    )
    rows = [
        (1, clean),                                  # passes everything
        (2, "too few words here"),                   # word-count floor
        (3, "a b c d e f g h i j k l m n o p q r the of"),  # mean len < 3
        (4, clean + " ### ## # # # # # # # # # #"),  # symbol ratio > 0.1
        (5, " ".join(["1234567"] * 30) + " the of"), # alpha frac < 0.8
        (6, "quick brown foxes jump quietly beside rivers during "
            "autumn mornings carrying small bright lanterns"),  # no stopword
        (7, ""),                                     # empty -> excluded
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r
        for r in gopher_quality_signals(df, min_words=10).collect()
    }
    assert 7 not in got and len(got) == 6  # empty doc has no tokens
    assert got[1]["gopher_pass"] is True
    assert got[2]["gopher_pass"] is False and got[2]["n_words"] < 10
    assert got[3]["gopher_pass"] is False and got[3]["mean_word_len"] < 3.0
    assert got[4]["gopher_pass"] is False and got[4]["symbol_ratio"] > 0.1
    assert got[5]["gopher_pass"] is False and got[5]["alpha_frac"] < 0.8
    assert got[6]["gopher_pass"] is False and got[6]["n_stopwords"] < 2
    # signal arithmetic spot-checks
    assert got[2]["n_words"] == 4
    assert got[5]["alpha_frac"] == round(2 / 32, 6)


def test_bloom_decontaminate_superset_and_zero_shuffle(spark):
    """The Bloom gate is one-sided: every exact hit is flagged (no
    false negatives), clean docs MAY be over-flagged but the flagged
    gram count never undercounts the exact overlap; and the corpus-side
    plan is a pure map-side expression — no join, no Exchange."""
    from mission_data_pipeline_spark.operators.text import (
        bloom_decontaminate,
        decontaminate,
    )

    bench = spark.createDataFrame(
        [
            (100, "the quick brown fox jumps over the lazy dog tonight ok"),
            (101, "pack my box with five dozen liquor jugs right now please"),
        ],
        "doc_id long, text string",
    )
    docs = spark.createDataFrame(
        [
            (1, "prefix words the quick brown fox jumps over the lazy dog tonight ok suffix"),
            (2, "completely different content with no benchmark overlap at all whatsoever"),
            (3, "pack my box with five dozen liquor jugs right now please thanks"),
        ],
        "doc_id long, text string",
    )
    bloom = {
        r["doc_id"]: r
        for r in bloom_decontaminate(docs, bench, n=8, m_bits=1 << 12, k=2).collect()
    }
    exact = {
        r["doc_id"]: r for r in decontaminate(docs, bench, n=8).collect()
    }
    for i in (1, 2, 3):
        # one-sided: never undercounts the exact overlap
        assert bloom[i]["n_bloom_grams"] >= exact[i]["n_contaminated_grams"]
        if exact[i]["is_contaminated"]:
            assert bloom[i]["bloom_contaminated"]
    assert bloom[1]["bloom_contaminated"] and bloom[3]["bloom_contaminated"]
    # plan shape: the gram table itself never shuffles — every Exchange
    # partitions on the doc id (hit counts / hit join), never on the
    # exploded gram column; and the probe expressions are codegen'd,
    # not an interpreted higher-order lambda (no ArrayFilter with an
    # embedded md5 probe)
    plan = (
        bloom_decontaminate(docs, bench, n=8, m_bits=1 << 12, k=2)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "hashpartitioning(__gram" not in plan
    assert "filter(lambdafunction(md5" not in plan.replace(" ", "").lower()


def test_bloom_decontaminate_layout_invariant_and_validated(spark):
    """Membership is a pure function of text content: the flagged set
    and counts are identical under an adversarial repartition; filter
    geometry is validated loudly."""
    import pytest as _pytest

    from mission_data_pipeline_spark.operators.text import bloom_decontaminate

    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta eta theta iota kappa")],
        "doc_id long, text string",
    )
    docs = spark.createDataFrame(
        [
            (i, f"filler{i} alpha beta gamma delta epsilon zeta eta theta iota kappa end{i}")
            for i in range(20)
        ]
        + [(i, f"unique{i} words only here nothing shared with the benchmark set {i}")
           for i in range(20, 40)],
        "doc_id long, text string",
    )
    ref = {
        r["doc_id"]: (r["n_bloom_grams"], r["bloom_contaminated"])
        for r in bloom_decontaminate(docs, bench, n=8, m_bits=1 << 12, k=3).collect()
    }
    got = {
        r["doc_id"]: (r["n_bloom_grams"], r["bloom_contaminated"])
        for r in bloom_decontaminate(
            docs.repartition(13), bench.repartition(7), n=8, m_bits=1 << 12, k=3
        ).collect()
    }
    assert got == ref
    assert all(ref[i][1] for i in range(20))
    with _pytest.raises(ValueError, match="multiple of 64"):
        bloom_decontaminate(docs, bench, m_bits=100)
    with _pytest.raises(ValueError, match="k must be"):
        bloom_decontaminate(docs, bench, k=0)


def test_embed_text_hashed_properties(spark):
    """Dense text→vector bridge: unit norm, layout invariance, and the
    no-tokens convention (doc produces no row)."""
    import math

    from pyspark.sql import functions as F

    from mission_data_pipeline_spark.operators.text import embed_text_hashed

    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon"),
            (2, "alpha beta gamma delta epsilon"),  # identical text
            (3, "completely different words entirely here now"),
            (4, ""),  # no tokens -> no vector
            (5, "   "),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: list(r["v"]) for r in embed_text_hashed(df, dim=32).collect()}
    assert set(out) == {1, 2, 3}
    for vid, v in out.items():
        assert len(v) == 32
        assert abs(math.sqrt(sum(x * x for x in v)) - 1.0) < 1e-6, vid
    assert out[1] == out[2]  # identical text -> identical vector
    assert out[1] != out[3]
    # layout invariance: same vectors under an adversarial repartition
    out13 = {
        r["doc_id"]: list(r["v"])
        for r in embed_text_hashed(df.repartition(13), dim=32).collect()
    }
    assert out13 == out


def test_tfidf_sparse_signed_flag_only_flips_signs(spark):
    """signed=True must change nothing but per-term signs: the absolute
    collision-free weights match the unsigned form."""
    from pyspark.sql import functions as F

    from mission_data_pipeline_spark.operators.text import tfidf_sparse

    df = spark.createDataFrame(
        [(1, "one two three"), (2, "two three four")],
        "doc_id long, text string",
    )
    # dim large enough that these few terms never collide
    plain = {
        (r["doc_id"], r["bucket"]): r["weight"]
        for r in tfidf_sparse(df, dim=4096).collect()
    }
    signed = {
        (r["doc_id"], r["bucket"]): r["weight"]
        for r in tfidf_sparse(df, dim=4096, signed=True).collect()
    }
    assert set(plain) == set(signed)
    assert all(abs(signed[k]) == abs(plain[k]) for k in plain)
    assert any(signed[k] < 0 for k in plain)  # some signs actually flip


def test_gopher_keep_cols_passthrough(spark):
    """keep_cols threads extra columns through the gate unchanged (no
    corpus self-join needed to recover them) without altering any
    signal value."""
    from mission_data_pipeline_spark.operators.text import (
        gopher_quality_signals,
    )

    rows = [
        (1, "en", "web", "the quick brown fox and the lazy dog have gone "
                         "to rest beside that quiet river today"),
        (2, "de", "book", "too few words here"),
        (3, None, "web", ""),  # empty text still excluded entirely
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string, "
                                     "source string, text string")
    plain = {
        r["doc_id"]: r.asDict()
        for r in gopher_quality_signals(df, min_words=10).collect()
    }
    kept = {
        r["doc_id"]: r.asDict()
        for r in gopher_quality_signals(
            df, min_words=10, keep_cols=["lang", "source"]
        ).collect()
    }
    assert set(kept) == set(plain) == {1, 2}
    assert kept[1]["lang"] == "en" and kept[1]["source"] == "web"
    assert kept[2]["lang"] == "de" and kept[2]["source"] == "book"
    for doc_id, sig in plain.items():
        for col, v in sig.items():
            assert kept[doc_id][col] == v, (doc_id, col)
