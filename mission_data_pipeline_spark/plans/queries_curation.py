"""Curation pipeline queries: URL canonicalization, HTML extraction, text-to-vector bridge, shard-build capstone.

Split from the original single-file ``plans/queries.py`` (round 11,
VERDICT r10 item 7) with ZERO semantic change: section text is verbatim;
registration still targets the shared ``QUERIES`` dict in
``plans.query_core``. See ``plans/queries.py`` for the public facade and
the module docstring with the cross-engine determinism rules.
"""

from __future__ import annotations

import itertools
import os
import shutil
import tempfile
import weakref
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession

from mission_data_pipeline_spark.sources.tables import (
    TABLES,
    load_table,
    parquet_row_count,
)
from mission_data_pipeline_spark.plans.query_core import (
    QUERIES,
    Query,
    _dialect,
    _dsum,
    _q,
    _same,
    _scratch_dir,
    _sql,
    register_views,
)
from mission_data_pipeline_spark.plans.queries_operator_api import (  # noqa: F401
    _BPE_ORACLE_PRELUDE,
    _bpe_merges_sql_literal,
)
from mission_data_pipeline_spark.plans.queries_textdedup import (  # noqa: F401
    _TOKENS,
    _occurrences,
)


# ---------------------------------------------------------------------------
# URL canonicalization dedup (operators/text.py canonicalize_url) —
# the crawl-level normalization pass before URL dedup.
# ---------------------------------------------------------------------------


def _url_dedup_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl URL dedup: five deterministic messy variants per document
    (case-shuffled authority, default port, fragment, unsorted params,
    utm_*/gclid tracking junk, plus a genuinely distinct CDN host) are
    canonicalized map-side and grouped. The oracle derives the ground-
    truth canonical string directly from the variant formula — variants
    0/1/2/4 of a page MUST collapse to one URL and the CDN variant must
    stay distinct, so any canonicalization bug (missed port, unsorted
    params, case leak, dropped real param) diverges."""
    from pyspark.sql import functions as F

    from mission_data_pipeline_spark.operators.text import url_canonical_dedup

    register_views(spark, sf_dir)
    urls = spark.sql(
        """
        SELECT doc_id,
          CASE CAST(doc_id % 5 AS INT)
            WHEN 0 THEN concat('http://Example.COM/p/',
                               CAST(doc_id % 211 AS STRING), '?b=2&a=1#sec')
            WHEN 1 THEN concat('http://example.com:80/p/',
                               CAST(doc_id % 211 AS STRING), '?a=1&b=2')
            WHEN 2 THEN concat('HTTP://EXAMPLE.com/p/',
                               CAST(doc_id % 211 AS STRING),
                               '?utm_source=feed&a=1&b=2')
            WHEN 3 THEN concat('https://cdn.example.com/p/',
                               CAST(doc_id % 211 AS STRING))
            ELSE concat('http://example.com/p/',
                        CAST(doc_id % 211 AS STRING), '?gclid=g',
                        CAST(doc_id AS STRING), '&b=2&a=1')
          END AS url
        FROM documents
        """
    )
    out = url_canonical_dedup(urls, url_col="url", id_col="doc_id")
    return out.orderBy(F.desc("n_urls"), "canonical_url").limit(15)


_q(
    "curation_url_canonical_dedup",
    Query(
        _url_dedup_spark,
        """
        WITH urls AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 5 = 3
                      THEN 'https://cdn.example.com/p/' || (doc_id % 211)
                      ELSE 'http://example.com/p/' || (doc_id % 211)
                           || '?a=1&b=2'
                 END AS canonical_url
          FROM documents
        )
        SELECT canonical_url, CAST(COUNT(*) AS BIGINT) AS n_urls,
               MIN(doc_id) AS keep_id
        FROM urls GROUP BY canonical_url
        ORDER BY n_urls DESC, canonical_url LIMIT 15
        """,
        "X-curation",
        "URL canonicalization for crawl dedup (lowercased authority, "
        "default-port strip, fragment drop, tracking-param removal, "
        "sorted query params, root-slash collapse) — zero-shuffle "
        "expression chain, one hash shuffle on the canonical string; "
        "oracle derives ground truth from the variant formula",
    ),
)


def _substring_dedup_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr dedup (operators/dedup.py exact_substring_dedup —
    Lee et al. 2022 §4.1 remove-the-duplicate-substring variant): every
    12-token span occurring more than once in the corpus keeps its
    globally first occurrence and is excised everywhere else, merged
    removal intervals per doc, surviving tokens rejoined. The check
    seeds 40 in-plan partial copies (first 20 source tokens + unique
    tail) on top of the raw corpus (which also carries whole-doc exact
    dups): copies must lose their shared prefix (one merged span),
    first occurrences keep theirs, later whole-doc dups empty out."""
    from pyspark.sql import functions as F

    from mission_data_pipeline_spark.operators.dedup import (
        exact_substring_dedup,
    )

    register_views(spark, sf_dir)
    base = spark.table("documents").select("doc_id", "text")
    toks = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    copies = base.filter(F.col("doc_id") < 40).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(
            F.array_join(F.slice(toks, 1, 20), " "),
            F.lit(" uniq"),
            F.col("doc_id").cast("string"),
            F.lit(" tail marker extra pad tokens"),
        ).alias("text"),
    )
    corpus = base.unionByName(copies)
    return exact_substring_dedup(corpus, k=12).orderBy("doc_id")


_q(
    "x2_substring_dedup",
    Query(
        _substring_dedup_spark,
        r"""
        WITH corpus AS (
          SELECT doc_id, text FROM documents
          UNION ALL
          SELECT doc_id + 1000000 AS doc_id,
                 array_to_string(
                   string_split_regex(trim(lower(text)), '\s+')[1:20], ' ')
                 || ' uniq' || CAST(doc_id AS VARCHAR)
                 || ' tail marker extra pad tokens' AS text
          FROM documents WHERE doc_id < 40
        ), tok AS (
          SELECT doc_id,
                 string_split_regex(trim(lower(text)), '\s+') AS toks
          FROM corpus
        ), eligible AS (
          SELECT doc_id, toks, len(toks) AS n FROM tok WHERE len(toks) >= 12
        ), grams AS (
          SELECT doc_id, u.i - 1 AS pos,
                 array_to_string(toks[u.i:u.i+11], ' ') AS gram
          FROM eligible, UNNEST(generate_series(1, n - 11)) AS u(i)
        ), ranked AS (
          SELECT doc_id, pos,
                 row_number() OVER (PARTITION BY gram
                                    ORDER BY doc_id, pos) AS rn,
                 count(*) OVER (PARTITION BY gram) AS cnt
          FROM grams
        ), removable AS (
          SELECT doc_id, pos FROM ranked WHERE cnt >= 2 AND rn > 1
        ), cov AS (
          SELECT DISTINCT doc_id, pos + u.off AS p
          FROM removable, UNNEST(generate_series(0, 11)) AS u(off)
        ), marked AS (
          SELECT doc_id, p,
                 CASE WHEN COALESCE(
                        p - lag(p) OVER (PARTITION BY doc_id ORDER BY p),
                        2) > 1
                      THEN 1 ELSE 0 END AS is_start
          FROM cov
        ), stats AS (
          SELECT doc_id, COUNT(*) AS n_removed, SUM(is_start) AS n_spans
          FROM marked GROUP BY doc_id
        ), positions AS (
          SELECT doc_id, u.i - 1 AS p, toks[u.i] AS tok
          FROM eligible, UNNEST(generate_series(1, n)) AS u(i)
        ), kept AS (
          SELECT po.doc_id,
                 array_to_string(list(po.tok ORDER BY po.p), ' ')
                   AS kept_text
          FROM positions po
          ANTI JOIN cov c ON po.doc_id = c.doc_id AND po.p = c.p
          GROUP BY po.doc_id
        )
        SELECT e.doc_id, e.n AS n_tokens,
               CAST(COALESCE(s.n_removed, 0) AS BIGINT) AS n_removed,
               CAST(COALESCE(s.n_spans, 0) AS BIGINT) AS n_spans,
               COALESCE(k.kept_text, '') AS kept_text
        FROM eligible e
        LEFT JOIN stats s ON e.doc_id = s.doc_id
        LEFT JOIN kept k ON e.doc_id = k.doc_id
        ORDER BY e.doc_id
        """,
        "X2,X1",
        "ExactSubstr dedup (Lee et al. 2022): duplicated 12-token spans "
        "keep their globally first occurrence, all other occurrences "
        "excised (merged per-doc intervals, text rebuilt) — gram-keyed "
        "groupBy for (count, first), join-back tag, coverage explode "
        "on the duplicated subset only; no suffix array, no n² scan",
    ),
)


def _substring_dedup_bpe_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr dedup at BPE-TOKEN granularity (operators/dedup.py
    exact_substring_dedup_bpe) — the setting Lee et al. 2022 actually
    ran (§4.1 dedups ~50-token windows of the tokenizer id stream, not
    whitespace words). The corpus is tokenized by the repo's
    distributed BPE encoder (distinct vocabulary encoded once, order-
    preserving flatten) and every duplicated 30-token span keeps only
    its globally first occurrence. Same seeded-copy construction as
    x2_substring_dedup: 20 in-plan partial copies (first 20 source
    words + unique tail) must lose their shared prefix at TOKEN
    granularity; the oracle replays BPE (recursive CTE over the same
    literal merges), the ordered flatten, and the span surgery."""
    from pyspark.sql import functions as F

    from mission_data_pipeline_spark.operators.dedup import (
        exact_substring_dedup_bpe,
    )

    register_views(spark, sf_dir)
    docs = spark.table("documents")
    base = docs.filter(F.col("doc_id") < 200).select("doc_id", "text")
    toks = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    copies = docs.filter(F.col("doc_id") < 20).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(
            F.array_join(F.slice(toks, 1, 20), " "),
            F.lit(" uniq"),
            F.col("doc_id").cast("string"),
            F.lit(" tail marker extra pad tokens"),
        ).alias("text"),
    )
    corpus = base.unionByName(copies)
    return exact_substring_dedup_bpe(corpus, k=30).orderBy("doc_id")


_q(
    "x2_substring_dedup_bpe",
    Query(
        _substring_dedup_bpe_spark,
        _BPE_ORACLE_PRELUDE.format(
            merges=_bpe_merges_sql_literal(),
            docs_src=r"""SELECT doc_id, text FROM documents WHERE doc_id < 200
          UNION ALL
          SELECT doc_id + 1000000 AS doc_id,
                 array_to_string(
                   string_split_regex(trim(lower(text)), '\s+')[1:20], ' ')
                 || ' uniq' || CAST(doc_id AS VARCHAR)
                 || ' tail marker extra pad tokens' AS text
          FROM documents WHERE doc_id < 20""",
        )
        + r"""
        , wp AS (
          SELECT doc_id, u.i AS wpos, ws[u.i] AS w
          FROM (SELECT doc_id,
                       list_filter(
                         string_split_regex(lower(text), '[^a-z]+'),
                         x -> len(x) > 0) AS ws
                FROM docs) t,
               UNNEST(generate_series(1, len(ws))) AS u(i)
        ), tokseq AS (
          SELECT wp.doc_id, flatten(list(f.toks ORDER BY wp.wpos)) AS toks
          FROM wp JOIN fin f ON wp.w = f.w
          GROUP BY wp.doc_id
        ), eligible AS (
          SELECT doc_id, toks, len(toks) AS n FROM tokseq
          WHERE len(toks) >= 30
        ), grams AS (
          SELECT doc_id, u.i - 1 AS pos,
                 array_to_string(toks[u.i:u.i+29], ' ') AS gram
          FROM eligible, UNNEST(generate_series(1, n - 29)) AS u(i)
        ), ranked AS (
          SELECT doc_id, pos,
                 row_number() OVER (PARTITION BY gram
                                    ORDER BY doc_id, pos) AS rn,
                 count(*) OVER (PARTITION BY gram) AS cnt
          FROM grams
        ), removable AS (
          SELECT doc_id, pos FROM ranked WHERE cnt >= 2 AND rn > 1
        ), cov AS (
          SELECT DISTINCT doc_id, pos + u.off AS p
          FROM removable, UNNEST(generate_series(0, 29)) AS u(off)
        ), marked AS (
          SELECT doc_id, p,
                 CASE WHEN COALESCE(
                        p - lag(p) OVER (PARTITION BY doc_id ORDER BY p),
                        2) > 1
                      THEN 1 ELSE 0 END AS is_start
          FROM cov
        ), stats AS (
          SELECT doc_id, COUNT(*) AS n_removed, SUM(is_start) AS n_spans
          FROM marked GROUP BY doc_id
        ), positions AS (
          SELECT doc_id, u.i - 1 AS p, toks[u.i] AS tok
          FROM eligible, UNNEST(generate_series(1, n)) AS u(i)
        ), kept AS (
          SELECT po.doc_id,
                 array_to_string(list(po.tok ORDER BY po.p), ' ')
                   AS kept_text
          FROM positions po
          ANTI JOIN cov c ON po.doc_id = c.doc_id AND po.p = c.p
          GROUP BY po.doc_id
        )
        SELECT e.doc_id, e.n AS n_tokens,
               CAST(COALESCE(s.n_removed, 0) AS BIGINT) AS n_removed,
               CAST(COALESCE(s.n_spans, 0) AS BIGINT) AS n_spans,
               COALESCE(k.kept_text, '') AS kept_text
        FROM eligible e
        LEFT JOIN stats s ON e.doc_id = s.doc_id
        LEFT JOIN kept k ON e.doc_id = k.doc_id
        ORDER BY e.doc_id
        """,
        "X2,X4",
        "ExactSubstr dedup over BPE token ids (Lee et al.'s actual "
        "granularity): distributed BPE tokenization composed with the "
        "gram-keyed span surgery — duplicated 30-token runs keep only "
        "their first occurrence even when word boundaries differ; "
        "oracle replays BPE (recursive CTE), the ordered flatten, and "
        "every surgery stage",
    ),
)


def _dsir_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance resampling (operators/sampling.py dsir_select —
    Xie et al. 2023): select the 25 raw-corpus docs whose hashed
    unigram+bigram distribution is most target-like (target = the 'en'
    slice), Gumbel-noise resampled from the importance weights. md5
    bucket hash so the oracle replays the exact feature space; per-
    bucket log-ratios rounded to 9 then DECIMAL-summed (layout-
    invariant under the perturb sweep)."""
    from pyspark.sql import functions as F

    from mission_data_pipeline_spark.operators.sampling import dsir_select

    register_views(spark, sf_dir)
    docs = spark.table("documents")
    return dsir_select(
        docs.select("doc_id", "text"),
        docs.filter(F.col("lang") == "en").select("doc_id", "text"),
        25,
        buckets=4096,
        seed=9,
    )


_q(
    "curation_dsir_select",
    Query(
        _dsir_spark,
        r"""
        WITH raw_toks AS (
          SELECT doc_id,
                 string_split_regex(trim(lower(text)), '\s+') AS t
          FROM documents
        ), tgt_toks AS (
          SELECT doc_id,
                 string_split_regex(trim(lower(text)), '\s+') AS t
          FROM documents WHERE lang = 'en'
        ), raw_b AS (
          SELECT doc_id,
                 CAST(('0x' || substr(md5(gram), 1, 8)) AS BIGINT)
                   % 4096 AS bucket
          FROM (SELECT doc_id, unnest(list_concat(
                  list_filter(t, x -> length(x) > 0),
                  CASE WHEN len(t) >= 2
                       THEN list_transform(generate_series(1, len(t) - 1),
                                           i -> t[i] || ' ' || t[i+1])
                       ELSE []::VARCHAR[] END)) AS gram
                FROM raw_toks)
        ), tgt_b AS (
          SELECT doc_id,
                 CAST(('0x' || substr(md5(gram), 1, 8)) AS BIGINT)
                   % 4096 AS bucket
          FROM (SELECT doc_id, unnest(list_concat(
                  list_filter(t, x -> length(x) > 0),
                  CASE WHEN len(t) >= 2
                       THEN list_transform(generate_series(1, len(t) - 1),
                                           i -> t[i] || ' ' || t[i+1])
                       ELSE []::VARCHAR[] END)) AS gram
                FROM tgt_toks)
        ), rc AS (
          SELECT bucket, COUNT(*) AS cr FROM raw_b GROUP BY bucket
        ), tc AS (
          SELECT bucket, COUNT(*) AS ct FROM tgt_b GROUP BY bucket
        ), counts AS (
          SELECT COALESCE(rc.bucket, tc.bucket) AS bucket,
                 COALESCE(cr, 0) AS cr, COALESCE(ct, 0) AS ct
          FROM rc FULL JOIN tc ON rc.bucket = tc.bucket
        ), tot AS (
          SELECT SUM(cr) AS totr, SUM(ct) AS tott FROM counts
        ), model AS (
          SELECT bucket,
                 ROUND(ln((ct + 1.0) / (tott + 1.0 * 4096))
                       - ln((cr + 1.0) / (totr + 1.0 * 4096)), 9) AS lr
          FROM counts CROSS JOIN tot
        ), scored AS (
          SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
                 ROUND(CAST(CAST(SUM(CAST(lr AS DECIMAL(20,9)))
                       AS STRING) AS DOUBLE), 6) AS logw
          FROM raw_b JOIN model USING (bucket) GROUP BY doc_id
        )
        SELECT doc_id, n_grams, logw,
               ROUND(logw + ROUND(-ln(-ln(
                 (CAST(('0x' || substr(md5('9|' || CAST(doc_id AS VARCHAR)),
                        1, 8)) AS BIGINT) + 0.5) / 4294967296.0)), 9), 6)
                 AS sel_key
        FROM scored
        ORDER BY sel_key DESC, doc_id LIMIT 25
        """,
        "X-curation",
        "DSIR importance resampling (Xie et al. 2023): hashed-ngram bag "
        "distributions fitted on target and raw corpora (add-1 "
        "smoothing), per-doc log importance weight via broadcast "
        "log-ratio model join + one doc-keyed partial agg, Gumbel-top-n "
        "selection as TakeOrderedAndProject — corpus never shuffles "
        "beyond two gram-keyed partial aggs; model is O(buckets)",
    ),
)


def _curation_e2e_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation capstone: the canonical FineWeb/C4-style pipeline as ONE
    composed plan — language gate → quality gates (length, token count,
    stopword evidence) → exact dedup (first occurrence by content hash)
    → PII scrub (operators/text.py scrub_text) → per-source funnel
    stats. Every stage is an already-oracled operator; this query pins
    that they COMPOSE (the production shape: one job, one pass over the
    corpus, stages fused by Catalyst). Scale shape: the gates and the
    scrub are map-side expressions; the only shuffles are the dedup's
    content-hash window and the final source-keyed partial agg."""
    from pyspark.sql import Window, functions as F

    from mission_data_pipeline_spark.operators.text import scrub_text

    register_views(spark, sf_dir)
    docs = spark.table("documents")
    gated = (
        docs.filter(F.col("lang") == "en")
        .withColumn("n_tokens", F.expr(_TOKENS))
        .withColumn("n_chars", F.length("text"))
    )
    quality = gated.filter(
        (F.col("n_tokens") >= 10)
        & (F.col("n_chars") >= 50)
        & (F.expr(_occurrences("the")) + F.expr(_occurrences("a")) > 0)
    )
    w = Window.partitionBy(F.md5(F.lower(F.col("text")))).orderBy("doc_id")
    survivors = (
        quality.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    scrubbed = scrub_text(survivors)
    return (
        scrubbed.groupBy("source")
        .agg(
            F.count("*").alias("n_docs_out"),
            F.sum("n_tokens").cast("long").alias("tokens_out"),
            F.count_distinct(F.md5("text")).alias("n_unique_scrubbed"),
            F.sum(F.length("text")).cast("long").alias("chars_out"),
        )
        .orderBy("source")
    )


_q(
    "curation_e2e_pipeline",
    Query(
        _curation_e2e_spark,
        rf"""
        WITH gated AS (
          SELECT doc_id, source, text,
                 {_TOKENS} AS n_tokens, LENGTH(text) AS n_chars
          FROM documents
          WHERE lang = 'en'
        ), quality AS (
          SELECT * FROM gated
          WHERE n_tokens >= 10 AND n_chars >= 50
            AND ({_occurrences('the')} + {_occurrences('a')}) > 0
        ), ranked AS (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY MD5(LOWER(text))
                                       ORDER BY doc_id) AS rn
          FROM quality
        ), scrubbed AS (
          SELECT doc_id, source, n_tokens,
                 regexp_replace(
                   regexp_replace(
                     regexp_replace(
                       regexp_replace(text,
                         '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{{2,}}',
                         '<EMAIL>', 'g'),
                       'https?://[^\s]+', '<URL>', 'g'),
                     '\b\d{{3}}[-.]\d{{3,4}}[-.]\d{{4}}\b', '<PHONE>', 'g'),
                   '\b\d{{13,19}}\b', '<LONGNUM>', 'g') AS text
          FROM ranked WHERE rn = 1
        )
        SELECT source,
               COUNT(*) AS n_docs_out,
               CAST(SUM(n_tokens) AS BIGINT) AS tokens_out,
               CAST(COUNT(DISTINCT MD5(text)) AS BIGINT)
                 AS n_unique_scrubbed,
               CAST(SUM(LENGTH(text)) AS BIGINT) AS chars_out
        FROM scrubbed
        GROUP BY source
        ORDER BY source
        """,
        "X-curation",
        "curation capstone: lang gate -> quality gates -> exact "
        "first-occurrence dedup -> PII scrub -> per-source funnel, "
        "composed as ONE Catalyst plan (map-side gates/scrub fused; "
        "shuffles only at the content-hash dedup window and the final "
        "source agg) — pins that the oracled stages compose",
    ),
)


def _incremental_near_dedup_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest NEAR-dedup (operators/dedup.py
    incremental_near_dedup) — the near-dup twin of x1_incremental_dedup:
    a new batch (20 appended-tail near-copies of corpus docs + 20
    genuinely new docs) is gated against the existing corpus via its
    LSH band index; only the batch featurizes, candidates verify with
    exact n-gram Jaccard, near-copies drop, new docs survive."""
    from pyspark.sql import functions as F

    from mission_data_pipeline_spark.operators.dedup import (
        incremental_near_dedup,
    )

    register_views(spark, sf_dir)
    docs = spark.table("documents")
    corpus = docs.filter(F.col("doc_id") < 80).select("doc_id", "text")
    batch = (
        docs.filter(F.col("doc_id") < 20)
        .select(
            (F.col("doc_id") + 50000).alias("doc_id"),
            F.concat("text", F.lit(" extra tail tokens tacked on")).alias(
                "text"
            ),
        )
        .unionByName(
            docs.filter(
                (F.col("doc_id") >= 100) & (F.col("doc_id") < 120)
            ).select((F.col("doc_id") + 60000).alias("doc_id"), "text")
        )
    )
    out = incremental_near_dedup(
        batch, corpus, n=2, num_hashes=8, bands=4, threshold=0.6,
        # string grams: the DuckDB twin replays the md5 minhash over the
        # literal n-gram strings (xxhash64 is not replayable in ANSI
        # SQL); production callers take the hashed default (A/B r13)
        hash_grams=False,
    )
    return out.select("doc_id").orderBy("doc_id")


# Shared by x2_incremental_near_dedup and its stored-index twin: the
# materialized parquet index path must reproduce the recompute path
# exactly, so both compare against one oracle text.
_INC_NEAR_DEDUP_DUCK = r"""
        WITH corpus AS (
          SELECT doc_id, text FROM documents WHERE doc_id < 80
        ), batch AS (
          SELECT doc_id + 50000 AS doc_id,
                 text || ' extra tail tokens tacked on' AS text
          FROM documents WHERE doc_id < 20
          UNION ALL
          SELECT doc_id + 60000 AS doc_id, text
          FROM documents WHERE doc_id >= 100 AND doc_id < 120
        ), gc AS (
          SELECT * FROM (
            SELECT DISTINCT doc_id,
                   array_to_string(list_slice(toks, CAST(i AS INT) + 1,
                                              CAST(i AS INT) + 2), ' ') AS gram
            FROM (SELECT doc_id,
                         string_split_regex(trim(lower(text)), '\s+') AS toks
                  FROM corpus),
                 UNNEST(range(0, greatest(len(toks) - 2, 0) + 1)) AS t(i))
          WHERE length(gram) > 0
        ), gb AS (
          SELECT * FROM (
            SELECT DISTINCT doc_id,
                   array_to_string(list_slice(toks, CAST(i AS INT) + 1,
                                              CAST(i AS INT) + 2), ' ') AS gram
            FROM (SELECT doc_id,
                         string_split_regex(trim(lower(text)), '\s+') AS toks
                  FROM batch),
                 UNNEST(range(0, greatest(len(toks) - 2, 0) + 1)) AS t(i))
          WHERE length(gram) > 0
        ), hc AS (
          SELECT g.doc_id, s.seed,
                 MIN(CAST(('0x' || SUBSTR(MD5(CAST(s.seed AS VARCHAR)
                       || ':' || g.gram), 1, 12)) AS BIGINT)) AS minhash
          FROM gc g CROSS JOIN (SELECT UNNEST(range(0, 8)) AS seed) s
          GROUP BY g.doc_id, s.seed
        ), hb AS (
          SELECT g.doc_id, s.seed,
                 MIN(CAST(('0x' || SUBSTR(MD5(CAST(s.seed AS VARCHAR)
                       || ':' || g.gram), 1, 12)) AS BIGINT)) AS minhash
          FROM gb g CROSS JOIN (SELECT UNNEST(range(0, 8)) AS seed) s
          GROUP BY g.doc_id, s.seed
        ), bc AS (
          SELECT doc_id, seed % 4 AS band,
                 array_to_string(list_sort(list(CAST(minhash AS VARCHAR))),
                                 ',') AS sig
          FROM hc GROUP BY doc_id, seed % 4
        ), bb AS (
          SELECT doc_id, seed % 4 AS band,
                 array_to_string(list_sort(list(CAST(minhash AS VARCHAR))),
                                 ',') AS sig
          FROM hb GROUP BY doc_id, seed % 4
        ), cand AS (
          SELECT DISTINCT b.doc_id AS batch_id, c.doc_id AS corpus_id
          FROM bb b JOIN bc c ON b.band = c.band AND b.sig = c.sig
        ), inter AS (
          SELECT p.batch_id, p.corpus_id, COUNT(*) AS n_inter
          FROM cand p
          JOIN gb ON gb.doc_id = p.batch_id
          JOIN gc ON gc.doc_id = p.corpus_id AND gc.gram = gb.gram
          GROUP BY p.batch_id, p.corpus_id
        ), szb AS (SELECT doc_id, COUNT(*) AS n FROM gb GROUP BY doc_id),
        szc AS (SELECT doc_id, COUNT(*) AS n FROM gc GROUP BY doc_id),
        dups AS (
          SELECT DISTINCT i.batch_id AS doc_id
          FROM inter i
          JOIN szb ON szb.doc_id = i.batch_id
          JOIN szc ON szc.doc_id = i.corpus_id
          WHERE CAST(i.n_inter AS DOUBLE)
                / (szb.n + szc.n - i.n_inter) >= 0.6
        )
        SELECT b.doc_id FROM batch b
        WHERE b.doc_id NOT IN (SELECT doc_id FROM dups)
        ORDER BY b.doc_id
        """


_q(
    "x2_incremental_near_dedup",
    Query(
        _incremental_near_dedup_spark,
        _INC_NEAR_DEDUP_DUCK,
        "X2,X1",
        "incremental ingest near-dedup: new batch gated against the "
        "existing corpus's LSH band index (batch-only featurization, "
        "band-keyed join, exact Jaccard verify on candidates only) — "
        "near-copies drop, new docs survive; oracle replays every stage",
    ),
)


def _incremental_near_dedup_stored_spark(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The PRODUCTION shape of incremental near-dedup: the corpus's LSH
    band index + gram sets are MATERIALIZED to parquet
    (operators/dedup.py write_near_dedup_index — bands partitioned by
    band, params recorded) and the batch joins the STORED index
    (read_near_dedup_index → incremental_near_dedup(corpus_bands=...,
    corpus_grams=...)); the corpus text is never re-featurized at probe
    time. Same corpus/batch construction and parameters as
    x2_incremental_near_dedup — the stored path must reproduce the
    recompute path exactly, so it shares that query's oracle verbatim.
    """
    from pyspark.sql import functions as F

    from mission_data_pipeline_spark.operators.dedup import (
        incremental_near_dedup,
        read_near_dedup_index,
        write_near_dedup_index,
    )

    register_views(spark, sf_dir)
    docs = spark.table("documents")
    corpus = docs.filter(F.col("doc_id") < 80).select("doc_id", "text")
    batch = (
        docs.filter(F.col("doc_id") < 20)
        .select(
            (F.col("doc_id") + 50000).alias("doc_id"),
            F.concat("text", F.lit(" extra tail tokens tacked on")).alias(
                "text"
            ),
        )
        .unionByName(
            docs.filter(
                (F.col("doc_id") >= 100) & (F.col("doc_id") < 120)
            ).select((F.col("doc_id") + 60000).alias("doc_id"), "text")
        )
    )
    d = _scratch_dir("near_dedup_idx_q")
    # string mode end-to-end (hash_grams=False): oracle replayability,
    # see x2_incremental_near_dedup's pin
    write_near_dedup_index(
        corpus, d, n=2, num_hashes=8, bands=4, hash_grams=False
    )
    idx_bands, idx_grams = read_near_dedup_index(
        spark, d, n=2, num_hashes=8, bands=4
    )
    out = incremental_near_dedup(
        batch,
        n=2,
        num_hashes=8,
        bands=4,
        threshold=0.6,
        corpus_bands=idx_bands,
        corpus_grams=idx_grams,
        hash_grams=False,
    )
    return out.select("doc_id").orderBy("doc_id")


_q(
    "x2_incremental_near_dedup_stored",
    Query(
        _incremental_near_dedup_stored_spark,
        _INC_NEAR_DEDUP_DUCK,
        "X2,X1,L1+",
        "stored-index incremental near-dedup round-trip: the corpus's "
        "LSH band index and gram sets are written to parquet "
        "(partitioned by band, params.json-validated) and the batch "
        "joins the ON-DISK index — the nightly 100 TB crawl-ingest "
        "shape where the corpus is never re-featurized; must equal the "
        "recompute path, so it shares its oracle verbatim",
    ),
)


def _hard_negative_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training (operators/
    similarity.py hard_negative_mining): per anchor, the 5 most-similar
    DIFFERENT-label vectors plus the anchor's hardest positive cosine.
    The query mines plain hard negatives (non-vacuous at every sf —
    the scaled corpora plant near-clone positives at cosine≈1.0, which
    would empty a FaceNet semi-hard band)."""
    from pyspark.sql import functions as F

    from mission_data_pipeline_spark.operators.similarity import (
        hard_negative_mining,
    )

    register_views(spark, sf_dir)
    emb = spark.table("embeddings").select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias(
            "embedding"
        ),
    )
    anchors = emb.filter(F.col("vec_id") < 12)
    return hard_negative_mining(emb, anchors, k=5).orderBy(
        "query_id", "rank"
    )


_q(
    "x3_hard_negative_mining",
    Query(
        _hard_negative_spark,
        """
        WITH e AS (
          SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
        ), a AS (
          SELECT vec_id AS query_id, label AS query_label, v AS qv
          FROM e WHERE vec_id < 12
        ), scored AS (
          SELECT a.query_id, a.query_label,
                 e.vec_id AS neighbor_id, e.label AS neighbor_label,
                 ROUND(list_cosine_similarity(a.qv, e.v), 6) AS cosine
          FROM e CROSS JOIN a
          WHERE e.vec_id != a.query_id
        ), pos AS (
          SELECT query_id, cosine AS pos_cosine
          FROM (SELECT query_id, cosine,
                       ROW_NUMBER() OVER (PARTITION BY query_id
                                          ORDER BY cosine DESC,
                                                   neighbor_id) AS rn
                FROM scored WHERE neighbor_label = query_label)
          WHERE rn = 1
        ), neg AS (
          SELECT s.query_id, s.neighbor_id, s.neighbor_label, s.cosine,
                 p.pos_cosine
          FROM scored s LEFT JOIN pos p ON s.query_id = p.query_id
          WHERE s.neighbor_label != s.query_label
        )
        SELECT query_id, neighbor_id, neighbor_label, cosine,
               CAST(rank AS INT) AS rank, pos_cosine
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                           ORDER BY cosine DESC,
                                                    neighbor_id) AS rank
              FROM neg)
        WHERE rank <= 5
        ORDER BY query_id, rank
        """,
        "X3+",
        "contrastive hard-negative mining: per anchor the 5 hardest "
        "different-label neighbors plus the hardest-positive cosine "
        "— bounded anchor broadcast, one corpus scan, all-JVM cosines, "
        "rank-after-filter windows; the triplet-batch miner for "
        "embedding fine-tuning on curated corpora",
    ),
)


def _gopher_rules_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/MassiveText word-level quality rules (operators/text.py
    gopher_quality_signals, Rae et al. 2021 App. A): word-count and
    mean-word-length windows, #/ellipsis symbol ratio, alphabetic-word
    fraction, required-stopword count, composite pass. Thresholds
    loosened to the synthetic corpus's shape (min_words 10, stopwords
    via 'the'/'and'/'of' presence) so the verdict is non-degenerate."""
    from pyspark.sql import functions as F

    from mission_data_pipeline_spark.operators.text import (
        gopher_quality_signals,
    )

    register_views(spark, sf_dir)
    docs = spark.table("documents").filter(F.col("doc_id") < 300)
    return gopher_quality_signals(
        docs, min_words=10, min_mean_word_len=3.0, max_mean_word_len=10.0,
        max_symbol_ratio=0.1, min_alpha_frac=0.8, min_stopwords=1,
    ).orderBy("doc_id")


_q(
    "curation_gopher_rules",
    Query(
        _gopher_rules_spark,
        r"""
        WITH t AS (
          SELECT doc_id, text,
                 list_filter(string_split_regex(trim(lower(text)), '\s+'),
                             x -> length(x) > 0) AS toks
          FROM documents WHERE doc_id < 300
        ), sig AS (
          SELECT doc_id,
                 CAST(len(toks) AS BIGINT) AS n_words,
                 ROUND(CAST(list_sum(list_transform(toks, x -> length(x)))
                            AS DOUBLE) / len(toks), 6) AS mean_word_len,
                 ROUND((CAST(length(text)
                        - length(replace(text, '#', '')) AS DOUBLE)
                        + (length(text)
                           - length(replace(text, '...', ''))) / 3.0)
                       / len(toks), 6) AS symbol_ratio,
                 ROUND(CAST(len(list_filter(toks,
                        x -> regexp_matches(x, '[a-z]'))) AS DOUBLE)
                       / len(toks), 6) AS alpha_frac,
                 CAST(len(list_intersect(toks,
                      ['the','be','to','of','and','that','have','with']))
                   AS BIGINT) AS n_stopwords
          FROM t WHERE len(toks) > 0
        )
        SELECT *,
               (n_words >= 10 AND n_words <= 100000
                AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
                AND symbol_ratio <= 0.1
                AND alpha_frac >= 0.8
                AND n_stopwords >= 1) AS gopher_pass
        FROM sig ORDER BY doc_id
        """,
        "X4,X-curation",
        "Gopher/MassiveText word-level quality rules (Rae et al. 2021 "
        "App. A): word-count + mean-word-length windows, #/ellipsis "
        "symbol-to-word ratio, alphabetic-word fraction, required "
        "stopwords, composite verdict — all higher-order expressions "
        "over one token split, zero shuffles, rides the scan (the "
        "map-side gate in front of dedup/scoring at 100 TB)",
    ),
)


def _matryoshka_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-truncation retrieval audit (operators/similarity.py
    matryoshka_recall): top-5 recall of 16-dim-prefix cosine retrieval
    vs full 64-dim ground truth for 15 anchors."""
    from pyspark.sql import functions as F

    from mission_data_pipeline_spark.operators.similarity import (
        matryoshka_recall,
    )

    register_views(spark, sf_dir)
    emb = spark.table("embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias(
            "embedding"
        ),
    )
    anchors = emb.filter(F.col("vec_id") < 15)
    return matryoshka_recall(emb, anchors, k=5, prefix_dim=16).orderBy(
        "query_id"
    )


_q(
    "x3_matryoshka_recall",
    Query(
        _matryoshka_spark,
        """
        WITH e AS (
          SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        ), a AS (
          SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 15
        ), scored AS (
          SELECT a.query_id, e.vec_id AS neighbor_id,
                 ROUND(list_cosine_similarity(a.qv, e.v), 6) AS cos_full,
                 ROUND(list_cosine_similarity(a.qv[1:16], e.v[1:16]), 6)
                   AS cos_prefix
          FROM e CROSS JOIN a WHERE e.vec_id != a.query_id
        ), ranked AS (
          SELECT query_id, neighbor_id,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY cos_full DESC,
                                             neighbor_id) AS rf,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY cos_prefix DESC,
                                             neighbor_id) AS rp
          FROM scored
        ), hits AS (
          SELECT query_id, COUNT(*) AS n_hits
          FROM ranked WHERE rf <= 5 AND rp <= 5
          GROUP BY query_id
        )
        SELECT a.query_id,
               CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
               ROUND(COALESCE(h.n_hits, 0) / 5.0, 6) AS recall
        FROM a LEFT JOIN hits h ON a.query_id = h.query_id
        ORDER BY a.query_id
        """,
        "X3+",
        "Matryoshka-truncation retrieval audit (Kusupati et al. 2022): "
        "top-5 recall of 16-dim-prefix cosine retrieval vs full 64-dim "
        "ground truth — ONE corpus scan computes both cosines per "
        "(row, anchor) against the broadcast anchor batch; rounded-"
        "before-rank with id tie-breaks keeps both rankings (and the "
        "recall) cross-engine exact; the serve-from-a-prefix decision "
        "gauge for 4x index memory savings",
    ),
)


def _near_dedup_compacted_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The transactional index lifecycle end-to-end (round 10): base
    index from HALF the corpus (write_near_dedup_index — manifest-
    pointed v0), the other half lands as a streaming-style epoch DELTA
    (registered in the manifest, commit recorded in a checkpoint
    commits/ log), compact_near_dedup_index folds it into an immutable
    v1 published by an atomic manifest swap, and the batch probes the
    COMPACTED index. Gating against {base v0 + folded delta} must equal
    gating against the full corpus, so this shares
    x2_incremental_near_dedup's oracle verbatim — any torn fold, missed
    epoch, or manifest misresolution breaks the hash."""
    import os

    from pyspark.sql import functions as F

    from mission_data_pipeline_spark.operators.dedup import (
        band_signatures,
        incremental_near_dedup,
        minhash_signatures,
        read_index_manifest,
        read_near_dedup_index,
        shingles,
        write_index_manifest,
        write_near_dedup_index,
    )
    from mission_data_pipeline_spark.streaming.ingest import (
        compact_near_dedup_index,
    )

    register_views(spark, sf_dir)
    docs = spark.table("documents")
    corpus1 = docs.filter(F.col("doc_id") < 40).select("doc_id", "text")
    corpus2 = docs.filter(
        (F.col("doc_id") >= 40) & (F.col("doc_id") < 80)
    ).select("doc_id", "text")
    batch = (
        docs.filter(F.col("doc_id") < 20)
        .select(
            (F.col("doc_id") + 50000).alias("doc_id"),
            F.concat("text", F.lit(" extra tail tokens tacked on")).alias(
                "text"
            ),
        )
        .unionByName(
            docs.filter(
                (F.col("doc_id") >= 100) & (F.col("doc_id") < 120)
            ).select((F.col("doc_id") + 60000).alias("doc_id"), "text")
        )
    )
    d = _scratch_dir("near_dedup_idx_compacted_q")
    # string mode (matches the string-gram delta built below + the
    # DuckDB replay); production defaults to hashed grams (A/B r13)
    write_near_dedup_index(
        corpus1, d, n=2, num_hashes=8, bands=4, hash_grams=False
    )
    g2 = shingles(corpus2, n=2)
    ddir = os.path.join(d, "delta", "epoch=0")
    band_signatures(
        minhash_signatures(g2, num_hashes=8), bands=4
    ).write.mode("overwrite").parquet(os.path.join(ddir, "bands"))
    g2.write.mode("overwrite").parquet(os.path.join(ddir, "grams"))
    m = read_index_manifest(d)
    m["delta_epochs"] = [0]
    write_index_manifest(d, m)
    ck = _scratch_dir("near_dedup_idx_compacted_ck")
    os.makedirs(os.path.join(ck, "commits"), exist_ok=True)
    with open(os.path.join(ck, "commits", "0"), "w") as f:
        f.write("v1\n{}")
    res = compact_near_dedup_index(spark, d, checkpoint=ck)
    if res["version"] != 1 or res["epochs_folded"] != 1:
        raise RuntimeError(f"compaction did not fold the epoch: {res}")
    bands_df, grams_df = read_near_dedup_index(
        spark, d, n=2, num_hashes=8, bands=4
    )
    out = incremental_near_dedup(
        batch,
        n=2,
        num_hashes=8,
        bands=4,
        threshold=0.6,
        corpus_bands=bands_df,
        corpus_grams=grams_df,
        hash_grams=False,
    )
    return out.select("doc_id").orderBy("doc_id")


_q(
    "x2_near_dedup_compacted_index",
    Query(
        _near_dedup_compacted_spark,
        _INC_NEAR_DEDUP_DUCK,
        "X2,X1,L1+,W1+",
        "transactional index lifecycle: base index (manifest v0) + "
        "registered epoch delta + checkpoint-commit-gated compaction "
        "into an atomically published v1, probed by the batch — must "
        "equal gating against the full corpus (shares the recompute "
        "twin's oracle verbatim), pinning fold completeness and "
        "manifest resolution in the driver gate",
    ),
)


def _domain_cap_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain document cap (operators/sampling.py domain_cap — the
    RefinedWeb/FineWeb anti-monoculture rule): each source keeps its
    best 10 documents by n_chars (ties toward crawl order / min id).
    One shuffle on the domain column, per-domain rank window — no
    global sort; output is cap x n_domains rows at every sf."""
    from mission_data_pipeline_spark.operators.sampling import domain_cap

    register_views(spark, sf_dir)
    docs = spark.table("documents").select("doc_id", "source", "n_chars")
    out = domain_cap(docs, cap=10, quality_col="n_chars")
    return out.select(
        "doc_id", "source", "n_chars", "domain_rank"
    ).orderBy("source", "domain_rank")


_q(
    "curation_domain_cap",
    Query(
        _domain_cap_spark,
        """
        SELECT doc_id, source, n_chars, domain_rank FROM (
          SELECT doc_id, source, n_chars,
                 CAST(ROW_NUMBER() OVER (PARTITION BY source
                                         ORDER BY n_chars DESC, doc_id)
                   AS INT) AS domain_rank
          FROM documents) t
        WHERE domain_rank <= 10
        ORDER BY source, domain_rank
        """,
        "X-curation",
        "per-domain cap (RefinedWeb anti-monoculture): each source "
        "keeps its 10 best docs by length, ties toward crawl order — "
        "one domain-keyed shuffle + per-domain rank window, no global "
        "sort; the map-side gate against mega-domain dominance",
    ),
)


def _budget_select_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-ranked token-budget selection (operators/sampling.py
    budget_select — FineWeb-Edu-style "take the best docs until the
    training budget is full"): docs ordered by (stopword count DESC,
    doc_id) are kept while the running word total stays within 1/5 of
    the corpus's words. The running sum is a DISTRIBUTED prefix sum
    (range partition + per-partition totals + broadcast offsets +
    partition-local windows) — never an unpartitioned window; the kept
    set is layout-invariant because the order is total."""
    from pyspark.sql import functions as F

    from mission_data_pipeline_spark.operators.sampling import budget_select
    from mission_data_pipeline_spark.operators.text import GOPHER_STOPWORDS

    register_views(spark, sf_dir)
    toks = F.filter(
        F.split(F.trim(F.lower(F.col("text"))), r"\s+"),
        lambda x: F.length(x) > 0,
    )
    staged = (
        spark.table("documents")
        .select("doc_id", toks.alias("__t"))
        .filter(F.size("__t") > 0)
    )
    sig = staged.select(
        "doc_id",
        F.size(
            F.array_intersect(
                "__t", F.array(*[F.lit(w) for w in GOPHER_STOPWORDS])
            )
        ).cast("long").alias("n_stopwords"),
        F.size("__t").cast("long").alias("n_words"),
    )
    # The tokenize + stopword-intersect pass otherwise executes TWICE —
    # once for this budget action and again when budget_select
    # materializes its range partitioning. Truncating the (3 narrow
    # columns) signal table here makes the corpus pass run once and
    # both consumers read the materialized rows (guide §2.4/§5, the
    # round-14 duplicate-subtree pattern).
    from mission_data_pipeline_spark.operators.lineage import query_truncator

    sig = query_truncator()(sig)
    budget = sig.agg(F.sum("n_words")).first()[0] // 5
    out = budget_select(
        sig,
        budget=budget,
        weight_col="n_words",
        quality_col="n_stopwords",
        num_partitions=8,
    )
    return out.select(
        "doc_id", "n_stopwords", "n_words", "cum_weight"
    ).orderBy("doc_id")


_q(
    "curation_token_budget_select",
    Query(
        _budget_select_spark,
        r"""
        WITH t AS (
          SELECT doc_id,
                 list_filter(string_split_regex(trim(lower(text)), '\s+'),
                             x -> length(x) > 0) AS toks
          FROM documents
        ), s AS (
          SELECT doc_id,
                 CAST(len(list_intersect(toks,
                      ['the','be','to','of','and','that','have','with']))
                   AS BIGINT) AS n_stopwords,
                 CAST(len(toks) AS BIGINT) AS n_words
          FROM t WHERE len(toks) > 0
        ), b AS (
          SELECT CAST(SUM(n_words) // 5 AS BIGINT) AS budget FROM s
        ), c AS (
          SELECT doc_id, n_stopwords, n_words,
                 CAST(SUM(n_words) OVER (ORDER BY n_stopwords DESC, doc_id)
                   AS BIGINT) AS cum_weight
          FROM s
        )
        SELECT doc_id, n_stopwords, n_words, cum_weight
        FROM c, b WHERE cum_weight <= budget
        ORDER BY doc_id
        """,
        "X-curation",
        "token-budget selection (FineWeb-Edu shape): keep the highest-"
        "quality docs until 1/5 of the corpus's words are spent — "
        "DISTRIBUTED prefix sum (range partition, per-partition totals "
        "to the driver, broadcast offsets, partition-local windows) "
        "instead of the single-task unpartitioned running-sum window; "
        "kept set layout-invariant under a total order",
    ),
)


def _quality_dedup_url_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware dedup over STRING ids (round 10, ADVICE r09): the
    generic id_col contract — duplicate chains of canonical URLs keep
    the longest member, ties toward the lexicographically smallest URL
    (zero-padded so lexical = numeric order). Pins the two-partial-agg
    representative selection (no numeric-negation tie-break) in the
    driver gate."""
    from mission_data_pipeline_spark.operators.dedup import quality_dedup

    register_views(spark, sf_dir)
    docs = spark.sql(
        """
        SELECT CONCAT('url-', LPAD(CAST(doc_id AS STRING), 4, '0')) AS url,
               n_chars
        FROM documents WHERE doc_id < 40
        """
    )
    pairs = spark.sql(
        """
        SELECT CONCAT('url-', LPAD(CAST(doc_id AS STRING), 4, '0')) AS doc_a,
               CONCAT('url-', LPAD(CAST(doc_id + 1 AS STRING), 4, '0'))
                 AS doc_b
        FROM documents WHERE doc_id < 39 AND doc_id % 4 != 3
        """
    )
    out = quality_dedup(
        docs, pairs, quality_col="n_chars", id_col="url",
        id_a="doc_a", id_b="doc_b",
    )
    return out.select("url", "n_chars").orderBy("url")


_q(
    "curation_quality_dedup_url",
    Query(
        _quality_dedup_url_spark,
        """
        WITH RECURSIVE docs2 AS (
          SELECT 'url-' || LPAD(CAST(doc_id AS VARCHAR), 4, '0') AS url,
                 n_chars
          FROM documents WHERE doc_id < 40
        ),
        pairs AS (
          SELECT 'url-' || LPAD(CAST(doc_id AS VARCHAR), 4, '0') AS doc_a,
                 'url-' || LPAD(CAST(doc_id + 1 AS VARCHAR), 4, '0') AS doc_b
          FROM documents WHERE doc_id < 39 AND doc_id % 4 != 3
        ),
        edges AS (
          SELECT doc_a AS a, doc_b AS b FROM pairs
          UNION
          SELECT doc_b, doc_a FROM pairs
        ),
        nodes AS (SELECT DISTINCT a AS node FROM edges),
        reach(src, node) AS (
          SELECT node, node FROM nodes
          UNION
          SELECT r.src, e.b FROM reach r JOIN edges e ON r.node = e.a
        ),
        comp AS (
          SELECT src AS node, MIN(node) AS component_id
          FROM reach GROUP BY src
        ),
        best AS (
          SELECT component_id, keep_id FROM (
            SELECT c.component_id, c.node AS keep_id,
                   ROW_NUMBER() OVER (PARTITION BY c.component_id
                                      ORDER BY d.n_chars DESC, c.node) AS rn
            FROM comp c JOIN docs2 d ON d.url = c.node) t
          WHERE rn = 1
        ),
        losers AS (
          SELECT c.node AS url
          FROM comp c JOIN best b ON c.component_id = b.component_id
          WHERE c.node != b.keep_id
        )
        SELECT d.url, d.n_chars FROM docs2 d
        WHERE d.url NOT IN (SELECT url FROM losers)
        ORDER BY d.url
        """,
        "X2,X-curation",
        "quality-aware dedup with STRING ids (generic id_col contract): "
        "URL chains keep the longest member, ties toward the smallest "
        "URL — pins the two-partial-agg representative selection "
        "(max quality then min id among maximal rows; no numeric "
        "negation) against a recursive-CTE closure + argmax oracle",
    ),
)


def _bloom_decontaminate_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter decontamination (operators/text.py
    bloom_decontaminate) with the EMBEDDED exact-overlap verification
    the sketch queries carry: docs with doc_id % 20 == 0 act as the
    held-out eval set folded into a 256 Ki-bit / 2-hash Bloom filter
    (sized so the one-sided error is actually EXERCISED at gate scale —
    a handful of false-positive grams at sf0.01, rising with sf); the
    corpus side explodes distinct grams into codegen probes whose only
    exchange is per-doc flagged counts (the gram table never shuffles;
    3.0x faster / 139x less shuffle than the exact join at 5M docs —
    BASELINE.md round 10), joined
    here against the exact join-based decontaminate so the one-sided
    error is visible in-query (``fp_grams >= 0`` row-by-row; the filter
    can only over-flag, never miss). Filter size is bounded by the
    BENCHMARK, which is constant-sized in production — the sf-scaled
    "benchmark" here is a fixture artifact, so the false-positive rate
    grows with sf while correctness stays exact (both engines replay
    the same seeded-md5 probes)."""
    from pyspark.sql import functions as F

    from mission_data_pipeline_spark.operators.text import (
        bloom_decontaminate,
        decontaminate,
    )

    register_views(spark, sf_dir)
    docs = spark.table("documents")
    corpus = docs.filter(F.col("doc_id") % 20 != 0)
    bench = docs.filter(F.col("doc_id") % 20 == 0)
    bloom = bloom_decontaminate(
        corpus, bench, n=8, m_bits=1 << 18, k=2
    ).select("doc_id", "n_bloom_grams", "bloom_contaminated")
    exact = decontaminate(corpus, bench, n=8).select(
        "doc_id", F.col("n_contaminated_grams").alias("n_exact_grams")
    )
    return (
        bloom.join(exact, "doc_id")
        .select(
            "doc_id",
            "n_bloom_grams",
            "bloom_contaminated",
            "n_exact_grams",
            (F.col("n_bloom_grams") - F.col("n_exact_grams")).alias("fp_grams"),
        )
        .orderBy("doc_id")
    )


_q(
    "curation_bloom_decontaminate",
    Query(
        _bloom_decontaminate_spark,
        r"""
        WITH toks AS (
          SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
          FROM documents
        ),
        grams AS (
          SELECT DISTINCT doc_id, gram FROM (
            SELECT doc_id, array_to_string(t[j:j+7], ' ') AS gram
            FROM toks, UNNEST(range(1, greatest(len(t) - 8, 0) + 2)) AS u(j)
          ) WHERE length(gram) > 0
        ),
        bench AS (
          SELECT DISTINCT gram FROM grams WHERE doc_id % 20 = 0
        ),
        positions AS (
          SELECT DISTINCT
            CAST(('0x' || substr(md5(CAST(j AS VARCHAR) || '|' || gram), 1, 8))
              AS BIGINT) % 262144 AS pos
          FROM bench, UNNEST([1, 2]) AS u(j)
        ),
        corpus AS (
          SELECT doc_id, gram FROM grams WHERE doc_id % 20 != 0
        ),
        probes AS (
          SELECT doc_id, gram,
            CAST(('0x' || substr(md5(CAST(j AS VARCHAR) || '|' || gram), 1, 8))
              AS BIGINT) % 262144 AS pos
          FROM corpus, UNNEST([1, 2]) AS u(j)
        ),
        gram_hits AS (
          SELECT p.doc_id, p.gram
          FROM probes p JOIN positions s ON p.pos = s.pos
          GROUP BY p.doc_id, p.gram
          HAVING COUNT(*) = 2
        ),
        bloom AS (
          SELECT doc_id, COUNT(*) AS nb FROM gram_hits GROUP BY doc_id
        ),
        exact AS (
          SELECT g.doc_id, COUNT(*) AS ne
          FROM corpus g JOIN bench b ON g.gram = b.gram
          GROUP BY g.doc_id
        )
        SELECT d.doc_id,
               CAST(COALESCE(bl.nb, 0) AS BIGINT) AS n_bloom_grams,
               COALESCE(bl.nb, 0) > 0 AS bloom_contaminated,
               CAST(COALESCE(ex.ne, 0) AS BIGINT) AS n_exact_grams,
               CAST(COALESCE(bl.nb, 0) - COALESCE(ex.ne, 0) AS BIGINT)
                 AS fp_grams
        FROM documents d
        LEFT JOIN bloom bl ON d.doc_id = bl.doc_id
        LEFT JOIN exact ex ON d.doc_id = ex.doc_id
        WHERE d.doc_id % 20 != 0
        ORDER BY d.doc_id
        """,
        "X-curation",
        "Bloom-filter decontamination (Dolma/RedPajama shape): the "
        "benchmark folds into a broadcast 256 Ki-bit / 2-hash bitset so "
        "the corpus gate is codegen probes over exploded distinct "
        "grams whose only exchange is per-doc flagged counts (the gram "
        "table never shuffles) — with the exact join-based "
        "overlap joined in so the one-sided error (fp_grams >= 0, "
        "never a miss) is verified row-by-row in-query",
    ),
)


def _unimax_sample_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniMax language-balanced sampling (operators/sampling.py
    unimax_sample, Chung et al. 2023): a budget of 4/5 of the corpus is
    water-filled across languages at an epoch cap of 1 — low-resource
    languages saturate (keep everything), the over-represented language
    is downsampled to the shared waterline. Allocation is closed-form
    integer arithmetic over one bounded per-language count collect; the
    oracle replays the same water-filling with prefix-sum windows over
    the (tiny) language table. Selection is a seeded-hash rank per
    language — layout-invariant membership."""
    from mission_data_pipeline_spark.operators.sampling import unimax_sample

    register_views(spark, sf_dir)
    docs = spark.table("documents").select("doc_id", "lang")
    budget = docs.count() * 4 // 5
    out = unimax_sample(docs, budget=budget, seed=5)
    return out.select(
        "doc_id", "lang", "lang_rank", "lang_alloc"
    ).orderBy("doc_id")


_q(
    "curation_unimax_sample",
    Query(
        _unimax_sample_spark,
        """
        WITH n AS (
          -- NULL is not a language: the engine drops unlabeled rows
          -- BEFORE allocation (unimax_sample's equi-join exclusion), so
          -- the NULL group must not participate in the water-filling.
          SELECT lang, COUNT(*) AS cnt FROM documents
          WHERE lang IS NOT NULL GROUP BY lang
        ),
        -- budget matches the Spark query's docs.count() * 4 // 5, which
        -- counts ALL rows (including NULL-lang) — only the allocation
        -- excludes them.
        tot AS (SELECT (COUNT(*) * 4) // 5 AS b FROM documents),
        ord AS (
          SELECT lang, cnt AS cap,
                 ROW_NUMBER() OVER (ORDER BY cnt, lang) AS i,
                 SUM(cnt) OVER (ORDER BY cnt, lang
                                ROWS UNBOUNDED PRECEDING) AS pfx,
                 COUNT(*) OVER () AS nl
          FROM n
        ),
        sat AS (
          SELECT *,
                 (cap * (nl - i + 1) <= (SELECT b FROM tot) - (pfx - cap))
                   AS saturated
          FROM ord
        ),
        agg AS (
          SELECT COALESCE(SUM(CASE WHEN saturated THEN cap ELSE 0 END), 0)
                   AS ps,
                 COUNT(*) FILTER (WHERE saturated) AS s,
                 MAX(nl) AS nl
          FROM sat
        ),
        alloc AS (
          SELECT o.lang,
                 CASE WHEN o.saturated THEN o.cap
                      ELSE ((SELECT b FROM tot) - a.ps) // (a.nl - a.s)
                 END AS lang_alloc
          FROM sat o, agg a
        ),
        ranked AS (
          SELECT doc_id, lang,
                 ROW_NUMBER() OVER (
                   PARTITION BY lang
                   ORDER BY CAST(('0x' || substr(
                       md5('5|' || CAST(doc_id AS VARCHAR)), 1, 8))
                     AS BIGINT), doc_id
                 ) AS lang_rank
          FROM documents
        )
        SELECT r.doc_id, r.lang,
               CAST(r.lang_rank AS INT) AS lang_rank,
               CAST(al.lang_alloc AS BIGINT) AS lang_alloc
        FROM ranked r JOIN alloc al ON r.lang = al.lang
        WHERE r.lang_rank <= al.lang_alloc
        ORDER BY r.doc_id
        """,
        "X-curation",
        "UniMax language-balanced sampling: closed-form integer water-"
        "filling of a 4/5-corpus budget across languages at a 1-epoch "
        "cap (low-resource languages saturate, the dominant one is "
        "downsampled to the waterline) + seeded-hash per-language rank "
        "selection — one bounded per-language collect, one broadcast, "
        "one lang-keyed window; membership layout-invariant",
    ),
)


# ---------------------------------------------------------------------------
# Round 11: HTML→text extraction (the missing WARC-path stage)
# ---------------------------------------------------------------------------


def _documents_floor(spark: SparkSession, *cols: str) -> DataFrame:
    """``documents`` scan behind the scale-adaptive parallelism floor.

    The driver's bench parquet is a single unsplittable row group at
    small SFs, so a map-only consumer (the HTML synth + extraction
    chains here) would otherwise run its whole per-row CPU cost in one
    task with the rest of the box idle. Repartitions (deterministic
    hash on doc_id, cluster-width partitions) ONLY when the scan
    offers fewer splits than the cluster — a production-scale scan is
    already wide and skips the exchange entirely (guide §2.2/§6.2).
    """
    from pyspark.sql import functions as F

    doc = spark.table("documents").select(*cols)
    par = spark.sparkContext.defaultParallelism
    if doc.rdd.getNumPartitions() < par:
        doc = doc.repartition(par, F.col("doc_id"))
    return doc


def _html_extract_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML→text boilerplate removal (operators/html.py
    extract_html_text, VERDICT r10 item 1): each document is rendered
    into a full synthetic page — nav bar, heading, its text as
    paragraphs, a metadata table, an inline script, a link-only
    footer — and the jusText-lite extractor must recover exactly the
    content lines (>=5 words, link density <= 0.33), dropping the nav/
    footer/script/table boilerplate. The synthesis happens IN-QUERY on
    both engines so the oracle replays byte-identical inputs; the
    extraction is the shared Java∩RE2 rule table, zero Python UDFs."""
    from pyspark.sql import functions as F

    from mission_data_pipeline_spark.operators.html import extract_html_text

    register_views(spark, sf_dir)
    doc = _documents_floor(spark, "doc_id", "lang", "text", "source").select(
        "doc_id", _synth_html_col().alias("html")
    )
    out = extract_html_text(doc, "html", out_col="text", diagnostics=True)
    return out.select(
        "doc_id", "text", "n_lines_kept", "n_lines_total"
    ).orderBy("doc_id")


_HTML_PREFIX = (
    "<html><head><title>Synthetic</title><style>p{margin:0}</style></head>"
    '<body><nav><a href="/">Home</a> <a href="/about">About</a> '
    '<a href="/contact">Contact</a></nav><h1>Document '
)
_HTML_SUFFIX = (
    '<footer><a href="/terms">Terms &amp; conditions apply to all '
    "visitors</a></footer></body></html>"
)


def _synth_html_col():
    """Synthetic full-page HTML Column over ``documents`` rows (nav bar,
    heading, the text as ``. ``-split paragraphs, a metadata table, an
    inline script, a link-only footer) — shared by curation_html_extract
    and the shard-build capstone so both replay byte-identical pages."""
    from pyspark.sql import functions as F

    return F.concat(
        F.lit(_HTML_PREFIX),
        F.col("doc_id").cast("string"),
        F.lit("</h1><p>"),
        F.replace(F.col("text"), F.lit(". "), F.lit(".</p><p>")),
        F.lit("</p><table><tr><th>lang</th><th>source</th></tr><tr><td>"),
        F.coalesce(F.col("lang"), F.lit("")),
        F.lit("</td><td>"),
        F.coalesce(F.col("source"), F.lit("")),
        F.lit('</td></tr></table><script>var a = 1 < 2; track("x");</script>'),
        F.lit(_HTML_SUFFIX),
    )


def _synth_html_sql() -> str:
    """DuckDB twin of :func:`_synth_html_col` (same byte output)."""

    def q(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"

    return (
        f"{q(_HTML_PREFIX)} || CAST(doc_id AS VARCHAR) || '</h1><p>' || "
        "replace(text, '. ', '.</p><p>') || "
        "'</p><table><tr><th>lang</th><th>source</th></tr><tr><td>' || "
        "coalesce(lang, '') || '</td><td>' || coalesce(source, '') || "
        "'</td></tr></table><script>var a = 1 < 2; track(\"x\");</script>' || "
        f"{q(_HTML_SUFFIX)}"
    )


def _html_extract_oracle() -> str:
    from mission_data_pipeline_spark.operators.html import duckdb_extract_sql

    p = duckdb_extract_sql("html")
    synth = _synth_html_sql()
    return f"""
        WITH src AS (
          SELECT doc_id, {synth} AS html FROM documents
        ),
        st AS (SELECT doc_id, {p["structs"]} AS s FROM src)
        SELECT doc_id,
               {p["text"].format(col="s")} AS text,
               {p["n_lines_kept"].format(col="s")} AS n_lines_kept,
               {p["n_lines_total"].format(col="s")} AS n_lines_total
        FROM st
        ORDER BY doc_id
        """


_q(
    "curation_html_extract",
    Query(
        _html_extract_spark,
        _html_extract_oracle(),
        "X-curation,X4",
        "HTML→text extraction with jusText-lite boilerplate removal "
        "(comment/script/style strip, anchor-sentinel link density, "
        "block-tag line segmentation, bounded entity decode, per-line "
        "word-count + link-density gates) — the WARC crawl path's "
        "missing stage, as one shared Java∩RE2 rule table both engines "
        "replay; pure per-row JVM expressions, zero shuffles",
    ),
)


# ---------------------------------------------------------------------------
# Round 11: text→vector bridge + ANN over derived vectors
# ---------------------------------------------------------------------------


def _text_embed_ann_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end semantic retrieval with NO external embedding model
    (operators/text.py embed_text_hashed, VERDICT r10 item 3):
    documents → signed hashed TF-IDF folded to dense dim-64 unit
    vectors (md5 bucket/sign hashes, DECIMAL collision sums — fully
    SQL-replayable) → brute-force cosine top-10 for the first five
    docs as queries. One plan: the vector derivation composes straight
    into the broadcast-queries cosine scan (same at-scale shape as
    x3_cosine_topk_bruteforce — the corpus is scanned once, map-side,
    only scored rows reach the per-query top-k window)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    from pyspark.sql.functions import broadcast

    from mission_data_pipeline_spark.functions.vectors import cosine_similarity
    from mission_data_pipeline_spark.operators.text import embed_text_hashed

    register_views(spark, sf_dir)
    docs = spark.table("documents").filter(F.col("doc_id") < 200)
    vecs = embed_text_hashed(docs, dim=64, seed=0)
    # The full TF-IDF embed pipeline feeds BOTH join sides (corpus scan
    # and the broadcast query batch) — truncate the tiny dense-vector
    # table once so the featurization executes once (round-14
    # duplicate-subtree pattern; 6 parquet scans -> 1 embed pass).
    from mission_data_pipeline_spark.operators.lineage import query_truncator

    vecs = query_truncator()(vecs)
    q = vecs.filter(F.col("doc_id") < 5).select(
        F.col("doc_id").alias("query_id"), F.col("v").alias("qv")
    )
    scored = (
        vecs.crossJoin(broadcast(q))
        .filter(F.col("doc_id") != F.col("query_id"))
        .select(
            "query_id",
            "doc_id",
            F.round(cosine_similarity(F.col("qv"), F.col("v")), 6).alias(
                "cosine"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("doc_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 10)
        .select("query_id", "doc_id", "cosine", "rnk")
        .orderBy("query_id", "rnk")
    )


_q(
    "x3_text_embed_ann",
    Query(
        _text_embed_ann_spark,
        r"""
        WITH toks AS (
          SELECT doc_id, t AS term
          FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS ts
                FROM documents WHERE doc_id < 200),
               UNNEST(ts) AS u(t)
          WHERE length(t) > 0
        ),
        tf AS (
          SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2
        ),
        nd AS (
          SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM documents
          WHERE doc_id < 200
        ),
        dfreq AS (
          SELECT term, CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS df
          FROM tf GROUP BY term
        ),
        sparse AS (
          SELECT tf.doc_id,
                 CAST(('0x' || substr(md5('0|' || tf.term), 1, 12)) AS BIGINT)
                   % 64 AS bucket,
                 ROUND(CAST(CAST(SUM(CAST(
                   (CASE WHEN CAST(('0x' || substr(md5('s|0|' || tf.term), 1, 12))
                              AS BIGINT) % 2 = 0
                         THEN CAST(1.0 AS DOUBLE) ELSE CAST(-1.0 AS DOUBLE) END)
                   * ROUND(CAST(tf.tf AS DOUBLE)
                     * (ln((n_docs + CAST(1.0 AS DOUBLE))
                           / (df + CAST(1.0 AS DOUBLE))) + CAST(1.0 AS DOUBLE)),
                     9) AS DECIMAL(20,9))) AS STRING) AS DOUBLE), 6) AS weight
          FROM tf JOIN dfreq USING (term) CROSS JOIN nd
          GROUP BY tf.doc_id, bucket
        ),
        entries AS (
          SELECT doc_id, list(struct_pack(b := bucket, w := weight)) AS es
          FROM sparse GROUP BY doc_id
        ),
        dense0 AS (
          SELECT doc_id,
                 list_transform(range(0, 64), i ->
                   coalesce(list_sum(list_transform(
                     list_filter(es, e -> e.b = i), e -> e.w)),
                     CAST(0.0 AS DOUBLE))) AS v0
          FROM entries
        ),
        dense AS (
          SELECT doc_id,
                 CASE WHEN sqrt(list_sum(list_transform(v0, x -> x*x))) > 0
                      THEN list_transform(v0, x -> ROUND(
                        x / sqrt(list_sum(list_transform(v0, y -> y*y))), 9))
                      ELSE v0 END AS v
          FROM dense0
        ),
        q AS (SELECT doc_id AS query_id, v AS qv FROM dense WHERE doc_id < 5),
        scored AS (
          SELECT q.query_id, d.doc_id,
                 ROUND(list_cosine_similarity(q.qv, d.v), 6) AS cosine
          FROM dense d CROSS JOIN q
          WHERE d.doc_id != q.query_id
        ),
        ranked AS (
          SELECT query_id, doc_id, cosine,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY cosine DESC, doc_id) AS rnk
          FROM scored
        )
        SELECT query_id, doc_id, cosine, rnk FROM ranked
        WHERE rnk <= 10
        ORDER BY query_id, rnk
        """,
        "X3,X4",
        "text→vector bridge + ANN: signed hashed TF-IDF folded to dense "
        "dim-64 unit vectors entirely in-engine (md5 bucket/sign hashes, "
        "DECIMAL collision sums, staged L2 norm — zero model deps), then "
        "brute-force cosine top-10 with broadcast queries; the full "
        "documents→vectors→retrieval path as ONE declarative plan",
    ),
)


# ---------------------------------------------------------------------------
# Round 11: curation capstone — the full shard-build production path as
# ONE driver-checked query (VERDICT r10 item 5)
# ---------------------------------------------------------------------------


def _shard_build_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end training-shard build the examples compose, as one
    oracle-checked query: synthetic crawl pages (the shared
    curation_html_extract synthesis) → HTML→text boilerplate removal
    (operators/html.py) → Gopher word-level quality gate
    (operators/text.py) → MinHash-LSH near-dedup (operators/dedup.py)
    → UniMax language-balanced budget selection (operators/sampling.py)
    → per-language token-budget packing (operators/packing.py) → JSONL
    shards partitioned by (lang, pack_id) + a per-language manifest.

    The returned accounting is computed FROM THE EMITTED SHARD FILES
    (read back, grouped per shard) — doc counts, token totals, and an
    md5 membership digest per pack — while the DuckDB oracle derives
    the same table from the SOURCE ``documents`` rows by replaying
    every stage in SQL, so a drop/dup/misroute anywhere in the path
    (including the sink) breaks the match.

    Scale shape: extraction + gate are map-side column chains behind a
    parallelism floor (one deterministic hash exchange, applied only
    when the scan offers fewer splits than the cluster — the bench's
    single-row-group input would otherwise serialize the regex chain
    into one task); dedup shuffles band keys (never pairs); UniMax is
    one bounded per-language collect + broadcast + lang-keyed window;
    packing is a per-shard window (no global sort) and the shard sink
    is clustered by (lang, pack_id) so file creation parallelizes with
    one file per shard dir; the survivor materialization is the
    natural stage barrier a real shard build checkpoints anyway, and
    its footer row count sizes the budget with no extra job (the
    read-back pins the schema, so accounting does not pay a JSON
    inference pass)."""
    import json

    from pyspark.sql import functions as F

    from mission_data_pipeline_spark.operators.dedup import near_dedup_minhash
    from mission_data_pipeline_spark.operators.html import extract_html_text
    from mission_data_pipeline_spark.operators.packing import pack_token_budget
    from mission_data_pipeline_spark.operators.sampling import unimax_sample
    from mission_data_pipeline_spark.operators.text import (
        gopher_quality_signals,
    )

    register_views(spark, sf_dir)
    # Parallelism floor for the synth + extraction + gate regex chain
    # — the most expensive per-row CPU in the pipeline (see
    # _documents_floor for the layout rationale).
    doc = _documents_floor(spark, "doc_id", "lang", "text", "source")
    par = spark.sparkContext.defaultParallelism
    page = doc.select("doc_id", "lang", _synth_html_col().alias("html"))
    ext = extract_html_text(page, "html", out_col="text").select(
        "doc_id", "lang", "text"
    )
    sig = gopher_quality_signals(
        ext,
        min_words=10,
        min_mean_word_len=3.0,
        max_mean_word_len=10.0,
        max_symbol_ratio=0.1,
        min_alpha_frac=0.8,
        min_stopwords=1,
        keep_text=True,
        keep_cols=["lang"],
    )
    kept = sig.filter(F.col("gopher_pass")).select(
        "doc_id", "lang", "text", F.col("n_words").alias("n_tokens")
    )

    # Stage barriers: materialize after the gate and after dedup — the
    # extraction/gate column chain is expensive per row and feeds MANY
    # downstream jobs (shingle + verify branches, the budget count, the
    # pack write); without the checkpoint Spark recomputes it per job.
    # A production shard build checkpoints exactly here too (restart
    # points), and the parquet footer then sizes the UniMax budget for
    # free.
    base = _scratch_dir("shard_build_e2e")
    kept_path = os.path.join(base, "gated")
    kept.write.parquet(kept_path)
    keptd = spark.read.parquet(kept_path)
    # max_bucket: the production giant-bucket guard, and at probe
    # scales a NECESSITY — make_scaled_data's replicas are near-copies
    # of each other by construction, so at sfx10 every LSH bucket holds
    # ~100 members and the uncapped all-pairs join explodes to ~10^11
    # verify rows (observed: a 32-task stage pinned >10 min with zero
    # completions). Star topology keeps the clusters identical (replica
    # groups are true duplicate groups) at O(m) candidates per bucket.
    surv = near_dedup_minhash(
        keptd, n=2, num_hashes=8, bands=4, threshold=0.6, max_bucket=50
    )
    surv_path = os.path.join(base, "survivors")
    surv.write.parquet(surv_path)
    budget = parquet_row_count(surv_path) * 4 // 5
    survd = spark.read.parquet(surv_path)

    sel = unimax_sample(
        survd.select("doc_id", "lang"), budget=budget, seed=5
    )
    chosen = survd.join(sel.select("doc_id"), "doc_id")
    packed = pack_token_budget(
        chosen, 400, order_cols=["doc_id"], shard_cols=["lang"]
    )
    shards = os.path.join(base, "shards")
    # Cluster the write by the partition key (guide §6.2): the packing
    # window leaves the data in #lang partitions, so the partitionBy
    # sink would create the hundreds of per-(lang, pack_id) shard files
    # from a couple of tasks, serially (measured 6.6-7.2 s of the
    # capstone wall at sf0.1). Hashing (lang, pack_id) across the
    # cluster width keeps exactly one file per shard directory (each
    # pack lands wholly in one task) while the file creation runs in
    # parallel.
    (
        packed.select("doc_id", "n_tokens", "text", "lang", "pack_id")
        .repartition(par, F.col("lang"), F.col("pack_id"))
        .write.partitionBy("lang", "pack_id")
        .json(shards)
    )

    # Explicit read-back schema: inference is a full extra pass over
    # every shard file before the real read (guide §6.1). Matches the
    # inferred schema exactly (pinned by the A/B equality check); the
    # lang/pack_id partition columns are still discovered from the
    # directory layout.
    back = spark.read.schema("doc_id BIGINT, n_tokens BIGINT, text STRING").json(
        shards
    )
    acct = (
        back.groupBy("lang", F.col("pack_id").cast("long").alias("pack_id"))
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.md5(
                F.concat_ws(
                    ",",
                    F.transform(
                        F.array_sort(F.collect_list("doc_id")),
                        lambda x: x.cast("string"),
                    ),
                ).cast("binary")
            ).alias("ids_digest"),
        )
    )
    # Manifest from the emitted shards: one row per language (bounded
    # collect — #languages, not #packs), written next to the shard tree.
    per_lang = (
        acct.groupBy("lang")
        .agg(
            F.count("*").alias("n_packs"),
            F.sum("n_docs").alias("n_docs"),
            F.sum("total_tokens").alias("total_tokens"),
        )
        .collect()
    )
    manifest = {
        "format": "jsonl-shards/v1",
        "shards_dir": "shards",
        "partitioning": ["lang", "pack_id"],
        "pack_budget_tokens": 400,
        "unimax_budget_docs": budget,
        "languages": {
            r["lang"]: {
                "n_packs": int(r["n_packs"]),
                "n_docs": int(r["n_docs"]),
                "total_tokens": int(r["total_tokens"]),
            }
            for r in per_lang
        },
        "n_docs": int(sum(r["n_docs"] for r in per_lang)),
        "total_tokens": int(sum(r["total_tokens"] for r in per_lang)),
    }
    with open(os.path.join(base, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)

    return acct.select(
        "lang", "pack_id", "n_docs", "total_tokens", "ids_digest"
    ).orderBy("lang", "pack_id")


def _shard_build_oracle() -> str:
    from mission_data_pipeline_spark.operators.html import duckdb_extract_sql

    p = duckdb_extract_sql("html")
    synth = _synth_html_sql()
    return f"""
        WITH src AS (
          SELECT doc_id, lang, {synth} AS html FROM documents
        ),
        st AS (SELECT doc_id, lang, {p["structs"]} AS s FROM src),
        ext AS (
          SELECT doc_id, lang, {p["text"].format(col="s")} AS text FROM st
        ),
        t AS (
          SELECT doc_id, lang, text,
                 list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                             x -> length(x) > 0) AS toks
          FROM ext
        ),
        sig AS (
          SELECT doc_id, lang, text, toks,
                 CAST(len(toks) AS BIGINT) AS n_tokens,
                 ROUND(CAST(list_sum(list_transform(toks, x -> length(x)))
                            AS DOUBLE) / len(toks), 6) AS mean_word_len,
                 ROUND((CAST(length(text)
                        - length(replace(text, '#', '')) AS DOUBLE)
                        + (length(text)
                           - length(replace(text, '...', ''))) / 3.0)
                       / len(toks), 6) AS symbol_ratio,
                 ROUND(CAST(len(list_filter(toks,
                        x -> regexp_matches(x, '[a-z]'))) AS DOUBLE)
                       / len(toks), 6) AS alpha_frac,
                 CAST(len(list_intersect(toks,
                      ['the','be','to','of','and','that','have','with']))
                   AS BIGINT) AS n_stopwords
          FROM t WHERE len(toks) > 0
        ),
        kept AS (
          SELECT doc_id, lang, text, toks, n_tokens FROM sig
          WHERE n_tokens >= 10 AND n_tokens <= 100000
            AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
            AND symbol_ratio <= 0.1
            AND alpha_frac >= 0.8
            AND n_stopwords >= 1
        ),
        grams0 AS (
          SELECT DISTINCT doc_id,
                 array_to_string(list_slice(toks, CAST(i AS INT) + 1,
                                            CAST(i AS INT) + 2), ' ') AS gram
          FROM kept,
               UNNEST(range(0, greatest(len(toks) - 2, 0) + 1)) AS tt(i)
        ),
        g AS (SELECT * FROM grams0 WHERE length(gram) > 0),
        hashes AS (
          SELECT g.doc_id, s.seed,
                 MIN(CAST(('0x' || SUBSTR(MD5(CAST(s.seed AS VARCHAR) || ':'
                       || g.gram), 1, 12)) AS BIGINT)) AS minhash
          FROM g CROSS JOIN (SELECT UNNEST(range(0, 8)) AS seed) s
          GROUP BY g.doc_id, s.seed
        ),
        banded AS (
          SELECT doc_id, seed % 4 AS band,
                 array_to_string(list_sort(list(CAST(minhash AS VARCHAR))),
                                 ',') AS bsig
          FROM hashes GROUP BY doc_id, seed % 4
        ),
        sized AS (
          SELECT doc_id, band, bsig,
                 COUNT(*) OVER (PARTITION BY band, bsig) AS bn,
                 MIN(doc_id) OVER (PARTITION BY band, bsig) AS brep
          FROM banded
        ),
        pairs AS (
          SELECT DISTINCT doc_a, doc_b FROM (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM sized a JOIN sized b
              ON a.band = b.band AND a.bsig = b.bsig
             AND a.doc_id < b.doc_id
            WHERE a.bn <= 50
            UNION ALL
            SELECT brep AS doc_a, doc_id AS doc_b
            FROM sized WHERE bn > 50 AND doc_id != brep
          )
        ),
        inter AS (
          SELECT p.doc_a, p.doc_b, COUNT(*) AS n_inter
          FROM pairs p
          JOIN g ga ON ga.doc_id = p.doc_a
          JOIN g gb ON gb.doc_id = p.doc_b AND gb.gram = ga.gram
          GROUP BY p.doc_a, p.doc_b
        ),
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM g GROUP BY doc_id),
        dups AS (
          SELECT DISTINCT i.doc_b AS doc_id
          FROM inter i
          JOIN sizes sa ON sa.doc_id = i.doc_a
          JOIN sizes sb ON sb.doc_id = i.doc_b
          WHERE CAST(i.n_inter AS DOUBLE) / (sa.n + sb.n - i.n_inter) >= 0.6
        ),
        surv AS (
          SELECT doc_id, lang, n_tokens FROM kept
          WHERE doc_id NOT IN (SELECT doc_id FROM dups)
        ),
        tot AS (SELECT (COUNT(*) * 4) // 5 AS b FROM surv),
        n AS (
          SELECT lang, COUNT(*) AS cnt FROM surv
          WHERE lang IS NOT NULL GROUP BY lang
        ),
        ord AS (
          SELECT lang, cnt AS cap,
                 ROW_NUMBER() OVER (ORDER BY cnt, lang) AS i,
                 SUM(cnt) OVER (ORDER BY cnt, lang
                                ROWS UNBOUNDED PRECEDING) AS pfx,
                 COUNT(*) OVER () AS nl
          FROM n
        ),
        sat AS (
          SELECT *,
                 (cap * (nl - i + 1) <= (SELECT b FROM tot) - (pfx - cap))
                   AS saturated
          FROM ord
        ),
        agg AS (
          SELECT COALESCE(SUM(CASE WHEN saturated THEN cap ELSE 0 END), 0)
                   AS ps,
                 COUNT(*) FILTER (WHERE saturated) AS s,
                 MAX(nl) AS nl
          FROM sat
        ),
        alloc AS (
          SELECT o.lang,
                 CASE WHEN o.saturated THEN o.cap
                      ELSE ((SELECT b FROM tot) - a.ps) // (a.nl - a.s)
                 END AS lang_alloc
          FROM sat o, agg a
        ),
        ranked AS (
          SELECT doc_id, lang, n_tokens,
                 ROW_NUMBER() OVER (
                   PARTITION BY lang
                   ORDER BY CAST(('0x' || substr(
                       md5('5|' || CAST(doc_id AS VARCHAR)), 1, 8))
                     AS BIGINT), doc_id
                 ) AS lang_rank
          FROM surv
        ),
        chosen AS (
          SELECT r.doc_id, r.lang, r.n_tokens
          FROM ranked r JOIN alloc al ON r.lang = al.lang
          WHERE r.lang_rank <= al.lang_alloc
        ),
        cum AS (
          SELECT doc_id, lang, n_tokens,
                 SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                     ROWS UNBOUNDED PRECEDING) - n_tokens
                   AS before
          FROM chosen
        )
        SELECT lang, CAST(FLOOR(before / 400) AS BIGINT) AS pack_id,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
               md5(string_agg(CAST(doc_id AS VARCHAR), ','
                              ORDER BY doc_id)) AS ids_digest
        FROM cum
        GROUP BY lang, FLOOR(before / 400)
        ORDER BY lang, pack_id
        """


_q(
    "curation_shard_build_e2e",
    Query(
        _shard_build_spark,
        _shard_build_oracle(),
        "X-curation,X1,X2,X4,L",
        "the curation capstone: crawl pages → HTML→text extraction → "
        "Gopher gate → MinHash-LSH near-dedup → UniMax budget selection "
        "→ per-language token packing → partitioned JSONL shards + "
        "manifest, accounted FROM THE EMITTED FILES (per-pack doc "
        "counts, token totals, md5 membership digests) against a "
        "source-derived SQL replay of the whole path — the one query "
        "that breaks if any stage or the sink drops, dups, or misroutes "
        "a document",
    ),
)


# ---------------------------------------------------------------------------
# Round 11: giant-LSH-bucket cap — the at-scale guard against
# boilerplate-driven quadratic pair explosion (star topology above the
# cap, operators/dedup.py lsh_pairs_from_bands(max_bucket=...))
# ---------------------------------------------------------------------------

#: 10 words → nine 2-gram shingles, enough for distinct band minima.
_BOILER_TEXT = (
    "terms of service privacy policy all rights reserved cookie notice"
)


def _lsh_bucket_cap_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dedup with a per-bucket candidate cap under a PLANTED giant
    bucket: 60 byte-identical boilerplate pages (one viral page, the
    shape that quadratics an uncapped LSH join at crawl scale) unioned
    with a bounded slice of real documents. ``max_bucket=20`` switches
    the oversized buckets to star topology — 59 candidate rows per
    band instead of 1,770 — while exact-Jaccard confirmation still
    drops every copy but the min-id representative. The output row
    pins the candidate count (the explosion-avoidance itself), the
    drop/survivor accounting, and an order-canonical digest of the
    surviving ids; the oracle replays banding, the size-switched pair
    topology, and verification in SQL."""
    from pyspark.sql import functions as F

    from mission_data_pipeline_spark.operators.dedup import (
        band_signatures,
        jaccard_verify,
        lsh_pairs_from_bands,
        minhash_signatures,
        shingles,
    )

    register_views(spark, sf_dir)
    base = (
        spark.table("documents")
        .filter(F.col("doc_id") < 300)
        .select("doc_id", "text")
    )
    boiler = spark.range(60).select(
        (F.lit(10000) + F.col("id")).alias("doc_id"),
        F.lit(_BOILER_TEXT).alias("text"),
    )
    docs = base.unionByName(boiler)
    # Stage barriers (the shard-build pattern): the gram/candidate
    # tables feed four downstream branches (candidate count, the two
    # gram sides of the Jaccard verify, the drop set) — materializing
    # them once stops Spark recomputing the featurization per branch.
    scratch = _scratch_dir("lsh_bucket_cap")
    g_path = os.path.join(scratch, "grams")
    shingles(docs, n=2).write.parquet(g_path)
    g = spark.read.parquet(g_path)
    sig = minhash_signatures(g, num_hashes=8)
    bnd = band_signatures(sig, bands=4)
    cand_path = os.path.join(scratch, "cand")
    lsh_pairs_from_bands(bnd, max_bucket=20).write.parquet(cand_path)
    cand = spark.read.parquet(cand_path)
    dups = (
        jaccard_verify(cand, g, threshold=0.6)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    surv = docs.join(dups, "doc_id", "left_anti")
    return (
        cand.agg(F.count("*").cast("long").alias("n_candidates"))
        .crossJoin(dups.agg(F.count("*").cast("long").alias("n_dropped")))
        .crossJoin(
            surv.agg(
                F.count("*").cast("long").alias("n_survivors"),
                F.sum((F.col("doc_id") >= 10000).cast("long"))
                .cast("long")
                .alias("n_boiler_survivors"),
                F.md5(
                    F.concat_ws(
                        ",",
                        F.transform(
                            F.array_sort(F.collect_list("doc_id")),
                            lambda x: x.cast("string"),
                        ),
                    ).cast("binary")
                ).alias("survivors_digest"),
            )
        )
    )


_q(
    "x2_lsh_bucket_cap",
    Query(
        _lsh_bucket_cap_spark,
        f"""
        WITH base AS (
          SELECT doc_id, text FROM documents WHERE doc_id < 300
        ),
        boiler AS (
          SELECT 10000 + CAST(i AS BIGINT) AS doc_id,
                 '{_BOILER_TEXT}' AS text
          FROM UNNEST(range(0, 60)) AS t(i)
        ),
        docs AS (
          SELECT * FROM base UNION ALL SELECT * FROM boiler
        ),
        t AS (
          SELECT doc_id,
                 list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                             x -> length(x) > 0) AS toks
          FROM docs
        ),
        grams0 AS (
          SELECT DISTINCT doc_id,
                 array_to_string(list_slice(toks, CAST(i AS INT) + 1,
                                            CAST(i AS INT) + 2), ' ') AS gram
          FROM t,
               UNNEST(range(0, greatest(len(toks) - 2, 0) + 1)) AS tt(i)
        ),
        g AS (SELECT * FROM grams0 WHERE length(gram) > 0),
        hashes AS (
          SELECT g.doc_id, s.seed,
                 MIN(CAST(('0x' || SUBSTR(MD5(CAST(s.seed AS VARCHAR) || ':'
                       || g.gram), 1, 12)) AS BIGINT)) AS minhash
          FROM g CROSS JOIN (SELECT UNNEST(range(0, 8)) AS seed) s
          GROUP BY g.doc_id, s.seed
        ),
        banded AS (
          SELECT doc_id, seed % 4 AS band,
                 array_to_string(list_sort(list(CAST(minhash AS VARCHAR))),
                                 ',') AS bsig
          FROM hashes GROUP BY doc_id, seed % 4
        ),
        sized AS (
          SELECT doc_id, band, bsig,
                 COUNT(*) OVER (PARTITION BY band, bsig) AS n,
                 MIN(doc_id) OVER (PARTITION BY band, bsig) AS rep
          FROM banded
        ),
        cand AS (
          SELECT DISTINCT doc_a, doc_b FROM (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM sized a JOIN sized b
              ON a.band = b.band AND a.bsig = b.bsig
             AND a.doc_id < b.doc_id
            WHERE a.n <= 20
            UNION ALL
            SELECT rep AS doc_a, doc_id AS doc_b
            FROM sized WHERE n > 20 AND doc_id != rep
          )
        ),
        inter AS (
          SELECT p.doc_a, p.doc_b, COUNT(*) AS n_inter
          FROM cand p
          JOIN g ga ON ga.doc_id = p.doc_a
          JOIN g gb ON gb.doc_id = p.doc_b AND gb.gram = ga.gram
          GROUP BY p.doc_a, p.doc_b
        ),
        sizes AS (SELECT doc_id, COUNT(*) AS sz FROM g GROUP BY doc_id),
        dups AS (
          SELECT DISTINCT i.doc_b AS doc_id
          FROM inter i
          JOIN sizes sa ON sa.doc_id = i.doc_a
          JOIN sizes sb ON sb.doc_id = i.doc_b
          WHERE CAST(i.n_inter AS DOUBLE)
                / (sa.sz + sb.sz - i.n_inter) >= 0.6
        ),
        surv AS (
          SELECT doc_id FROM docs
          WHERE doc_id NOT IN (SELECT doc_id FROM dups)
        )
        SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM cand) AS n_candidates,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM dups) AS n_dropped,
               CAST(COUNT(*) AS BIGINT) AS n_survivors,
               CAST(COALESCE(SUM(CASE WHEN doc_id >= 10000 THEN 1
                                      ELSE 0 END), 0) AS BIGINT)
                 AS n_boiler_survivors,
               md5(string_agg(CAST(doc_id AS VARCHAR), ','
                              ORDER BY doc_id)) AS survivors_digest
        FROM surv
        """,
        "X2",
        "giant-LSH-bucket cap: near-dedup under a planted 60-copy "
        "boilerplate bucket with max_bucket=20 — oversized buckets pair "
        "star-wise against the min-id representative (O(m) candidates, "
        "never m²) while exact-Jaccard confirmation still drops every "
        "copy but the representative; pins candidate count, drop/"
        "survivor accounting, and the survivor-id digest",
    ),
)


def _lsh_bucket_cap_reps_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multi-representative recall dial over the same planted giant
    bucket (round 12): ``max_bucket_reps=3`` pairs each over-cap bucket
    member with the bucket's THREE smallest ids (plus all pairs among
    those reps) — ~m·p candidates instead of the star's m-1, recovering
    borderline pairs whose member ranks among the p smallest
    (quantified in operators/dedup.py lsh_pairs_from_bands). On a true
    duplicate bucket the survivors are identical to the p=1 star; what
    this query pins cross-engine is the TOPOLOGY — the exact candidate
    count of the p-rep pairing — plus the unchanged survivor digest."""
    from pyspark.sql import functions as F

    from mission_data_pipeline_spark.operators.dedup import (
        band_signatures,
        jaccard_verify,
        lsh_pairs_from_bands,
        minhash_signatures,
        shingles,
    )

    register_views(spark, sf_dir)
    base = (
        spark.table("documents")
        .filter(F.col("doc_id") < 300)
        .select("doc_id", "text")
    )
    boiler = spark.range(60).select(
        (F.lit(10000) + F.col("id")).alias("doc_id"),
        F.lit(_BOILER_TEXT).alias("text"),
    )
    docs = base.unionByName(boiler)
    scratch = _scratch_dir("lsh_bucket_cap_reps")
    g_path = os.path.join(scratch, "grams")
    shingles(docs, n=2).write.parquet(g_path)
    g = spark.read.parquet(g_path)
    sig = minhash_signatures(g, num_hashes=8)
    bnd = band_signatures(sig, bands=4)
    cand_path = os.path.join(scratch, "cand")
    lsh_pairs_from_bands(
        bnd, max_bucket=20, max_bucket_reps=3
    ).write.parquet(cand_path)
    cand = spark.read.parquet(cand_path)
    dups = (
        jaccard_verify(cand, g, threshold=0.6)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    surv = docs.join(dups, "doc_id", "left_anti")
    return (
        cand.agg(F.count("*").cast("long").alias("n_candidates"))
        .crossJoin(dups.agg(F.count("*").cast("long").alias("n_dropped")))
        .crossJoin(
            surv.agg(
                F.count("*").cast("long").alias("n_survivors"),
                F.md5(
                    F.concat_ws(
                        ",",
                        F.transform(
                            F.array_sort(F.collect_list("doc_id")),
                            lambda x: x.cast("string"),
                        ),
                    ).cast("binary")
                ).alias("survivors_digest"),
            )
        )
    )


_q(
    "x2_lsh_bucket_cap_reps",
    Query(
        _lsh_bucket_cap_reps_spark,
        f"""
        WITH base AS (
          SELECT doc_id, text FROM documents WHERE doc_id < 300
        ),
        boiler AS (
          SELECT 10000 + CAST(i AS BIGINT) AS doc_id,
                 '{_BOILER_TEXT}' AS text
          FROM UNNEST(range(0, 60)) AS t(i)
        ),
        docs AS (
          SELECT * FROM base UNION ALL SELECT * FROM boiler
        ),
        t AS (
          SELECT doc_id,
                 list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                             x -> length(x) > 0) AS toks
          FROM docs
        ),
        grams0 AS (
          SELECT DISTINCT doc_id,
                 array_to_string(list_slice(toks, CAST(i AS INT) + 1,
                                            CAST(i AS INT) + 2), ' ') AS gram
          FROM t,
               UNNEST(range(0, greatest(len(toks) - 2, 0) + 1)) AS tt(i)
        ),
        g AS (SELECT * FROM grams0 WHERE length(gram) > 0),
        hashes AS (
          SELECT g.doc_id, s.seed,
                 MIN(CAST(('0x' || SUBSTR(MD5(CAST(s.seed AS VARCHAR) || ':'
                       || g.gram), 1, 12)) AS BIGINT)) AS minhash
          FROM g CROSS JOIN (SELECT UNNEST(range(0, 8)) AS seed) s
          GROUP BY g.doc_id, s.seed
        ),
        banded AS (
          SELECT doc_id, seed % 4 AS band,
                 array_to_string(list_sort(list(CAST(minhash AS VARCHAR))),
                                 ',') AS bsig
          FROM hashes GROUP BY doc_id, seed % 4
        ),
        sized AS (
          SELECT doc_id, band, bsig,
                 COUNT(*) OVER (PARTITION BY band, bsig) AS n,
                 ROW_NUMBER() OVER (PARTITION BY band, bsig
                                    ORDER BY doc_id) AS rn
          FROM banded
        ),
        cand AS (
          SELECT DISTINCT doc_a, doc_b FROM (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM sized a JOIN sized b
              ON a.band = b.band AND a.bsig = b.bsig
             AND a.doc_id < b.doc_id
            WHERE a.n <= 20
            UNION ALL
            SELECT r.doc_id AS doc_a, m.doc_id AS doc_b
            FROM sized r JOIN sized m
              ON r.band = m.band AND r.bsig = m.bsig
             AND r.doc_id < m.doc_id
            WHERE r.n > 20 AND r.rn <= 3
          )
        ),
        inter AS (
          SELECT p.doc_a, p.doc_b, COUNT(*) AS n_inter
          FROM cand p
          JOIN g ga ON ga.doc_id = p.doc_a
          JOIN g gb ON gb.doc_id = p.doc_b AND gb.gram = ga.gram
          GROUP BY p.doc_a, p.doc_b
        ),
        sizes AS (SELECT doc_id, COUNT(*) AS sz FROM g GROUP BY doc_id),
        dups AS (
          SELECT DISTINCT i.doc_b AS doc_id
          FROM inter i
          JOIN sizes sa ON sa.doc_id = i.doc_a
          JOIN sizes sb ON sb.doc_id = i.doc_b
          WHERE CAST(i.n_inter AS DOUBLE)
                / (sa.sz + sb.sz - i.n_inter) >= 0.6
        ),
        surv AS (
          SELECT doc_id FROM docs
          WHERE doc_id NOT IN (SELECT doc_id FROM dups)
        )
        SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM cand) AS n_candidates,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM dups) AS n_dropped,
               CAST(COUNT(*) AS BIGINT) AS n_survivors,
               md5(string_agg(CAST(doc_id AS VARCHAR), ','
                              ORDER BY doc_id)) AS survivors_digest
        FROM surv
        """,
        "X2",
        "multi-representative over-cap pairing (max_bucket_reps=3 on "
        "the planted 60-copy bucket): every member pairs with the "
        "bucket's 3 smallest ids (~m·p candidates, linear for fixed p) "
        "— the recall dial between the min-id star and quadratic "
        "all-pairs; pins the p-rep candidate topology cross-engine and "
        "the survivor digest unchanged vs the p=1 star",
    ),
)


# ---------------------------------------------------------------------------
