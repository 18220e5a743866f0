"""Multimodal binary-column queries (X5) and telemetry-shaped relational parity.

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
from mission_data_pipeline_spark.plans.queries_window import (  # noqa: F401
    _ev,
)


# ---------------------------------------------------------------------------
# Multimodal columns (X5): opaque binary payload + typed metadata
# ---------------------------------------------------------------------------


def _multimodal_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    register_views(spark, sf_dir)
    doc = spark.table("documents")
    # Binary payload column + metadata extraction — the packet pattern:
    # payload stays opaque bytes; metadata is typed columns beside it.
    payload = F.encode("text", "UTF-8")
    return doc.select(
        "doc_id",
        F.octet_length(payload).alias("payload_bytes"),
        F.hex(F.substring(payload, 1, 4)).alias("magic_hex"),
        F.md5(F.col("text")).alias("content_hash"),
        "source",
    ).orderBy("doc_id")


_q(
    "x5_multimodal_payload_meta",
    Query(
        _multimodal_spark,
        """
        SELECT doc_id,
               octet_length(text::BLOB) AS payload_bytes,
               upper(hex(substr(text, 1, 4))) AS magic_hex,
               md5(text) AS content_hash,
               source
        FROM documents
        ORDER BY doc_id
        """,
        "X5",
        "opaque binary payload column + typed metadata (packet pattern)",
    ),
)


def _frame_sample_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling fan-out (functions/multimodal.py sample_frames):
    one payload row → every-Nth-frame rows through Arrow-batched
    mapInPandas; the deterministic fake decoder slices the payload, so
    the oracle recomputes every frame's digest arithmetically."""
    from pyspark.sql import functions as F

    from mission_data_pipeline_spark.functions.multimodal import sample_frames

    register_views(spark, sf_dir)
    doc = spark.table("documents").filter(F.col("doc_id") < 120)
    media = doc.select(
        F.col("doc_id").alias("item_id"),
        F.encode("text", "UTF-8").alias("payload"),
        F.struct(
            F.lit("video").alias("media_type"),
            F.lit("fake").alias("format"),
            (F.col("doc_id") % 640 + 16).cast("int").alias("width"),
            (F.col("doc_id") % 480 + 16).cast("int").alias("height"),
            F.lit(None).cast("int").alias("n_channels"),
            F.lit(None).cast("int").alias("sample_rate"),
            F.lit(None).cast("double").alias("duration_s"),
        ).alias("meta"),
    )
    out = sample_frames(media, every_n=32, max_frames=4)
    return out.select(
        "item_id",
        "frame_idx",
        "width",
        "height",
        F.md5("pixels").alias("pixels_md5"),
        F.octet_length("pixels").alias("n_pixel_bytes"),
    ).orderBy("item_id", "frame_idx")


_q(
    "x5_frame_sample",
    Query(
        _frame_sample_spark,
        """
        WITH d AS (
          SELECT doc_id, text, octet_length(text::BLOB) AS len
          FROM documents WHERE doc_id < 120
        ),
        fr AS (
          SELECT doc_id, text, len, CAST(i AS INT) AS fi
          FROM d, UNNEST(range(0, LEAST(4, GREATEST(1, len // 32)))) AS u(i)
        )
        SELECT doc_id AS item_id,
               fi * 32 AS frame_idx,
               CAST(doc_id % 640 + 16 AS INT) AS width,
               CAST(doc_id % 480 + 16 AS INT) AS height,
               md5(substring(text, (fi * 32) % GREATEST(len, 1) + 1, 64))
                 AS pixels_md5,
               CAST(length(substring(text, (fi * 32) % GREATEST(len, 1) + 1, 64))
                    AS BIGINT) AS n_pixel_bytes
        FROM fr
        ORDER BY item_id, frame_idx
        """,
        "X5",
        "every-Nth-frame sampling: 1 payload row fans out to frame rows "
        "through Arrow-batched mapInPandas (deterministic fake decoder — "
        "no video codec in env); oracle recomputes each frame's byte "
        "slice digest from the generator",
    ),
)


def _media_stats_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-modality corpus accounting (functions/multimodal.py
    media_stats): pure-expression aggregation over the typed-metadata
    struct — no decode, rides the scan."""
    from pyspark.sql import functions as F

    from mission_data_pipeline_spark.functions.multimodal import media_stats

    register_views(spark, sf_dir)
    doc = spark.table("documents")
    media = doc.select(
        F.col("doc_id").alias("item_id"),
        F.encode("text", "UTF-8").alias("payload"),
        F.struct(
            F.when(F.col("doc_id") % 3 == 0, "image")
            .when(F.col("doc_id") % 3 == 1, "audio")
            .otherwise("text")
            .alias("media_type"),
            F.lit("synthetic").alias("format"),
            (F.col("doc_id") % 640 + 16).cast("int").alias("width"),
            (F.col("doc_id") % 480 + 16).cast("int").alias("height"),
            F.lit(None).cast("int").alias("n_channels"),
            F.lit(None).cast("int").alias("sample_rate"),
            F.lit(None).cast("double").alias("duration_s"),
        ).alias("meta"),
    )
    out = media_stats(media)
    return out.select(
        "media_type",
        F.col("n_items").cast("long").alias("n_items"),
        F.col("total_bytes").cast("long").alias("total_bytes"),
        F.round("avg_bytes", 6).alias("avg_bytes"),
        F.round("avg_width", 6).alias("avg_width"),
        F.round("avg_height", 6).alias("avg_height"),
    ).orderBy("media_type")


_q(
    "x5_media_stats",
    Query(
        _media_stats_spark,
        """
        WITH m AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 3 = 0 THEN 'image'
                      WHEN doc_id % 3 = 1 THEN 'audio'
                      ELSE 'text' END AS media_type,
                 octet_length(text::BLOB) AS nb,
                 doc_id % 640 + 16 AS w,
                 doc_id % 480 + 16 AS h
          FROM documents
        )
        SELECT media_type,
               CAST(COUNT(*) AS BIGINT) AS n_items,
               CAST(SUM(nb) AS BIGINT) AS total_bytes,
               ROUND(AVG(nb), 6) AS avg_bytes,
               ROUND(AVG(w), 6) AS avg_width,
               ROUND(AVG(h), 6) AS avg_height
        FROM m
        GROUP BY media_type
        ORDER BY media_type
        """,
        "X5",
        "per-modality corpus accounting over the typed-metadata struct "
        "(counts, byte totals, dimension averages) — zero-decode "
        "expression aggregation",
    ),
)


def _kmeans_ivf_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with learned (Spark ML KMeans) centroids — the quality path.

    KMeans centers aren't reproducible in DuckDB, so the neighbor lists
    themselves can't be oracle-checked — but their *quality* can: the
    query emits one row (n_queries, n_exact, recall_ok) where recall_ok
    asserts aggregate recall@5 against exact rounded-cosine ground truth
    is >= 0.6. The ground-truth counts ARE SQL-reproducible, and a
    broken assignment/probe path craters recall, so a hash match is a
    real correctness bound (measured: 0.72-1.0 across seeds/SFs at
    n_probe=8 of 16 centroids — >=0.6 leaves margin for KMeans float
    jitter without ever passing a broken operator). Exact parity of the
    IVF mechanics is separately covered by x3_ivf_topk_ann's
    deterministic-centroid oracle."""
    from pyspark.sql import functions as F

    from mission_data_pipeline_spark.operators.similarity import (
        ann_recall,
        cosine_topk,
        ivf_topk,
        kmeans_centroids,
    )

    register_views(spark, sf_dir)
    emb = spark.table("embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    q = emb.filter(F.col("vec_id") < 5)

    exact = cosine_topk(emb, q, k=5, vec_col="v", round_digits=6)

    cents = kmeans_centroids(emb, n_centroids=16, vec_col="v", seed=7, max_iter=10)
    approx = ivf_topk(emb, q, k=5, n_probe=8, centroids=cents, vec_col="v")
    return ann_recall(approx, exact, k=5).agg(
        F.count("*").cast("long").alias("n_queries"),
        F.sum("n_exact").cast("long").alias("n_exact"),
        (
            F.sum("n_hit").cast("double") / F.sum("n_exact") >= 0.6
        ).alias("recall_ok"),
    )


_q(
    "x3_kmeans_ivf_topk",
    Query(
        _kmeans_ivf_spark,
        """
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
             q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
             exact AS (
               SELECT query_id, neighbor_id FROM (
                 SELECT q.query_id, e.vec_id AS neighbor_id,
                        ROW_NUMBER() OVER (PARTITION BY q.query_id
                          ORDER BY ROUND(list_cosine_similarity(q.qv, e.v), 6) DESC,
                                   e.vec_id) AS rank
                 FROM e CROSS JOIN q WHERE e.vec_id != q.query_id
               ) t WHERE rank <= 5
             )
        SELECT CAST(COUNT(DISTINCT query_id) AS BIGINT) AS n_queries,
               CAST(COUNT(*) AS BIGINT) AS n_exact,
               TRUE AS recall_ok
        FROM exact
        """,
        "X3",
        "IVF top-k with Spark ML KMeans coarse centroids, graded as a "
        "recall bound: aggregate recall@5 vs exact rounded-cosine ground "
        "truth must clear 0.6 (the SQL-reproducible part — ground-truth "
        "counts — is hash-matched; the learned centers themselves are "
        "not SQL-expressible)",
    ),
)

def _pq_rerank_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization ANN (operators/similarity.py): train
    deterministic per-subspace codebooks (8 subspaces x 16 codes —
    64x vector compression), ADC-shortlist 50 candidates per query over
    the codes, exact re-rank on the original vectors of the shortlist
    only (pq_topk_rerank). Like x3_kmeans_ivf_topk, the learned
    codebooks are not SQL-expressible, so the query is graded as a
    recall bound: aggregate recall@10 vs exact rounded-cosine ground
    truth must clear 0.6 (bare ADC without re-rank measures 0.42 on
    these near-random vectors — the bound separates the working
    pipeline from a broken one). The shortlist scales with the corpus
    (max(50, n/10)): near-random vectors concentrate distances, so a
    FIXED shortlist's recall decays with corpus growth (measured
    0.74 → 0.48 from 500 to 2000 vectors at 50); proportional sizing
    measures 0.74 / 0.80 / 1.0 at 500 / 2k / 20k vectors. Real
    clustered embeddings need far smaller shortlists. Vectors are
    L2-normalized first so PQ's L2 ordering equals cosine ordering."""
    from pyspark.sql import functions as F

    from mission_data_pipeline_spark.operators.similarity import (
        ann_recall,
        cosine_topk,
        pq_encode,
        pq_topk_rerank,
        pq_train_codebooks,
    )

    register_views(spark, sf_dir)
    emb = spark.table("embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    norm = F.sqrt(
        F.aggregate(
            F.transform("v", lambda x: x * x), F.lit(0.0), lambda a, b: a + b
        )
    )
    # stage the norm as its OWN column: a captured aggregate inside the
    # transform lambda re-evaluates per element (the interpreted-HOF
    # pitfall — O(dim^2) folds per row; same fix as text.py tfidf)
    nemb = (
        emb.withColumn("__norm", norm)
        .select(
            "vec_id",
            F.transform("v", lambda x: x / F.col("__norm")).alias("v"),
        )
    )
    # The normalized table feeds FIVE consumers (codebook sample
    # collect, the encode pass, the rerank vector fetch, the query
    # batch, plus ann_recall's approx side) — truncate it once so the
    # cast + normalize HOF pass executes once (round-14 duplicate-
    # subtree pattern; interleaved A/B median 3.26 -> 1.90 s).
    from mission_data_pipeline_spark.operators.lineage import query_truncator

    nemb = query_truncator()(nemb)
    books = pq_train_codebooks(
        nemb, m=8, k=16, vec_col="v", sample_n=1024, n_iter=8
    )
    enc = pq_encode(nemb, books, vec_col="v")
    q = nemb.filter(F.col("vec_id") < 5)
    # corpus size from the parquet footer, not emb.count(): an eager
    # count inside the plan constructor would run a full scan per
    # invocation (flagged VERDICT r10 item 8)
    n_corpus = parquet_row_count(f"{sf_dir}/embeddings.parquet")
    approx = pq_topk_rerank(
        enc, nemb, q, books, k=10,
        shortlist=max(50, n_corpus // 10), vec_col="v",
    )
    exact = cosine_topk(
        emb, emb.filter(F.col("vec_id") < 5), k=10, vec_col="v", round_digits=6
    )
    return ann_recall(approx, exact, k=10).agg(
        F.count("*").cast("long").alias("n_queries"),
        F.sum("n_exact").cast("long").alias("n_exact"),
        (F.sum("n_hit").cast("double") / F.sum("n_exact") >= 0.6).alias(
            "recall_ok"
        ),
    )


_q(
    "x3_pq_rerank_topk",
    Query(
        _pq_rerank_spark,
        """
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
             q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
             exact AS (
               SELECT query_id, neighbor_id FROM (
                 SELECT q.query_id, e.vec_id AS neighbor_id,
                        ROW_NUMBER() OVER (PARTITION BY q.query_id
                          ORDER BY ROUND(list_cosine_similarity(q.qv, e.v), 6) DESC,
                                   e.vec_id) AS rank
                 FROM e CROSS JOIN q WHERE e.vec_id != q.query_id
               ) t WHERE rank <= 10
             )
        SELECT CAST(COUNT(DISTINCT query_id) AS BIGINT) AS n_queries,
               CAST(COUNT(*) AS BIGINT) AS n_exact,
               TRUE AS recall_ok
        FROM exact
        """,
        "X3",
        "product-quantization ANN (64x compressed codes, ADC shortlist "
        "+ exact re-rank of candidates only), graded as a recall bound "
        "vs exact rounded-cosine ground truth (>= 0.6; measured 0.74)",
    ),
)


def _pq_tie_guard_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The r14 in-plan tie guard (VERDICT r13 item 1) under the exact
    failure geometry of the r13 sfx10 probe: each query vector gets 12
    exact clones planted in the corpus, and the ADC shortlist (8) is
    SMALLER than the clone cluster (13 code-identical members). A
    row-number shortlist cuts inside the tie group; pq_topk_rerank's
    RANK()-cut keeps it whole, so:

    - ``tie_extended_ok``: the tie-aware ADC candidate list must
      exceed the nominal shortlist (>= 13 > 8) — deterministic
      regardless of the learned codebooks, because exact clones always
      encode to identical codes and therefore ADC-tie at distance 0;
    - ``recall``: tie-aware recall@5 vs RANK()-extended ground truth
      must be exactly 1.0 (every re-ranked clone is admissible).

    The codebooks themselves are not SQL-expressible, so the oracle
    asserts the data-independent bound columns and replays the
    SQL-computable ground-truth denominator."""
    from pyspark.sql import functions as F

    from mission_data_pipeline_spark.operators.similarity import (
        ann_recall,
        cosine_topk,
        pq_encode,
        pq_topk,
        pq_topk_rerank,
        pq_train_codebooks,
    )

    register_views(spark, sf_dir)
    emb = spark.table("embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    norm = F.sqrt(
        F.aggregate(
            F.transform("v", lambda x: x * x), F.lit(0.0), lambda a, b: a + b
        )
    )
    # staged __norm column: see _pq_rerank_spark (captured aggregates
    # re-evaluate per transform element)
    nemb = (
        emb.withColumn("__norm", norm)
        .select(
            "vec_id",
            F.transform("v", lambda x: x / F.col("__norm")).alias("v"),
        )
    )
    # truncate once: the normalized table feeds the clone synthesis,
    # the codebook sample, the encode pass, both rerank sides and the
    # tie-extended ground truth (see _pq_rerank_spark)
    from mission_data_pipeline_spark.operators.lineage import query_truncator

    nemb = query_truncator()(nemb)
    base = nemb.filter(F.col("vec_id") < 3)
    clones = base.select(
        "vec_id", "v",
        F.explode(F.sequence(F.lit(0), F.lit(11))).alias("j"),
    ).select(
        (F.lit(300000) + F.col("vec_id") * 100 + F.col("j")).alias(
            "vec_id"
        ),
        "v",
    )
    corpus = nemb.unionByName(clones)
    books = pq_train_codebooks(
        corpus, m=8, k=16, vec_col="v", sample_n=1024, n_iter=8
    )
    enc = pq_encode(corpus, books, vec_col="v")
    shortlist = 8
    # tie-extended ADC candidates: >= 13 per query iff the RANK() cut
    # is live (a row-number cut reads exactly 8)
    n_cand = (
        pq_topk(
            enc, base, books, k=shortlist, query_vec_col="v",
            include_ties=True,
        )
        .groupBy("query_id")
        .agg((F.count("*") > shortlist).alias("tie_extended_ok"))
    )
    approx = pq_topk_rerank(
        enc, corpus, base, books, k=5, shortlist=shortlist, vec_col="v"
    )
    tied = cosine_topk(
        corpus, base, k=5, round_digits=6, include_ties=True, vec_col="v"
    )
    rec = ann_recall(approx, tied, k=5, tie_aware=True)
    return (
        rec.join(n_cand, "query_id")
        .select(
            "query_id",
            F.col("n_exact").cast("long").alias("n_denom"),
            F.col("n_hit").cast("long").alias("n_hit"),
            F.round("recall", 6).alias("recall"),
            "tie_extended_ok",
        )
        .orderBy("query_id")
    )


_q(
    "x3_pq_tie_guard_recall",
    Query(
        _pq_tie_guard_spark,
        """
        SELECT CAST(vec_id AS BIGINT) AS query_id,
               CAST(5 AS BIGINT) AS n_denom,
               CAST(5 AS BIGINT) AS n_hit,
               CAST(1.0 AS DOUBLE) AS recall,
               TRUE AS tie_extended_ok
        FROM embeddings WHERE vec_id < 3 ORDER BY vec_id
        """,
        "X3",
        "in-plan PQ shortlist tie guard: 12 exact clones per query "
        "(cluster > shortlist) must auto-extend the ADC candidate list "
        "past the nominal cut (tie_extended_ok) and re-rank to perfect "
        "tie-aware recall@5 — the r13 sfx10 0.505-recall geometry, now "
        "auto-recovering with no knob turn",
    ),
)


# ---------------------------------------------------------------------------
# Telemetry-shaped relational parity queries (D2, D6)
# ---------------------------------------------------------------------------

_sql_d6, _duck_d6 = _ev(
    """
    SELECT event_type AS name, COUNT(*) AS n_samples,
           CAST(MIN(ts_us) AS BIGINT) AS time_min_us,
           CAST(MAX(ts_us) AS BIGINT) AS time_max_us
    FROM ev
    GROUP BY event_type
    ORDER BY name
    """
)
_q(
    "d6_per_name_time_range",
    _dialect(_sql_d6, _duck_d6, "D6", "per-parameter count + time range (ParameterRecord stats)"),
)

_sql_d2, _duck_d2 = _ev(
    """
    SELECT ts_us, user_id, value, props
    FROM ev
    WHERE event_type = 'click' AND user_id <= 30
    ORDER BY ts_us, event_id
    """
)
_q(
    "d2_tidy_projection_sorted",
    _dialect(_sql_d2, _duck_d2, "D2", "tidy per-parameter projection, time-ordered"),
)

