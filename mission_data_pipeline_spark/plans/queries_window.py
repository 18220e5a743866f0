"""Window / time-series / streaming queries (W*, event-table windows).

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


# ---------------------------------------------------------------------------
# Window / time-series (W*, plus extension windows over events)
# ---------------------------------------------------------------------------

_EV_SPARK = "WITH ev AS (SELECT *, ts_ns DIV 1000 AS ts_us FROM events)"
_EV_DUCK = "WITH ev AS (SELECT *, epoch_us(ts) AS ts_us FROM events)"


def _ev(spark_body: str, duck_body: str | None = None) -> tuple[str, str]:
    body = spark_body
    return _EV_SPARK + body, _EV_DUCK + (duck_body if duck_body is not None else body)


_sql_w_rn, _duck_w_rn = _ev(
    """
    SELECT user_id, ts_us, event_type, value FROM (
      SELECT user_id, ts_us, event_type, value,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS rn
      FROM ev
    ) t WHERE rn <= 3
    ORDER BY user_id, ts_us, event_type
    """
)
_q(
    "w_row_number_first_events",
    _dialect(_sql_w_rn, _duck_w_rn, "W3+", "first 3 events per user via ROW_NUMBER"),
)

_sql_w_lag, _duck_w_lag = _ev(
    """
    SELECT user_id, ts_us,
           ROUND(value - LAG(value) OVER (PARTITION BY user_id ORDER BY ts_us, event_id), 6) AS delta,
           CAST(ts_us - LAG(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS BIGINT) AS gap_us
    FROM ev WHERE user_id <= 20
    ORDER BY user_id, ts_us
    """
)
_q(
    "w_lag_delta_gap",
    _dialect(_sql_w_lag, _duck_w_lag, "W3,W4", "per-user deltas + arrival gaps via LAG (seq-gap detection analog)"),
)

_sql_w_run, _duck_w_run = _ev(
    """
    SELECT user_id, ts_us,
           ROUND(SUM(value) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS running_value
    FROM ev WHERE user_id <= 10
    ORDER BY user_id, ts_us
    """
)
_q(
    "w_running_sum",
    _dialect(_sql_w_run, _duck_w_run, "W*+", "running sum in deterministic frame order"),
)

_sql_w_avg, _duck_w_avg = _ev(
    """
    SELECT user_id, ts_us,
           ROUND(AVG(value) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                 ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 6) AS moving_avg
    FROM ev WHERE user_id <= 10
    ORDER BY user_id, ts_us
    """
)
_q(
    "w_moving_average",
    _dialect(_sql_w_avg, _duck_w_avg, "W*+", "4-row moving average"),
)

_q(
    "w_rank_orders_by_priority",
    _same(
        """
        SELECT o_orderpriority, o_orderkey, o_totalprice, rnk FROM (
          SELECT o_orderpriority, o_orderkey, o_totalprice,
                 RANK() OVER (PARTITION BY o_orderpriority
                              ORDER BY o_totalprice DESC, o_orderkey) AS rnk
          FROM orders
        ) t WHERE rnk <= 5
        ORDER BY o_orderpriority, rnk, o_orderkey
        """,
        "W*+",
        "per-group top-k via RANK",
    ),
)

_sql_w_tumb, _duck_w_tumb = _ev(
    f"""
    SELECT CAST(ts_us DIV 3600000000 AS BIGINT) AS hour_bucket,
           event_type, COUNT(*) AS n, {_dsum('value')} AS sum_value
    FROM ev
    GROUP BY 1, 2
    ORDER BY hour_bucket, event_type
    """,
    f"""
    SELECT CAST(ts_us // 3600000000 AS BIGINT) AS hour_bucket,
           event_type, COUNT(*) AS n, {_dsum('value')} AS sum_value
    FROM ev
    GROUP BY 1, 2
    ORDER BY hour_bucket, event_type
    """,
)
_q(
    "w1_tumbling_window",
    _dialect(_sql_w_tumb, _duck_w_tumb, "W1", "tumbling 1-hour window aggregate (micro-batch analog)"),
)


_STREAM_SINK_SEQ = itertools.count()


def _streaming_tumbling_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE Structured Streaming execution, driver-checked: events
    replayed through readStream (availableNow trigger), watermarked
    tumbling 1-hour counts into a memory sink, run to completion. In
    complete output mode the final table equals the batch aggregate, so
    the same SQL oracles the streaming engine's stateful path."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    batch_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    # streaming file source needs a directory; glob-filter to the one table
    raw = (
        spark.readStream.schema(batch_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    ts_field = batch_schema["ts"].dataType
    if isinstance(ts_field, T.LongType):
        # TIMESTAMP(NANOS) flavor read as epoch-ns longs (tables.py note)
        ev = raw.withColumn("event_time", F.timestamp_micros(F.expr("ts DIV 1000")))
    else:
        ev = raw.withColumn("event_time", F.col("ts").cast("timestamp"))
    agg = (
        ev.withWatermark("event_time", "1 hour")
        .groupBy(F.window("event_time", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(
            F.col("w.start").cast("long").alias("hour_start"),
            "event_type",
            "n",
        )
    )
    sink = f"w1_stream_sink_{next(_STREAM_SINK_SEQ)}"
    q = (
        agg.writeStream.format("memory")
        .queryName(sink)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(300)
    finally:
        q.stop()
    return spark.table(sink).orderBy("hour_start", "event_type")


_q(
    "w1_streaming_tumbling",
    Query(
        _streaming_tumbling_spark,
        _EV_DUCK
        + """
        SELECT ts_us // 1000000 // 3600 * 3600 AS hour_start,
               event_type, COUNT(*) AS n
        FROM ev
        GROUP BY 1, 2
        ORDER BY hour_start, event_type
        """,
        "W1,W4",
        "REAL Structured Streaming run (readStream -> watermarked tumbling "
        "window -> memory sink, availableNow to completion) — the final "
        "state of the stateful streaming aggregate must equal the batch "
        "SQL oracle",
    ),
)


def _streaming_dedup_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming bounded-state dedup, driver-checked: the events table is
    streamed TWICE (two file sources unioned — every row a duplicate)
    through dropDuplicatesWithinWatermark on event_id; the surviving
    stream must be exactly the distinct batch table."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    batch_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema

    def src() -> DataFrame:
        return (
            spark.readStream.schema(batch_schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
        )

    ev = src().unionByName(src())
    if isinstance(batch_schema["ts"].dataType, T.LongType):
        ev = ev.withColumn("event_time", F.timestamp_micros(F.expr("ts DIV 1000")))
    else:
        ev = ev.withColumn("event_time", F.col("ts").cast("timestamp"))
    dd = (
        ev.withWatermark("event_time", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select(
            "event_id",
            "user_id",
            "event_type",
            F.unix_micros("event_time").alias("ts_us"),
        )
    )
    sink = f"w4_stream_dedup_sink_{next(_STREAM_SINK_SEQ)}"
    q = (
        dd.writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(300)
    finally:
        q.stop()
    return spark.table(sink).orderBy("event_id")


_q(
    "w4_streaming_dedup",
    Query(
        _streaming_dedup_spark,
        _EV_DUCK
        + """
        SELECT event_id, user_id, event_type, ts_us
        FROM ev
        ORDER BY event_id
        """,
        "W4,X1",
        "REAL streaming bounded-state dedup: the table streamed twice "
        "(100% duplicates) through dropDuplicatesWithinWatermark must "
        "emit exactly the distinct batch table",
    ),
)


def _streaming_ewma_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL streaming EWMA run (streaming/stateful.py ewma_stream): the
    events slice is re-laid as four TIME-CONTIGUOUS files (global
    (t_us, event_id) order ntile'd into slices, explicit ascending
    mtimes) and streamed with maxFilesPerTrigger=1, so every series'
    smoothing state genuinely crosses micro-batch boundaries in time
    order. Each row is emitted exactly once with its smoothed value;
    the full emission set must equal the batch recurrence — the same
    recursive-CTE oracle shape as w_ewma_smoothing, computed by a LIVE
    stateful stream instead. Aborts loudly if the source collapsed into
    fewer than three data-bearing micro-batches."""
    import glob as _glob

    from pyspark.sql import Window, functions as F

    from mission_data_pipeline_spark.streaming.stateful import ewma_stream

    register_views(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="mdps_ewma_stream_")
    try:
        stream_dir = os.path.join(tmp, "in")
        os.makedirs(stream_dir)
        ev = spark.sql(
            "SELECT user_id AS key, event_id, ts_ns DIV 1000 AS t_us, "
            "value FROM events WHERE user_id < 10"
        ).withColumn(
            "__slice", F.ntile(4).over(Window.orderBy("t_us", "event_id"))
        )
        for i in range(1, 5):
            d = os.path.join(tmp, f"slice{i}")
            (
                ev.filter(F.col("__slice") == i)
                .drop("__slice")
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(d)
            )
            src = _glob.glob(os.path.join(d, "part-*.parquet"))[0]
            dst = os.path.join(stream_dir, f"{i:02d}.parquet")
            shutil.copy(src, dst)
            os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))
        stream = (
            spark.readStream.schema(
                "key long, event_id long, t_us long, value double"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(stream_dir)
        )
        sink = f"w_ewma_stream_sink_{next(_STREAM_SINK_SEQ)}"
        q = (
            ewma_stream(stream, alpha=0.25)
            .writeStream.format("memory")
            .queryName(sink)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination(300)
            n_batches = sum(
                1 for p in q.recentProgress if p["numInputRows"] > 0
            )
        finally:
            q.stop()
        if n_batches < 3:
            raise RuntimeError(
                f"streaming ewma ran as {n_batches} data micro-batches — "
                "cross-batch smoothing state was not exercised"
            )
        return spark.table(sink).select(
            "key", "t_us", "event_id", "value", "ewma"
        ).orderBy("key", "t_us", "event_id")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


_q(
    "w3_streaming_ewma",
    Query(
        _streaming_ewma_spark,
        """
        WITH RECURSIVE s AS (
          SELECT user_id AS key, event_id, epoch_us(ts) AS t, value,
                 ROW_NUMBER() OVER (
                   PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                 ) AS n
          FROM events WHERE user_id < 10
        ),
        rec AS (
          SELECT key, event_id, t, value, n,
                 value AS st, value AS ewma
          FROM s WHERE n = 1
          UNION ALL
          SELECT s.key, s.event_id, s.t, s.value, s.n,
                 CASE WHEN s.value IS NULL THEN rec.st
                      WHEN rec.st IS NULL THEN s.value
                      ELSE 0.25 * s.value + 0.75 * rec.st END,
                 CASE WHEN s.value IS NULL THEN NULL
                      WHEN rec.st IS NULL THEN s.value
                      ELSE 0.25 * s.value + 0.75 * rec.st END
          FROM rec JOIN s ON s.key = rec.key AND s.n = rec.n + 1
        )
        SELECT key, t AS t_us, event_id, value, ewma
        FROM rec
        ORDER BY key, t_us, event_id
        """,
        "W3,W1+",
        "REAL streaming EWMA (applyInPandasWithState): per-channel "
        "smoothing state carried across four time-ordered micro-batches "
        "of a live file stream; the emission set equals the batch "
        "recurrence bit-exactly (recursive-CTE oracle)",
    ),
)


def _streaming_stateful_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSTOM stateful streaming operator, driver-checked
    (streaming/stateful.py cumulative_group_stats): events re-laid-out
    as four files and streamed with maxFilesPerTrigger=1, so per-user
    state genuinely crosses micro-batch boundaries; every batch emits
    the user's cumulative stats, and the final emission per user must
    equal the batch GROUP BY. The run aborts loudly if the source
    collapsed into a single micro-batch (emissions == users), so the
    cross-batch state carry is actually exercised, not assumed."""
    from pyspark.sql import functions as F

    from mission_data_pipeline_spark.streaming.stateful import (
        cumulative_group_stats,
    )

    register_views(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="mdps_stateful_stream_")
    try:
        (
            spark.table("events")
            .filter(F.col("user_id") <= 100)
            .select(
                F.col("user_id").alias("key"),
                F.col("event_id").alias("id"),
                F.expr("ts_ns DIV 1000").alias("ts_us"),
            )
            .repartition(4)
            .write.mode("overwrite")
            .parquet(tmp)
        )
        stream = (
            spark.readStream.schema("key long, id long, ts_us long")
            .option("maxFilesPerTrigger", 1)
            .parquet(tmp)
        )
        sink = f"w3_stateful_sink_{next(_STREAM_SINK_SEQ)}"
        q = (
            cumulative_group_stats(stream)
            .writeStream.format("memory")
            .queryName(sink)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination(300)
        finally:
            q.stop()
        emitted = spark.table(sink)
        n_emissions, n_keys = emitted.agg(
            F.count("*"), F.count_distinct("key")
        ).first()
        if n_emissions <= n_keys:
            raise RuntimeError(
                f"stateful stream ran as a single micro-batch "
                f"({n_emissions} emissions for {n_keys} keys) — "
                "cross-batch state carry was not exercised"
            )
        return (
            emitted.groupBy(F.col("key").alias("user_id"))
            .agg(
                F.max(
                    F.struct("n_events", "id_sum", "ts_min_us", "ts_max_us")
                ).alias("f")
            )
            .select(
                "user_id",
                F.col("f.n_events").alias("n_events"),
                F.col("f.id_sum").alias("id_sum"),
                F.col("f.ts_min_us").alias("ts_min_us"),
                F.col("f.ts_max_us").alias("ts_max_us"),
            )
            .orderBy("user_id")
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


_q(
    "w3_streaming_stateful_cumulative",
    Query(
        _streaming_stateful_spark,
        """
        SELECT user_id, COUNT(*) AS n_events,
               CAST(SUM(event_id) AS BIGINT) AS id_sum,
               MIN(epoch_us(ts)) AS ts_min_us,
               MAX(epoch_us(ts)) AS ts_max_us
        FROM events WHERE user_id <= 100
        GROUP BY user_id ORDER BY user_id
        """,
        "W3,W1+",
        "REAL custom stateful streaming run (applyInPandasWithState, "
        "append mode): per-user cumulative stats carried in the state "
        "store across four forced micro-batches; integer accumulators "
        "make the final emission order-independent and equal to the "
        "batch GROUP BY oracle",
    ),
)


def _stream_static_enrich_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL stream-static join run: the events stream enriched against
    the static customer dimension (the reference-data pattern — the
    static side is re-read per micro-batch, so dimension updates are
    picked up without restarting the stream). Complete-mode counts per
    (segment, event_type) must equal the batch join."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    register_views(spark, sf_dir)
    batch_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    raw = (
        spark.readStream.schema(batch_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    static = spark.table("customer").select("c_custkey", "c_mktsegment")
    agg = (
        raw.join(static, raw["user_id"] == static["c_custkey"])
        .groupBy("c_mktsegment", "event_type")
        .agg(F.count("*").alias("n"))
    )
    sink = f"w_stream_static_sink_{next(_STREAM_SINK_SEQ)}"
    q = (
        agg.writeStream.format("memory")
        .queryName(sink)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(300)
    finally:
        q.stop()
    return spark.table(sink).orderBy("c_mktsegment", "event_type")


_q(
    "w_streaming_static_enrich",
    Query(
        _stream_static_enrich_spark,
        """
        SELECT c.c_mktsegment, e.event_type, COUNT(*) AS n
        FROM events e JOIN customer c ON e.user_id = c.c_custkey
        GROUP BY c.c_mktsegment, e.event_type
        ORDER BY c.c_mktsegment, e.event_type
        """,
        "W1+,J*",
        "REAL stream-static join run: streaming events enriched against "
        "the static customer dimension (re-read per micro-batch — the "
        "slowly-changing reference-data pattern); complete-mode final "
        "state equals the batch join",
    ),
)


def _foreachbatch_upsert_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once ingest from an at-least-once stream, composed from
    two primitives the engine already proves separately: foreachBatch
    micro-batch delivery + the idempotent
    last-wins MERGE sink (sinks/merge.py). Events are re-laid-out as
    four files and streamed one file per micro-batch; every batch
    merge-upserts into the same parquet base keyed on event_id. After
    the stream completes, the FIRST batch is re-delivered (version 0 —
    a restart replay) and must change nothing. Final state must equal
    the plain batch table."""
    from pyspark.sql import functions as F

    from mission_data_pipeline_spark.sinks.merge import merge_upsert

    register_views(spark, sf_dir)
    src = _scratch_dir("febu_src")
    ckpt = _scratch_dir("febu_ckpt")
    base = _scratch_dir("febu_base") + "/ds"
    try:
        (
            spark.table("events")
            .filter(F.col("user_id") <= 60)
            .select(
                "event_id",
                "user_id",
                "event_type",
                F.expr("ts_ns DIV 1000").alias("ts_us"),
            )
            .repartition(4)
            .write.mode("overwrite")
            .parquet(src)
        )

        def apply_batch(batch_df: DataFrame, epoch_id: int) -> None:
            merge_upsert(
                spark,
                base,
                batch_df.withColumn("version", F.lit(epoch_id + 1)),
                key_cols=["event_id"],
                version_col="version",
            )

        stream = (
            spark.readStream.schema(
                "event_id long, user_id long, event_type string, ts_us long"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            stream.writeStream.foreachBatch(apply_batch)
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.awaitTermination(300)
        finally:
            q.stop()
        # Restart replay: re-deliver one source file as a STALE batch
        # (version 0 < every applied version) — idempotence means the
        # final state is untouched.
        first_file = sorted(
            f for f in __import__("os").listdir(src) if f.endswith(".parquet")
        )[0]
        merge_upsert(
            spark,
            base,
            spark.read.parquet(f"{src}/{first_file}").withColumn(
                "version", F.lit(0)
            ),
            key_cols=["event_id"],
            version_col="version",
        )
        return (
            spark.read.parquet(base)
            .select("event_id", "user_id", "event_type", "ts_us")
            .orderBy("event_id")
        )
    finally:
        shutil.rmtree(src, ignore_errors=True)


_q(
    "w_streaming_foreachbatch_upsert",
    Query(
        _foreachbatch_upsert_spark,
        """
        SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us
        FROM events WHERE user_id <= 60
        ORDER BY event_id
        """,
        "W1,L+,P2",
        "REAL foreachBatch run composed with the idempotent MERGE sink: "
        "four micro-batches upsert into one parquet base, then a stale "
        "restart replay of batch one must change nothing — exactly-once "
        "ingest from at-least-once delivery, final state equals the "
        "batch table",
    ),
)


def _udaf_median_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPED_AGG pandas UDAF (functions/udx.py grouped_median): the
    user-defined-aggregate extension point, Arrow-batched per group;
    median chosen because sort-based statistics are order-independent
    (an accumulating float UDAF would not be layout-deterministic)."""
    from pyspark.sql import functions as F

    from mission_data_pipeline_spark.functions.udx import grouped_median

    register_views(spark, sf_dir)
    return (
        spark.table("events")
        .groupBy("event_type")
        # note: Spark disallows mixing a GROUPED_AGG pandas UDF with
        # JVM aggregates in one agg() — the UDAF aggregates alone
        .agg(F.round(grouped_median("value"), 6).alias("median_value"))
        .orderBy("event_type")
    )


_q(
    "udaf_grouped_median",
    Query(
        _udaf_median_spark,
        """
        SELECT event_type,
               ROUND(QUANTILE_CONT(value, 0.5), 6) AS median_value
        FROM events GROUP BY event_type ORDER BY event_type
        """,
        "§2.10 UDAF",
        "user-defined aggregate via GROUPED_AGG pandas UDF (Arrow "
        "batch per group, per-group not per-row Python); interpolated "
        "median matches QUANTILE_CONT exactly because sort-based "
        "statistics are addition-order independent",
    ),
)


def _udtf_spans_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (functions/udx.py TokenSpans) used LATERAL-ly in
    SQL: one row per token with position and length, aggregated so the
    output stays small. The hot-path equivalent is posexplode — the
    query proves the user-defined table-function extension point."""
    from mission_data_pipeline_spark.functions.udx import register_udx

    register_views(spark, sf_dir)
    register_udx(spark)
    return spark.sql(
        """
        SELECT t.pos,
               COUNT(*) AS n_tokens,
               SUM(t.tok_len) AS total_len,
               MIN(t.tok) AS first_tok
        FROM (SELECT text FROM documents WHERE doc_id < 100) d,
             LATERAL token_spans(d.text) t
        GROUP BY t.pos
        HAVING t.pos < 10
        ORDER BY t.pos
        """
    )


_q(
    "udtf_token_spans",
    Query(
        _udtf_spans_spark,
        """
        WITH spans AS (
          SELECT unnest(list_transform(
                   string_split(text, ' '),
                   (x, i) -> struct_pack(tok := x, pos := CAST(i - 1 AS INT),
                                         tok_len := CAST(len(x) AS INT))),
                 recursive := true)
          FROM documents WHERE doc_id < 100
        )
        SELECT pos, COUNT(*) AS n_tokens,
               CAST(SUM(tok_len) AS BIGINT) AS total_len,
               MIN(tok) AS first_tok
        FROM spans WHERE len(tok) > 0
        GROUP BY pos HAVING pos < 10
        ORDER BY pos
        """,
        "§2.10 UDTF",
        "user-defined table function (Python UDTF, LATERAL in SQL): "
        "per-token fan-out with position/length — the UDTF extension "
        "point, with posexplode documented as the hot-path equivalent",
    ),
)


def _profile_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass column profiling (operators/quality.py
    profile_columns) over the documents table."""
    from mission_data_pipeline_spark.operators.quality import profile_columns

    register_views(spark, sf_dir)
    return profile_columns(
        spark.table("documents"), ["doc_id", "lang", "source", "n_chars"]
    ).orderBy("col_name")


_q(
    "x6_table_profile",
    Query(
        _profile_spark,
        """
        WITH n AS (SELECT COUNT(*) AS n_rows FROM documents)
        SELECT * FROM (
          SELECT 'doc_id' AS col_name, n.n_rows,
                 n.n_rows - COUNT(doc_id) AS n_null,
                 COUNT(DISTINCT doc_id) AS n_distinct,
                 CAST(MIN(doc_id) AS VARCHAR) AS min_value,
                 CAST(MAX(doc_id) AS VARCHAR) AS max_value
          FROM documents, n GROUP BY n.n_rows
          UNION ALL
          SELECT 'lang', n.n_rows, n.n_rows - COUNT(lang),
                 COUNT(DISTINCT lang),
                 CAST(MIN(lang) AS VARCHAR), CAST(MAX(lang) AS VARCHAR)
          FROM documents, n GROUP BY n.n_rows
          UNION ALL
          SELECT 'source', n.n_rows, n.n_rows - COUNT(source),
                 COUNT(DISTINCT source),
                 CAST(MIN(source) AS VARCHAR), CAST(MAX(source) AS VARCHAR)
          FROM documents, n GROUP BY n.n_rows
          UNION ALL
          SELECT 'n_chars', n.n_rows, n.n_rows - COUNT(n_chars),
                 COUNT(DISTINCT n_chars),
                 CAST(MIN(n_chars) AS VARCHAR), CAST(MAX(n_chars) AS VARCHAR)
          FROM documents, n GROUP BY n.n_rows
        ) t ORDER BY col_name
        """,
        "X6,A*+",
        "Deequ/TFDV-style column profiling (count / nulls / distinct / "
        "min / max per column) in ONE aggregation pass — the data-"
        "quality report gating a corpus before training",
    ),
)


def _constraints_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative constraint validation (operators/quality.py
    validate_constraints): uniqueness, completeness, range and
    accepted-set checks evaluated in one pass; the report carries the
    measured metric, so the oracle recomputes each check directly."""
    from mission_data_pipeline_spark.operators.quality import (
        Constraint,
        validate_constraints,
    )

    register_views(spark, sf_dir)
    checks = [
        Constraint("unique", "event_id"),
        Constraint("complete", "ts"),
        Constraint("between", "value", lo=-10000.0, hi=10000.0),
        Constraint(
            "accepted_values",
            "event_type",
            values=("view", "click", "purchase", "signup", "error"),
        ),
        Constraint("min_fraction_complete", "props", min_fraction=0.5),
    ]
    return validate_constraints(spark.table("events"), checks).orderBy(
        "check", "column"
    )


_q(
    "x6_constraint_report",
    Query(
        _constraints_spark,
        """
        WITH m AS (
          SELECT COUNT(*) AS n,
                 CAST(COUNT(event_id) - COUNT(DISTINCT event_id) AS DOUBLE)
                   AS uniq_viol,
                 CAST(COUNT(*) - COUNT(ts) AS DOUBLE) / COUNT(*)
                   AS ts_null_frac,
                 CAST(COUNT_IF(value < -10000.0 OR value > 10000.0) AS DOUBLE)
                   AS range_viol,
                 CAST(COUNT_IF(event_type IS NOT NULL AND event_type NOT IN
                      ('view','click','purchase','signup','error')) AS DOUBLE)
                   AS set_viol,
                 CAST(COUNT(*) - COUNT(props) AS DOUBLE) / COUNT(*)
                   AS props_null_frac
          FROM events
        )
        SELECT * FROM (
          SELECT 'accepted_values' AS check, 'event_type' AS column,
                 ROUND(set_viol, 9) AS metric, 0.0 AS threshold,
                 set_viol <= 0.0 AS passed FROM m
          UNION ALL
          SELECT 'between', 'value', ROUND(range_viol, 9), 0.0,
                 range_viol <= 0.0 FROM m
          UNION ALL
          SELECT 'complete', 'ts', ROUND(ts_null_frac, 9), 0.0,
                 ts_null_frac <= 0.0 FROM m
          UNION ALL
          SELECT 'min_fraction_complete', 'props',
                 ROUND(props_null_frac, 9), 0.5,
                 props_null_frac <= 0.5 FROM m
          UNION ALL
          SELECT 'unique', 'event_id', ROUND(uniq_viol, 9), 0.0,
                 uniq_viol <= 0.0 FROM m
        ) t ORDER BY t.check, t.column
        """,
        "X6,P2+",
        "declarative data-quality gate (uniqueness / completeness / "
        "range / accepted-set / completeness-fraction) evaluated in ONE "
        "table scan; the report carries the measured metric alongside "
        "the verdict so a failing gate explains itself",
    ),
)


def _jsonl_quarantine_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corrupt-line quarantine path (sources/jsonl.py): a JSONL shard is
    built from documents 0-49 with every doc_id%5==0 line deliberately
    truncated mid-object; jsonl_corrupt_stats must count exactly those,
    and the DROPMALFORMED clean read must keep exactly the others —
    both totals derived by the oracle from the source table, so a
    quarantine that drops too much or too little hash-mismatches."""
    import json as _json

    from pyspark.sql import functions as F

    from mission_data_pipeline_spark.sources.jsonl import (
        jsonl_corrupt_stats,
        read_jsonl,
    )

    register_views(spark, sf_dir)
    fixture = (
        spark.table("documents")
        .filter(F.col("doc_id") < 50)
        .select("doc_id", "text")
        .collect()
    )  # fixture construction: 50 rows driver-side, the WARC-query pattern
    lines = []
    for r in sorted(fixture, key=lambda r: r["doc_id"]):
        if r["doc_id"] % 5 == 0:
            lines.append('{"doc_id": ' + str(r["doc_id"]))  # truncated
        else:
            lines.append(_json.dumps({"doc_id": r["doc_id"], "text": r["text"]}))
    d = _scratch_dir("jsonl_quar")
    with open(f"{d}/shard.jsonl", "w") as f:
        f.write("\n".join(lines) + "\n")
    schema = "doc_id long, text string"
    stats = jsonl_corrupt_stats(spark, f"{d}/shard.jsonl", schema=schema)
    clean = read_jsonl(spark, f"{d}/shard.jsonl", schema=schema).agg(
        F.count("*").alias("n_clean"),
        F.sum("doc_id").cast("long").alias("clean_docid_sum"),
    )
    return stats.select(
        "n_rows", "n_corrupt", F.round("corrupt_frac", 6).alias("corrupt_frac")
    ).crossJoin(clean)


_q(
    "s_jsonl_corrupt_quarantine",
    Query(
        _jsonl_quarantine_spark,
        """
        SELECT
          (SELECT COUNT(*) FROM documents WHERE doc_id < 50) AS n_rows,
          (SELECT COUNT(*) FROM documents
           WHERE doc_id < 50 AND doc_id % 5 = 0) AS n_corrupt,
          ROUND((SELECT COUNT(*) FROM documents
                 WHERE doc_id < 50 AND doc_id % 5 = 0)
                / CAST((SELECT COUNT(*) FROM documents WHERE doc_id < 50)
                       AS DOUBLE), 6) AS corrupt_frac,
          (SELECT COUNT(*) FROM documents
           WHERE doc_id < 50 AND doc_id % 5 <> 0) AS n_clean,
          (SELECT CAST(SUM(doc_id) AS BIGINT) FROM documents
           WHERE doc_id < 50 AND doc_id % 5 <> 0) AS clean_docid_sum
        """,
        "S+,P2+",
        "JSONL corrupt-line quarantine: truncated lines land in "
        "_corrupt_record and are counted (measure before dropping), the "
        "DROPMALFORMED clean path keeps exactly the rest — both totals "
        "derived from the source table by the oracle",
    ),
)


def _hinted_join_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit physical join-strategy control: the same orders ⋈
    lineitem aggregate forced through SHUFFLE_HASH (hash-build instead
    of the default sort-merge — skips both sort passes when the build
    side's partitions fit in memory). The plan is asserted in-query
    (loud failure if the hint is ignored); the oracle is the plain
    join, because a physical strategy must never change results."""
    register_views(spark, sf_dir)
    out = spark.sql(
        """
        SELECT /*+ SHUFFLE_HASH(o) */
               o.o_orderpriority,
               COUNT(*) AS n_items,
               CAST(CAST(SUM(CAST(l.l_quantity AS DECIMAL(20,6))) AS STRING) AS DOUBLE)
                 AS total_qty
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_orderpriority
        ORDER BY o.o_orderpriority
        """
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    if "ShuffledHashJoin" not in final:
        raise RuntimeError(
            "SHUFFLE_HASH hint was not honored — plan:\n" + final[:3000]
        )
    return out


_q(
    "j_hinted_shuffle_hash",
    Query(
        _hinted_join_spark,
        """
        SELECT o.o_orderpriority,
               COUNT(*) AS n_items,
               CAST(CAST(SUM(CAST(l.l_quantity AS DECIMAL(20,6))) AS STRING) AS DOUBLE)
                 AS total_qty
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_orderpriority
        ORDER BY o.o_orderpriority
        """,
        "J*+",
        "join-strategy hint surface: SHUFFLE_HASH forces a hash-build "
        "join over the default sort-merge (asserted in-plan, loud "
        "failure if ignored); results must equal the unhinted join — "
        "physical strategy is semantics-free",
    ),
)


# Record-linkage: blocked fuzzy match. The block-key equi-join (3-char
# prefix) is what makes this scale — candidate pairs are per-block, not
# |queries| x |names|; the integer edit distance and (distance, name)
# tie-break keep the best-match selection deterministic cross-engine.
_q(
    "j_fuzzy_match_join",
    _same(
        """
        WITH names AS (SELECT DISTINCT p_name FROM part),
        qs AS (
          SELECT p_name AS orig,
                 CONCAT(SUBSTR(p_name, 1, 4), SUBSTR(p_name, 6)) AS q
          FROM names WHERE LENGTH(p_name) >= 7
        ),
        cand AS (
          SELECT qs.orig, qs.q, n.p_name AS matched,
                 LEVENSHTEIN(qs.q, n.p_name) AS dist
          FROM qs JOIN names n
            ON SUBSTR(qs.q, 1, 3) = SUBSTR(n.p_name, 1, 3)
          WHERE LEVENSHTEIN(qs.q, n.p_name) <= 2
        )
        SELECT orig, q, matched, dist FROM (
          SELECT orig, q, matched, dist,
                 ROW_NUMBER() OVER (PARTITION BY orig
                                    ORDER BY dist, matched) AS rn
          FROM cand
        ) t WHERE rn = 1
        ORDER BY orig
        """,
        "J*+,X-curation",
        "blocked fuzzy-match join (record linkage): typo'd queries "
        "(one char dropped) matched back to the name catalog via a "
        "3-char-prefix block join + Levenshtein <= 2 + best-match "
        "rank — candidate pairs are per-block, never a cross join",
    ),
)

_q(
    "w_scd2_intervals",
    _dialect(
        """
        WITH ev AS (
          SELECT user_id, event_type, ts_ns DIV 1000 AS ts_us, event_id
          FROM events WHERE user_id <= 30
        ), ordered AS (
          SELECT user_id, event_type, ts_us, event_id,
                 LAG(event_type) OVER (PARTITION BY user_id
                                       ORDER BY ts_us, event_id) AS prev_type
          FROM ev
        ), changes AS (
          SELECT user_id, event_type, ts_us, event_id FROM ordered
          WHERE prev_type IS NULL OR prev_type <> event_type
        )
        SELECT user_id, event_type AS state, ts_us AS valid_from,
               LEAD(ts_us) OVER (PARTITION BY user_id
                                 ORDER BY ts_us, event_id) AS valid_to,
               CASE WHEN LEAD(ts_us) OVER (PARTITION BY user_id
                                           ORDER BY ts_us, event_id) IS NULL
                    THEN 1 ELSE 0 END AS is_current
        FROM changes
        ORDER BY user_id, valid_from, event_id
        """,
        """
        WITH ev AS (
          SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id
          FROM events WHERE user_id <= 30
        ), ordered AS (
          SELECT user_id, event_type, ts_us, event_id,
                 LAG(event_type) OVER (PARTITION BY user_id
                                       ORDER BY ts_us, event_id) AS prev_type
          FROM ev
        ), changes AS (
          SELECT user_id, event_type, ts_us, event_id FROM ordered
          WHERE prev_type IS NULL OR prev_type <> event_type
        )
        SELECT user_id, event_type AS state, ts_us AS valid_from,
               LEAD(ts_us) OVER (PARTITION BY user_id
                                 ORDER BY ts_us, event_id) AS valid_to,
               CASE WHEN LEAD(ts_us) OVER (PARTITION BY user_id
                                           ORDER BY ts_us, event_id) IS NULL
                    THEN 1 ELSE 0 END AS is_current
        FROM changes
        ORDER BY user_id, valid_from, event_id
        """,
        "W+,J2+",
        "SCD type-2 interval construction: collapse each user's event "
        "stream into state-validity intervals (change rows + LEAD "
        "closes each interval, open tail flagged current) — the "
        "dimension-history build behind as-of joins, one window pass",
    ),
)

_q(
    "w_top_user_journeys",
    _dialect(
        """
        WITH ev AS (
          SELECT user_id, event_type, ts_ns DIV 1000 AS ts_us, event_id
          FROM events
        ), j AS (
          SELECT user_id,
                 ARRAY_JOIN(TRANSFORM(
                   SLICE(ARRAY_SORT(COLLECT_LIST(
                     STRUCT(ts_us, event_id, event_type))), 1, 5),
                   s -> s.event_type), '>') AS path
          FROM ev GROUP BY user_id
        )
        SELECT path, COUNT(*) AS n_users
        FROM j GROUP BY path
        ORDER BY n_users DESC, path
        LIMIT 10
        """,
        """
        WITH ev AS (
          SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id
          FROM events
        ), j AS (
          SELECT user_id,
                 array_to_string(
                   (list(event_type ORDER BY ts_us, event_id))[1:5],
                   '>') AS path
          FROM ev GROUP BY user_id
        )
        SELECT path, COUNT(*) AS n_users
        FROM j GROUP BY path
        ORDER BY n_users DESC, path
        LIMIT 10
        """,
        "W+,A*+",
        "top early-journey paths: each user's first five events as an "
        "ordered path string (struct-sort inside the group — "
        "deterministic under ts+id tie-break), counted and ranked — "
        "the behavioral-sequence mining complement to the funnel",
    ),
)


def _funnel_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel view -> click -> purchase (operators/analytics.py
    funnel_depths): each stage only counts strictly after the user's
    earliest qualifying previous stage. Output is the depth histogram."""
    from pyspark.sql import functions as F

    from mission_data_pipeline_spark.operators.analytics import funnel_depths

    register_views(spark, sf_dir)
    # First-two-days window: over the full month every user converts
    # (depth-3 only — a vacuous histogram); the narrow window spreads
    # users across all four depths so the ordering semantics are pinned.
    ev = (
        spark.table("events")
        .select("user_id", "event_type", F.expr("ts_ns DIV 1000").alias("ts_us"))
        .filter(F.col("ts_us") < F.lit(1704240000000000))  # < 2024-01-03 UTC
    )
    return (
        funnel_depths(ev, ["view", "click", "purchase"])
        .groupBy("funnel_depth")
        .agg(F.count("*").alias("n_users"))
        .orderBy("funnel_depth")
    )


_q(
    "w_funnel_depth_histogram",
    Query(
        _funnel_spark,
        """
        WITH ev AS (
          SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events
          WHERE epoch_us(ts) < 1704240000000000
        ), s1 AS (
          SELECT user_id, MIN(ts_us) AS t FROM ev
          WHERE event_type = 'view' GROUP BY user_id
        ), s2 AS (
          SELECT e.user_id, MIN(e.ts_us) AS t
          FROM ev e JOIN s1 ON e.user_id = s1.user_id
          WHERE e.event_type = 'click' AND e.ts_us > s1.t
          GROUP BY e.user_id
        ), s3 AS (
          SELECT e.user_id, MIN(e.ts_us) AS t
          FROM ev e JOIN s2 ON e.user_id = s2.user_id
          WHERE e.event_type = 'purchase' AND e.ts_us > s2.t
          GROUP BY e.user_id
        ), depths AS (
          SELECT u.user_id,
                 CASE WHEN s3.user_id IS NOT NULL THEN 3
                      WHEN s2.user_id IS NOT NULL THEN 2
                      WHEN s1.user_id IS NOT NULL THEN 1
                      ELSE 0 END AS funnel_depth
          FROM (SELECT DISTINCT user_id FROM ev) u
          LEFT JOIN s1 ON u.user_id = s1.user_id
          LEFT JOIN s2 ON u.user_id = s2.user_id
          LEFT JOIN s3 ON u.user_id = s3.user_id
        )
        SELECT funnel_depth, COUNT(*) AS n_users
        FROM depths GROUP BY funnel_depth ORDER BY funnel_depth
        """,
        "A*+,W+",
        "ordered funnel analysis (view -> click -> purchase, strict "
        "temporal order): per-user progression depth via chained "
        "filtered min-ts stages, all user-keyed equi-joins — no "
        "sequence explode, no window over the full event stream",
    ),
)


def _retention_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-grain retention triangle (operators/analytics.py
    retention_cohorts): cohort by first active day, count distinct
    active users per (cohort, offset) cell."""
    from pyspark.sql import functions as F

    from mission_data_pipeline_spark.operators.analytics import (
        retention_cohorts,
    )

    register_views(spark, sf_dir)
    ev = spark.table("events").select(
        "user_id", F.expr("ts_ns DIV 1000").alias("ts_us")
    )
    return retention_cohorts(ev).orderBy("cohort_day", "day_offset")


_q(
    "w_retention_cohorts",
    Query(
        _retention_spark,
        """
        WITH ev AS (
          SELECT user_id, epoch_us(ts) // 86400000000 AS day FROM events
        ), first AS (
          SELECT user_id, MIN(day) AS cohort FROM ev GROUP BY user_id
        )
        SELECT f.cohort AS cohort_day,
               e.day - f.cohort AS day_offset,
               COUNT(DISTINCT e.user_id) AS n_active
        FROM ev e JOIN first f ON e.user_id = f.user_id
        GROUP BY 1, 2
        ORDER BY cohort_day, day_offset
        """,
        "A*+,W+",
        "retention cohort triangle: users cohorted by first-seen day, "
        "per-(cohort, offset) distinct-active counts — one min-groupBy, "
        "one user-keyed join back, one cohort-sized aggregation",
    ),
)


def _dup_span_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring duplication fraction (operators/dedup.py
    duplicate_span_fraction, the Lee et al. 2022 memorization-risk
    signal). The raw corpus shares no verbatim 12-token spans, so the
    check seeds 40 in-plan partial copies (each reuses its source's
    first 20 tokens then diverges) — sources and copies must score
    dup_fraction > 0, untouched docs 0."""
    from pyspark.sql import functions as F

    from mission_data_pipeline_spark.operators.dedup import (
        duplicate_span_fraction,
    )

    register_views(spark, sf_dir)
    base = spark.table("documents").filter(F.col("doc_id") < 200)
    toks = F.split(F.lower(F.col("text")), r"\s+")
    copies = base.filter(F.col("doc_id") < 40).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(
            F.array_join(F.slice(toks, 1, 20), " "),
            F.lit(" uniq"),
            F.col("doc_id").cast("string"),
            F.lit(" tail marker tokens"),
        ).alias("text"),
    )
    corpus = base.select("doc_id", "text").unionByName(copies)
    return duplicate_span_fraction(corpus, n=12).orderBy("doc_id")


_q(
    "x2_duplicate_span_fraction",
    Query(
        _dup_span_spark,
        """
        WITH corpus AS (
          SELECT doc_id, text FROM documents WHERE doc_id < 200
          UNION ALL
          SELECT doc_id + 1000000 AS doc_id,
                 array_to_string(
                   string_split_regex(trim(lower(text)), '\\s+')[1:20], ' ')
                 || ' uniq' || CAST(doc_id AS VARCHAR)
                 || ' tail marker tokens' AS text
          FROM documents WHERE doc_id < 40
        ), tok AS (
          SELECT doc_id,
                 string_split_regex(trim(lower(text)), '\\s+') AS toks
          FROM corpus
        ), grams AS (
          SELECT doc_id, unnest(
            CASE WHEN len(toks) >= 12
                 THEN list_transform(generate_series(1, len(toks) - 11),
                                     i -> array_to_string(toks[i:i+11], ' '))
                 ELSE []::VARCHAR[] END) AS gram
          FROM tok
        ), per_doc AS (
          SELECT doc_id, COUNT(*) AS n_grams FROM grams GROUP BY doc_id
        ), cross_doc AS (
          SELECT gram FROM grams GROUP BY gram
          HAVING COUNT(DISTINCT doc_id) >= 2
        ), dup AS (
          SELECT g.doc_id, COUNT(*) AS n_dup
          FROM grams g JOIN cross_doc c ON g.gram = c.gram
          GROUP BY g.doc_id
        )
        SELECT p.doc_id, p.n_grams,
               COALESCE(d.n_dup, 0) AS n_dup_occurrences,
               ROUND(COALESCE(d.n_dup, 0) / CAST(p.n_grams AS DOUBLE), 6)
                 AS dup_fraction
        FROM per_doc p LEFT JOIN dup d ON p.doc_id = d.doc_id
        ORDER BY p.doc_id
        """,
        "X2,X1",
        "exact substring duplication fraction (Lee et al. 2022): share "
        "of a doc's 12-token spans occurring verbatim in another doc — "
        "explode to position grams, gram-keyed cross-doc counts, join "
        "back; token-table-proportional shuffles, no pairwise scan",
    ),
)


def _streaming_stream_join_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL watermarked stream-stream interval join: click events joined
    to same-user purchase events within 30 minutes. Both sides carry a
    watermark and the join condition bounds event-time distance, so
    Spark can expire join state — the shape that keeps a 100 TB/day
    dual-stream correlation bounded in memory. availableNow over the
    bounded file source drains both sides; the emitted matches must
    equal the batch interval join the oracle runs."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    batch_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema

    def src(event_type: str, prefix: str) -> DataFrame:
        ev = (
            spark.readStream.schema(batch_schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
            .filter(F.col("event_type") == event_type)
        )
        if isinstance(batch_schema["ts"].dataType, T.LongType):
            ev = ev.withColumn(
                "event_time", F.timestamp_micros(F.expr("ts DIV 1000"))
            )
        else:
            ev = ev.withColumn("event_time", F.col("ts").cast("timestamp"))
        return ev.select(
            F.col("event_id").alias(f"{prefix}_event_id"),
            F.col("user_id").alias(f"{prefix}_user_id"),
            F.col("event_time").alias(f"{prefix}_time"),
        ).withWatermark(f"{prefix}_time", "1 hour")

    clicks = src("click", "click")
    purchases = src("purchase", "purchase")
    joined = clicks.join(
        purchases,
        F.expr(
            """
            click_user_id = purchase_user_id AND
            purchase_time >= click_time AND
            purchase_time <= click_time + INTERVAL 30 MINUTES
            """
        ),
    ).select(
        "click_event_id",
        "purchase_event_id",
        F.col("click_user_id").alias("user_id"),
        F.unix_micros("click_time").alias("click_ts_us"),
        F.unix_micros("purchase_time").alias("purchase_ts_us"),
    )
    sink = f"w_stream_join_sink_{next(_STREAM_SINK_SEQ)}"
    q = (
        joined.writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(300)
    finally:
        q.stop()
    return spark.table(sink).orderBy("click_event_id", "purchase_event_id")


_STREAM_JOIN_ORACLE = (
    _EV_DUCK
    + """
        SELECT c.event_id AS click_event_id,
               p.event_id AS purchase_event_id,
               c.user_id,
               c.ts_us AS click_ts_us,
               p.ts_us AS purchase_ts_us
        FROM ev c JOIN ev p
          ON c.user_id = p.user_id
         AND c.event_type = 'click' AND p.event_type = 'purchase'
         AND p.ts_us >= c.ts_us AND p.ts_us <= c.ts_us + 1800000000
        ORDER BY click_event_id, purchase_event_id
        """
)

_q(
    "w_streaming_stream_join",
    Query(
        _streaming_stream_join_spark,
        _STREAM_JOIN_ORACLE,
        "W+,J2+",
        "REAL watermarked stream-stream interval join (clicks x same-user "
        "purchases within 30 min): state-bounded dual-stream correlation, "
        "emitted matches must equal the batch interval join",
    ),
)


def _stream_join_restart_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpoint-RESTART replay proof for the stream-stream interval
    join: the click side is staged as four event-time-quartile files;
    run 1 (availableNow, maxFilesPerTrigger=1, durable parquet sink +
    checkpoint) sees only the first two, is stopped, the last two
    appear, and run 2 restarts FROM THE SAME CHECKPOINT. The file
    source's seen-files log must skip the already-processed quartiles,
    the sink's metadata log must commit the new matches exactly once,
    and the final sink state must hash-equal the batch interval join.

    The quartile split is BY EVENT TIME with ascending file mtimes —
    after run 1 the global watermark sits at (end-of-quartile-2 − 1h),
    so no quartile-3/4 click is late and every purchase still matchable
    by a future click is younger than the state-eviction bound; an
    arrival-order split would let watermark eviction silently drop
    matches the batch oracle keeps. Aborts loudly if run 1 processed
    everything (restart not exercised) or the sink did not grow."""
    import os

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    batch_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    if isinstance(batch_schema["ts"].dataType, T.LongType):
        ts_us = F.expr("ts DIV 1000")
    else:
        ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    clicks_b = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "event_type", ts_us.cast("long").alias("ts_us")
    )
    lo, hi = clicks_b.agg(F.min("ts_us"), F.max("ts_us")).first()
    click_dir = _scratch_dir("ssj_restart_clicks")
    ckpt = _scratch_dir("ssj_restart_ckpt")
    out = _scratch_dir("ssj_restart_out")
    stage = _scratch_dir("ssj_restart_stage")

    def stage_quartile(k: int) -> None:
        q_lo = lo + (hi - lo + 1) * k // 4
        q_hi = lo + (hi - lo + 1) * (k + 1) // 4
        part = (
            clicks_b.filter((F.col("ts_us") >= q_lo) & (F.col("ts_us") < q_hi))
            if k < 3
            else clicks_b.filter(F.col("ts_us") >= q_lo)
        )
        tmp = f"{stage}/q{k}"
        part.coalesce(1).write.mode("overwrite").parquet(tmp)
        src_file = next(
            f for f in os.listdir(tmp) if f.endswith(".parquet")
        )
        dst = f"{click_dir}/q{k}.parquet"
        os.replace(f"{tmp}/{src_file}", dst)
        os.utime(dst, (1_600_000_000 + k, 1_600_000_000 + k))  # mtime order

    def run_once() -> None:
        clicks = (
            spark.readStream.schema(
                "event_id long, user_id long, event_type string, ts_us long"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(click_dir)
            .select(
                F.col("event_id").alias("click_event_id"),
                F.col("user_id").alias("click_user_id"),
                F.timestamp_micros("ts_us").alias("click_time"),
            )
            .withWatermark("click_time", "1 hour")
        )
        purchases = (
            spark.readStream.schema(batch_schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
            .filter(F.col("event_type") == "purchase")
        )
        if isinstance(batch_schema["ts"].dataType, T.LongType):
            purchases = purchases.withColumn(
                "purchase_time", F.timestamp_micros(F.expr("ts DIV 1000"))
            )
        else:
            purchases = purchases.withColumn(
                "purchase_time", F.col("ts").cast("timestamp")
            )
        purchases = purchases.select(
            F.col("event_id").alias("purchase_event_id"),
            F.col("user_id").alias("purchase_user_id"),
            "purchase_time",
        ).withWatermark("purchase_time", "1 hour")
        joined = clicks.join(
            purchases,
            F.expr(
                """
                click_user_id = purchase_user_id AND
                purchase_time >= click_time AND
                purchase_time <= click_time + INTERVAL 30 MINUTES
                """
            ),
        ).select(
            "click_event_id",
            "purchase_event_id",
            F.col("click_user_id").alias("user_id"),
            F.unix_micros("click_time").alias("click_ts_us"),
            F.unix_micros("purchase_time").alias("purchase_ts_us"),
        )
        q = (
            joined.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination(300)
        finally:
            q.stop()

    stage_quartile(0)
    stage_quartile(1)
    run_once()
    n_run1 = spark.read.parquet(out).count()
    stage_quartile(2)
    stage_quartile(3)
    run_once()  # RESTART from the same checkpoint
    final = spark.read.parquet(out)
    n_final = final.count()
    if not (0 < n_run1 < n_final):
        raise RuntimeError(
            "restart not exercised: run1 emitted "
            f"{n_run1} of {n_final} matches — quartile split degenerated"
        )
    return final.orderBy("click_event_id", "purchase_event_id")


_q(
    "w_streaming_stream_join_restart",
    Query(
        _stream_join_restart_spark,
        _STREAM_JOIN_ORACLE,
        "W+,P2+",
        "stream-stream join restart-from-checkpoint replay: half the "
        "click quartiles processed, query stopped, rest appear, restart "
        "resumes from the seen-files/offset log — final durable sink "
        "state must hash-equal the batch interval join (exactly-once "
        "across restarts)",
    ),
)

_sql_sess, _duck_sess = _ev(
    """
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id, COUNT(*) AS n_events,
           CAST(MIN(ts_us) AS BIGINT) AS session_start_us,
           CAST(MAX(ts_us) AS BIGINT) AS session_end_us
    FROM (
      SELECT user_id, ts_us,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM (
        SELECT user_id, event_id, ts_us,
               CASE WHEN ts_us - LAG(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id)
                         > 3600000000 OR
                         LAG(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) IS NULL
                    THEN 1 ELSE 0 END AS is_new
        FROM ev
      ) g
    ) s
    GROUP BY user_id, session_id
    ORDER BY n_events DESC, user_id, session_id
    LIMIT 100
    """
)
_q(
    "w4_sessionization",
    _dialect(
        _sql_sess,
        _duck_sess,
        "W4+",
        "gap-based sessionization (1h inactivity) via LAG + running sum; "
        "declared output bounded to the top-100 sessions by event count "
        "(TakeOrderedAndProject — the full per-user window computation "
        "still runs over every session, but the materialized result stays "
        "constant-size as the corpus grows; unbounded per-session output "
        "measured 70x wall at 100x data before the bound)",
    ),
)


def _native_unpivot_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's NATIVE DataFrame.unpivot (melt) API vs the stack()-based
    SQL formulation the CSV source uses — wide→long restatements must
    agree exactly."""
    from pyspark.sql import functions as F

    register_views(spark, sf_dir)
    wide = spark.sql(
        "SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, "
        "       l_discount, l_tax "
        "FROM lineitem WHERE l_orderkey < 200"
    )
    long = wide.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        "measure",
        "value",
    )
    return long.select(
        "l_orderkey",
        "l_linenumber",
        "measure",
        F.round("value", 6).alias("value"),
    ).orderBy("l_orderkey", "l_linenumber", "measure")


_q(
    "s2_native_unpivot",
    Query(
        _native_unpivot_spark,
        """
        SELECT l_orderkey, l_linenumber, measure, ROUND(value, 6) AS value
        FROM (
          SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure,
                 l_quantity AS value FROM lineitem WHERE l_orderkey < 200
          UNION ALL
          SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice
          FROM lineitem WHERE l_orderkey < 200
          UNION ALL
          SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
          FROM lineitem WHERE l_orderkey < 200
          UNION ALL
          SELECT l_orderkey, l_linenumber, 'l_tax', l_tax
          FROM lineitem WHERE l_orderkey < 200
        ) t
        ORDER BY l_orderkey, l_linenumber, measure
        """,
        "S2,D2",
        "Spark's native DataFrame.unpivot (melt) API vs a UNION ALL "
        "derivation — the wide-to-long restatement the telemetry melt "
        "relies on, via the first-class API",
    ),
)


def _native_tumbling_window_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's NATIVE window() tumbling operator (what the streaming
    aggregates run on) vs pure epoch arithmetic in the oracle."""
    from pyspark.sql import functions as F

    register_views(spark, sf_dir)
    ev = spark.sql(
        "SELECT event_type, value, timestamp_micros(ts_ns DIV 1000) AS event_time "
        "FROM events"
    )
    agg = ev.groupBy(
        F.window("event_time", "1 hour").alias("w"), "event_type"
    ).agg(
        F.count("*").alias("n"),
        F.round(
            F.sum(F.round("value", 6).cast("decimal(20,6)")).cast("double"), 6
        ).alias("sum_value"),
    )
    return agg.select(
        F.unix_micros("w.start").alias("start_us"),
        "event_type",
        "n",
        "sum_value",
    ).orderBy("start_us", "event_type")


_q(
    "w1_native_tumbling_window",
    Query(
        _native_tumbling_window_spark,
        _EV_DUCK
        + """
        SELECT CAST(ts_us // 3600000000 * 3600000000 AS BIGINT) AS start_us,
               event_type, COUNT(*) AS n,
               ROUND(CAST(CAST(SUM(CAST(ROUND(value, 6) AS DECIMAL(20,6))) AS STRING) AS DOUBLE), 6) AS sum_value
        FROM ev
        GROUP BY 1, 2
        ORDER BY start_us, event_type
        """,
        "W1",
        "Spark's native window() tumbling operator vs pure epoch "
        "arithmetic — bucket boundaries and per-bucket aggregates must "
        "agree exactly",
    ),
)


def _native_session_window_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's NATIVE session_window operator (the streaming-capable
    merging-window primitive) checked against a first-principles gap
    oracle: window.start = first event, window.end = last event + gap."""
    from pyspark.sql import functions as F

    register_views(spark, sf_dir)
    ev = spark.sql(
        "SELECT user_id, timestamp_micros(ts_ns DIV 1000) AS event_time "
        "FROM events WHERE user_id <= 50"
    )
    agg = ev.groupBy(
        "user_id", F.session_window("event_time", "1 hour").alias("w")
    ).agg(F.count("*").alias("n_events"))
    return agg.select(
        "user_id",
        F.unix_micros("w.start").alias("start_us"),
        F.unix_micros("w.end").alias("end_us"),
        "n_events",
    ).orderBy("user_id", "start_us")


_q(
    "w4_native_session_window",
    Query(
        _native_session_window_spark,
        _EV_DUCK
        + """
        , g AS (
          SELECT user_id, ts_us,
                 CASE WHEN ts_us - LAG(ts_us) OVER (PARTITION BY user_id
                          ORDER BY ts_us) > 3600000000
                       OR LAG(ts_us) OVER (PARTITION BY user_id
                          ORDER BY ts_us) IS NULL
                      THEN 1 ELSE 0 END AS is_new
          FROM ev WHERE user_id <= 50
        ),
        s AS (
          SELECT user_id, ts_us,
                 SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_us
                     ROWS UNBOUNDED PRECEDING) AS session_id
          FROM g
        )
        SELECT user_id,
               CAST(MIN(ts_us) AS BIGINT) AS start_us,
               CAST(MAX(ts_us) + 3600000000 AS BIGINT) AS end_us,
               COUNT(*) AS n_events
        FROM s
        GROUP BY user_id, session_id
        ORDER BY user_id, start_us
        """,
        "W4+,W1",
        "Spark's native session_window merging-window operator vs a "
        "first-principles LAG-gap oracle (start = first event, end = "
        "last event + gap) — the two sessionization formulations must "
        "agree exactly",
    ),
)

