"""Temporal joins, extended window-function surface, statistical aggregates, array higher-order functions.

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
# Temporal joins (as-of, banded range) — operators Spark lacks natively
# ---------------------------------------------------------------------------

def _asof_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events as-of-joined to each user's latest prior purchase
    (operators/joins.py asof_join: union + ordered-window, one shuffle)."""
    from pyspark.sql import functions as F

    from mission_data_pipeline_spark.operators.joins import asof_join

    register_views(spark, sf_dir)
    ev = spark.sql(
        "SELECT event_id, user_id, ts_ns DIV 1000 AS ts_us, event_type, value FROM events"
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts_us")
        .agg(F.max("value").alias("value"))
    )
    j = asof_join(
        ev.select("event_id", "user_id", "ts_us"),
        purchases,
        on="ts_us",
        by=["user_id"],
        right_prefix="purchase_",
    )
    return j.select(
        "event_id",
        "user_id",
        "ts_us",
        "purchase_ts_us",
        F.round("purchase_value", 6).alias("purchase_value"),
    ).orderBy("event_id")


_q(
    "asof_join_latest_purchase",
    Query(
        _asof_spark,
        """
        WITH ev AS (SELECT *, epoch_us(ts) AS ts_us FROM events),
        p AS (SELECT user_id, ts_us, MAX(value) AS value
              FROM ev WHERE event_type = 'purchase' GROUP BY user_id, ts_us)
        SELECT e.event_id, e.user_id, e.ts_us,
               p.ts_us AS purchase_ts_us, ROUND(p.value, 6) AS purchase_value
        FROM ev e ASOF LEFT JOIN p
          ON e.user_id = p.user_id AND e.ts_us >= p.ts_us
        ORDER BY e.event_id
        """,
        "J2+,W3",
        "as-of join (latest right row at-or-before each left row) vs DuckDB "
        "native ASOF JOIN — union+window implementation, no range explosion",
    ),
)


def _range_join_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same-type event pairs within 10 minutes (banded equi-join).

    The probe (left) side is a fixed event-id slice: an unbounded
    pair-emitting self-join's OUTPUT grows with corpus density squared
    (50M rows at sf1 — the declared result must stay collectable at
    any scale), while a fixed probe set keeps output linear in window
    density and the operator's join mechanics fully exercised against
    the FULL right side."""
    from pyspark.sql import functions as F

    from mission_data_pipeline_spark.operators.joins import range_join

    register_views(spark, sf_dir)
    ev = spark.sql(
        "SELECT event_id, event_type, ts_ns DIV 1000 AS ts_us FROM events"
    )
    j = range_join(
        ev.filter(F.col("event_id") < 2000),
        ev,
        on="ts_us",
        by=["event_type"],
        lower=1,  # strictly after, integer microseconds
        upper=600_000_000,
    )
    return j.select(
        F.col("event_id").alias("left_id"),
        F.col("right_event_id").alias("right_id"),
        "event_type",
        (F.col("right_ts_us") - F.col("ts_us")).alias("dt_us"),
    ).orderBy("left_id", "right_id")


_q(
    "range_join_event_pairs",
    Query(
        _range_join_spark,
        """
        WITH ev AS (SELECT *, epoch_us(ts) AS ts_us FROM events)
        SELECT a.event_id AS left_id, b.event_id AS right_id,
               a.event_type, b.ts_us - a.ts_us AS dt_us
        FROM ev a JOIN ev b
          ON a.event_type = b.event_type
         AND b.ts_us > a.ts_us AND b.ts_us <= a.ts_us + 600000000
        WHERE a.event_id < 2000
        ORDER BY left_id, right_id
        """,
        "J*+,W3",
        "interval self-join via band-bucketing (equi-join + 2x fan-out "
        "instead of an inequality cross product)",
    ),
)


# ---------------------------------------------------------------------------
# Extended window-function surface (ranking, analytic, sliding, rollup)
# ---------------------------------------------------------------------------

_sql_w_rankfns, _duck_w_rankfns = _ev(
    """
    SELECT user_id, event_id,
           DENSE_RANK()  OVER w AS drank,
           NTILE(4)      OVER w AS quartile,
           ROUND(PERCENT_RANK() OVER w, 6) AS prank,
           ROUND(CUME_DIST()    OVER w, 6) AS cdist
    FROM ev WHERE user_id <= 20
    WINDOW w AS (PARTITION BY user_id ORDER BY value, event_id)
    ORDER BY user_id, event_id
    """
)
_q(
    "w_ranking_functions",
    _dialect(
        _sql_w_rankfns,
        _duck_w_rankfns,
        "W*+",
        "dense_rank / ntile / percent_rank / cume_dist ranking surface",
    ),
)

_sql_w_analytic, _duck_w_analytic = _ev(
    """
    SELECT user_id, event_id, ts_us,
           LEAD(event_type) OVER w AS next_type,
           FIRST_VALUE(event_type) OVER w AS first_type,
           LAST_VALUE(event_type) OVER
             (PARTITION BY user_id ORDER BY ts_us, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_type,
           ROUND(AVG(value) OVER
             (PARTITION BY user_id ORDER BY ts_us
              RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW), 6) AS avg_1h
    FROM ev WHERE user_id <= 20
    WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
    ORDER BY user_id, ts_us, event_id
    """
)
_q(
    "w_analytic_functions",
    _dialect(
        _sql_w_analytic,
        _duck_w_analytic,
        "W*+",
        "lead / first_value / last_value / time-range frame average",
    ),
)

# Hopping (sliding) window: size 1h, slide 30m — every event belongs to
# exactly two windows; expressed as window-index arithmetic so the same
# declarative shape runs on both engines.
_SLIDE_US = 1_800_000_000
_SIZE_US = 3_600_000_000
_sql_w_slide = f"""
    WITH ev AS (SELECT *, ts_ns DIV 1000 AS ts_us FROM events),
    expanded AS (
      SELECT event_type, value,
             (CAST(ts_us / {_SLIDE_US} AS BIGINT) - i) * {_SLIDE_US} AS window_start_us,
             ts_us
      FROM ev LATERAL VIEW EXPLODE(ARRAY(0, 1)) t AS i
    )
    SELECT window_start_us, event_type, COUNT(*) AS n,
           {_dsum('value')} AS sum_value
    FROM expanded
    WHERE ts_us >= window_start_us AND ts_us < window_start_us + {_SIZE_US}
      AND window_start_us >= 0
    GROUP BY window_start_us, event_type
    ORDER BY window_start_us, event_type
"""
_duck_w_slide = f"""
    WITH ev AS (SELECT *, epoch_us(ts) AS ts_us FROM events),
    expanded AS (
      SELECT event_type, value,
             (CAST(FLOOR(ts_us / {_SLIDE_US}) AS BIGINT) - i) * {_SLIDE_US} AS window_start_us,
             ts_us
      FROM ev CROSS JOIN (SELECT UNNEST([0, 1]) AS i) t
    )
    SELECT window_start_us, event_type, COUNT(*) AS n,
           {_dsum('value')} AS sum_value
    FROM expanded
    WHERE ts_us >= window_start_us AND ts_us < window_start_us + {_SIZE_US}
      AND window_start_us >= 0
    GROUP BY window_start_us, event_type
    ORDER BY window_start_us, event_type
"""
_q(
    "w2_sliding_window",
    _dialect(
        _sql_w_slide,
        _duck_w_slide,
        "W1+",
        "hopping window agg (1h size, 30m slide) via window-index fan-out",
    ),
)

# Multi-granularity time rollup (hypertable-style): one pass, GROUPING
# SETS over minute/hour/day buckets.
_sql_rollup_tb, _duck_rollup_tb = _ev(
    """
    SELECT CASE WHEN GROUPING(b_minute) = 0 THEN 'minute'
                WHEN GROUPING(b_hour) = 0 THEN 'hour'
                ELSE 'day' END AS granularity,
           COALESCE(b_minute, b_hour, b_day) AS bucket_us,
           COUNT(*) AS n, """
    + _dsum("value")
    + """ AS sum_value
    FROM (
      SELECT value,
             ts_us - ts_us % 60000000 AS b_minute,
             ts_us - ts_us % 3600000000 AS b_hour,
             ts_us - ts_us % 86400000000 AS b_day
      FROM ev
    ) b
    GROUP BY GROUPING SETS ((b_minute), (b_hour), (b_day))
    ORDER BY granularity, bucket_us
    """
)
_q(
    "time_bucket_rollup",
    _dialect(
        _sql_rollup_tb,
        _duck_rollup_tb,
        "W1+,A*",
        "hypertable-style multi-granularity rollup in one GROUPING SETS pass",
    ),
)


# ---------------------------------------------------------------------------
# Statistical aggregates
# ---------------------------------------------------------------------------

_q(
    "agg_percentiles",
    _dialect(
        """
        SELECT l_returnflag,
               ROUND(ps[0], 6) AS p25, ROUND(ps[1], 6) AS p50,
               ROUND(ps[2], 6) AS p75, ROUND(ps[3], 6) AS p99
        FROM (
          SELECT l_returnflag,
                 PERCENTILE(l_extendedprice,
                            ARRAY(0.25D, 0.5D, 0.75D, 0.99D)) AS ps
          FROM lineitem GROUP BY l_returnflag
        ) t ORDER BY l_returnflag
        """,
        """
        SELECT l_returnflag,
               ROUND(ps[1], 6) AS p25, ROUND(ps[2], 6) AS p50,
               ROUND(ps[3], 6) AS p75, ROUND(ps[4], 6) AS p99
        FROM (
          SELECT l_returnflag,
                 QUANTILE_CONT(l_extendedprice,
                               [0.25, 0.5, 0.75, 0.99]) AS ps
          FROM lineitem GROUP BY l_returnflag
        ) t ORDER BY l_returnflag
        """,
        "A*+",
        "exact interpolated percentiles (order statistics — deterministic "
        "across engines, unlike float summation); ARRAY-form quantiles: "
        "one value buffer and one sort serve all four cut points — four "
        "scalar PERCENTILE calls each built and sorted their own buffer "
        "(4.7 s -> ~1.2 s at sf0.1, exposed by the noop bench series)",
    ),
)

# Sketch aggregates: the oracle pattern is the same self-validating
# shape as x3_ann_recall — the exact side is SQL-reproducible (hashes
# must match), and an in-query bound asserts the sketch's accuracy
# against it (a broken sketch flips the boolean and fails the row).
# Both sketches are deterministic for a fixed dataset + parameter, so
# the bound is a stable property, not a flaky sample.
_q(
    "agg_hll_distinct_bound",
    _dialect(
        """
        SELECT event_type,
               COUNT(DISTINCT user_id) AS exact_users,
               ABS(APPROX_COUNT_DISTINCT(user_id, 0.02)
                   - COUNT(DISTINCT user_id))
                 <= CAST(0.05 * COUNT(DISTINCT user_id) AS BIGINT)
                 AS hll_within_5pct
        FROM events GROUP BY event_type ORDER BY event_type
        """,
        """
        SELECT event_type,
               COUNT(DISTINCT user_id) AS exact_users,
               TRUE AS hll_within_5pct
        FROM events GROUP BY event_type ORDER BY event_type
        """,
        "A*+",
        "HyperLogLog++ distinct-count sketch (rsd=0.02) asserted within "
        "5% of exact — partial-agg mergeable, the 100 TB shape for "
        "distinct counts (no two-phase exact-distinct shuffle)",
    ),
)

_q(
    "agg_approx_percentile_bound",
    _dialect(
        """
        SELECT l_returnflag,
               ROUND(PERCENTILE(l_extendedprice, 0.5), 6) AS exact_p50,
               ABS(APPROX_PERCENTILE(l_extendedprice, 0.5, 10000)
                   - PERCENTILE(l_extendedprice, 0.5))
                 <= 0.01 * PERCENTILE(l_extendedprice, 0.5)
                 AS approx_within_1pct
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
        """,
        """
        SELECT l_returnflag,
               ROUND(QUANTILE_CONT(l_extendedprice, 0.5), 6) AS exact_p50,
               TRUE AS approx_within_1pct
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
        """,
        "A*+",
        "Greenwald-Khanna approximate-percentile sketch (accuracy=1e4) "
        "asserted within 1% of the exact order statistic — mergeable "
        "partial aggregation instead of a full sort per group",
    ),
)

_q(
    "agg_kll_quantile_bound",
    _dialect(
        """
        SELECT l_returnflag,
               ROUND(PERCENTILE(l_extendedprice, 0.5), 6) AS exact_p50,
               KLL_SKETCH_GET_N_DOUBLE(
                   KLL_SKETCH_AGG_DOUBLE(l_extendedprice, 800)) AS kll_n,
               ABS(KLL_SKETCH_GET_QUANTILE_DOUBLE(
                       KLL_SKETCH_AGG_DOUBLE(l_extendedprice, 800), 0.5)
                   - PERCENTILE(l_extendedprice, 0.5))
                 <= 0.015 * PERCENTILE(l_extendedprice, 0.5)
                 AS kll_within_1_5pct
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
        """,
        """
        SELECT l_returnflag,
               ROUND(QUANTILE_CONT(l_extendedprice, 0.5), 6) AS exact_p50,
               COUNT(l_extendedprice) AS kll_n,
               TRUE AS kll_within_1_5pct
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
        """,
        "A*+",
        "Apache DataSketches KLL quantile sketch (k=800): the sketch's "
        "item count is hash-checked against the oracle's COUNT exactly, "
        "and its p50 is asserted within 1.5% of the exact order "
        "statistic (measured merge-order jitter <=0.25% at sf0.01). "
        "Mergeable partial agg — at 100 TB the sketch replaces a full "
        "per-group sort and, unlike Greenwald-Khanna, unions across "
        "pre-computed per-partition summaries",
    ),
)

_q(
    "agg_theta_distinct_bound",
    _dialect(
        """
        SELECT l_linestatus,
               COUNT(DISTINCT l_orderkey) AS exact_orders,
               ABS(THETA_SKETCH_ESTIMATE(THETA_SKETCH_AGG(l_orderkey))
                   - COUNT(DISTINCT l_orderkey))
                 <= CAST(0.05 * COUNT(DISTINCT l_orderkey) AS BIGINT)
                 AS theta_within_5pct
        FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus
        """,
        """
        SELECT l_linestatus,
               COUNT(DISTINCT l_orderkey) AS exact_orders,
               TRUE AS theta_within_5pct
        FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus
        """,
        "A*+",
        "Apache DataSketches theta sketch distinct-count asserted within "
        "5% of exact (measured ~1.2% at sf0.01; the retained-hash-set "
        "construction is update-order independent, so the estimate is "
        "deterministic for a fixed dataset). Unlike HLL it supports set "
        "algebra (union/intersect/diff) across pre-aggregated segments "
        "— the 100 TB shape for cross-partition audience overlap",
    ),
)

# Fixed-bin histogram: bucket index is a single identical IEEE
# expression ((x-lo)/w, floor, clamp) on both sides — deterministic
# because every engine computes the same double before flooring.
_q(
    "agg_value_histogram",
    _same(
        """
        SELECT bucket,
               COUNT(*) AS n,
               ROUND(MIN(value), 6) AS lo_val,
               ROUND(MAX(value), 6) AS hi_val
        FROM (
          SELECT value,
                 LEAST(GREATEST(CAST(FLOOR((value - (-500.0)) / 100.0)
                                     AS INT), 0), 9) AS bucket
          FROM events
        ) t
        GROUP BY bucket ORDER BY bucket
        """,
        "A*+",
        "fixed-bin value histogram (10 clamped buckets over [-500, 500)): "
        "distribution profiling as one map-side bucket expression + "
        "partial-agg groupBy — the cardinality-bounded shape, vs "
        "histogram_numeric whose merge order is nondeterministic",
    ),
)

_q(
    "agg_stats_corr",
    _same(
        """
        SELECT l_returnflag,
               ROUND(CORR(l_quantity, l_extendedprice), 6) AS corr_qty_price,
               ROUND(COVAR_SAMP(l_quantity, l_extendedprice), 4) AS covar,
               ROUND(STDDEV_SAMP(l_quantity), 6) AS sd_qty,
               ROUND(VAR_SAMP(l_discount), 6) AS var_disc
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
        """,
        "A*+",
        "second-moment statistics (corr / covar / stddev / variance)",
    ),
)

_q(
    "agg_conditional_bool",
    _same(
        """
        SELECT l_linestatus,
               CAST(COUNT_IF(l_discount > 0.05) AS BIGINT) AS n_discounted,
               BOOL_AND(l_quantity > 0) AS all_positive,
               BOOL_OR(l_tax > 0.07) AS any_high_tax,
               CAST(CAST(MAX(l_shipdate) AS DATE) AS STRING) AS last_ship
        FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus
        """,
        "A*+",
        "conditional / boolean aggregates",
    ),
)


def _two_phase_distinct_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe exact distinct count (operators/skew.py
    two_phase_distinct_count): dedup-then-count spreads a hot key's rows
    across the cluster in phase one; oracle is plain COUNT(DISTINCT)."""
    from mission_data_pipeline_spark.operators.skew import two_phase_distinct_count

    register_views(spark, sf_dir)
    return two_phase_distinct_count(
        spark.table("lineitem"), ["l_returnflag"], "l_partkey"
    ).orderBy("l_returnflag")


_q(
    "agg_two_phase_distinct",
    Query(
        _two_phase_distinct_spark,
        """
        SELECT l_returnflag, CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_distinct
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
        """,
        "A*+,skew",
        "exact per-key distinct count via dedup-then-count (two shuffles, "
        "neither skewed) — the holistic-aggregate skew rewrite; oracle is "
        "the single-shuffle COUNT(DISTINCT)",
    ),
)


def _salted_agg_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit two-phase salted aggregation (operators/skew.py
    salted_agg): sums/counts merge exactly (integer-valued doubles), so
    the salted plan must equal the plain GROUP BY oracle."""
    from pyspark.sql import functions as F

    from mission_data_pipeline_spark.operators.skew import salted_agg

    register_views(spark, sf_dir)
    out = salted_agg(
        spark.table("lineitem"),
        ["l_returnflag"],
        partial={
            "s": F.sum(F.col("l_quantity").cast("decimal(20,6)")),
            "c": F.count(F.lit(1)),
        },
        merge={"s": F.sum("s"), "c": F.sum("c")},
        n_salts=8,
        salt_on="l_orderkey",
    )
    return out.select(
        "l_returnflag",
        F.col("c").cast("long").alias("n"),
        F.round(F.col("s").cast("double") / F.col("c"), 6).alias("avg_qty"),
    ).orderBy("l_returnflag")


_q(
    "agg_salted_avg",
    Query(
        _salted_agg_spark,
        """
        SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
               ROUND(CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(20,6))) AS STRING) AS DOUBLE)
                     / COUNT(*), 6) AS avg_qty
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
        """,
        "A*+,skew",
        "two-phase salted aggregation (hot key split across 8 reducers in "
        "phase one, exact DECIMAL partials merged in phase two) — must "
        "equal the plain GROUP BY, proving salting is transparent",
    ),
)


# ---------------------------------------------------------------------------
# Array higher-order functions over the embedding column
# ---------------------------------------------------------------------------

_q(
    "x3_vector_array_stats",
    _dialect(
        """
        SELECT vec_id, SIZE(embedding) AS dim,
               ROUND(SQRT(AGGREGATE(embedding, CAST(0 AS DOUBLE),
                     (a, x) -> a + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), 6) AS l2_norm,
               ROUND(AGGREGATE(embedding, CAST(0 AS DOUBLE),
                     (a, x) -> a + CAST(x AS DOUBLE)) / SIZE(embedding), 6) AS mean_elem,
               ROUND(ARRAY_MAX(TRANSFORM(embedding, x -> CAST(x AS DOUBLE))), 6) AS max_elem
        FROM embeddings ORDER BY vec_id
        """,
        """
        SELECT vec_id, LEN(embedding) AS dim,
               ROUND(SQRT(LIST_SUM(LIST_TRANSFORM(embedding,
                     x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) AS l2_norm,
               ROUND(LIST_SUM(LIST_TRANSFORM(embedding,
                     x -> CAST(x AS DOUBLE))) / LEN(embedding), 6) AS mean_elem,
               ROUND(LIST_MAX(LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE))), 6) AS max_elem
        FROM embeddings ORDER BY vec_id
        """,
        "X3,X5",
        "higher-order array functions (fold / transform / max) — the "
        "JVM-side vector math primitive under the similarity operators",
    ),
)


