"""Dataset-level relational ops on the tidy params_df.

Parity: reference ``src/mdp/models/dataset.py`` — wide pivot with
duplicate-timestamp last-wins (D3, ``dataset.py:84-95``). Tidy export
(D2), union (D4) and per-parameter stats (D6) are one DataFrame call
each (``filter``/``unionByName``/``groupBy``); the declared queries run
them as SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def to_wide(params: DataFrame, value_col: str = "eng_value") -> DataFrame:
    """Wide pivot: one column per parameter name, indexed by time.

    Duplicate (name, time) samples collapse **last-wins in sample
    order** (reference ``dataset.py:88-91`` builds a dict keyed by
    time). Sample order in a distributed table is the scan order; we
    make it explicit and deterministic by ``seq_count`` — the packet
    sequence counter is the reference's insertion order.

    One shuffle (groupBy time_tai), plus the pivot's distinct-names
    discovery pass over ``params``.
    """
    ordered = F.max_by(F.col(value_col), F.col("seq_count"))
    return params.groupBy("time_tai").pivot("name").agg(ordered).orderBy("time_tai")


def dedup_samples(params: DataFrame) -> DataFrame:
    """Drop duplicate (name, time) samples keeping the highest seq_count —
    the deterministic batch analog of streaming late-data last-wins (W4)."""
    w = Window.partitionBy("name", "time_tai").orderBy(F.col("seq_count").desc())
    return (
        params.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def forward_fill(
    df: DataFrame,
    cols: list[str],
    *,
    order_cols: list[str],
    partition_cols: list[str] | None = None,
) -> DataFrame:
    """Sample-and-hold: fill nulls in ``cols`` with the latest non-null
    value at or before each row (telemetry resampling semantics — a
    parameter holds its last reported value between updates; the wide
    pivot's nulls between samples are exactly this gap).

    One ordered window per partition: ``last(col, ignorenulls=True)``
    over unbounded-preceding. At scale, partition on a natural key
    (parameter name, spacecraft, day bucket): an empty
    ``partition_cols`` means one global sort through a single task —
    correct, but only for driver-scale frames. Filling across bucket
    boundaries is the standard two-pass stitch (carry each bucket's
    last value into the next).
    """
    w = (
        Window.partitionBy(*(partition_cols or []))
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return df.withColumns(
        {c: F.last(F.col(c), ignorenulls=True).over(w) for c in cols}
    )


def interpolate_linear(
    df: DataFrame,
    cols: list[str],
    *,
    time_col: str,
    partition_cols: list[str] | None = None,
) -> DataFrame:
    """Linear interpolation of null gaps between known samples.

    Interior nulls become the time-weighted blend of the surrounding
    non-null values; nulls before the first or after the last sample
    stay null (strict interpolation — compose with
    :func:`forward_fill` for hold-at-tail semantics). Two ordered
    windows per partition (latest-prior and earliest-next non-null),
    same scale contract as :func:`forward_fill`: partition on a natural
    key, or stitch bounded time buckets with a boundary carry.
    """
    parts = partition_cols or []
    wb = (
        Window.partitionBy(*parts)
        .orderBy(time_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy(*parts)
        .orderBy(time_col)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    t = F.col(time_col).cast("double")
    out = {}
    for c in cols:
        v = F.col(c)
        known_t = F.when(v.isNotNull(), t)
        pv = F.last(v, ignorenulls=True).over(wb)
        pt = F.last(known_t, ignorenulls=True).over(wb)
        nv = F.first(v, ignorenulls=True).over(wf)
        nt = F.first(known_t, ignorenulls=True).over(wf)
        lerp = pv + (nv - pv) * (t - pt) / (nt - pt)
        out[c] = F.when(v.isNotNull(), v).when(
            pv.isNotNull() & nv.isNotNull(), lerp
        )
    return df.withColumns(out)


def resample_grid(
    df: DataFrame,
    *,
    time_col: str,
    value_col: str,
    period_us: int,
    series_cols: list[str] | None = None,
) -> DataFrame:
    """Regular-grid resampling with gap fill — the hypertable
    ``time_bucket_gapfill + locf/interpolate`` shape for telemetry.

    For each series (``series_cols`` key), emits one row per grid
    timestamp ``t = floor(min_t/period)*period + k*period`` up to the
    series' last sample, with BOTH fill policies as columns:

    - ``locf``: last observation carried forward (null before the
      first sample);
    - ``interp``: time-weighted linear blend of the surrounding
      samples (null outside the observed range; exactly-at-sample grid
      points return that sample under both policies).

    ``time_col`` must be integral microseconds. Duplicate timestamps
    within a series resolve to their MAX value first so the result is
    total-order deterministic under any partitioning.

    Scale shape: one groupBy for per-series bounds, a generated grid
    (``sequence`` + ``explode`` — no driver loop), one union, and ONE
    ordered window per series partition; everything stays in
    whole-stage codegen. Series are independent, so parallelism is the
    series count — at 100 TB partition on (series, day bucket) and
    stitch boundaries, same contract as :func:`interpolate_linear`.
    """
    series = series_cols or []
    t = F.col(time_col).cast("long")
    samples = (
        df.select(*series, t.alias("__t"), F.col(value_col).alias("__v"))
        .groupBy(*series, "__t")
        .agg(F.max("__v").alias("__v"))
    )
    bounds = samples.groupBy(*series).agg(
        (F.floor(F.min("__t") / period_us) * period_us)
        .cast("long")
        .alias("__g0"),
        F.max("__t").alias("__t1"),
    )
    grid = bounds.select(
        *series,
        F.explode(
            F.sequence("__g0", "__t1", F.lit(period_us).cast("long"))
        ).alias("__t"),
    )
    unioned = samples.withColumn("__isg", F.lit(0)).unionByName(
        grid.withColumn("__v", F.lit(None).cast(samples.schema["__v"].dataType))
        .withColumn("__isg", F.lit(1))
    )
    wb = (
        Window.partitionBy(*series)
        .orderBy("__t", "__isg")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy(*series)
        .orderBy("__t", "__isg")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    v = F.col("__v")
    known_t = F.when(v.isNotNull(), F.col("__t"))
    pv = F.last(v, ignorenulls=True).over(wb)
    pt = F.last(known_t, ignorenulls=True).over(wb)
    nv = F.first(v, ignorenulls=True).over(wf)
    nt = F.first(known_t, ignorenulls=True).over(wf)
    lerp = F.when(pt == nt, pv).otherwise(
        pv + (nv - pv) * (F.col("__t") - pt).cast("double") / (nt - pt).cast("double")
    )
    return (
        unioned.withColumn("__locf", pv)
        .withColumn(
            "__interp",
            F.when(pt == F.col("__t"), pv.cast("double")).when(
                pv.isNotNull() & nv.isNotNull(), lerp
            ),
        )
        .filter(F.col("__isg") == 1)
        .select(
            *series,
            F.col("__t").alias(time_col),
            F.col("__locf").alias("locf"),
            F.col("__interp").alias("interp"),
        )
    )
