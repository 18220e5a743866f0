"""Temporal joins Spark lacks natively: as-of join and banded range join.

Motivated by the reference's time-series domain (parameter samples vs
calibration epochs, packet streams vs ground contacts — the reference
itself only ever joins via dict lookups, ``src/mdp/plugins/transformers/
calibration.py:81-89``), these are the two classic time-series joins a
telemetry engine needs at scale.

Both are built from shuffle-once primitives:

- ``asof_join`` — the union + ordered-window trick: tag both inputs,
  union them, and let ``last(..., ignorenulls=True)`` over a
  (keys, time)-ordered window carry the most recent right-side row onto
  each left row. ONE shuffle (the window sort), no range explosion, no
  per-key skew beyond the data's own. This is how you join 100 TB of
  samples to their governing calibration without a cross product.
- ``range_join`` — band-bucketing: hash right rows to time buckets of
  the band width, explode each left row to its two candidate buckets,
  equi-join on (keys, bucket), then apply the exact interval predicate.
  Turns an inequality join (cross-product under naive planners) into an
  equi-join with 2x fan-out, which Spark executes as a plain shuffle
  join; AQE handles residual skew.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def asof_join(
    left: DataFrame,
    right: DataFrame,
    *,
    on: str,
    by: list[str] | None = None,
    right_prefix: str = "right_",
) -> DataFrame:
    """For each left row, attach the nearest right row at-or-before it
    (``right.on <= left.on``; pandas ``merge_asof`` backward semantics).

    ``by``: equality keys (e.g. the parameter name / spacecraft id).
    With ``by`` empty/None the join is GLOBAL and runs as a
    range-partitioned segmented scan (see :func:`_keyless_carry`) —
    never a single-partition window.

    Output: every left row + the matched right row's non-key columns,
    renamed ``{right_prefix}{col}`` (including ``{right_prefix}{on}``).
    Ties on ``right.on`` break toward the larger value of the last
    payload column ordering; make right unique per (by, on) for fully
    deterministic output.
    """
    by = list(by or [])
    payload = [c for c in right.columns if c not in by and c != on]

    # Right rows fold their payload into one struct (so one window
    # expression carries the whole row); left rows carry null.
    r_struct = F.struct(F.col(on).alias(on), *[F.col(c) for c in payload])
    rt = right.select(
        *by,
        F.col(on).alias("__t"),
        F.lit(0).alias("__side"),
        r_struct.alias("__r"),
    )
    lt = left.select(
        "*",
        F.col(on).alias("__t"),
        F.lit(1).alias("__side"),
        F.lit(None).cast(rt.schema["__r"].dataType).alias("__r"),
    )
    # Align column sets for the union: left keeps all its columns; right
    # rows carry nulls for left-only columns.
    left_only = [c for c in left.columns if c not in by]
    rt_full = rt.select(
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in left_only],
        *by,
        "__t",
        "__side",
        "__r",
    ).select(*lt.columns)

    u = lt.unionByName(rt_full)

    if by:
        # right rows sort before left rows at equal time → inclusive match
        w = (
            Window.partitionBy(*by)
            .orderBy(F.col("__t").asc(), F.col("__side").asc())
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        matched = u.withColumn(
            "__m", F.last("__r", ignorenulls=True).over(w)
        ).filter(F.col("__side") == 1)
    else:
        # Keyless as-of: Window.partitionBy() would plan a
        # SinglePartition exchange — the whole input through one task.
        # Use a distributed segmented scan instead (see _keyless_carry).
        matched = _keyless_carry(u).filter(F.col("__side") == 1)

    out_cols: list[Column] = [F.col(c) for c in left.columns]
    out_cols.append(F.col("__m")[on].alias(f"{right_prefix}{on}"))
    out_cols.extend(F.col("__m")[c].alias(f"{right_prefix}{c}") for c in payload)
    return matched.select(*out_cols)


def _keyless_carry(u: DataFrame) -> DataFrame:
    """Carry the most recent right-side struct onto every row of the
    tagged union ``u`` WITHOUT equality keys — the distributed
    segmented-scan shape (no single-partition window):

    1. ``repartitionByRange`` on the traversal order, so each task owns
       one contiguous time slice and partition ids ascend with it.
    2. Per-slice window (partitioned by the slice id) computes the
       local carry — parallel across slices.
    3. A partition-summary table (one right-struct per slice, picked by
       ``max_by``/``min_by``) yields each slice's carry-IN from all
       earlier slices via a pid-triangle join + ``max_by`` — bounded by
       shuffle-partitions², config-sized, never data-sized.
    4. ``coalesce(local, carry_in)`` stitches the slices together.

    Equal sort keys land in one range partition, and at a boundary a
    right row (side 0) sorts into the earlier slice than the same-time
    left row, so the inclusive same-time match survives the split."""
    sort_cols = [F.col("__t").asc(), F.col("__side").asc()]
    n = int(u.sparkSession.conf.get("spark.sql.shuffle.partitions", "200"))
    rp = u.repartitionByRange(n, *sort_cols).withColumn(
        "__pid", F.spark_partition_id()
    )
    wloc = (
        Window.partitionBy("__pid")
        .orderBy(*sort_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # Per-slice last-in-traversal (latest __t) right struct.
    sums = (
        rp.filter(F.col("__side") == 0)
        .groupBy(F.col("__pid").alias("__spid"))
        .agg(F.max_by("__r", F.col("__t")).alias("__pr"))
    )
    dom = u.sparkSession.range(n).select(F.col("id").cast("int").alias("__pid"))
    carry_in = (
        dom.join(sums, F.col("__spid") < F.col("__pid"), "inner")
        .groupBy("__pid")
        .agg(F.max_by("__pr", F.col("__spid")).alias("__ci"))
    )
    return (
        rp.join(F.broadcast(carry_in), "__pid", "left")
        .withColumn(
            "__m",
            F.coalesce(F.last("__r", ignorenulls=True).over(wloc), F.col("__ci")),
        )
        .drop("__pid", "__ci")
    )


def range_join(
    left: DataFrame,
    right: DataFrame,
    *,
    on: str,
    by: list[str] | None = None,
    lower: float | int = 0,
    upper: float | int = 0,
    right_prefix: str = "right_",
) -> DataFrame:
    """Interval join: pairs where ``right.on - left.on`` ∈ [lower, upper].

    Implemented as a banded equi-join (see module docstring): band width
    = ``upper - lower``; right rows land in bucket ``floor(on / band)``,
    each left row probes the two buckets its window can overlap. The
    exact predicate filters the ≤2x candidate set. Equal column names are
    disambiguated with ``right_prefix``.
    """
    if upper <= lower:
        raise ValueError("range_join needs upper > lower")
    by = list(by or [])
    band = upper - lower

    r_cols = [c for c in right.columns if c not in by]
    rt = right.select(
        *by,
        *[F.col(c).alias(f"{right_prefix}{c}") for c in r_cols],
        F.floor(F.col(on) / F.lit(band)).cast("long").alias("__bucket"),
    )
    # left row's admissible right times span (on+lower, on+upper]:
    # that window overlaps exactly buckets floor((on+lower)/band) and
    # floor((on+upper)/band).
    lo_b = F.floor((F.col(on) + F.lit(lower)) / F.lit(band)).cast("long")
    hi_b = F.floor((F.col(on) + F.lit(upper)) / F.lit(band)).cast("long")
    lt = left.select(
        "*", F.explode(F.array_distinct(F.array(lo_b, hi_b))).alias("__bucket")
    )

    joined = lt.join(rt, on=by + ["__bucket"], how="inner")
    dt = F.col(f"{right_prefix}{on}") - F.col(on)
    return joined.filter((dt >= F.lit(lower)) & (dt <= F.lit(upper))).drop("__bucket")
