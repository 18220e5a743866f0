"""Sequential-state time-series operators: EWMA smoothing and LTTB
downsampling.

Both algorithms carry state along the time axis (an exponential
recurrence; the previously selected point), so the per-SERIES
computation is inherently sequential — the distributed shape is
"parallel across series, sequential within a series", implemented with
``applyInPandas`` (one Arrow batch per series group). At 100 TB the
series key (parameter name, spacecraft, channel) gives millions of
independent groups; per-group work is a single ordered pass.

The SQL oracles replay the same recurrences as recursive CTEs (the
same technique as the ADPCM codec and BPE merge oracles), so both
operators carry exact value oracles despite being "non-relational".

No reference counterpart for LTTB (the reference has no downsampling);
EWMA generalizes the reference's calibration smoothing ideas. Both are
standard telemetry-store surface (TimescaleDB/InfluxDB ship both).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, types as T
from pyspark.sql import functions as F

__all__ = [
    "ewma",
    "ewma_sharded",
    "holt_linear",
    "holt_winters_additive",
    "lttb",
]


def ewma(
    df: DataFrame,
    *,
    alpha: float,
    time_col: str,
    value_col: str,
    series_cols: list[str],
    order_cols: list[str] | None = None,
    max_rows_per_series: int | None = None,
) -> DataFrame:
    """Exponentially weighted moving average per series:
    ``s_0 = x_0; s_i = alpha*x_i + (1-alpha)*s_{i-1}``.

    Rows are ordered by ``(time_col, *order_cols)`` within each series
    (pass a unique tiebreaker for duplicate timestamps so the
    recurrence order — and therefore the float result — is total-order
    deterministic). Returns the input columns plus ``ewma``.

    Null values are SKIPPED by the recurrence: the row's ``ewma`` is
    NULL and the running state carries through unchanged — the same
    convention as SQL aggregates over NULL, and the one the recursive
    CTE oracle replays (NULL in ⇒ NULL out, never NaN).

    The recurrence is evaluated as the literal two-term float formula,
    one step per row, so an engine replaying the same IEEE-754 ops in
    the same order (the oracle's recursive CTE) reproduces it exactly.

    Memory bound: each series is ONE Arrow group in one task — a series
    with billions of rows will not fit.  At telemetry scale the series
    key (parameter, spacecraft, channel) gives millions of modest
    groups; for one pathological hot channel, shard it by time and
    carry the tail state across shards (each shard's output state is
    ``decay*state_in + c`` with per-shard constants, so shards chain
    with one tiny sequential pass over shard summaries).  Pass
    ``max_rows_per_series`` to fail loudly instead of OOMing when a
    group exceeds the bound.
    """
    if not 0.0 < alpha <= 1.0:
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    order = [time_col, *(order_cols or [])]
    cols = df.select(
        *series_cols, *order, F.col(value_col).cast("double").alias("__x")
    )
    out_schema = T.StructType(
        cols.schema.fields[:-1]
        + [
            T.StructField("value", T.DoubleType(), True),
            T.StructField("ewma", T.DoubleType(), True),
        ]
    )

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        if max_rows_per_series is not None and len(pdf) > max_rows_per_series:
            key = pdf.iloc[0][list(series_cols)].to_dict() if len(pdf) else {}
            raise ValueError(
                f"ewma: series {key} has {len(pdf)} rows > "
                f"max_rows_per_series={max_rows_per_series}; shard the "
                "series by time and chain tail state (see docstring)"
            )
        pdf = pdf.sort_values(order, kind="mergesort").reset_index(drop=True)
        xs = [None if pd.isna(x) else x for x in pdf["__x"].tolist()]
        smoothed, s = [], None
        for x in xs:
            if x is None:
                smoothed.append(None)
                continue
            s = x if s is None else alpha * x + (1.0 - alpha) * s
            smoothed.append(s)
        pdf = pdf.drop(columns=["__x"])
        # Nullable Float64 (masked) so None survives Arrow as SQL NULL —
        # a plain float64 column would smuggle it through as NaN.
        pdf["value"] = pd.array(xs, dtype="Float64")
        pdf["ewma"] = pd.array(smoothed, dtype="Float64")
        return pdf

    return cols.groupBy(*series_cols).applyInPandas(run, schema=out_schema)


def holt_linear(
    df: DataFrame,
    *,
    alpha: float,
    beta: float,
    time_col: str,
    value_col: str,
    series_cols: list[str],
    order_cols: list[str] | None = None,
    max_rows_per_series: int | None = None,
) -> DataFrame:
    """Holt's linear-trend double exponential smoothing per series —
    EWMA plus an explicit trend component, the standard drift-aware
    smoother for telemetry channels that ramp (Holt 1957/2004):

    ``l_0 = x_0; b_0 = 0``
    ``l_i = alpha*x_i + (1-alpha)*(l_{i-1} + b_{i-1})``
    ``b_i = beta*(l_i - l_{i-1}) + (1-beta)*b_{i-1}``

    Returns the input columns plus ``level`` and ``trend``; the h-step
    forecast is ``level + h*trend``. Null values are SKIPPED exactly
    like :func:`ewma` (NULL level/trend out, state carries through
    unchanged). Each step is the literal IEEE-754 formula evaluated in
    ``(time_col, *order_cols)`` order, so a recursive-CTE oracle
    replaying the same ops reproduces the doubles bit-exactly.

    Memory bound: one Arrow group per series (see :func:`ewma`); for a
    pathological hot channel use the same time-shard + tail-state-chain
    decomposition (the recurrence is jointly linear in ``(l, b)``, so
    shards compose as 2x2 affine maps the way :func:`ewma_sharded`
    composes scalars). Pass ``max_rows_per_series`` to fail loudly
    instead of OOMing.
    """
    if not 0.0 < alpha <= 1.0:
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    if not 0.0 <= beta <= 1.0:
        raise ValueError(f"beta must be in [0, 1], got {beta}")
    order = [time_col, *(order_cols or [])]
    cols = df.select(
        *series_cols, *order, F.col(value_col).cast("double").alias("__x")
    )
    out_schema = T.StructType(
        cols.schema.fields[:-1]
        + [
            T.StructField("value", T.DoubleType(), True),
            T.StructField("level", T.DoubleType(), True),
            T.StructField("trend", T.DoubleType(), True),
        ]
    )

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        if max_rows_per_series is not None and len(pdf) > max_rows_per_series:
            key = pdf.iloc[0][list(series_cols)].to_dict() if len(pdf) else {}
            raise ValueError(
                f"holt_linear: series {key} has {len(pdf)} rows > "
                f"max_rows_per_series={max_rows_per_series}; shard the "
                "series by time and chain 2x2 affine tail state (see "
                "docstring)"
            )
        pdf = pdf.sort_values(order, kind="mergesort").reset_index(drop=True)
        xs = [None if pd.isna(x) else x for x in pdf["__x"].tolist()]
        levels, trends = [], []
        lv = tr = None
        for x in xs:
            if x is None:
                levels.append(None)
                trends.append(None)
                continue
            if lv is None:
                lv, tr = x, 0.0
            else:
                prev = lv
                lv = alpha * x + (1.0 - alpha) * (lv + tr)
                tr = beta * (lv - prev) + (1.0 - beta) * tr
            levels.append(lv)
            trends.append(tr)
        pdf = pdf.drop(columns=["__x"])
        pdf["value"] = pd.array(xs, dtype="Float64")
        pdf["level"] = pd.array(levels, dtype="Float64")
        pdf["trend"] = pd.array(trends, dtype="Float64")
        return pdf

    return cols.groupBy(*series_cols).applyInPandas(run, schema=out_schema)


def holt_winters_additive(
    df: DataFrame,
    *,
    alpha: float,
    beta: float,
    gamma: float,
    period: int,
    time_col: str,
    value_col: str,
    series_cols: list[str],
    order_cols: list[str] | None = None,
    max_rows_per_series: int | None = None,
) -> DataFrame:
    """Holt-Winters additive triple exponential smoothing per series —
    level + trend + a ``period``-slot seasonal cycle (the
    diurnal/orbital-period telemetry smoother). Deterministic
    cold-start convention (replayable step-for-step in SQL):

    - seasonal slots start at 0.0; phase = (non-null step index) mod
      ``period``;
    - first non-null x: ``l = x, b = 0``;
    - step i > 0 with phase p and previous seasonal ``s = S[p]``:
      ``l' = alpha*(x - s) + (1-alpha)*(l + b)``;
      ``b' = beta*(l' - l) + (1-beta)*b``;
      ``S[p] = gamma*(x - l') + (1-gamma)*s``.

    Returns the input columns plus ``level``, ``trend``, ``seasonal``
    (the slot value AFTER the update); the h-step forecast is
    ``level + h*trend + S[(i+h) mod period]``. Nulls are SKIPPED (NULL
    out, state unchanged, phase does not advance) — same convention as
    :func:`ewma`/:func:`holt_linear`. Every step is the literal
    IEEE-754 formula in ``(time_col, *order_cols)`` order, so a
    recursive-CTE oracle carrying (level, trend, seasonal-list, step
    counter) reproduces the doubles bit-exactly.

    Memory bound: one Arrow group per series (see :func:`ewma`).
    """
    if not 0.0 < alpha <= 1.0:
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    if not 0.0 <= beta <= 1.0:
        raise ValueError(f"beta must be in [0, 1], got {beta}")
    if not 0.0 <= gamma <= 1.0:
        raise ValueError(f"gamma must be in [0, 1], got {gamma}")
    if period < 2:
        raise ValueError(f"period must be >= 2, got {period}")
    order = [time_col, *(order_cols or [])]
    cols = df.select(
        *series_cols, *order, F.col(value_col).cast("double").alias("__x")
    )
    out_schema = T.StructType(
        cols.schema.fields[:-1]
        + [
            T.StructField("value", T.DoubleType(), True),
            T.StructField("level", T.DoubleType(), True),
            T.StructField("trend", T.DoubleType(), True),
            T.StructField("seasonal", T.DoubleType(), True),
        ]
    )

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        if max_rows_per_series is not None and len(pdf) > max_rows_per_series:
            key = pdf.iloc[0][list(series_cols)].to_dict() if len(pdf) else {}
            raise ValueError(
                f"holt_winters_additive: series {key} has {len(pdf)} rows "
                f"> max_rows_per_series={max_rows_per_series}"
            )
        pdf = pdf.sort_values(order, kind="mergesort").reset_index(drop=True)
        xs = [None if pd.isna(x) else x for x in pdf["__x"].tolist()]
        levels, trends, seasonals = [], [], []
        lv = tr = None
        season = [0.0] * period
        step = 0
        for x in xs:
            if x is None:
                levels.append(None)
                trends.append(None)
                seasonals.append(None)
                continue
            p = step % period
            if lv is None:
                lv, tr = x, 0.0
                season[p] = gamma * (x - lv) + (1.0 - gamma) * season[p]
            else:
                s_prev = season[p]
                prev = lv
                lv = alpha * (x - s_prev) + (1.0 - alpha) * (lv + tr)
                tr = beta * (lv - prev) + (1.0 - beta) * tr
                season[p] = gamma * (x - lv) + (1.0 - gamma) * s_prev
            levels.append(lv)
            trends.append(tr)
            seasonals.append(season[p])
            step += 1
        pdf = pdf.drop(columns=["__x"])
        pdf["value"] = pd.array(xs, dtype="Float64")
        pdf["level"] = pd.array(levels, dtype="Float64")
        pdf["trend"] = pd.array(trends, dtype="Float64")
        pdf["seasonal"] = pd.array(seasonals, dtype="Float64")
        return pdf

    return cols.groupBy(*series_cols).applyInPandas(run, schema=out_schema)


def ewma_sharded(
    df: DataFrame,
    *,
    alpha: float,
    time_col: str,
    value_col: str,
    series_cols: list[str],
    shard_col: str,
    order_cols: list[str] | None = None,
) -> DataFrame:
    """EWMA for the one series too big for one task: the input is cut
    into time shards (``shard_col`` — e.g. a day bucket, monotone in
    ``time_col`` within each series) and the recurrence parallelizes
    across (series, shard) via the classic linear-scan decomposition:

    - within a shard, ``s_i = c_i + d_i * s_in`` where
      ``c_i = alpha*x_i + (1-alpha)*c_{i-1}`` (c_{-1}=0) and
      ``d_i = (1-alpha)*d_{i-1}`` (d_{-1}=1) — one ordered pass per
      shard, independent of the incoming state;
    - the incoming states chain through a TINY per-series pass over
      shard summaries: ``s_in(k+1) = C_k + D_k*s_in(k)`` (the last
      row's c/d), with the first non-null row of the series seeding
      ``s = x`` (the ``cseed`` companion recurrence);
    - a broadcastable join puts ``s_in`` back on the rows and the
      output is map-side arithmetic.

    Three bounded stages instead of one unbounded task: stage 1 groups
    are shard-sized, stage 2 is O(shards) per series, stage 3 is a
    map-side join. Null values are skipped exactly like :func:`ewma`
    (NULL out, state carries).

    Stage 1 feeds TWO consumers — the per-series chain (via the
    flagged-last-row summary) and the recombination join's probe side —
    through different subtrees, so exchange reuse cannot deduplicate
    them: unmaterialized, the scan + (series, shard) shuffle + Python
    recurrence pass run twice per action. Lineage is therefore
    truncated at the stage-1 output
    (:func:`operators.lineage.query_truncator`, shared with pagerank and
    connected_components), so the expensive pass runs once and both
    consumers read materialized blocks.

    The result is the textbook parallel-prefix EWMA: algebraically
    identical to :func:`ewma`, floating-point-wise within an ULP-level
    reassociation difference (that is inherent to ANY parallel scan).
    It is bit-exactly reproducible by an engine replaying the same
    decomposition — the paired oracle does exactly that.
    """
    if not 0.0 < alpha <= 1.0:
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    beta = 1.0 - alpha
    order = [time_col, *(order_cols or [])]
    cols = df.select(
        *series_cols,
        F.col(shard_col).alias("__shard"),
        *order,
        F.col(value_col).cast("double").alias("__x"),
    )
    stage1_schema = T.StructType(
        cols.schema.fields[:-1]
        + [
            T.StructField("value", T.DoubleType(), True),
            T.StructField("__c", T.DoubleType(), True),
            T.StructField("__d", T.DoubleType(), False),
            T.StructField("__cseed", T.DoubleType(), True),
            T.StructField("__last", T.BooleanType(), False),
        ]
    )

    def shard_pass(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order, kind="mergesort").reset_index(drop=True)
        xs = [None if pd.isna(x) else x for x in pdf["__x"].tolist()]
        c, d, cseed = 0.0, 1.0, None
        cs_list, d_list, seed_list = [], [], []
        for x in xs:
            if x is not None:
                c = alpha * x + beta * c
                d = beta * d
                cseed = x if cseed is None else alpha * x + beta * cseed
            cs_list.append(c)
            d_list.append(d)
            seed_list.append(cseed)
        pdf = pdf.drop(columns=["__x"])
        pdf["value"] = pd.array(xs, dtype="Float64")
        # null rows emit null c/cseed downstream via the value mask; the
        # running columns themselves carry the state for the join stage
        pdf["__c"] = pd.array(cs_list, dtype="Float64")
        pdf["__d"] = pd.array(d_list, dtype="Float64")
        pdf["__cseed"] = pd.array(seed_list, dtype="Float64")
        # the shard summary IS the last row — flagged here so extracting
        # it downstream is a filter, not a second corpus-sized shuffle
        pdf["__last"] = [i == len(xs) - 1 for i in range(len(xs))]
        return pdf

    staged = cols.groupBy(*series_cols, "__shard").applyInPandas(
        shard_pass, schema=stage1_schema
    )
    from mission_data_pipeline_spark.operators.lineage import query_truncator

    staged = query_truncator()(staged)
    # shard summaries: the flagged LAST row per (series, shard)
    summary = staged.filter("__last").select(
        *series_cols,
        "__shard",
        F.col("__c").alias("__C"),
        F.col("__d").alias("__D"),
        F.col("__cseed").alias("__CSEED"),
    )
    sin_schema = T.StructType(
        [summary.schema[c] for c in [*series_cols, "__shard"]]
        + [T.StructField("__sin", T.DoubleType(), True)]
    )

    def chain(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("__shard", kind="mergesort").reset_index(
            drop=True
        )
        s = None
        sins = []
        for C, D, CSEED in zip(pdf["__C"], pdf["__D"], pdf["__CSEED"]):
            sins.append(s)
            if s is None:
                s = None if pd.isna(CSEED) else float(CSEED)
            else:
                s = float(C) + float(D) * s
        out = pdf[[*series_cols, "__shard"]].copy()
        out["__sin"] = pd.array(sins, dtype="Float64")
        return out

    sin = summary.groupBy(*series_cols).applyInPandas(
        chain, schema=sin_schema
    )
    # sin is O(series x shards) — tiny next to the rows; broadcast it so
    # the recombination join never reshuffles the corpus
    out = staged.join(F.broadcast(sin), [*series_cols, "__shard"])
    ewma_col = (
        F.when(F.col("value").isNull(), F.lit(None).cast("double"))
        .when(F.col("__sin").isNull(), F.col("__cseed"))
        .otherwise(F.col("__c") + F.col("__d") * F.col("__sin"))
    )
    return out.select(
        *series_cols,
        F.col("__shard").alias(shard_col),
        *order,
        "value",
        ewma_col.alias("ewma"),
    )


def _lttb_series(ts: list, vs: list, n_out: int):
    """Classic largest-triangle-three-buckets over one ordered series.

    Interior points split into ``n_out - 2`` equal index buckets
    (``lo_i = floor(i*(N-2)/(n-2)) + 1``); each bucket keeps the point
    maximizing the triangle area with the PREVIOUS kept point and the
    NEXT bucket's average (the last point for the final bucket).
    Strictly-greater comparison keeps the first maximum, so integer
    inputs make the selection exact and engine-independent.
    """
    n = len(ts)
    if n_out >= n:
        return list(range(n))
    kept = [0]
    nb = n_out - 2
    for i in range(nb):
        lo = i * (n - 2) // nb + 1
        hi = (i + 1) * (n - 2) // nb + 1
        nlo = hi
        nhi = (i + 2) * (n - 2) // nb + 1 if i + 1 < nb else n
        if i + 1 == nb:
            nlo, nhi = n - 1, n
        avg_t = sum(ts[nlo:nhi]) / (nhi - nlo)
        avg_v = sum(vs[nlo:nhi]) / (nhi - nlo)
        pt, pv = ts[kept[-1]], vs[kept[-1]]
        best, best_area = lo, -1.0
        for j in range(lo, hi):
            area = abs(
                (pt - avg_t) * (vs[j] - pv) - (pt - ts[j]) * (avg_v - pv)
            )
            if area > best_area:
                best, best_area = j, area
        kept.append(best)
    kept.append(n - 1)
    return kept


def lttb(
    df: DataFrame,
    *,
    n_out: int,
    time_col: str,
    value_col: str,
    series_cols: list[str],
    max_rows_per_series: int | None = None,
) -> DataFrame:
    """Largest-Triangle-Three-Buckets downsampling per series — the
    standard visually-faithful decimation for telemetry dashboards
    (Steinarsson 2013). Keeps first and last points plus the
    max-triangle-area point of each of ``n_out - 2`` equal index
    buckets; series shorter than ``n_out`` pass through.

    Duplicate timestamps resolve to their MAX value first (same
    determinism contract as
    :func:`~mission_data_pipeline_spark.operators.dataset.resample_grid`).
    Returns ``(*series_cols, time_col, value, kept_rank)`` with
    ``kept_rank`` the 0-based output position.

    Memory bound: one Arrow group per series (see :func:`ewma`); pass
    ``max_rows_per_series`` to fail loudly instead of OOMing on a
    pathological single-series input.  For a giant series, pre-bucket
    by coarse time windows and LTTB each window to ``n_out / n_windows``
    points — visually equivalent for dashboard decimation.
    """
    if n_out < 3:
        raise ValueError(f"n_out must be >= 3, got {n_out}")
    cols = (
        df.select(
            *series_cols,
            F.col(time_col).cast("long").alias("__t"),
            F.col(value_col).cast("double").alias("__v"),
        )
        .groupBy(*series_cols, "__t")
        .agg(F.max("__v").alias("__v"))
    )
    out_schema = T.StructType(
        [cols.schema[c] for c in cols.schema.names if c not in ("__t", "__v")]
        + [
            T.StructField(time_col, T.LongType(), True),
            T.StructField("value", T.DoubleType(), True),
            T.StructField("kept_rank", T.IntegerType(), True),
        ]
    )

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        if max_rows_per_series is not None and len(pdf) > max_rows_per_series:
            key = pdf.iloc[0][list(series_cols)].to_dict() if len(pdf) else {}
            raise ValueError(
                f"lttb: series {key} has {len(pdf)} rows > "
                f"max_rows_per_series={max_rows_per_series}; pre-bucket "
                "by coarse time windows (see docstring)"
            )
        pdf = pdf.sort_values("__t", kind="mergesort").reset_index(drop=True)
        ts, vs = pdf["__t"].tolist(), pdf["__v"].tolist()
        kept = _lttb_series(ts, vs, n_out)
        out = pdf.iloc[kept].reset_index(drop=True)
        out = out.rename(columns={"__t": time_col, "__v": "value"})
        out["kept_rank"] = range(len(kept))
        return out[[f.name for f in out_schema.fields]]

    return cols.groupBy(*series_cols).applyInPandas(run, schema=out_schema)
