"""Parquet sinks.

Parity: reference ``src/mdp/plugins/loaders/parquet.py`` (L1 per-parameter
files ``:50-62``, L2 wide ``:64-71``, L3 APID partitioning ``:56-60``,
L4 append ``:73-78``). Differences, by design (SURVEY §7.0):

- per-parameter output is a Hive-partitioned *directory* per name
  (``name=<param>/``) instead of one file per name — the layout Spark,
  DuckDB, and every lakehouse reader partition-prunes natively;
- append is Spark's native ``mode("append")`` (new files), not the
  reference's read-whole-file → concat → rewrite, which is O(file) per
  batch and impossible at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from mission_data_pipeline_spark.operators.dataset import to_wide


def write_parquet_per_parameter(
    params: DataFrame,
    out_dir: str,
    *,
    compression: str = "snappy",
    partition_by_apid: bool = False,
    overwrite: bool = True,
) -> None:
    """L1/L3/L4: tidy samples partitioned by parameter name (and APID).

    ``partition_by_apid`` nests ``apid=<n>/`` under each ``name=<p>/``
    (reference emits ``apid=XXXX/`` subdirs, ``parquet.py:56-60``).
    Empty input writes only the directory marker — the reference skips
    empty parameters, and partitionBy produces no partition dirs for
    zero rows, so behavior matches.
    """
    cols = ["name"] + (["apid"] if partition_by_apid else [])
    (
        params.write.mode("overwrite" if overwrite else "append")
        .option("compression", compression)
        .partitionBy(*cols)
        .parquet(out_dir)
    )


def write_parquet_wide(
    params: DataFrame,
    out_path: str,
    *,
    compression: str = "snappy",
    overwrite: bool = True,
) -> None:
    """L2: single wide table, one column per parameter, time as a column."""
    (
        to_wide(params)
        .write.mode("overwrite" if overwrite else "append")
        .option("compression", compression)
        .parquet(out_path)
    )


def write_zordered(
    df: DataFrame,
    out_path: str,
    *,
    zorder_cols: list[str],
    n_files: int,
    compression: str = "snappy",
) -> None:
    """OPTIMIZE ZORDER analog: cluster files along MULTIPLE dimensions
    at once via Morton (Z-curve) interleaving, so min/max data skipping
    prunes on ANY of the z-ordered columns — where a linear sort only
    clusters its leading column and leaves every other dimension's
    per-file range spanning the whole domain.

    Mechanics: each column is affinely scaled to a 16-bit rank using its
    global min/max (one tiny aggregate), the ranks' bits are interleaved
    into a single z-value (pure JVM expressions — ``shiftright``/``&``/
    ``shiftleft`` folded into one projection), and the frame is
    range-partitioned + sorted by that z-value. Supports 2-4 numeric
    columns (16 bits each keeps the z-value in one long). The write is
    semantically transparent — same rows, different layout — which is
    exactly what the paired oracle checks; the PRUNING effect is pinned
    by the zone-map layout test (per-file min/max ranges near-disjoint
    in every z-ordered dimension).

    At 100 TB this is the standard lakehouse maintenance pass for
    multi-dimension query patterns (time x device, user x time): run it
    per partition/day, not over the whole table at once.
    """
    from pyspark.sql import functions as F

    k = len(zorder_cols)
    if not 2 <= k <= 4:
        raise ValueError(f"zorder needs 2-4 columns, got {k}")
    if n_files < 1:
        raise ValueError(f"n_files must be >= 1, got {n_files}")
    stats = df.agg(
        *[F.min(c).cast("double").alias(f"mn{j}") for j, c in enumerate(zorder_cols)],
        *[F.max(c).cast("double").alias(f"mx{j}") for j, c in enumerate(zorder_cols)],
    ).first()
    ranks = []
    for j, c in enumerate(zorder_cols):
        mn, mx = stats[f"mn{j}"], stats[f"mx{j}"]
        if mn is None or mx is None or mx == mn:
            ranks.append(F.lit(0).cast("long"))
        else:
            scaled = (
                (F.col(c).cast("double") - F.lit(mn))
                * F.lit(65535.0 / (mx - mn))
            )
            ranks.append(
                F.least(F.greatest(scaled, F.lit(0.0)), F.lit(65535.0))
                .cast("long")
            )
    z = F.lit(0).cast("long")
    for b in range(16):
        for j in range(k):
            z = z + F.shiftleft(
                F.shiftright(ranks[j], b).bitwiseAND(F.lit(1)),
                b * k + j,
            )
    out = (
        df.withColumn("__z", z)
        .repartitionByRange(n_files, F.col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z")
    )
    (
        out.write.mode("overwrite")
        .option("compression", compression)
        .parquet(out_path)
    )
