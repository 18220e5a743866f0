"""Upsert / merge-into sink over plain parquet.

The reference's loaders only append (``src/mdp/plugins/loaders/
parquet.py:73-78`` re-reads and rewrites the whole file); neither it
nor plain Spark parquet offers MERGE semantics. This module provides
the lakehouse-style last-wins upsert as a compaction rewrite:

    merged = base ∪ updates, keep the highest-version row per key

Spark-first shape: one union + one key-partitioned ``row_number`` —
the same cost as any key-grouped dedup, no driver-side state. The
rewrite is staged through a temp directory and atomically swapped via
rename, so a failed merge never corrupts the base (readers see the old
or the new index, nothing in between). The whole base is rewritten;
at 100 TB a scoped rewrite would touch only the partitions the update
batch reaches (partition the base by a key prefix or date and prune the
read).
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def last_wins(
    df: DataFrame, *, key_cols: list[str], version_col: str
) -> DataFrame:
    """Highest-version row per key (ties break toward the LAST-sorted
    row arbitrarily-but-deterministically via the version column only —
    callers needing total determinism must make ``version_col``
    unique per key, the standard CDC contract)."""
    w = Window.partitionBy(*key_cols).orderBy(F.col(version_col).desc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def merge_upsert(
    spark: SparkSession,
    base_dir: str,
    updates: DataFrame,
    *,
    key_cols: list[str],
    version_col: str,
) -> None:
    """MERGE INTO for plain parquet: last-wins upsert of ``updates``
    into the dataset at ``base_dir`` (created if absent). Same-version
    re-delivery of an already-applied batch is a no-op on the final
    state — the merge is idempotent, which is what makes at-least-once
    ingestion pipelines safe.
    """
    if not key_cols:
        raise ValueError("merge_upsert needs at least one key column")
    if os.path.isdir(base_dir):
        base = spark.read.parquet(base_dir)
        merged = last_wins(
            base.unionByName(updates),
            key_cols=key_cols,
            version_col=version_col,
        )
    else:
        merged = last_wins(
            updates, key_cols=key_cols, version_col=version_col
        )
    staging = tempfile.mkdtemp(
        prefix=".merge_staging_", dir=os.path.dirname(base_dir) or "."
    )
    try:
        merged.write.mode("overwrite").parquet(staging)
    except BaseException:
        shutil.rmtree(staging, ignore_errors=True)
        raise
    # Swap. Two renames, with rollback on the second failing; a leftover
    # `.old` from a previous interrupted run is cleared first so it can
    # never block the rename. A hard crash BETWEEN the renames leaves
    # the previous state recoverable at `<base>.old` (single-syscall
    # atomicity across two paths needs a manifest/catalog layer, which
    # plain parquet does not have).
    old = base_dir + ".old"
    shutil.rmtree(old, ignore_errors=True)
    had_base = os.path.isdir(base_dir)
    if had_base:
        os.rename(base_dir, old)
    try:
        os.rename(staging, base_dir)
    except BaseException:
        if had_base and not os.path.isdir(base_dir):
            os.rename(old, base_dir)  # roll back: base restored intact
        shutil.rmtree(staging, ignore_errors=True)
        raise
    if had_base:
        shutil.rmtree(old, ignore_errors=True)
