"""Small-file / unsplittable-layout compaction — the lakehouse
OPTIMIZE primitive.

Two layout pathologies throttle a Spark scan independently of cluster
size, and both are *file* problems, not engine problems:

- **Many tiny files**: per-file open cost and task overhead dominate;
  listing and scheduling scale with file count.
- **One giant row group** (single-row-group parquet, e.g. written by a
  single-threaded exporter): Spark splits files by byte range but can
  only assign whole row groups, so a 100M-row single-group file scans
  as ONE task no matter how many executors exist. This round's sf1
  scale bench was layout-capped exactly this way (BASELINE.md round 5).

``compact_dataset`` rewrites a dataset to a target file size: read →
``repartition(ceil(bytes / target))`` → write. The repartition is one
full shuffle — the price of compaction, paid once, amortized over every
subsequent scan (the same trade ``write_bucketed`` makes for join
co-location). Spark's parquet writer emits row groups bounded by
``parquet.block.size`` inside each file, so the output is splittable at
both the file and row-group level.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame, SparkSession


def dataset_bytes(path: str) -> int:
    """Total on-disk bytes of the data files under ``path`` (local FS;
    ignores dotfiles/_metadata sidecars, recurses partition dirs; a
    single-file dataset is its file size)."""
    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if not f.startswith((".", "_")):
                total += os.path.getsize(os.path.join(root, f))
    return total


def compact_dataset(
    spark: SparkSession,
    src: str,
    dst: str,
    *,
    fmt: str = "parquet",
    target_file_bytes: int = 128 * 1024 * 1024,
    min_files: int = 1,
) -> int:
    """Rewrite the dataset at ``src`` into ``dst`` with files of roughly
    ``target_file_bytes`` (estimated from the *source's* on-disk size —
    compression carries over closely enough for sizing). Returns the
    output file count. ``min_files`` floors the count — raise it to
    guarantee scan
    parallelism for small-but-expensive datasets (text corpora) whose
    per-row work, not byte count, is the bottleneck.
    """
    if target_file_bytes <= 0:
        raise ValueError("target_file_bytes must be positive")
    if min_files < 1:
        raise ValueError("min_files must be >= 1")
    df: DataFrame = spark.read.format(fmt).load(src)
    n = max(min_files, math.ceil(dataset_bytes(src) / target_file_bytes))
    df.repartition(n).write.mode("overwrite").format(fmt).save(dst)
    return sum(
        1
        for _root, _dirs, files in os.walk(dst)
        for f in files
        if f.endswith(f".{fmt}") or (not f.startswith((".", "_")) and "." not in f)
    )
