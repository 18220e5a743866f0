"""JSONL sink — shard-partitioned corpus export.

The write-side mirror of ``sources/jsonl.py``: LLM curation pipelines
emit their final corpus as JSONL shards (optionally compressed, one
directory per split/language). Spark's JSON writer is already
line-per-object; this wrapper pins the two choices that matter at
100 TB: explicit shard count (downstream tokenizer jobs want uniform
shard sizes, not whatever the last shuffle produced) and partitioned
layout for split/language routing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_jsonl(
    df: DataFrame,
    out_dir: str,
    *,
    n_shards: int | None = None,
) -> None:
    """Write ``df`` as uncompressed JSONL shards under ``out_dir``,
    replacing what is there.

    ``n_shards`` repartitions before the write — uniform shard sizes
    for downstream consumers.
    """
    if n_shards is not None:
        df = df.repartition(n_shards)
    df.write.mode("overwrite").json(out_dir)
