"""Structured Streaming — SURVEY §2.6 W1–W4.

The reference's "stream" is a Python generator of micro-batches
(``src/mdp/core/base.py:94-96``). Its batch restatement is
:class:`~mission_data_pipeline_spark.core.pipeline.Pipeline` with
``files_per_batch``/``max_batches``; a live packet stream is
``spark.readStream.format("ccsds")`` (``sources/ccsds_datasource.py``).
This package holds what needs Structured Streaming's state: the
near-dedup ingest gate (``foreachBatch`` + a stored band index) and the
stateful operators (``applyInPandasWithState``), plus the batch
sequence-gap check they pair with.
"""

from mission_data_pipeline_spark.streaming.ingest import (
    compact_near_dedup_index,
    gc_near_dedup_index,
    last_committed_epoch,
    near_dedup_ingest_stream,
)
from mission_data_pipeline_spark.streaming.stateful import seq_gaps_batch

__all__ = [
    "compact_near_dedup_index",
    "gc_near_dedup_index",
    "last_committed_epoch",
    "near_dedup_ingest_stream",
    "seq_gaps_batch",
]
