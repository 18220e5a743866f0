"""Structured Streaming — SURVEY §2.6 W1–W4.

The reference's "stream" is a Python generator of micro-batches
(``src/mdp/core/base.py:94-96``); the Spark restatement is Structured
Streaming: file sources discovered incrementally, the same Transformer
chain applied per micro-batch via ``foreachBatch``, watermarks for the
late/duplicate-data semantics the reference only has implicitly
(wide-pivot last-wins, ``dataset.py:88-91``).
"""

from mission_data_pipeline_spark.streaming.ingest import (
    compact_near_dedup_index,
    gc_near_dedup_index,
    last_committed_epoch,
    near_dedup_ingest_stream,
)
from mission_data_pipeline_spark.streaming.pipeline import StreamingPipeline
from mission_data_pipeline_spark.streaming.sources import stream_csv_telemetry
from mission_data_pipeline_spark.streaming.stateful import (
    seq_gaps,
    seq_gaps_batch,
    seq_gaps_stream,
)
from mission_data_pipeline_spark.streaming.windows import (
    dedup_late_samples,
    dedup_stream_content,
    windowed_stats,
)

__all__ = [
    "StreamingPipeline",
    "compact_near_dedup_index",
    "dedup_late_samples",
    "dedup_stream_content",
    "gc_near_dedup_index",
    "last_committed_epoch",
    "near_dedup_ingest_stream",
    "seq_gaps",
    "seq_gaps_batch",
    "seq_gaps_stream",
    "stream_csv_telemetry",
    "windowed_stats",
]
