"""Streaming pipeline runner.

W1: the reference's generator micro-batching (``binary.py:115-123``)
restated as Structured Streaming + ``foreachBatch``: every micro-batch
runs through the batch Pipeline's own per-batch body
(:meth:`~mission_data_pipeline_spark.core.pipeline.BatchRunner.run_batch`),
so the SAME Transformer stages and Loader, hooks, per-stage record
counts and error handling apply to an epoch as to a batch. A stage
error fails the epoch before it commits, so a restart replays it.
Exactly-once is inherited from the sink's idempotence + checkpointing
(file sources track progress in the checkpoint dir).
"""

from __future__ import annotations

import logging
from typing import Any

from pyspark.sql import DataFrame

from mission_data_pipeline_spark.core.base import (
    Loader,
    TelemetryBatch,
    Transformer,
)
from mission_data_pipeline_spark.core.pipeline import BatchRunner
from mission_data_pipeline_spark.core.results import PipelineResult, StageStatus
from mission_data_pipeline_spark.observability.hooks import HookManager
from mission_data_pipeline_spark.observability.metrics import PipelineMetrics

log = logging.getLogger("mission_data_pipeline_spark.streaming")


class StreamingPipeline(BatchRunner):
    """Apply Transformer stages + a Loader to each streaming micro-batch."""

    def __init__(
        self,
        *,
        transformers: list[Transformer] | None = None,
        loader: Loader | None = None,
        hooks: HookManager | None = None,
        metrics: PipelineMetrics | None = None,
    ) -> None:
        super().__init__(
            transformers=transformers, loader=loader, hooks=hooks, metrics=metrics
        )

    def _process_batch(self, df: DataFrame, epoch_id: int) -> None:
        # A packet stream (``readStream.format("ccsds")``) carries the raw
        # packet bytes; anything else is a params stream.
        side = "packets" if "user_data" in df.columns else "params"
        batch = TelemetryBatch(**{side: df}, metadata={"epoch": epoch_id})
        result = PipelineResult(pipeline_name="stream", status=StageStatus.SUCCESS)
        self.run_batch(batch, epoch_id, result)
        if result.errors:
            raise RuntimeError(
                f"epoch {epoch_id} failed: " + "; ".join(result.errors)
            )

    def start(
        self,
        stream: DataFrame,
        *,
        checkpoint_dir: str,
        available_now: bool = False,
        trigger_interval: str | None = None,
        query_name: str = "mdps-stream",
    ) -> Any:
        """Start the query; returns the StreamingQuery handle.

        ``available_now=True`` drains everything currently available and
        stops — the batch-parity mode used by tests and backfills.
        """
        writer = (
            stream.writeStream.foreachBatch(self._process_batch)
            .queryName(query_name)
            .option("checkpointLocation", checkpoint_dir)
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        elif trigger_interval:
            writer = writer.trigger(processingTime=trigger_interval)
        self.hooks.fire("pipeline.start", pipeline=query_name)
        return writer.start()
