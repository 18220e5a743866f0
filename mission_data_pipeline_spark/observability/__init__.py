"""Observability — SURVEY §2.5 (A1–A5), §2.9 (R2–R4).

The reference declares hooks and per-stage metrics but never wires them
(``hooks.py:14`` vs ``pipeline.py:86-97``; ``record_stage`` never
called) — here both are actually fired/recorded by
:class:`~mission_data_pipeline_spark.core.pipeline.Pipeline`, which also
records what Spark executed for each batch through
:func:`harvest_job_group`.
"""

from mission_data_pipeline_spark.observability.hooks import EventHook, HookManager
from mission_data_pipeline_spark.observability.jobs import harvest_job_group
from mission_data_pipeline_spark.observability.logging import configure_logging
from mission_data_pipeline_spark.observability.metrics import PipelineMetrics

__all__ = [
    "EventHook",
    "HookManager",
    "PipelineMetrics",
    "configure_logging",
    "harvest_job_group",
]
