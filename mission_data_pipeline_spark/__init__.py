"""mission_data_pipeline_spark — a PySpark-native analytics engine.

A from-scratch rebuild of the capabilities of the reference ETL framework
``northflowlabs/mission-data-pipeline`` (CCSDS space-telemetry
Extractor → Transformer* → Loader pipelines; see SURVEY.md), re-expressed
as idiomatic Spark: declarative DataFrame plans, Catalyst-optimizable
expressions, config tables compiled into those expressions, native
partitioned sinks — plus a large-scale training-data toolkit (dedup,
similarity search, text analysis, multimodal columns) designed for
100 TB operation.

Two canonical DataFrames replace the reference's ``TelemetryDataset``
(reference ``src/mdp/models/dataset.py:14-24``):

- ``packets_df``  — one row per CCSDS space packet (header struct +
  binary payload columns), schema :data:`models.schemas.PACKET_SCHEMA`.
- ``params_df``   — tidy/long engineering-parameter samples, schema
  :data:`models.schemas.PARAMS_SCHEMA`.
"""

from mission_data_pipeline_spark.session import get_spark

__version__ = "0.10.0"

__all__ = ["get_spark", "__version__"]
