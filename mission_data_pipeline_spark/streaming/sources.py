"""Streaming file sources.

``stream_csv_telemetry`` — incremental discovery of wide telemetry CSVs
(readStream.csv needs an explicit schema; melt shared with the batch
reader). CCSDS binary packets stream through the ``ccsds`` Data Source
instead: ``spark.readStream.format("ccsds")`` after
:func:`~mission_data_pipeline_spark.sources.register_ccsds_source`
(``sources/ccsds_datasource.py``) live-tails growing or arriving files
with packet-boundary offsets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from mission_data_pipeline_spark.sources.csv import melt_telemetry


def stream_csv_telemetry(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str,
    *,
    time_column: str = "time",
    apid_column: str = "apid",
    seq_count_column: str = "seq_count",
    parameter_columns: list[str] | None = None,
    delimiter: str = ",",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming tidy params_df from a directory of wide telemetry CSVs."""
    reader = (
        spark.readStream.schema(schema)
        .option("header", "true")
        .option("sep", delimiter)
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    raw = reader.csv(path)
    return melt_telemetry(
        raw,
        time_column=time_column,
        apid_column=apid_column,
        seq_count_column=seq_count_column,
        parameter_columns=parameter_columns,
    )
