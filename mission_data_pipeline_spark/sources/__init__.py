from mission_data_pipeline_spark.sources.archive import read_zip
from mission_data_pipeline_spark.sources.binary import plan_ranges, read_packets
from mission_data_pipeline_spark.sources.ccsds_datasource import (
    CcsdsDataSource,
    register_ccsds_source,
)
from mission_data_pipeline_spark.sources.csv import read_csv_telemetry
from mission_data_pipeline_spark.sources.jsonl import (
    jsonl_corrupt_stats,
    read_jsonl,
)
from mission_data_pipeline_spark.sources.tables import load_table
from mission_data_pipeline_spark.sources.warc import (
    read_warc,
    read_warc_stream,
    warc_to_documents,
)

__all__ = [
    "read_packets",
    "plan_ranges",
    "CcsdsDataSource",
    "register_ccsds_source",
    "read_csv_telemetry",
    "read_jsonl",
    "jsonl_corrupt_stats",
    "load_table",
    "read_warc",
    "read_warc_stream",
    "warc_to_documents",
    "read_zip",
]
