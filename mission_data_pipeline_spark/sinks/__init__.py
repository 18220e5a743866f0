"""Sinks (loaders) — SURVEY §2.7 L1–L7.

All Parquet/CSV sinks are native distributed writes (``partitionBy`` for
the per-parameter / per-APID layouts, ``mode("append")`` for true file
appends — fixing the reference's O(file) read-concat-rewrite append,
``src/mdp/plugins/loaders/parquet.py:73-78``). The HDF5 sink is a
driver-side export utility by design (no distributed HDF5 writer
exists); it streams partitions with ``toLocalIterator`` so the driver
never holds the full dataset.
"""

from mission_data_pipeline_spark.sinks.compact import (
    compact_dataset,
    dataset_bytes,
)
from mission_data_pipeline_spark.sinks.csv import (
    write_csv_per_parameter,
    write_csv_wide,
)
from mission_data_pipeline_spark.sinks.hdf5 import write_hdf5
from mission_data_pipeline_spark.sinks.jsonl import write_jsonl
from mission_data_pipeline_spark.sinks.merge import last_wins, merge_upsert
from mission_data_pipeline_spark.sinks.parquet import (
    write_parquet_per_parameter,
    write_parquet_wide,
)

__all__ = [
    "compact_dataset",
    "dataset_bytes",
    "last_wins",
    "merge_upsert",
    "write_csv_per_parameter",
    "write_csv_wide",
    "write_hdf5",
    "write_jsonl",
    "write_parquet_per_parameter",
    "write_parquet_wide",
]
