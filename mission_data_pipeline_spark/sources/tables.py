"""Loaders for the driver-provided relational test tables (TESTDATA.md).

``events.ts`` has shipped in two flavors across driver rounds:
TIMESTAMP(NANOS) parquet (which Spark reads as epoch-nanosecond longs
under ``spark.sql.legacy.parquet.nanosAsLong``) and plain TIMESTAMP
(micros). Either way we normalize to BOTH a raw epoch-nanosecond long
(``ts_ns``) and a microsecond ``ts`` timestamp, so every downstream
query can rely on the same pair of columns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            # Integer division, not `/ 1000`: epoch-ns values (~1.7e18)
            # exceed 2^53, so double division can be off by 1 µs.
            df = df.withColumnRenamed("ts", "ts_ns").withColumn(
                "ts", F.timestamp_micros(F.expr("ts_ns DIV 1000"))
            )
        elif ts_type in ("timestamp", "timestamp_ntz"):
            # Plain TIMESTAMP/TIMESTAMP_NTZ parquet. The session timezone is
            # pinned to UTC (session.py), so NTZ -> TIMESTAMP is a pure
            # relabel and unix_micros() recovers the raw microsecond value
            # DuckDB's epoch_us(ts) sees on the same file.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
            if "ts_ns" not in df.columns:
                df = df.withColumn(
                    "ts_ns", F.unix_micros(F.col("ts")) * F.lit(1000)
                )
        elif ts_type is not None:
            # A numeric/string ts here would silently decode as epoch
            # seconds (off by 10^9) — fail loudly on schema drift.
            raise TypeError(
                f"events.ts has unexpected type {ts_type!r}; expected "
                "bigint (epoch ns) or timestamp/timestamp_ntz"
            )
    return df


def parquet_row_count(path: str) -> int:
    """Exact row count from parquet FOOTER metadata — no Spark job.

    For sizing decisions made while *constructing* a plan (e.g. an ANN
    shortlist proportional to corpus size), a ``df.count()`` would run
    an eager full scan inside the query builder — double-counted by any
    timing of the returned plan and a pointless job at 100 TB. The
    footer's ``num_rows`` is the same number for free. Handles a single
    file or a directory of part files.
    """
    import os

    import pyarrow.parquet as pq

    if os.path.isdir(path):
        total = 0
        for root, _dirs, files in os.walk(path):
            for f in files:
                if f.endswith(".parquet"):
                    total += pq.ParquetFile(os.path.join(root, f)).metadata.num_rows
        return total
    return pq.ParquetFile(path).metadata.num_rows
