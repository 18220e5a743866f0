"""SparkSession factory with scale-oriented defaults.

Local testing runs on ``local[N]``; the conf below is chosen so the same
plans survive a 1000-executor cluster: AQE on (runtime shuffle-partition
coalescing + skew-join splitting), broadcast threshold sized for config
/ dimension tables, Arrow enabled for the few pandas-UDF escape hatches.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "mission-data-pipeline-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    Notable conf:

    - ``spark.sql.adaptive.enabled`` — AQE re-plans at runtime: coalesces
      small shuffle partitions at sf0.01 and splits skewed ones at 100 TB.
    - ``spark.sql.legacy.parquet.nanosAsLong`` — the driver's ``events``
      table carries TIMESTAMP(NANOS) which Spark has no native type for;
      we read it as epoch-nanosecond longs and convert explicitly
      (see ``plans/tables.py``).
    - Arrow execution for Python code over DataFrames: the binary packet
      scan and decommutation are ``mapInArrow`` batches (NumPy over the
      Arrow buffers), beside the multimodal decoders.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if str(cpus).isdigit() else 32
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Python UDTFs evaluate via Arrow batches (ArrowEvalPythonUDTF)
        # instead of row-pickling BatchEvalPythonUDTF — same contract,
        # vectorized transfer; keeps the plan-shape linter's
        # "no row-at-a-time Python" rule exception-free.
        .config("spark.sql.execution.pythonUDTF.arrow.enabled", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # File-split sizing: the default 4 MiB open-cost floors
        # maxSplitBytes at 4 MiB, so a compressed text table of a few
        # MiB scans as 1-2 tasks even when its row groups would split
        # finer — and per-row work (tokenize, decode, ngram) then runs
        # near-serial. 512 KiB keeps small-but-expensive inputs
        # parallel; at 100 TB files are >128 MiB and maxPartitionBytes
        # governs instead, so the setting is inert where it should be.
        .config("spark.sql.files.openCostInBytes", str(512 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "24g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
