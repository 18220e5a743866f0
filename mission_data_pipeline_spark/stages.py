"""Built-in pipeline stages: the functional operators wrapped as
registry-registered Extractor/Transformer/Loader classes.

Parity: reference plugin set (``src/mdp/plugins/``): extractors
``binary_packets`` / ``csv_telemetry``; transformers ``decom`` /
``calibration`` / ``apid_filter``; loaders ``parquet`` / ``csv`` /
``hdf5``. Each stage is a thin, Pydantic-validated shell over the
corresponding DataFrame function — the stage bodies stay declarative so
a whole pipeline compiles to one Catalyst plan per batch.

Micro-batching (reference W1, ``binary.py:115-123``): file sources yield
one batch per ``files_per_batch`` input files. Batching by row count
would require a driver-side pass; per-file batching preserves the
micro-batch contract (`max_batches`, per-batch hooks) while every batch
stays a fully distributed scan.
"""

from __future__ import annotations

from collections.abc import Iterator
from glob import glob
from typing import Any

from pydantic import BaseModel
from pyspark.sql import SparkSession

from mission_data_pipeline_spark.core.base import (
    Extractor,
    Loader,
    StageConfig,
    TelemetryBatch,
    Transformer,
)
from mission_data_pipeline_spark.core.observe import observe_rows, observed_rows
from mission_data_pipeline_spark.core.registry import registry
from mission_data_pipeline_spark.operators import (
    Calibration,
    ParameterDefinition,
    apid_filter,
    apply_calibrations,
    decommutate,
)
from mission_data_pipeline_spark.sources import read_csv_telemetry, read_packets


def _expand(path: str | list[str]) -> list[str]:
    paths: list[str] = []
    for p in [path] if isinstance(path, str) else list(path):
        paths.extend(sorted(glob(p)) if any(c in p for c in "*?[") else [p])
    return paths


def _chunk(items: list[str], n: int | None) -> Iterator[list[str]]:
    if not n or n <= 0 or n >= len(items):
        yield items
        return
    for i in range(0, len(items), n):
        yield items[i : i + n]


# -- extractors ---------------------------------------------------------


class BinaryExtractorConfig(StageConfig):
    path: str | list[str]
    apid_filter: list[int] | None = None
    sec_hdr_length: int = 0
    frame_sync: bool = False
    source_id: str | None = None
    ground_receipt_time: float | None = None
    split_size: int = 128 * 1024 * 1024
    files_per_batch: int | None = None


@registry.extractor("binary_packets")
class BinaryPacketExtractor(Extractor):
    """S1: parallel CCSDS binary scan (reference ``binary.py:58-136``)."""

    config_model = BinaryExtractorConfig

    def extract(self, spark: SparkSession) -> Iterator[TelemetryBatch]:
        cfg: BinaryExtractorConfig = self.config  # type: ignore[assignment]
        files = _expand(cfg.path)
        for group in _chunk(files, cfg.files_per_batch):
            packets = read_packets(
                spark,
                group,
                apid_filter=cfg.apid_filter,
                sec_hdr_length=cfg.sec_hdr_length,
                frame_sync=cfg.frame_sync,
                source_id=cfg.source_id,
                ground_receipt_time=cfg.ground_receipt_time,
                split_size=cfg.split_size,
            )
            yield TelemetryBatch(packets=packets, metadata={"files": group})


class CsvExtractorConfig(StageConfig):
    path: str | list[str]
    time_column: str = "time"
    apid_column: str = "apid"
    seq_count_column: str = "seq_count"
    parameter_columns: list[str] | None = None
    delimiter: str = ","
    source_id: str | None = None
    files_per_batch: int | None = None


@registry.extractor("csv_telemetry")
class CsvTelemetryExtractor(Extractor):
    """S2: wide CSV → tidy long melt (reference ``csv.py:42-98``)."""

    config_model = CsvExtractorConfig

    def extract(self, spark: SparkSession) -> Iterator[TelemetryBatch]:
        cfg: CsvExtractorConfig = self.config  # type: ignore[assignment]
        files = _expand(cfg.path)
        for group in _chunk(files, cfg.files_per_batch):
            for f in group:
                params = read_csv_telemetry(
                    spark,
                    f,
                    time_column=cfg.time_column,
                    apid_column=cfg.apid_column,
                    seq_count_column=cfg.seq_count_column,
                    parameter_columns=cfg.parameter_columns,
                    delimiter=cfg.delimiter,
                    source_id=cfg.source_id,
                )
                yield TelemetryBatch(params=params, metadata={"files": [f]})


# -- transformers -------------------------------------------------------


class ParameterDefModel(BaseModel):
    model_config = {"frozen": True}
    name: str
    apid: int
    byte_offset: int
    bit_length: int
    param_type: str = "uint"
    unit: str | None = None
    little_endian: bool = False
    description: str | None = None


class DecomConfig(StageConfig):
    parameters: list[ParameterDefModel]
    skip_unknown_apids: bool = True


@registry.transformer("decom")
class DecomTransformer(Transformer):
    """T1–T7: binary projection to tidy parameters (``decom.py:55-124``)."""

    config_model = DecomConfig

    def transform(self, batch: TelemetryBatch) -> TelemetryBatch:
        cfg: DecomConfig = self.config  # type: ignore[assignment]
        if batch.packets is None:
            raise ValueError("decom requires a packets DataFrame")
        defs = [ParameterDefinition(**p.model_dump()) for p in cfg.parameters]
        params = decommutate(
            batch.packets, defs, skip_unknown_apids=cfg.skip_unknown_apids
        )
        merged = (
            params
            if batch.params is None
            else batch.params.unionByName(params, allowMissingColumns=True)
        )
        return TelemetryBatch(batch.packets, merged, batch.metadata)


class CalibrationEntryModel(BaseModel):
    model_config = {"frozen": True}
    parameter: str
    method: str = "identity"
    coefficients: list[float] = []
    table_raw: list[float] = []
    table_eng: list[float] = []
    unit: str | None = None


class CalibrationConfig(StageConfig):
    calibrations: list[CalibrationEntryModel]
    # accepted for reference parity but intentionally inert — the
    # reference declares it and never reads it (``calibration.py:72``)
    mark_uncalibrated_invalid: bool = False


@registry.transformer("calibration")
class CalibrationTransformer(Transformer):
    """T9–T12: broadcast-join calibration pass (``calibration.py:75-119``)."""

    config_model = CalibrationConfig

    def transform(self, batch: TelemetryBatch) -> TelemetryBatch:
        cfg: CalibrationConfig = self.config  # type: ignore[assignment]
        if batch.params is None:
            raise ValueError("calibration requires a params DataFrame")
        cals = [
            Calibration(
                parameter=c.parameter,
                method=c.method,
                coefficients=tuple(c.coefficients),
                table_raw=tuple(c.table_raw),
                table_eng=tuple(c.table_eng),
                unit=c.unit,
            )
            for c in cfg.calibrations
        ]
        return TelemetryBatch(
            batch.packets, apply_calibrations(batch.params, cals), batch.metadata
        )


class ApidFilterConfig(StageConfig):
    include: list[int] | None = None
    exclude: list[int] | None = None

    def model_post_init(self, __ctx: Any) -> None:
        if self.include and self.exclude:
            raise ValueError("apid_filter: set include OR exclude, not both")


@registry.transformer("apid_filter")
class ApidFilterTransformer(Transformer):
    """T8: APID whitelist/blacklist on packets (``filter.py:27-46``).

    Like the reference, only ``packets`` is filtered — already-extracted
    parameters pass through untouched (``filter.py:44-45``)."""

    config_model = ApidFilterConfig

    def transform(self, batch: TelemetryBatch) -> TelemetryBatch:
        cfg: ApidFilterConfig = self.config  # type: ignore[assignment]
        pk = batch.packets
        if pk is not None:
            pk = apid_filter(pk, include=cfg.include, exclude=cfg.exclude)
        return TelemetryBatch(pk, batch.params, batch.metadata)


# -- loaders ------------------------------------------------------------


class ParquetLoaderConfig(StageConfig):
    output_dir: str
    layout: str = "per_parameter"  # per_parameter | wide
    partition_by_apid: bool = False
    compression: str = "snappy"
    overwrite: bool = True


@registry.loader("parquet")
class ParquetLoader(Loader):
    """L1–L4 (``parquet.py:50-78``); append is native, not rewrite."""

    config_model = ParquetLoaderConfig

    def __init__(self, config=None) -> None:
        super().__init__(config)
        self._batches_seen = 0

    def load(self, batch: TelemetryBatch) -> int:
        from mission_data_pipeline_spark.sinks import (
            write_parquet_per_parameter,
            write_parquet_wide,
        )

        cfg: ParquetLoaderConfig = self.config  # type: ignore[assignment]
        if batch.params is None:
            raise ValueError("parquet loader requires a params DataFrame")
        # Across batches of one run, only the first write may truncate.
        overwrite = cfg.overwrite and self._batches_seen == 0
        self._batches_seen += 1
        params, obs = observe_rows(batch.params, "parquet-loader")
        if cfg.layout == "wide":
            write_parquet_wide(
                params,
                cfg.output_dir,
                compression=cfg.compression,
                overwrite=overwrite,
            )
        else:
            write_parquet_per_parameter(
                params,
                cfg.output_dir,
                compression=cfg.compression,
                partition_by_apid=cfg.partition_by_apid,
                overwrite=overwrite,
            )
        return observed_rows(params, obs)


class CsvLoaderConfig(StageConfig):
    output_dir: str
    layout: str = "per_parameter"  # per_parameter | wide
    overwrite: bool = True
    float_digits: int = 9


@registry.loader("csv")
class CsvLoader(Loader):
    """L6/L7 (``csv.py:41-68``)."""

    config_model = CsvLoaderConfig

    def __init__(self, config=None) -> None:
        super().__init__(config)
        self._batches_seen = 0

    def load(self, batch: TelemetryBatch) -> int:
        from mission_data_pipeline_spark.sinks import (
            write_csv_per_parameter,
            write_csv_wide,
        )

        cfg: CsvLoaderConfig = self.config  # type: ignore[assignment]
        if batch.params is None:
            raise ValueError("csv loader requires a params DataFrame")
        overwrite = cfg.overwrite and self._batches_seen == 0
        self._batches_seen += 1
        params, obs = observe_rows(batch.params, "csv-loader")
        writer = write_csv_wide if cfg.layout == "wide" else write_csv_per_parameter
        writer(
            params,
            cfg.output_dir,
            overwrite=overwrite,
            float_digits=cfg.float_digits,
        )
        return observed_rows(params, obs)


class Hdf5LoaderConfig(StageConfig):
    output_path: str
    overwrite: bool = False


@registry.loader("hdf5")
class Hdf5Loader(Loader):
    """L5: driver-side HDF5 export (``hdf5.py:50-134``)."""

    config_model = Hdf5LoaderConfig

    def __init__(self, config=None) -> None:
        super().__init__(config)
        self._batches_seen = 0

    def load(self, batch: TelemetryBatch) -> int:
        from mission_data_pipeline_spark.sinks import write_hdf5

        cfg: Hdf5LoaderConfig = self.config  # type: ignore[assignment]
        if batch.params is None:
            raise ValueError("hdf5 loader requires a params DataFrame")
        mode = "w" if (cfg.overwrite and self._batches_seen == 0) else "a"
        self._batches_seen += 1
        return write_hdf5(batch.params, cfg.output_path, mode=mode)
