"""R3 record accounting: exact per-stage counts from ONE job/batch.

The scale contract (VERDICT r05 #1): per-stage ``records_in/out`` come
from ``df.observe(count(*))`` harvested after the batch's single action;
a side no action read is backfilled with one ``count()``. This is the
only accounting mode: configs that still set the removed
``count_records`` / ``count_method`` / ``observe_timeout_s`` /
``observe_dead_branch`` keys fail validation. Reference semantics
matched: ``src/mdp/observability/metrics.py:60-77`` (record_stage fed
with real counts).
"""

from collections.abc import Iterator

import pytest
from pydantic import ValidationError
from pyspark.sql import functions as F

from mission_data_pipeline_spark.core import (
    Extractor,
    Loader,
    Pipeline,
    TelemetryBatch,
    Transformer,
)
from mission_data_pipeline_spark.core.base import StageConfig


class RangeExtractor(Extractor):
    def __init__(self, n_batches=2, rows=10):
        super().__init__(StageConfig())
        self._n, self._rows = n_batches, rows

    def extract(self, spark) -> Iterator[TelemetryBatch]:
        for b in range(self._n):
            df = spark.range(self._rows).select(
                F.lit("p").alias("name"),
                (F.col("id") + b * self._rows).cast("double").alias("raw_value"),
            )
            yield TelemetryBatch(params=df, metadata={"batch": b})


class HalvingFilter(Transformer):
    def transform(self, batch):
        return TelemetryBatch(
            batch.packets,
            batch.params.filter(F.col("raw_value") % 2 == 0),
            batch.metadata,
        )


class DoublingTransformer(Transformer):
    def transform(self, batch):
        return TelemetryBatch(
            batch.packets,
            batch.params.withColumn("raw_value", F.col("raw_value") * 2),
            batch.metadata,
        )


class NoopLoader(Loader):
    """Single write action, no driver materialization, no row count."""

    def __init__(self):
        super().__init__(StageConfig())

    def load(self, batch):
        batch.params.write.format("noop").mode("overwrite").save()
        return None  # rows-written unknown → backfilled from observation


def test_observe_mode_counts_and_single_job(spark):
    p = Pipeline(
        {"name": "obsjob"},
        extractor=RangeExtractor(n_batches=2, rows=10),
        transformers=[HalvingFilter(), DoublingTransformer()],
        loader=NoopLoader(),
    )
    r = p.run(spark)
    assert r.ok

    # exact per-stage accounting, harvested from CollectMetrics
    per_batch = len(r.stage_results) // 2
    for b in range(2):
        halv, doub, load = r.stage_results[b * per_batch : (b + 1) * per_batch]
        assert (halv.records_in, halv.records_out) == (10, 5)
        assert (doub.records_in, doub.records_out) == (5, 5)
        assert (load.records_in, load.records_out) == (5, 5)
    assert r.total_packets == 20
    snap = p.metrics.snapshot()
    assert snap["total_packets"] == 20
    assert snap["stages"]["HalvingFilter"]["records_in"] == 20
    assert snap["stages"]["HalvingFilter"]["records_out"] == 10
    assert snap["stages"]["NoopLoader"]["records_out"] == 10

    # THE scale assertion: one Spark job per batch (observe mode never
    # forces extra actions; legacy count mode would run 4 jobs/batch here)
    tracker = spark.sparkContext.statusTracker()
    for b in (1, 2):
        jobs = tracker.getJobIdsForGroup(f"mdps:obsjob:batch{b}")
        assert len(jobs) == 1, f"batch {b}: expected exactly 1 job, got {jobs}"


def test_count_mode_still_exact_but_multi_job(spark):
    """The eager ``count_method="count"`` mode is gone: the key fails
    validation, and the one mode gives the same exact counts from a
    single job."""
    stages = dict(
        extractor=RangeExtractor(n_batches=1, rows=10),
        transformers=[HalvingFilter()],
        loader=NoopLoader(),
    )
    with pytest.raises(ValidationError, match="count_method"):
        Pipeline({"name": "cntjob", "count_method": "count"}, **stages)
    r = Pipeline({"name": "cntjob"}, **stages).run(spark)
    assert r.ok
    halv = next(s for s in r.stage_results if s.stage_name == "HalvingFilter")
    assert (halv.records_in, halv.records_out) == (10, 5)
    jobs = spark.sparkContext.statusTracker().getJobIdsForGroup("mdps:cntjob:batch1")
    assert len(jobs) == 1


class _TwoSidedExtractor(Extractor):
    def __init__(self):
        super().__init__(StageConfig())

    def extract(self, s) -> Iterator[TelemetryBatch]:
        yield TelemetryBatch(
            packets=s.range(7).selectExpr("id as apid"),
            params=s.range(3).selectExpr("'p' as name"),
        )


def test_observe_dead_branch_default_backfills_count(spark):
    """A side the action never executes is backfilled with a bounded
    count() — accounting never silently reads -1 after an action ran."""
    p = Pipeline(
        {"name": "deadfill"},
        extractor=_TwoSidedExtractor(),
        loader=NoopLoader(),  # writes params only; packets side never runs
    )
    r = p.run(spark)
    assert r.ok
    assert r.total_packets == 10  # packets(7) + params(3), exact
    load = next(s for s in r.stage_results if s.stage_name == "NoopLoader")
    assert load.records_in == 3  # the params side it writes


def test_observe_dead_branch_unknown_reads_minus_one(spark):
    """The ``observe_dead_branch="unknown"`` policy is gone: the key
    fails validation, and the dead side is always backfilled, at the
    cost of a count() job beyond the loader's write."""
    for key, value in (("observe_dead_branch", "unknown"), ("observe_timeout_s", 0.3)):
        with pytest.raises(ValidationError, match=key):
            Pipeline(
                {"name": "dead", key: value},
                extractor=_TwoSidedExtractor(),
                loader=NoopLoader(),
            )
    p = Pipeline(
        {"name": "dead"},
        extractor=_TwoSidedExtractor(),
        loader=NoopLoader(),
    )
    r = p.run(spark)
    assert r.ok
    assert r.total_packets == 10
    load = next(s for s in r.stage_results if s.stage_name == "NoopLoader")
    assert load.records_in == 3  # the params side it writes
    jobs = spark.sparkContext.statusTracker().getJobIdsForGroup("mdps:dead:batch1")
    assert len(jobs) > 1  # the write plus the backfill count


def test_observe_counts_off(spark):
    """Accounting can no longer be turned off (``count_records`` fails
    validation); it costs no job beyond the loader's write."""
    with pytest.raises(ValidationError, match="count_records"):
        Pipeline(
            {"name": "off", "count_records": False},
            extractor=RangeExtractor(n_batches=1, rows=4),
            loader=NoopLoader(),
        )
    p = Pipeline(
        {"name": "off"},
        extractor=RangeExtractor(n_batches=1, rows=4),
        loader=NoopLoader(),
    )
    r = p.run(spark)
    assert r.ok
    assert r.total_packets == 4
    jobs = spark.sparkContext.statusTracker().getJobIdsForGroup("mdps:off:batch1")
    assert len(jobs) == 1


class _PacketsExtractor(Extractor):
    def __init__(self):
        super().__init__(StageConfig())

    def extract(self, s) -> Iterator[TelemetryBatch]:
        yield TelemetryBatch(packets=s.range(10).selectExpr("id as apid"))


class _DecomLike(Transformer):
    """Derives params from packets (two samples per packet below 6) and
    passes packets through unchanged."""

    def transform(self, batch):
        params = batch.packets.filter("apid < 6").select(
            F.explode(F.array(F.lit("a"), F.lit("b"))).alias("name"),
            F.col("apid").cast("double").alias("raw_value"),
        )
        return TelemetryBatch(batch.packets, params, batch.metadata)


def test_observe_pass_through_sides_one_job_no_backfill(spark, monkeypatch):
    """Packets passed through unchanged by two transformers share the
    extractor's observation: no wrapper sits on a branch the loader's
    action skips, so every count lands from the one job and nothing is
    backfilled."""
    from mission_data_pipeline_spark.core.observe import ObservationGroup

    backfills = []
    monkeypatch.setattr(
        ObservationGroup,
        "resolve_by_counting",
        lambda self: backfills.append(self.tag),
    )
    p = Pipeline(
        {"name": "passthru"},
        extractor=_PacketsExtractor(),
        transformers=[_DecomLike(), HalvingFilter()],
        loader=NoopLoader(),
    )
    r = p.run(spark)
    assert r.ok
    decom, halv, load = r.stage_results
    # transformer counts sum both sides: packets 10, params 12 → 6; the
    # loader's are the params side it writes
    assert (decom.records_in, decom.records_out) == (10, 22)
    assert (halv.records_in, halv.records_out) == (22, 16)
    assert (load.records_in, load.records_out) == (6, 6)
    assert r.total_packets == 10
    assert backfills == []
    jobs = spark.sparkContext.statusTracker().getJobIdsForGroup("mdps:passthru:batch1")
    assert len(jobs) == 1, f"expected exactly 1 job, got {jobs}"


def _write_packet_files(root, n_files):
    import struct

    from mission_data_pipeline_spark.models.ccsds import build_packet

    paths = []
    for f in range(n_files):
        out = bytearray()
        for i in range(40):
            apid = 0x100 if i % 4 else 0x300  # decom has no 0x300 params
            user = struct.pack(">HH", 1000 + i, 2000 + f)
            out += build_packet(apid, i, user, sec_hdr=struct.pack(">I", i))
        path = root / f"tm_{f}.bin"
        path.write_bytes(bytes(out))
        paths.append(str(path))
    return paths


def _shipped_pipeline(name, paths, loader):
    from mission_data_pipeline_spark.stages import (
        BinaryPacketExtractor,
        CalibrationTransformer,
        DecomTransformer,
    )

    return Pipeline(
        {"name": name},
        extractor=BinaryPacketExtractor(
            {"path": paths, "sec_hdr_length": 4, "files_per_batch": 1}
        ),
        transformers=[
            DecomTransformer({"parameters": [
                {"name": "temp", "apid": 0x100, "byte_offset": 0, "bit_length": 16},
                {"name": "volt", "apid": 0x100, "byte_offset": 2, "bit_length": 16},
            ]}),
            CalibrationTransformer({"calibrations": [
                {"parameter": "temp", "method": "polynomial",
                 "coefficients": [-55.0, 0.05], "unit": "degC"},
            ]}),
        ],
        loader=loader,
    )


def test_shipped_stages_one_job_per_batch(spark, tmp_path):
    """Extract → decom → calibrate → parquet / CSV: one Spark job per
    batch, and the loader's records_in and records_out are the params
    rows it read and wrote (the packets side is not its input)."""
    from mission_data_pipeline_spark.stages import CsvLoader, ParquetLoader

    paths = _write_packet_files(tmp_path, 2)
    for kind, loader_cls, read in (
        ("parquet", ParquetLoader, lambda d: spark.read.parquet(d)),
        ("csv", CsvLoader, lambda d: spark.read.option("header", True).csv(d)),
    ):
        out = str(tmp_path / kind)
        name = f"shipped-{kind}"
        r = _shipped_pipeline(name, paths, loader_cls({"output_dir": out})).run(spark)
        assert r.ok, r.errors
        loads = [s for s in r.stage_results if s.stage_name == loader_cls.__name__]
        # 30 packets of APID 0x100 per file, two parameters each
        assert [s.records_out for s in loads] == [60, 60]
        assert [s.records_in for s in loads] == [60, 60]
        assert sum(s.records_out for s in loads) == read(out).count()
        tracker = spark.sparkContext.statusTracker()
        for b in (1, 2):
            jobs = tracker.getJobIdsForGroup(f"mdps:{name}:batch{b}")
            assert len(jobs) == 1, f"{kind} batch {b}: expected 1 job, got {jobs}"


def test_loader_rows_from_observation_wide_and_empty(spark, tmp_path):
    """The loaders' rows-written count comes from an observation. Spark
    drops that observation from the wide pivot's plan over an empty
    input; the loader then still reports 0 rather than failing."""
    from mission_data_pipeline_spark.models.schemas import PARAMS_SCHEMA
    from mission_data_pipeline_spark.stages import CsvLoader, ParquetLoader

    row = ("t", 0x100, 0, 0.0, 1.0, None, 1.0, None, "C", True, None, False, 0)
    full = spark.createDataFrame([row, row[:2] + (1, 1.0) + row[4:]], PARAMS_SCHEMA)
    empty = spark.createDataFrame([], PARAMS_SCHEMA)
    for cls in (ParquetLoader, CsvLoader):
        for layout in ("wide", "per_parameter"):
            for df, n in ((full, 2), (empty, 0)):
                out = str(tmp_path / f"{cls.__name__}-{layout}-{n}")
                loader = cls({"output_dir": out, "layout": layout})
                assert loader.load(TelemetryBatch(params=df)) == n, (cls, layout)
