"""The job-group harvest (``observability/jobs.py``): what Spark executed
for one job group, read from the driver's status store, and its one
place in the package."""

import ast
from pathlib import Path

import pytest

import mission_data_pipeline_spark
from mission_data_pipeline_spark.core.pipeline import Pipeline, PipelineConfig
from mission_data_pipeline_spark.models.ccsds import generate_housekeeping_stream
from mission_data_pipeline_spark.observability import harvest_job_group
from mission_data_pipeline_spark.observability.jobs import HARVEST_FIELDS
from mission_data_pipeline_spark.stages import (
    BinaryPacketExtractor,
    DecomTransformer,
    ParquetLoader,
)

PKG = Path(mission_data_pipeline_spark.__file__).parent
OBSERVABILITY = PKG / "observability"


def _run_in_group(spark, group, action):
    sc = spark.sparkContext
    sc.setJobGroup(group, group, False)
    try:
        action()
    finally:
        sc.setJobGroup(None, None)


def test_pipeline_harvests_each_batch_group(spark, tmp_path):
    paths = []
    for i in range(2):
        p = tmp_path / f"hk{i}.bin"
        p.write_bytes(generate_housekeeping_stream(100))
        paths.append(str(p))
    pipe = Pipeline(
        PipelineConfig(name="harvest2b"),
        extractor=BinaryPacketExtractor(
            {"path": paths, "sec_hdr_length": 4, "files_per_batch": 1}
        ),
        transformers=[
            DecomTransformer(
                {"parameters": [
                    {"name": "obc_temp", "apid": 0x100, "byte_offset": 0,
                     "bit_length": 16}
                ]}
            )
        ],
        loader=ParquetLoader({"output_dir": str(tmp_path / "out")}),
    )
    assert pipe.run(spark).ok
    snap = pipe.metrics.snapshot()
    groups = snap["job_groups"]
    assert sorted(groups) == ["mdps:harvest2b:batch1", "mdps:harvest2b:batch2"]
    for h in groups.values():
        assert h["jobs"] == 1
        assert h["tasks"] >= 1
        assert h["failed_tasks"] == 0
        assert h["executor_run_s"] > 0
    assert snap["executed"]["jobs"] == 2
    assert snap["total_packets"] == 200
    job_s = snap["executed"]["job_s"]
    assert snap["rows_per_s"] == pytest.approx(200 / job_s, rel=1e-3)
    # plan build is reported as such, never as a rate
    assert snap["stages"]["DecomTransformer"]["build_s"] > 0
    assert snap["stages"]["ParquetLoader"]["load_s"] > 0


def _decom_to_parquet(name, path, out):
    return Pipeline(
        PipelineConfig(name=name),
        extractor=BinaryPacketExtractor({"path": path, "sec_hdr_length": 4}),
        transformers=[
            DecomTransformer(
                {"parameters": [
                    {"name": "obc_temp", "apid": 0x100, "byte_offset": 0,
                     "bit_length": 16}
                ]}
            )
        ],
        loader=ParquetLoader({"output_dir": out}),
    )


def test_rerun_overwrites_and_counts_each_run_alone(spark, tmp_path):
    """Each run of one Pipeline replaces the loader's target (the first
    write of a RUN truncates), reads its own job once, the loader's
    records_in is the params side it writes, and the metrics snapshot
    describes that run alone."""
    path = tmp_path / "hk.bin"
    path.write_bytes(generate_housekeeping_stream(1000))
    out = str(tmp_path / "out")
    pipe = _decom_to_parquet("rerun", str(path), out)
    for _ in range(3):
        r = pipe.run(spark)
        assert r.ok, r.errors
        assert spark.read.parquet(out).count() == 1000
        (load,) = [s for s in r.stage_results if s.stage_name == "ParquetLoader"]
        assert (load.records_in, load.records_out) == (1000, 1000)
        snap = pipe.metrics.snapshot()
        assert snap["executed"]["jobs"] == 1
        assert (snap["batches_processed"], snap["total_packets"]) == (1, 1000)


def test_fresh_pipelines_sharing_a_name_harvest_their_own_jobs(spark, tmp_path):
    path = tmp_path / "hk.bin"
    path.write_bytes(generate_housekeeping_stream(100))
    for i in range(3):
        pipe = _decom_to_parquet("same", str(path), str(tmp_path / f"out{i}"))
        assert pipe.run(spark).ok
        assert pipe.metrics.snapshot()["executed"]["jobs"] == 1
    assert not spark.sparkContext.getJobTags()


def test_repartition_group_reads_what_it_wrote(spark):
    group = "harvest:repartition"
    _run_in_group(
        spark,
        group,
        lambda: spark.range(2000).repartition(3).write.mode("overwrite")
        .format("noop").save(),
    )
    h = harvest_job_group(spark, group)
    assert h["jobs"] >= 1
    assert h["stages"] >= 2  # map side and reduce side
    assert h["shuffle_write_bytes"] > 0
    assert h["shuffle_read_bytes"] == h["shuffle_write_bytes"]
    assert h["retried_stages"] == 0


def test_harvest_starts_no_job_and_empty_group_reads_zeros(spark):
    group = "harvest:count"
    _run_in_group(spark, group, lambda: spark.range(100).count())
    tracker = spark.sparkContext.statusTracker()

    def job_ids():
        return sorted(tracker.getJobIdsForGroup()) + sorted(
            tracker.getJobIdsForGroup(group)
        )

    before = job_ids()
    h = harvest_job_group(spark, group)
    assert job_ids() == before
    assert h["jobs"] >= 1
    assert harvest_job_group(spark, "harvest:never-ran") == dict.fromkeys(
        HARVEST_FIELDS, 0
    )


def test_only_observability_reads_the_status_store():
    """Source-scan guard: in the package, the status store and tracker
    are read only under ``observability/``, so the harvest has one
    implementation (``bench.py``, ``scripts/`` and ``examples/`` may
    call them; the benchmark's ``perfbench/`` keeps its own copy)."""
    names = {"statusStore", "getJobIdsForGroup", "statusTracker"}
    bad = []
    for path in sorted(PKG.rglob("*.py")):
        if path.is_relative_to(OBSERVABILITY):
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            name = (
                node.attr if isinstance(node, ast.Attribute)
                else node.id if isinstance(node, ast.Name)
                else node.value if isinstance(node, ast.Constant)
                else None
            )
            if name in names:
                bad.append(f"{path.relative_to(PKG)}:{node.lineno} {name}")
    assert not bad, f"status store read outside observability/: {bad}"
