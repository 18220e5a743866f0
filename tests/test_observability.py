"""Observability tests (reference ``tests/test_observability.py``)."""

import json
import logging

import pytest

from mission_data_pipeline_spark.observability import (
    HookManager,
    PipelineMetrics,
    configure_logging,
)
from mission_data_pipeline_spark.observability.hooks import EventHook
from mission_data_pipeline_spark.observability.jobs import HARVEST_FIELDS


def test_metrics_counters_and_derived():
    """Counters sum per stage; a transformer's time is plan build
    (``build_s``) and a loader's is its action (``load_s``), neither
    divided into rows. The run's ``rows_per_s`` is the packets over the
    executed job time of the recorded job groups."""
    m = PipelineMetrics()
    m.record_batch(100)
    m.record_batch(50)
    m.record_stage("decom", build_s=2.0, records_in=150, records_out=300)
    m.record_stage("decom", build_s=2.0, records_in=150, records_out=300)
    m.record_stage("load", load_s=1.0, records_in=300, records_out=300)
    zero = dict.fromkeys(HARVEST_FIELDS, 0)
    m.record_jobs("g:batch1", {**zero, "jobs": 1, "tasks": 4, "job_s": 1.0})
    m.record_jobs("g:batch2", {**zero, "jobs": 1, "tasks": 2, "job_s": 2.0})
    snap = m.snapshot()
    assert snap["batches_processed"] == 2
    assert snap["total_packets"] == 150
    d = snap["stages"]["decom"]
    assert d["invocations"] == 2
    assert (d["build_s"], d["load_s"]) == (4.0, 0.0)
    assert "throughput_rps" not in d
    assert snap["stages"]["load"]["load_s"] == 1.0
    assert snap["executed"]["jobs"] == 2
    assert snap["executed"]["tasks"] == 6
    assert snap["job_groups"]["g:batch2"]["job_s"] == 2.0
    assert snap["rows_per_s"] == 50.0  # 150 packets / 3 s of jobs
    json.dumps(snap)  # the "pipeline complete" log record carries it


def test_metrics_zero_division():
    """No recorded job time: ``rows_per_s`` reads 0.0, not an error,
    with and without packets or (zero-time) job groups."""
    m = PipelineMetrics()
    assert m.stage("empty").build_s == 0.0
    assert m.snapshot()["rows_per_s"] == 0.0
    m.record_batch(10)
    m.record_jobs("g:batch1", dict.fromkeys(HARVEST_FIELDS, 0))
    snap = m.snapshot()
    assert snap["rows_per_s"] == 0.0
    assert snap["executed"] == dict.fromkeys(HARVEST_FIELDS, 0)


def test_metrics_error_count():
    m = PipelineMetrics()
    m.record_stage("cal", build_s=0.1, error=True)
    assert m.snapshot()["stages"]["cal"]["errors"] == 1


def test_hook_fire_and_unregister():
    h = EventHook("x")
    seen = []
    f = h.register(lambda **kw: seen.append(kw["v"]))
    h.fire(v=1)
    h.unregister(f)
    h.fire(v=2)
    assert seen == [1]


def test_hook_swallows_handler_errors():
    h = EventHook("x")
    seen = []

    def bad(**kw):
        raise RuntimeError("handler broke")

    h.register(bad)
    h.register(lambda **kw: seen.append(True))
    h.fire()  # must not raise
    assert seen == [True]


def test_manager_builtins():
    hm = HookManager()
    assert "pipeline.start" in hm.events()
    assert "stage.error" in hm.events()
    seen = []
    hm.on("batch.loaded")(lambda **kw: seen.append(kw))
    hm.fire("batch.loaded", records=5)
    assert seen == [{"records": 5}]


def test_logging_fmt_honored(capsys):
    log = configure_logging(level="INFO", fmt="json")
    log.info("hello", extra={"ctx_run": "r1"})
    err = capsys.readouterr().err.strip().splitlines()[-1]
    payload = json.loads(err)
    assert payload["event"] == "hello"
    assert payload["run"] == "r1"
    # console mode: not JSON
    log = configure_logging(level="INFO", fmt="console")
    log.info("world")
    err = capsys.readouterr().err
    assert "world" in err
    with pytest.raises(ValueError):
        configure_logging(fmt="yaml")
    logging.getLogger("mission_data_pipeline_spark").handlers.clear()
