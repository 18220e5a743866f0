"""scripts/merge_bench.py contract (ADVICE r09): the merged anchor
must take the UNION of query keys across windows (a query added
between anchor windows must not silently vanish) and warn when a query
is missing from some window (thinner sample), while still taking the
per-query minimum and recomputing totals. Also the per-stage shuffle
byte rule behind bench.py's ``shuffle_bytes``."""

import json
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def _window(queries, noop, ext, **extra):
    return {
        "sf": 10,
        "layout": {"mode": "driver-raw"},
        "queries": queries,
        "queries_noop": noop,
        "extended_queries": ext,
        "etl_rows_per_sec": extra.pop("etl", 100),
        "samples_per_query": 3,
        "value_noop": sum(noop.values()),
        **extra,
    }


def test_merge_unions_keys_and_takes_min(tmp_path):
    w1 = _window({"a": 1.0, "b": 2.0}, {"a": 1.5}, {"x": 3.0})
    w2 = _window(
        {"a": 0.9, "b": 2.5, "c": 4.0}, {"a": 1.4}, {"x": 2.8, "y": 1.0},
        etl=120,
    )
    for n, w in (("w1", w1), ("w2", w2)):
        (tmp_path / f"{n}.json").write_text(json.dumps(w))
    proc = subprocess.run(
        [sys.executable, str(ROOT / "scripts" / "merge_bench.py"),
         str(tmp_path / "w1.json"), str(tmp_path / "w2.json")],
        capture_output=True, text=True,
    )
    assert proc.returncode == 0, proc.stderr
    out = json.loads(proc.stdout)
    # union of keys, per-query min
    assert out["queries"] == {"a": 0.9, "b": 2.0, "c": 4.0}
    assert out["extended_queries"] == {"x": 2.8, "y": 1.0}
    # thinner-sample queries warned, once each
    assert "WARNING queries/c" in proc.stderr
    assert "WARNING extended_queries/y" in proc.stderr
    # totals recomputed from the merged entries; provenance stamped
    assert out["value"] == round(0.9 + 2.0 + 4.0, 3)
    assert out["extended_total"] == round(2.8 + 1.0, 3)
    assert out["anchor"]["windows"] == 2
    assert "regressions" not in out


def test_merge_rejects_mixed_sf(tmp_path):
    w1 = _window({"a": 1.0}, {"a": 1.0}, {})
    w2 = dict(_window({"a": 1.0}, {"a": 1.0}, {}), sf=0.1)
    for n, w in (("w1", w1), ("w2", w2)):
        (tmp_path / f"{n}.json").write_text(json.dumps(w))
    proc = subprocess.run(
        [sys.executable, str(ROOT / "scripts" / "merge_bench.py"),
         str(tmp_path / "w1.json"), str(tmp_path / "w2.json")],
        capture_output=True, text=True,
    )
    assert proc.returncode != 0
    assert "sf mismatch" in proc.stderr


def test_bench_stage_retry_bytes_one_contribution_per_stage():
    """ADVICE r12 + r13: a retried stage must contribute ONE value per
    stageId (not the sum across attempts — inflation), and that value
    is the per-stage MAX across attempts (not the latest — a retry
    re-runs only the lost tasks, so the latest attempt's task-summed
    bytes can under-count the stage). bench.py's shuffle_bytes come
    from the package harvest, which applies this rule."""
    from mission_data_pipeline_spark.observability.jobs import (
        max_attempt_shuffle_bytes,
    )

    stages = {
        (7, 0): (100, 50),   # full first attempt of stage 7
        (7, 1): (20, 10),    # partial retry — max keeps attempt 0
        (8, 0): (10, 5),
        (9, 0): (999, 999),  # not in the job group
    }
    got = max_attempt_shuffle_bytes(stages, {7, 8})
    assert got == {"read": 110, "write": 55}
    # a retry that genuinely did MORE work than the original wins
    got2 = max_attempt_shuffle_bytes(
        {(7, 0): (100, 50), (7, 1): (120, 60)}, {7}
    )
    assert got2 == {"read": 120, "write": 60}
    # a group with no jobs has no stages: zeros, no exception
    assert max_attempt_shuffle_bytes({}, set()) == {"read": 0, "write": 0}
