"""bench.py tripwire: a per-query regression is flagged only against a
baseline taken on the same core count."""

import json
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

import bench  # noqa: E402


def _run(cpus):
    return {
        "sf": "0.1",
        "layout": {"mode": "driver-raw"},
        "cpus": cpus,
        "queries_noop": {"q1_pricing_summary": 3.0},
    }


def test_regressions_match_baseline_on_cpus(tmp_path, monkeypatch):
    baseline = _run(4)
    baseline["queries_noop"] = {"q1_pricing_summary": 1.0}
    (tmp_path / "BENCH_FULL_sf0.1.json").write_text(json.dumps(baseline))
    monkeypatch.setattr(bench, "__file__", str(tmp_path / "bench.py"))

    flags = bench._regressions(_run(4))
    assert [f["query"] for f in flags] == ["q1_pricing_summary"]
    assert flags[0]["baseline_file"] == "BENCH_FULL_sf0.1.json"
    assert bench._regressions(_run(8)) == []

    del baseline["cpus"]  # runs recorded before cpus was stamped
    (tmp_path / "BENCH_FULL_sf0.1.json").write_text(json.dumps(baseline))
    assert bench._regressions(_run(4)) == []
