"""bench.py's summary line, built from perfbench-shaped results (no Spark)."""

import importlib.util
import json
import pathlib

import pytest

_PATH = pathlib.Path(__file__).resolve().parents[1] / "bench.py"
_SPEC = importlib.util.spec_from_file_location("bench", _PATH)
bench = importlib.util.module_from_spec(_SPEC)
_SPEC.loader.exec_module(bench)


def _result(correct, rows_per_s, job_s):
    metrics = {"rows_per_s": rows_per_s, "job_s": job_s, "setup_s": 30.0,
               "ops_ok_share": 1.0 if correct else 0.5}
    return {"correct": correct, "attempted": 2, "failed": 0 if correct else 1,
            "metrics": {k: {"value": v, "unit": "x"}
                        for k, v in metrics.items()}}


def test_summary_line_parses_and_flags_a_failed_workload():
    results = {"zonal_pages": _result(True, 48123.456789, 1.25),
               "knn_hotspot": _result(True, 75.5, 2.0),
               "tile_commit": _result(False, 930.0, 6.5)}
    line = bench.summary_line(results)
    assert "\n" not in line and len(line) <= 2000
    out = json.loads(line)
    assert {"metric", "value", "unit"} <= out.keys()
    assert out["value"] == pytest.approx(1.25 + 2.0 + 6.5)
    assert out["correct"] is False
    assert out["pages_per_sec"] == pytest.approx(48123.4568)
    assert out["workloads"]["tile_commit"]["ops_ok_share"] == 0.5


def test_summary_line_counts_a_workload_without_output_as_failed():
    results = {"zonal_pages": _result(True, 100.0, 1.0),
               "knn_hotspot": None,
               "tile_commit": _result(True, 900.0, 6.0)}
    out = json.loads(bench.summary_line(results))
    assert out["value"] == pytest.approx(7.0)
    assert out["correct"] is False
    assert out["workloads"]["knn_hotspot"] == {}
