"""Benchmark self-tests: seeded inputs are reproducible and the runner
prints every metric BENCHMARK.json names, with its unit.

    python3 -m pytest perfbench/tests -q
"""

import hashlib
import json
import os
import subprocess
import sys

import pytest

from perfbench import inputs

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _sha(path: str) -> str:
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def _points(data_dir: str):
    from gdal_spark.pages import points_oracle_sql

    con = inputs.duckdb_con(data_dir)
    try:
        return con.execute(
            f"select doc_id, lon, lat from ({points_oracle_sql('documents')})"
            " p order by doc_id").fetchall()
    finally:
        con.close()


def test_same_seed_same_bytes_and_outputs(tmp_path):
    a = inputs.write_documents(str(tmp_path / "a"), 7, 1)
    b = inputs.write_documents(str(tmp_path / "b"), 7, 1)
    assert _sha(os.path.join(a, "documents.parquet")) == \
        _sha(os.path.join(b, "documents.parquet"))
    assert _points(a) == _points(b)


def test_other_seed_moves_coordinates(tmp_path):
    a = _points(inputs.write_documents(str(tmp_path / "a"), 7, 1))
    b = _points(inputs.write_documents(str(tmp_path / "b"), 8, 1))
    assert len(a) > 1000 and len(b) > 1000
    assert {(lon, lat) for _, lon, lat in a}.isdisjoint(
        {(lon, lat) for _, lon, lat in b})


def test_doc_ids_fit_the_synth_hash_and_timestamps():
    # the largest doc_id any seed produces, at up to 64 repeats of the
    # pool, keeps doc_id * 2654435761 < 2^63 and the page timestamp
    # 1735689600 + doc_id * 7 seconds inside nanosecond range
    biggest = inputs.id_base(inputs.SEED_FOLD - 1) + inputs.POOL_ROWS * 64
    assert biggest * 2654435761 < 2 ** 63
    assert (1735689600 + biggest * 7) * 10 ** 9 < 2 ** 63
    assert inputs.id_base(-1) == inputs.id_base(inputs.SEED_FOLD - 1)


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        return json.load(f)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload",
                         ["zonal_pages", "knn_hotspot", "tile_commit"])
def test_tiny_smoke_run_prints_every_metric(workload, trace):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "5", "--seconds", "1", "--trace", str(trace),
         "--repeat", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    spec = _spec()["per_layer" if trace else "end_to_end"]
    want = {m["name"]: m["unit"] for m in spec}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want
    for k, v in result["metrics"].items():
        assert isinstance(v["value"], (int, float)), k
