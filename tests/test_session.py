"""get_spark defaults: the master a session without one gets, the
driver conf its JVM starts with, and scan splits of a small file by
cores."""

from __future__ import annotations

import os
import shutil
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark import SparkContext

from gdal_spark.session import _default_master

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _child_env(**extra):
    """This environment for a child Python that imports the repo, minus
    any JVM gateway this process was handed."""
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("PYSPARK_GATEWAY_")}
    env.update(extra, PYSPARK_PYTHON=sys.executable,
               PYSPARK_DRIVER_PYTHON=sys.executable,
               PYTHONPATH=os.pathsep.join(
                   p for p in (REPO, os.environ.get("PYTHONPATH")) if p))
    return env


def test_default_master_starts_no_jvm_without_a_launcher(monkeypatch):
    """Outside spark-submit the fallback is local[cpus], decided without
    touching a JVM (one started here would lack the builder's conf)."""
    monkeypatch.delenv("PYSPARK_GATEWAY_PORT", raising=False)

    def started(*a, **k):
        raise AssertionError("a JVM was started to read the master")

    monkeypatch.setattr(SparkContext, "_ensure_initialized", started)
    assert _default_master(3) == "local[3]"


PLAIN = r"""
from gdal_spark.session import get_spark
spark = get_spark("plain")
rt = spark.sparkContext._jvm.java.lang.Runtime.getRuntime()
print("HEAP", rt.maxMemory(), spark.sparkContext.master)
spark.stop()
"""


def test_plain_python_session_gets_the_driver_memory(tmp_path):
    """`python script.py` calling get_spark() with no master starts its
    driver JVM with the builder's conf: the heap is
    SPARK_GRAFT_DRIVER_MEM (2g), not Spark's 1g default, and the master
    is local[SPARK_GRAFT_CPUS]."""
    script = tmp_path / "plain.py"
    script.write_text(PLAIN)
    out = subprocess.run(
        [sys.executable, str(script)], cwd=REPO, capture_output=True,
        text=True, timeout=300,
        env=_child_env(SPARK_GRAFT_CPUS="1", SPARK_GRAFT_DRIVER_MEM="2g"))
    line = [x.split() for x in out.stdout.splitlines()
            if x.startswith("HEAP")]
    assert len(line) == 1, out.stderr[-2000:]
    _, heap, master = line[0]
    assert int(heap) > 1.5 * 2**30 and master == "local[1]", line


SUBMITTED = r"""
from gdal_spark.session import get_spark
spark = get_spark("submitted")
print("MASTER", spark.sparkContext.master,
      spark.conf.get("spark.python.daemon.module"))
spark.stop()
"""


def test_spark_submit_master_reaches_the_session(tmp_path):
    """`spark-submit --master local[1]` of a script calling get_spark()
    runs on local[1], not on local[SPARK_GRAFT_CPUS], and keeps the
    engine's worker daemon for that local master."""
    home = os.environ.get("SPARK_HOME")
    submit = shutil.which("spark-submit") or (
        home and os.path.join(home, "bin", "spark-submit"))
    if not submit or not os.path.exists(submit):
        pytest.skip("no spark-submit")
    script = tmp_path / "submitted.py"
    script.write_text(SUBMITTED)
    env = _child_env(SPARK_GRAFT_CPUS="2")
    out = subprocess.run(
        [submit, "--master", "local[1]", "--driver-memory", "512m",
         str(script)], cwd=REPO, env=env, capture_output=True, text=True,
        timeout=300)
    line = [x for x in out.stdout.splitlines() if x.startswith("MASTER")]
    assert line == ["MASTER local[1] gdal_spark.pydaemon"], out.stderr[-2000:]


def test_small_scan_splits_by_cores(spark, tmp_path):
    """A ~7 MB parquet in 3 row groups scans as ≥ 3 non-empty tasks under
    the get_spark defaults (a 4 MB open cost gives 2)."""
    if spark.sparkContext.defaultParallelism < 3:
        pytest.skip("fewer than 3 cores")
    n = 288_000
    rng = np.random.default_rng(7)
    path = str(tmp_path / "small.parquet")
    pq.write_table(pa.table({c: rng.integers(0, 1 << 62, n)
                             for c in ("a", "b", "c")}),
                   path, row_group_size=n // 3, compression="none",
                   use_dictionary=False)
    assert 6e6 < os.path.getsize(path) < 8e6
    assert pq.ParquetFile(path).num_row_groups == 3
    rows = spark.read.parquet(path).rdd \
        .mapPartitions(lambda it: [sum(1 for _ in it)]).collect()
    assert sum(rows) == n and sum(1 for r in rows if r) >= 3, rows
