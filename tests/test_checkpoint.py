"""Checkpoint/resume semantics: killed-run resume, idempotence, lineage."""

from __future__ import annotations

import glob
import os
import signal
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from gdal_spark.checkpoint import (lineage, metrics, read_committed,
                                   read_parquet, run_checkpointed)
from gdal_spark.pages import points_from_documents
from gdal_spark.pipeline import geocoded_pages
from gdal_spark.raster import rasterize_points
from tests.conftest import jobs_launched


def tile_workload(spark):
    """Tile-assignment output keyed by tile id — the north-star resumable
    job (pages → tiles), small zoom so key count is modest."""
    pts = points_from_documents(spark, "/root/testdata/sf0.001")
    tiles = rasterize_points(pts, 4)
    return tiles.select(
        (F.col("tx") * 1000 + F.col("ty")).alias("tile_key"),
        "z", "tx", "ty", "data")


@pytest.fixture()
def workload(spark):
    return tile_workload(spark)


def test_resume_after_partial_run(spark, tmp_path, workload):
    root = str(tmp_path / "ckpt")
    full = {r["tile_key"] for r in workload.select("tile_key").collect()}
    cut = sorted(full)[len(full) // 2]

    # run 1 "dies" after committing only keys < cut
    r1 = run_checkpointed(workload, root, "tile_key",
                          key_filter=f"tile_key < {cut}")
    assert 0 < r1["keys_written"] < len(full)
    assert r1["snapshot"] == 1

    # files written by run 1, to prove resume does not rewrite them
    first_files = set(glob.glob(os.path.join(root, "data", "*", "*.parquet")))

    # run 2 resumes: completes exactly the remaining keys
    r2 = run_checkpointed(workload, root, "tile_key")
    assert r2["snapshot"] == 2
    assert r1["keys_written"] + r2["keys_written"] == len(full)
    assert first_files <= set(
        glob.glob(os.path.join(root, "data", "*", "*.parquet")))

    got = {r["tile_key"] for r in lineage(spark, root).collect()}
    assert got == full

    # run 3 is a no-op (idempotent re-run)
    r3 = run_checkpointed(workload, root, "tile_key")
    assert r3 == {"snapshot": 2, "keys_written": 0, "rows_written": 0}


def test_readback_and_lineage_match_source(spark, tmp_path, workload):
    root = str(tmp_path / "ckpt2")
    run_checkpointed(workload, root, "tile_key")
    back = read_committed(spark, root, "tile_key")
    assert back.count() == workload.count()
    lin = lineage(spark, root).collect()
    assert sum(r["n_rows"] for r in lin) == workload.count()
    # lineage fingerprints audit content: recompute from source
    src = {r["tile_key"]: r["f"] for r in workload.groupBy("tile_key").agg(
        F.sum(F.xxhash64("tile_key", "z", "tx", "ty", "data")).alias("f"))
        .collect()}
    for r in lin:
        assert src[r["tile_key"]] == r["fingerprint"]


def test_resumable_flagship_pipeline(spark, tmp_path):
    """North-rule shape: the geocode→cell pipeline checkpointed by cell
    prefix (coarse parent cell as the partition key)."""
    geo = geocoded_pages(spark, "/root/testdata/sf0.001").select(
        "url", "cell_id", (F.col("cell_id") % 64).alias("bucket"))
    root = str(tmp_path / "ckpt3")
    r1 = run_checkpointed(geo, root, "bucket", key_filter="bucket < 10")
    r2 = run_checkpointed(geo, root, "bucket")
    assert r1["rows_written"] + r2["rows_written"] == geo.count()
    assert read_committed(spark, root, "bucket").count() == geo.count()


def test_metrics_one_row_per_commit(spark, tmp_path, workload):
    """Every commit writes a metrics row (keys/rows written, wall time,
    throughput) readable like the lineage table; a no-op resume adds
    none."""
    from gdal_spark.checkpoint import metrics, run_checkpointed

    root = str(tmp_path / "ckpt_metrics")
    r1 = run_checkpointed(workload, root, "tile_key",
                          key_filter="tile_key % 2 = 0")
    r2 = run_checkpointed(workload, root, "tile_key")
    run_checkpointed(workload, root, "tile_key")  # no-op: all committed
    m = {r["snap"]: r for r in metrics(spark, root).collect()}
    assert set(m) == {r1["snapshot"], r2["snapshot"]}
    for res in (r1, r2):
        row = m[res["snapshot"]]
        assert row["keys_written"] == res["keys_written"]
        assert row["rows_written"] == res["rows_written"]
        assert row["wall_sec"] > 0 and row["rows_per_sec"] > 0


def test_snapshot_time_travel(spark, tmp_path, workload):
    """read_committed(snapshot=n) sees exactly the keys committed as of
    snapshot n; later commits are invisible; snapshot 0 is empty; an
    uncommitted snapshot raises."""
    import pytest

    from gdal_spark.checkpoint import read_committed, run_checkpointed

    root = str(tmp_path / "ckpt_tt")
    r1 = run_checkpointed(workload, root, "tile_key",
                          key_filter="tile_key % 2 = 0")
    r2 = run_checkpointed(workload, root, "tile_key")
    assert (r1["snapshot"], r2["snapshot"]) == (1, 2)
    even = {r["tile_key"] for r in workload.filter("tile_key % 2 = 0")
            .select("tile_key").collect()}
    v1 = {r["tile_key"] for r in
          read_committed(spark, root, "tile_key", snapshot=1)
          .select("tile_key").collect()}
    assert v1 == even
    v2 = read_committed(spark, root, "tile_key", snapshot=2).count()
    assert v2 == workload.count()
    assert read_committed(spark, root, "tile_key", snapshot=0).count() == 0
    with pytest.raises(ValueError):
        read_committed(spark, root, "tile_key", snapshot=9).count()


def test_layout_files_track_partitions_not_keys(spark, tmp_path):
    """A commit writes one file per input partition, however many keys
    it holds; read-back returns the input's columns (no partition
    column leaks in); snapshot 0 of a populated root is empty."""
    df = spark.range(0, 1000, 1, 2).select(
        (F.col("id") * 3).alias("v"), (F.col("id") % 250).alias("k"),
        F.concat(F.lit("s"), F.col("id")).alias("s"))
    root = str(tmp_path / "ckpt_layout")
    r = run_checkpointed(df, root, "k")
    assert r == {"snapshot": 1, "keys_written": 250, "rows_written": 1000}
    files = glob.glob(os.path.join(root, "data", "*", "*.parquet"))
    assert 1 <= len(files) <= 2
    back = read_committed(spark, root, "k")
    assert back.columns == df.columns
    assert sorted(back.collect()) == sorted(df.collect())
    assert read_committed(spark, root, "k", snapshot=0).count() == 0


def keyed_range(spark):
    """1,000 rows over 250 keys in 2 partitions; no shuffle of its own."""
    return spark.range(0, 1000, 1, 2).select(
        (F.col("id") * 3).alias("v"), (F.col("id") % 250).alias("k"))


def test_read_parquet_takes_the_schema_from_the_footer(spark, tmp_path):
    """read_parquet gives the schema Spark's inference gives, without its
    job: from Spark's stored row schema (a Spark-written directory) or
    the Arrow schema (a pyarrow-written file; a DuckDB one with NOT NULL
    and timestamp columns). A uint32 column, which Arrow cannot convert,
    is left to the inference."""
    import duckdb

    spark_dir = str(tmp_path / "spark_dir")
    keyed_range(spark).write.parquet(spark_dir)
    duck = str(tmp_path / "duck.parquet")
    con = duckdb.connect()
    try:
        con.execute("create table t (a bigint not null, s varchar not null,"
                    " ts timestamp, d decimal(10, 2))")
        con.execute("insert into t values (1, 'x', '2020-01-01', 1.5)")
        con.execute(f"copy t to '{duck}' (format parquet)")
        con.execute("create table u as select 7::uinteger as n")
        con.execute(f"copy u to '{tmp_path}/uint.parquet' (format parquet)")
    finally:
        con.close()
    sc = spark.sparkContext
    for path in (spark_dir, duck, "/root/testdata/sf0.01/documents.parquet"):
        df, jobs = jobs_launched(sc, "footer",
                                 lambda: read_parquet(spark, path))
        assert jobs == [] and df.schema == spark.read.parquet(path).schema
    uint = str(tmp_path / "uint.parquet")
    assert read_parquet(spark, uint).collect() == \
        spark.read.parquet(uint).collect()


def test_commit_resume_and_read_launch_few_jobs(spark, tmp_path):
    """A fresh-root commit is three Spark jobs (data write, lineage
    shuffle, manifest write); a resume adds one, the manifest broadcast
    of its anti-join; read_committed runs none before the caller's
    action, and that action is one job."""
    df = keyed_range(spark)
    root = str(tmp_path / "ckpt_jobs")
    sc = spark.sparkContext
    r1, jobs = jobs_launched(sc, "ckpt-commit", lambda: run_checkpointed(
        df, root, "k", key_filter="k % 3 = 0"))
    assert r1["keys_written"] == 84 and len(jobs) <= 3, jobs
    r2, jobs = jobs_launched(sc, "ckpt-resume",
                             lambda: run_checkpointed(df, root, "k"))
    assert r2["keys_written"] == 250 - 84 and len(jobs) <= 4, jobs
    back, jobs = jobs_launched(sc, "ckpt-read",
                               lambda: read_committed(spark, root, "k"))
    assert jobs == []
    rows, jobs = jobs_launched(sc, "ckpt-read-action", back.collect)
    assert len(jobs) == 1, jobs
    assert sorted(rows) == sorted(df.collect())


def test_metrics_count_the_parquet_files_a_commit_wrote(spark, tmp_path):
    """files_written / bytes_written of snapshot n are the parquet files
    under data/snap=n, snapshots/snap-n.parquet and metrics/snap=n,
    the metrics file itself included."""
    df = keyed_range(spark)
    root = str(tmp_path / "ckpt_bytes")
    run_checkpointed(df, root, "k", key_filter="k < 100")
    run_checkpointed(df, root, "k")
    m = {r["snap"]: r for r in metrics(spark, root).collect()}
    assert set(m) == {1, 2}
    for n, row in m.items():
        files = [os.path.join(d, f)
                 for sub in (f"data/snap={n}", f"snapshots/snap-{n}.parquet",
                             f"metrics/snap={n}")
                 for d, _, fs in os.walk(os.path.join(root, sub))
                 for f in fs if f.endswith(".parquet")]
        assert row["files_written"] == len(files) >= 3
        assert row["bytes_written"] == sum(map(os.path.getsize, files))


def test_noop_resume_writes_no_manifest(spark, tmp_path):
    """A re-run with nothing pending leaves the pointer and writes no
    manifest for the next snapshot."""
    df = keyed_range(spark)
    root = str(tmp_path / "ckpt_noop")
    run_checkpointed(df, root, "k")
    assert run_checkpointed(df, root, "k") == {
        "snapshot": 1, "keys_written": 0, "rows_written": 0}
    assert os.path.exists(os.path.join(root, "snapshots", "snap-1.parquet"))
    assert not os.path.exists(
        os.path.join(root, "snapshots", "snap-2.parquet"))


def test_null_key_rows_are_not_read_back(spark, tmp_path):
    """A NULL key never matches the resume's anti-join, so each snapshot
    rewrites its rows; the read-back keeps none of them."""
    df = spark.range(0, 40, 1, 2).select(
        F.when(F.col("id") % 10 != 0, F.col("id") % 8).alias("k"), "id")
    root = str(tmp_path / "ckpt_null")
    run_checkpointed(df, root, "k", key_filter="k < 4 or k is null")
    run_checkpointed(df, root, "k")
    got = sorted(tuple(r) for r in read_committed(spark, root, "k").collect())
    assert got == sorted(tuple(r) for r in
                         df.filter(F.col("k").isNotNull()).collect())


# Child process for the crash test: commits snapshot 1 (even tile keys),
# then dies by SIGKILL inside the commit of snapshot 2 at the named point,
# always before the `_latest` pointer flip.
CRASH_CHILD = r"""
import os, signal, sys

from pyspark.sql import DataFrameWriter

from gdal_spark.checkpoint import run_checkpointed
from gdal_spark.session import get_spark
from test_checkpoint import tile_workload

root, point = sys.argv[1], sys.argv[2]
spark = get_spark("crash_child", master="local[2]", shuffle_partitions=2)
tiles = tile_workload(spark)
run_checkpointed(tiles, root, "tile_key", key_filter="tile_key % 2 = 0")


def die():
    os.kill(os.getpid(), signal.SIGKILL)


write_parquet = DataFrameWriter.parquet


def write_then_die(self, path, *args, **kwargs):
    write_parquet(self, path, *args, **kwargs)
    if os.path.relpath(path, root).split(os.sep)[0] == point:
        die()  # after the data ("data") or manifest ("snapshots") write


replace = os.replace


def replace_or_die(src, dst):
    if os.path.basename(dst) == "_latest":
        die()  # metrics written, pointer not flipped
    replace(src, dst)


DataFrameWriter.parquet = write_then_die
if point == "metrics":
    os.replace = replace_or_die
run_checkpointed(tiles, root, "tile_key")
raise SystemExit("commit finished without reaching the crash point")
"""


@pytest.mark.parametrize("point", ["data", "snapshots", "metrics"])
def test_sigkill_before_pointer_flip_resumes_exactly_once(
        spark, tmp_path, workload, point):
    """A commit SIGKILLed after its data, manifest or metrics write (each
    before the pointer flip) leaves snapshot 1 authoritative: lineage
    and metrics show no row of the killed snapshot, and a resume plus
    read-back gives the one-shot tile set exactly once."""
    root = str(tmp_path / f"ckpt_kill_{point}")
    here = os.path.dirname(os.path.abspath(__file__))
    path = (os.path.dirname(here), here, os.environ.get("PYTHONPATH"))
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g",
               PYTHONPATH=os.pathsep.join(p for p in path if p))
    child = subprocess.run([sys.executable, "-c", CRASH_CHILD, root, point],
                           env=env, capture_output=True, text=True,
                           timeout=600)
    assert child.returncode == -signal.SIGKILL, child.stderr[-2000:]
    if point == "metrics":
        assert glob.glob(os.path.join(root, "metrics", "snap=2", "*"))

    even = {r["tile_key"] for r in workload.filter("tile_key % 2 = 0")
            .select("tile_key").collect()}
    lin = lineage(spark, root).collect()
    assert {r["snap"] for r in lin} == {1}
    assert {r["tile_key"] for r in lin} == even
    assert {r["snap"] for r in metrics(spark, root).collect()} == {1}

    r2 = run_checkpointed(workload, root, "tile_key")
    assert r2["snapshot"] == 2
    assert r2["rows_written"] == workload.count() - len(even)
    want = sorted(tuple(r) for r in workload.collect())
    got = sorted(tuple(r) for r in read_committed(spark, root, "tile_key")
                 .select(*workload.columns).collect())
    assert len(got) == len(want)  # each tile exactly once
    assert got == want
    lin = lineage(spark, root).collect()
    assert sorted(r["tile_key"] for r in lin) == sorted(
        r["tile_key"] for r in workload.collect())
    assert {r["snap"] for r in metrics(spark, root).collect()} == {1, 2}
