"""Snapshot checkpointing + per-key lineage (resumable batch runs).

The reference's resume model is idempotent re-runs that skip completed
outputs (`gdal raster tile --resume`, apps/gdalalg_raster_tile.cpp:154:
existing tiles are detected and skipped). The north rule asks for the
same over table snapshots: every stage writes per-key lineage rows and
commits a snapshot, and any re-run resumes from the last committed
snapshot.

Layout (plain parquet standing in for Iceberg — the interface seam is
this module; an Iceberg catalog table would replace the parquet writes
of `run_checkpointed`):

    <root>/data/snap=<n>/*.parquet     rows of snapshot n: one file per
                                       input partition, sorted by key
    <root>/snapshots/snap-<n>.parquet  manifest = lineage as of n: one
                                       (key, n_rows, fingerprint, snap)
                                       row per committed key
    <root>/metrics/snap=<n>/*.parquet  one run-metrics row per commit
    <root>/_latest                     atomic pointer (os.replace)

Files follow the input's partitions, not its keys (Jigsaw, SIGMOD 2021),
so a commit is one data write whatever its key count. The cumulative
manifest is the committed-keys set, the lineage and the time-travel index
in one small table. Readers stop at `_latest`; what a crashed snapshot n
left behind is overwritten when n is retried.

fingerprint = order-independent xxhash64 reduction of a key's rows —
enough to audit a resumed run without re-reading its output.

Resume = left_anti join of the input's keys against the manifest — a
parquet table, so at 10^12 scale (16M tile keys) the skip test is a
broadcast or shuffle join, never a driver loop.
"""

from __future__ import annotations

import os
import time

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _snapshot(root: str, snapshot: int | None = None) -> int:
    """The committed snapshot ``snapshot`` (default: the latest)."""
    try:
        with open(os.path.join(root, "_latest"), encoding="utf-8") as f:
            latest = int(f.read().strip())
    except FileNotFoundError:
        latest = 0
    snap = latest if snapshot is None else snapshot
    if snap > latest:
        raise ValueError(f"snapshot {snap} not committed (latest {latest})")
    return snap


def _manifest(spark: SparkSession, root: str, snap: int) -> DataFrame:
    return spark.read.parquet(
        os.path.join(root, "snapshots", f"snap-{snap}.parquet"))


def committed_keys(spark: SparkSession, root: str, key_col: str,
                   snapshot: int | None = None) -> DataFrame:
    """Keys committed as of ``snapshot`` (default: the latest). Every
    manifest is retained, so any earlier commit stays addressable —
    Iceberg's snapshot time travel over the plain-parquet seam."""
    snap = _snapshot(root, snapshot)
    if snap <= 0:
        return spark.createDataFrame([], f"{key_col} long")
    return _manifest(spark, root, snap).select(key_col)


def lineage(spark: SparkSession, root: str) -> DataFrame:
    """Latest manifest: (key, n_rows, fingerprint, snap = its commit)."""
    return _manifest(spark, root, _snapshot(root))


def metrics(spark: SparkSession, root: str) -> DataFrame:
    """Per-snapshot run metrics (keys/rows written, wall time,
    throughput) — one row per commit. Bounded by the latest committed
    snapshot (mirroring committed_keys): a crash between the metrics
    write and the pointer flip must not surface a phantom commit."""
    latest = _snapshot(root)
    return spark.read.option("basePath", os.path.join(root, "metrics")) \
        .parquet(os.path.join(root, "metrics")) \
        .filter(F.col("snap") <= F.lit(latest))


def run_checkpointed(df: DataFrame, root: str, key_col: str,
                     key_filter: str | None = None) -> dict:
    """Write ``df``'s rows whose ``key_col`` is not yet committed as one
    new snapshot, with its lineage rows, and commit it atomically.

    ``key_filter`` optionally restricts this run's keys (used by tests to
    simulate a run that died partway — and by operators that process key
    ranges incrementally).

    Returns {"snapshot": n, "keys_written": k, "rows_written": r}.
    """
    t0 = time.monotonic()
    spark = df.sparkSession
    prev = _snapshot(root)
    snap = prev + 1
    done = _manifest(spark, root, prev) if prev else None
    pending = df if done is None else \
        df.join(done, df[key_col] == done[key_col], "left_anti")
    if key_filter:
        pending = pending.filter(key_filter)

    # the one pass over the input; overwrite replaces whatever a crashed,
    # uncommitted attempt at this snapshot number left here
    data_path = os.path.join(root, "data", f"snap={snap}")
    pending.sortWithinPartitions(key_col).write.parquet(data_path, "overwrite")
    written = spark.read.schema(df.schema).parquet(data_path)
    lin = written.groupBy(key_col).agg(
        F.count(F.lit(1)).alias("n_rows"),
        # xxhash64(key, other columns...) summed as decimal(38,0): order-
        # independent, and no ANSI long overflow below ~1e19 rows per key
        F.sum(F.xxhash64(key_col, *(c for c in df.columns if c != key_col))
              .cast("decimal(38,0)"))
        .alias("fingerprint")).withColumn("snap", F.lit(snap)).cache()
    n_keys, n_rows = lin.agg(F.count(F.lit(1)), F.sum("n_rows")).first()
    if n_keys == 0:
        lin.unpersist()
        return {"snapshot": prev, "keys_written": 0, "rows_written": 0}

    manifest = lin if done is None else done.unionByName(lin)
    manifest.coalesce(1).write.parquet(
        os.path.join(root, "snapshots", f"snap-{snap}.parquet"), "overwrite")
    lin.unpersist()

    # one metrics row per commit, written by the driver (no Spark job);
    # metrics() bounds by the pointer, so a crash before the flip hides it
    wall = time.monotonic() - t0
    metrics_dir = os.path.join(root, "metrics", f"snap={snap}")
    os.makedirs(metrics_dir, exist_ok=True)
    tmp = os.path.join(metrics_dir, ".part-0.tmp")
    pq.write_table(pa.table({
        "keys_written": [n_keys], "rows_written": [n_rows],
        "wall_sec": [wall], "rows_per_sec": [n_rows / wall]}), tmp)
    os.replace(tmp, os.path.join(metrics_dir, "part-0.parquet"))

    # atomic pointer flip — the commit point; until it, prev is the latest
    tmp = os.path.join(root, "_latest.tmp")
    with open(tmp, "w", encoding="utf-8") as f:
        f.write(str(snap))
    os.replace(tmp, os.path.join(root, "_latest"))
    return {"snapshot": snap, "keys_written": n_keys, "rows_written": n_rows}


def read_committed(spark: SparkSession, root: str, key_col: str,
                   snapshot: int | None = None) -> DataFrame:
    """Read back exactly the committed data, with the input's columns.
    ``snapshot`` reads an earlier commit's view — time travel: only
    data/snap<=s is scanned, semi-joined against manifest s's keys."""
    snap = _snapshot(root, snapshot)
    base = os.path.join(root, "data")
    data = spark.read.option("basePath", base).parquet(base) \
        .filter(F.col("snap") <= F.lit(snap)).drop("snap")
    keys = F.broadcast(committed_keys(spark, root, key_col, snap))
    return data.join(keys, data[key_col] == keys[key_col], "left_semi")
