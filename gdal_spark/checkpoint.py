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

Commit = three Spark jobs of its own on a fresh root (the input's
shuffles add theirs): the data write, then the lineage aggregate over
the re-read data files streamed straight into the manifest write (a
shuffle plus the write). The row count comes from an Observation on the
data write and the key count from one on the manifest write; a run with
no pending row stops after the data write and writes no manifest. A
resume adds one job, the manifest broadcast of the anti-join.

Read path: every parquet table Spark wrote here is read with the schema
Spark stored in its footer (`read_parquet`), so no reader runs a
schema-inference job. `read_committed(s)` scans data/snap=1…s by path —
no partition discovery, no `snap` filter and no manifest semi-join. The
semi-join was redundant: each attempt writes snapshot latest + 1 with
`overwrite`, and the pointer moves only after its manifest is written, so
the data directory of every snapshot at or below the pointer holds
exactly the keys its manifest added. The one exception is a NULL key:
it never matches the anti-join, so every snapshot rewrites its rows, and
the scan drops them as the `==` semi-join did.
"""

from __future__ import annotations

import json
import os
import time

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema
from pyspark.sql.types import StructType

# the footer key under which Spark's parquet writer stores its row schema
SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"

METRICS_SCHEMA = ("keys_written long, rows_written long, wall_sec double,"
                  " rows_per_sec double, files_written long,"
                  " bytes_written long, snap int")


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


def _parquet_files(path: str) -> list[str]:
    """The visible parquet files of one Spark-written directory."""
    return sorted(os.path.join(path, f) for f in os.listdir(path)
                  if f.endswith(".parquet"))


def read_parquet(spark: SparkSession, *paths: str) -> DataFrame:
    """Read parquet files or directories with the schema of the first
    path's (first) file, read from its footer on the driver — no
    schema-inference job. That is the schema Spark stored in the footer
    when Spark wrote the file, else the file's Arrow schema, which
    Spark's inference maps to the same types for every engine table
    (documents, TPC-H, events, embeddings). A path not on the local file
    system, or a type Arrow cannot convert, is left to Spark's inference."""
    first = paths[0]
    files = _parquet_files(first) if os.path.isdir(first) else [first]
    if not files or not os.path.isfile(files[0]):
        return spark.read.parquet(*paths)
    meta = pq.read_metadata(files[0])
    stored = (meta.metadata or {}).get(SPARK_SCHEMA_KEY)
    try:
        schema = StructType.fromJson(json.loads(stored)) if stored else \
            from_arrow_schema(meta.schema.to_arrow_schema(),
                              prefer_timestamp_ntz=True)
    except TypeError:  # e.g. unsigned ints, which Spark reads widened
        return spark.read.parquet(*paths)
    return spark.read.schema(schema).parquet(*paths)


def _manifest_path(root: str, snap: int) -> str:
    return os.path.join(root, "snapshots", f"snap-{snap}.parquet")


def _manifest(spark: SparkSession, root: str, snap: int) -> DataFrame:
    return read_parquet(spark, _manifest_path(root, snap))


def lineage(spark: SparkSession, root: str) -> DataFrame:
    """Latest manifest: (key, n_rows, fingerprint, snap = its commit)."""
    return _manifest(spark, root, _snapshot(root))


def metrics(spark: SparkSession, root: str) -> DataFrame:
    """Per-snapshot run metrics (keys/rows written, wall time,
    throughput, parquet files and bytes the commit wrote) — one row per
    commit. Bounded by the latest committed snapshot (mirroring
    read_committed): a crash between the metrics write and the pointer
    flip must not surface a phantom commit."""
    latest = _snapshot(root)
    base = os.path.join(root, "metrics")
    return spark.read.schema(METRICS_SCHEMA).option("basePath", base) \
        .parquet(base).filter(F.col("snap") <= F.lit(latest))


def _metrics_parquet(row: dict, n_files: int, n_bytes: int) -> pa.Buffer:
    """The metrics row as parquet bytes, counting itself in
    ``files_written`` and ``bytes_written``. Uncompressed, one int64 or
    double per column: its size does not depend on the values, so the
    second encoding is final."""
    size = 0
    while True:
        sink = pa.BufferOutputStream()
        pq.write_table(pa.table({
            **{k: [v] for k, v in row.items()},
            "files_written": [n_files + 1],
            "bytes_written": [n_bytes + size]}), sink, compression="none")
        buf = sink.getvalue()
        if buf.size == size:
            return buf
        size = buf.size


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
    rows = Observation("rows")
    pending.observe(rows, F.count(F.lit(1)).alias("n")) \
        .sortWithinPartitions(key_col).write.parquet(data_path, "overwrite")
    n_rows = rows.get["n"]
    if n_rows == 0:  # nothing pending: no manifest, the pointer stays
        return {"snapshot": prev, "keys_written": 0, "rows_written": 0}

    # lineage of what was written, aggregated into the manifest write
    keys = Observation("keys")
    lin = spark.read.schema(df.schema).parquet(data_path).groupBy(key_col) \
        .agg(F.count(F.lit(1)).alias("n_rows"),
             # xxhash64(key, other columns...) summed as decimal(38,0):
             # order-independent, and no ANSI long overflow below ~1e19
             # rows per key
             F.sum(F.xxhash64(key_col,
                              *(c for c in df.columns if c != key_col))
                   .cast("decimal(38,0)")).alias("fingerprint")) \
        .withColumn("snap", F.lit(snap)) \
        .observe(keys, F.count(F.lit(1)).alias("n"))
    manifest = lin if done is None else done.unionByName(lin)
    manifest_path = _manifest_path(root, snap)
    manifest.coalesce(1).write.parquet(manifest_path, "overwrite")
    n_keys = keys.get["n"]

    # one metrics row per commit, written by the driver (no Spark job);
    # metrics() bounds by the pointer, so a crash before the flip hides it
    written = _parquet_files(data_path) + _parquet_files(manifest_path)
    wall = time.monotonic() - t0
    buf = _metrics_parquet(
        {"keys_written": n_keys, "rows_written": n_rows, "wall_sec": wall,
         "rows_per_sec": n_rows / wall},
        len(written), sum(os.path.getsize(f) for f in written))
    metrics_dir = os.path.join(root, "metrics", f"snap={snap}")
    os.makedirs(metrics_dir, exist_ok=True)
    tmp = os.path.join(metrics_dir, ".part-0.tmp")
    with open(tmp, "wb") as f:
        f.write(buf)
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
    data/snap=1…s is scanned, without its NULL-key rows. Launches no
    Spark job before the caller's action."""
    snap = _snapshot(root, snapshot)
    data = [os.path.join(root, "data", f"snap={n}")
            for n in range(1, max(snap, 1) + 1)]
    # NULL-key rows are rewritten by every snapshot (see the module doc)
    back = read_parquet(spark, *data).filter(F.col(key_col).isNotNull())
    return back if snap else back.limit(0)  # snapshot 0: no row, same columns
