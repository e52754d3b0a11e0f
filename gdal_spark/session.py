"""SparkSession factory with the engine's scale defaults.

The knobs mirror what GDAL does with memory caps and worker pools
(warp 64MB chunks alg/gdalwarpoperation.cpp:582, tile worker pool
apps/gdalalg_raster_tile.cpp:2914) — except here the cluster scheduler
owns parallelism and AQE owns runtime re-planning, so the engine only
sets declarative intent: AQE on, skew-join on, sane shuffle partitioning,
Arrow batching for the pandas-UDF kernels.

Python workers fork from `gdal_spark.pydaemon` instead of
`pyspark.daemon` where that daemon is sure to start (`_worker_daemon`).
Before each task PySpark invalidates the import caches, and on
CPython < 3.13 that re-reads the whole directory of `pyspark.zip` once
per zip-backed package path the worker has imported (130-320 ms per task
measured on a 4-core host); the engine's daemon re-reads an archive only
when it changed.

Scan splits: Spark sizes a file split as ``min(maxPartitionBytes,
max(openCostInBytes, (bytes + openCostInBytes per file) / cores))``, so
under the 4 MB default open cost a scan of one file below 4 MB × cores
gets fewer tasks than cores. That is the engine's usual case: a few MB
of documents whose scan stage also runs the Python UDFs (geotag
extraction, the PIP join), so each task costs far more than its bytes
suggest. The 6.8 MB, 3-row-group `zonal_pages` input ran its UDF stage
as 2 tasks on 4 cores; with a 1 MB open cost it runs 3 busy tasks (one
per row group, the finest a parquet scan splits). Large scans are
unaffected: their splits stay at ``bytes / cores`` or
``maxPartitionBytes``.

Master: an explicit ``master`` wins; otherwise a process started by
spark-submit keeps the launcher's (``--master``, spark-defaults.conf)
and any other falls back to ``local[SPARK_GRAFT_CPUS]``
(`_default_master`).
"""

from __future__ import annotations

import os
import site

from pyspark import SparkConf, SparkContext
from pyspark.sql import SparkSession

# One Arrow batch per UDF call; 65,536 rows/batch mirrors OGR's default
# Arrow stream batch size (ogr/ogrsf_frmts/generic/ogrlayerarrow.cpp:1947).
ARROW_BATCH_ROWS = 65536


def _worker_daemon(master: str, package_dir: str) -> str:
    """The module Python workers fork from: `gdal_spark.pydaemon` when its
    daemon can import the package at ``package_dir``, else the stock
    `pyspark.daemon`.

    Spark starts the daemon as ``python -m <module>`` before any task
    runs, so it sees only a worker's start-up path: its working
    directory, PYTHONPATH and site-packages. That UDFs import
    `gdal_spark` on the workers proves nothing: they are unpickled per
    task, after `--py-files` archives were put on sys.path. And a
    cluster's workers start from paths this process cannot see. Hence the
    engine's daemon needs a local master (workers start in this working
    directory with this environment) and a package directory, not an
    archive, on that start-up path.
    """
    if not (master == "local" or master.startswith("local[")):
        return "pyspark.daemon"
    home = os.path.dirname(os.path.realpath(package_dir))
    start = [os.getcwd(), *os.environ.get("PYTHONPATH", "").split(os.pathsep),
             *site.getsitepackages(), site.getusersitepackages()]
    if os.path.isdir(home) and home in {os.path.realpath(p) for p in start}:
        return "gdal_spark.pydaemon"
    return "pyspark.daemon"


def _default_master(cpus: int) -> str:
    """The master of a session that names none: the launcher's when
    spark-submit started this process (its JVM gateway is already up,
    ``PYSPARK_GATEWAY_PORT``, and holds ``--master`` or spark-defaults'
    ``spark.master``), else ``local[cpus]``. It never starts a JVM itself:
    one started without the builder's conf would drop every launch-time
    key (``spark.driver.memory``, ``spark.jars.packages``, ...)."""
    if "PYSPARK_GATEWAY_PORT" in os.environ:
        SparkContext._ensure_initialized()  # connects to the running JVM
        master = SparkConf().get("spark.master", None)
        if master:
            return master
    return f"local[{cpus}]"


def get_spark(
    app_name: str = "gdal_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for the spatial workload.

    In production this engine is submitted via ``spark-submit --py-files``
    and inherits master/executors from the cluster (``master=None``);
    locally tests pass ``master='local[N]'``.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = _default_master(cpus)
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 32)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime coalesce + skew-join splitting. At 100 TB the skewed
        # hot cells (dense city clusters) make this mandatory, not optional.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow transfer for every pandas UDF / applyInPandas kernel.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH_ROWS)
        )
        # Keep parquet scan splits reasonable for the tile/doc tables; a
        # small scan splits by cores, not by the 4 MB default open cost
        # (module docstring).
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.sql.files.openCostInBytes", "1m")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        # Fork Python workers from a daemon that stops each task from
        # re-reading pyspark.zip, where it can start (_worker_daemon).
        .config("spark.python.daemon.module", _worker_daemon(
            master, os.path.dirname(os.path.abspath(__file__))))
        # ANSI mode stays at the Spark 4 default (on) so the engine behaves
        # identically under any caller's session. OGR SQL's non-ANSI
        # arithmetic (division by zero → NULL, lossy string casts → NULL,
        # ogr/swq_op_general.cpp:637-718) is expressed per-expression with
        # try_divide/try_cast, never via session conf.
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
