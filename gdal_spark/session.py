"""SparkSession factory with the engine's scale defaults.

The knobs mirror what GDAL does with memory caps and worker pools
(warp 64MB chunks alg/gdalwarpoperation.cpp:582, tile worker pool
apps/gdalalg_raster_tile.cpp:2914) — except here the cluster scheduler
owns parallelism and AQE owns runtime re-planning, so the engine only
sets declarative intent: AQE on, skew-join on, sane shuffle partitioning,
Arrow batching for the pandas-UDF kernels.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# One Arrow batch per UDF call; 65,536 rows/batch mirrors OGR's default
# Arrow stream batch size (ogr/ogrsf_frmts/generic/ogrlayerarrow.cpp:1947).
ARROW_BATCH_ROWS = 65536


def get_spark(
    app_name: str = "gdal_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for the spatial workload.

    In production this engine is submitted via ``spark-submit --py-files``
    and inherits master/executors from the cluster; locally tests pass
    ``master='local[N]'``.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
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
        # Keep parquet scan splits reasonable for the tile/doc tables.
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        # ANSI mode stays at the Spark 4 default (on) so the engine behaves
        # identically under any caller's session. OGR SQL's non-ANSI
        # arithmetic (division by zero → NULL, lossy string casts → NULL,
        # ogr/swq_op_general.cpp:637-718) is expressed per-expression with
        # try_divide/try_cast, never via session conf.
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
