"""Cell-ID range-partitioned, salt-aware output writer (north-rule op).

GDAL writes tiles one file per (z, x, y) from a worker pool
(apps/gdalalg_raster_tile.cpp:2914). The distributed restatement keys
output layout by the hierarchical cell id so spatially-adjacent rows
land in the same files (range partitioning preserves cell order →
locality for downstream spatial scans), while **salting** spreads the
power-law hot cells (dense city clusters) across several partitions so
no single writer task owns a whole metropolis.

`repartitionByRange(cell, salt)` gives both properties at once: the
range sampler splits the keyspace by observed frequency (hot cells get
many (cell, salt) split points, empty space gets none), and the salt is
the intra-cell tiebreaker that lets one cell span multiple partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

N_SALTS = 8


def repartition_by_cell(df: DataFrame, cell_col: str = "cell_id",
                        n_partitions: int = 32,
                        salt_source: str = "url") -> DataFrame:
    """Range-repartition by (cell, salt): cell-ordered layout with hot
    cells split across up to ``N_SALTS`` partitions."""
    salted = df.withColumn(
        "_salt", F.pmod(F.xxhash64(salt_source), F.lit(N_SALTS)))
    return salted.repartitionByRange(n_partitions, cell_col, "_salt") \
                 .drop("_salt")


def write_cell_partitioned(df: DataFrame, path: str,
                           cell_col: str = "cell_id",
                           n_partitions: int = 32,
                           salt_source: str = "url") -> None:
    repartition_by_cell(df, cell_col, n_partitions, salt_source) \
        .write.mode("overwrite").parquet(path)
