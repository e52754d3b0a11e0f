"""The flagship page→zone pipeline (SURVEY §7 step 2, north-star vertical).

pages (url, warc_ts, html, text, lang)
  → geocode: regex geotag extraction, Arrow-batched pandas UDF
    (byte-identical extracted_text per url — the per-row invariant)
  → cell assignment: WebMercatorQuad cell_id, pure Catalyst expressions
  → broadcast R-tree point-in-polygon join to zones (clip semantics)
  → zonal aggregation (pages per zone)

Plan shape at scale: one narrow stage over the page table (scan → UDF →
cell exprs → broadcast-index PIP UDF over (lon, lat)), then exactly one
shuffle for the final groupBy. Filters (`has geotag`) are applied before
the join so the PIP kernel only sees geocoded rows.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gdal_spark import cells
from gdal_spark.extract import geocode_pages
from gdal_spark.pages import pages_from_documents
from gdal_spark.pip_join import ZoneIndex, build_zone_index_from_defs, pip_join
from gdal_spark.zones import zone_defs

CELL_ZOOM = 12


@functools.cache
def zone_index() -> ZoneIndex:
    """The R-tree over `zone_defs()`, built once per process, so every
    `pages_per_zone` reuses one index and hence one broadcast of it."""
    return build_zone_index_from_defs(zone_defs())


def geotag_cells(pages: DataFrame) -> DataFrame:
    """pages → the geotagged rows with (extracted_text, lat, lon, cell_id);
    the batch and streaming pipelines share this chain."""
    geo = geocode_pages(pages).filter(F.col("lat").isNotNull())
    return geo.withColumn("cell_id", cells.cell_id_col("lon", "lat", CELL_ZOOM))


def geocoded_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pages → geocoded subset with (lon, lat, cell_id)."""
    return geotag_cells(pages_from_documents(spark, sf_dir))


def pages_per_zone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship query: number of geocoded pages per zone.

    Hot cells need no salting here: for a plain count Spark's partial
    aggregation already combines map-side, so the single shuffle carries
    at most one row per (partition, zone).
    """
    joined = pip_join(geocoded_pages(spark, sf_dir), zone_index(), how="inner")
    return joined.groupBy("zone_id").agg(F.count(F.lit(1)).alias("n_pages"))
