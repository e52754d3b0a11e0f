"""Skew premise of the fixture: zone/cell keys are power-law hot.

The synthetic coordinate mixture puts ~80% of geotagged pages in 20 city
hotspots (pages.synth_stages), so the spatial operators are exercised
under hot cells (SURVEY §4 custom work)."""

from __future__ import annotations

from pyspark.sql import functions as F

from gdal_spark.pipeline import geocoded_pages


def test_hot_cells_exist_in_fixture(spark):
    """The skew premise itself: top cell holds a large multiple of the
    median cell's rows (otherwise the fixture has no hot cells for the
    cell-keyed operators, such as the map-side partial aggregates and the
    kNN count pyramid's per-query level choice, to handle)."""
    from gdal_spark.cells import tile_x_sql, tile_y_sql

    geo = geocoded_pages(spark, "/root/testdata/sf0.001")
    # city hotspots span ~2°; measure at z6 (5.6° tiles) where each city
    # concentrates into one or two cells
    coarse = geo.selectExpr(f"{tile_x_sql('lon', 6)} as tx",
                            f"{tile_y_sql('lat', 6)} as ty")
    counts = [r["c"] for r in coarse.groupBy("tx", "ty")
              .agg(F.count(F.lit(1)).alias("c")).collect()]
    counts.sort()
    assert counts[-1] >= 5 * counts[len(counts) // 2]
