"""Structured Streaming pipeline: stream result == batch result."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gdal_spark import cells
from gdal_spark.extract import geocode_pages
from gdal_spark.pages import pages_from_documents
from gdal_spark.pip_join import build_zone_index_from_defs, pip_join
from gdal_spark.pipeline import CELL_ZOOM
from gdal_spark.streaming import run_stream_to_memory
from gdal_spark.zones import zone_defs


@pytest.fixture()
def landing_dir(spark, tmp_path):
    """Two micro-batch files of pages, as a crawl feed would land them."""
    pages = pages_from_documents(spark, "/root/testdata/sf0.001")
    d = str(tmp_path / "landing")
    pages.filter("doc_id % 2 = 0").coalesce(1).write.mode("append").parquet(d)
    pages.filter("doc_id % 2 = 1").coalesce(1).write.mode("append").parquet(d)
    return d


def test_stream_matches_batch(spark, landing_dir):
    got = {(r["window_start"], r["zone_id"]): r["n_pages"]
           for r in run_stream_to_memory(spark, landing_dir).collect()}

    pages = spark.read.parquet(landing_dir)
    geo = geocode_pages(pages).filter(F.col("lat").isNotNull())
    geo = geo.withColumn("cell_id", cells.cell_id_col("lon", "lat",
                                                      CELL_ZOOM))
    joined = pip_join(geo, build_zone_index_from_defs(zone_defs()),
                      how="inner")
    exp = {(r["ws"], r["zone_id"]): r["n"]
           for r in joined.groupBy(
               F.window("warc_ts", "1 hour")["start"].alias("ws"), "zone_id")
           .agg(F.count(F.lit(1)).alias("n")).collect()}
    assert got == exp and len(got) > 0


def test_streaming_url_dedup(spark, tmp_path):
    from gdal_spark.streaming import PAGES_SCHEMA, streaming_url_dedup

    pages = pages_from_documents(spark, "/root/testdata/sf0.001").limit(50)
    d = str(tmp_path / "dup_landing")
    pages.coalesce(1).write.mode("append").parquet(d)
    pages.coalesce(1).write.mode("append").parquet(d)  # full re-crawl

    stream = (spark.readStream.schema(PAGES_SCHEMA)
              .option("maxFilesPerTrigger", 1).parquet(d))
    q = (streaming_url_dedup(stream).writeStream.format("memory")
         .queryName("dedup_stream").outputMode("append")
         .trigger(availableNow=True).start())
    q.awaitTermination()
    got = spark.table("dedup_stream")
    assert got.count() == 50  # second crawl fully deduped
    assert got.select("url").distinct().count() == 50


def test_stateful_zone_totals_accumulate_across_batches(spark, tmp_path):
    from gdal_spark.streaming import run_stateful_totals

    pages = pages_from_documents(spark, "/root/testdata/sf0.001")
    d = str(tmp_path / "state_landing")
    pages.filter("doc_id % 2 = 0").coalesce(1).write.mode("append").parquet(d)
    pages.filter("doc_id % 2 = 1").coalesce(1).write.mode("append").parquet(d)

    res = run_stateful_totals(spark, d).toPandas()
    # memory sink in update mode logs every state update; the max per
    # zone is the final cumulative total
    finals = res.groupby("zone_id")["total_pages"].max()

    geo = geocode_pages(spark.read.parquet(d)).filter(
        F.col("lat").isNotNull())
    joined = pip_join(
        geo.withColumn("cell_id",
                       cells.cell_id_col("lon", "lat", CELL_ZOOM)),
        build_zone_index_from_defs(zone_defs()), how="inner")
    exp = {r["zone_id"]: r["n"] for r in
           joined.groupBy("zone_id").agg(F.count(F.lit(1)).alias("n"))
           .collect()}
    assert dict(finals) == exp
    # at least one zone must have been updated in two different batches
    multi = res.groupby("zone_id").size()
    assert (multi >= 2).any()
