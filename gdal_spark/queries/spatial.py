"""Spatial operator queries (driver contract) — extraction, cells, PIP.

Each entry: QUERIES[name](spark, sf_dir) -> DataFrame and ORACLES[name] =
DuckDB SQL over the pre-registered views. Spatial inputs derive from
``documents`` via integer-only arithmetic (gdal_spark.pages) so both
engines see bit-identical geometry.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gdal_spark import cells
from gdal_spark.cells import cell_id_sql, tile_x_sql, tile_y_sql
from gdal_spark.crs import stages_to_duckdb_sql
from gdal_spark.extract import geocode_pages
from gdal_spark.pages import (geotag_text_sql, pages_from_documents,
                              points_from_documents, points_oracle_sql,
                              synth_stages)
from gdal_spark.pip_join import build_zone_index_from_defs, pip_join
from gdal_spark.zones import pip_oracle_sql, zone_defs


def q_extract_geotags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geotag extraction (Arrow UDF) — emits the byte-stable token."""
    pages = pages_from_documents(spark, sf_dir)
    geo = geocode_pages(pages).filter(F.col("lat").isNotNull())
    return geo.select(
        "doc_id", "extracted_text",
        F.round("lat", 6).alias("lat"), F.round("lon", 6).alias("lon"),
    )


def q_cell_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gdal_spark.pipeline import geocoded_pages

    return geocoded_pages(spark, sf_dir).select("doc_id", "cell_id")


def q_tile_counts_z8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tile-assignment aggregation (gdal raster tile GetTileIndices math)."""
    pts = points_from_documents(spark, sf_dir)
    return (
        pts.withColumn("tile_x", cells.tile_x_col("lon", 8))
        .withColumn("tile_y", cells.tile_y_col("lat", 8))
        .groupBy("tile_x", "tile_y")
        .agg(F.count(F.lit(1)).alias("n_points"))
    )


def q_pip_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast R-tree PIP inner join (layer-algebra Intersection for
    points, ogrlayer.cpp:3345)."""
    pts = points_from_documents(spark, sf_dir)
    joined = pip_join(pts, build_zone_index_from_defs(zone_defs()), how="inner")
    return joined.select("doc_id", "zone_id")


def q_clip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clip semantics (ogrlayer.cpp:5497): keep points inside ≥1 zone."""
    pts = points_from_documents(spark, sf_dir)
    return pip_join(pts, build_zone_index_from_defs(zone_defs()),
                    how="semi").select("doc_id", "lon_mic", "lat_mic")


def q_erase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Erase semantics (ogrlayer.cpp:5806): anti spatial join."""
    pts = points_from_documents(spark, sf_dir)
    return pip_join(pts, build_zone_index_from_defs(zone_defs()),
                    how="anti").select("doc_id", "lon_mic", "lat_mic")


def q_zonal_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gdal_spark.pipeline import pages_per_zone

    return pages_per_zone(spark, sf_dir)


def q_clip_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line×polygon clipping (ogr2ogr -clipsrc for LineStrings incl. the
    dimension-drop rule, apps/ogr2ogr_lib.cpp:6889-6936): Cyrus–Beck
    parametric clip of site-trajectory segments against convex zones."""
    from gdal_spark.lineclip import clip_lines

    return clip_lines(spark, sf_dir, zone_defs())


def q_streaming_zonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming flagship: pages streamed from a landing dir
    (file source, availableNow) → geocode → PIP → event-time-windowed
    zonal counts. Returns the completed memory-sink table."""
    import tempfile

    from gdal_spark.streaming import run_stream_to_memory

    landing = tempfile.mkdtemp(prefix="gdal_spark_stream_")
    pages = pages_from_documents(spark, sf_dir)
    pages.filter("doc_id % 2 = 0").write.mode("append").parquet(landing)
    pages.filter("doc_id % 2 = 1").write.mode("append").parquet(landing)
    return run_stream_to_memory(spark, landing, query_name="q_stream_zonal")


def q_streaming_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState): per-
    zone cumulative totals maintained across micro-batches (one file per
    trigger, so state genuinely carries). The final cumulative value per
    zone is batch-order independent == the batch zonal count, which is
    the oracle."""
    import tempfile

    from gdal_spark.streaming import run_stateful_totals

    landing = tempfile.mkdtemp(prefix="gdal_spark_state_")
    pages = pages_from_documents(spark, sf_dir)
    pages.filter("doc_id % 2 = 0").write.mode("append").parquet(landing)
    pages.filter("doc_id % 2 = 1").write.mode("append").parquet(landing)
    updates = run_stateful_totals(spark, landing,
                                  query_name="q_stateful_totals")
    return updates.groupBy("zone_id").agg(
        F.max("total_pages").alias("n_pages"))


def q_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming dedup (dropDuplicatesWithinWatermark): the
    landing dir carries one batch twice; re-crawled urls within the
    watermark drop, leaving exactly one row per url."""
    import tempfile

    from gdal_spark.streaming import stream_pages, streaming_url_dedup

    landing = tempfile.mkdtemp(prefix="gdal_spark_dedup_")
    pages = pages_from_documents(spark, sf_dir)
    pages.write.mode("append").parquet(landing)
    pages.filter("doc_id % 3 = 0").write.mode("append").parquet(landing)
    out = streaming_url_dedup(stream_pages(spark, landing))
    q = (out.select("url", "lang").writeStream.format("memory")
         .queryName("q_stream_dedup").outputMode("append")
         .trigger(availableNow=True).start())
    q.awaitTermination()
    return spark.table("q_stream_dedup")


def q_layer_overlay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polygon×polygon layer algebra (Intersection/Union/SymDifference/
    Erase areas) for the convex zones vs a shifted method layer —
    ogrlayer.cpp:3345/3763/4300/5806 semantics via the candidate-vertex
    convex overlay (gdal_spark.layer_algebra)."""
    from gdal_spark.layer_algebra import overlay_areas, shift_defs

    _ = sf_dir  # layer-vs-layer op; inputs are the zone fixtures
    defs = zone_defs()
    return overlay_areas(spark, defs, shift_defs(defs, 0.31, 0.17))


def q_layer_identity_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Layer-algebra Identity (ogrlayer.cpp:4730) and Update (:5148) area
    accounting: input zones split by a pairwise-disjoint shifted method
    layer — per input feature the piece count, pieces area and the
    input−union(method) remainder (the Update input side)."""
    from gdal_spark.layer_algebra import (disjoint_method_defs,
                                          identity_update, shift_defs)

    _ = sf_dir
    defs = zone_defs()
    method = disjoint_method_defs(shift_defs(defs, 0.31, 0.17))
    return identity_update(spark, defs, method)


def q_layer_intersection_nonconvex(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """Layer-algebra Intersection over ARBITRARY polygons (non-convex
    star, ring-with-hole included) via trapezoidal decomposition + the
    convex candidate-vertex overlay per trapezoid pair
    (gdal_spark.overlay_features). Emits per (input, method) pair the
    prefixed attributes, piece count and exact areas; the piece WKB
    features are the intersection_features / erase_features APIs
    (tested, not hashed — erase emits input − union(method) leftover
    trapezoids, ogrlayer.cpp:5806)."""
    from gdal_spark.layer_algebra import shift_defs
    from gdal_spark.overlay_features import intersection_agg

    _ = sf_dir
    defs = zone_defs()
    return intersection_agg(spark, defs, shift_defs(defs, 0.31, 0.17))


def q_layer_union_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Layer-algebra Union with FEATURE output (ogrlayer.cpp:3763): the
    three GDAL Union feature classes — (input, method) pair pieces, input
    leftovers, method leftovers — with prefixed attributes and the area
    decoded from the emitted MultiPolygon WKB (gdal_spark.
    overlay_features.union_features). SymDifference (:4300) is the
    cls <> 'pair' subset. The oracle recomputes pair areas from the
    shared trap-pair fold and the leftovers by exact subtraction."""
    from gdal_spark.overlay_features import union_features_canon

    _ = sf_dir  # layer-vs-layer fixture op
    return union_features_canon(spark)


def q_st_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQLite-dialect ST_ scalar surface (ogrsqlitesqlfunctions.cpp:
    ST_Area/ST_Centroid/ST_Contains/ST_Distance, OGR_GEOM_AREA special
    field): pandas-UDF kernels over WKB polygons, called from a
    spark.sql string via the function registry."""
    from gdal_spark.stfuncs import (register_st_functions, st_query_points,
                                    zones_wkb_df)

    _ = sf_dir
    defs = zone_defs()
    register_st_functions(spark)
    zdf = zones_wkb_df(spark, defs)
    qdf = spark.createDataFrame(st_query_points(defs),
                                "zone_id int, qx double, qy double")
    zdf.join(qdf, "zone_id").createOrReplaceTempView("st_zones")
    return spark.sql("""
        select zone_id, st_area(wkb) as area, st_npoints(wkb) as npoints,
               st_centroid_x(wkb) as centroid_x,
               st_centroid_y(wkb) as centroid_y,
               st_contains_xy(wkb, qx, qy) as contains_q,
               st_distance_xy(wkb, qx, qy) as dist_q
        from st_zones""")


def q_st_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The GEOS predicate surface (ogrgeometry.cpp Intersects:579,
    Equals:1251, Disjoint:5588, Touches:5661, Within:5842, Contains:5915,
    Overlaps:5989) over two polygon layers: candidate pairs via a
    cover-cell equi-join, exact integer-arithmetic predicates per pair
    (gdal_spark.predicates). Exercises overlap, bbox-only disjoint,
    equals, strict and inscribed containment, point-in-hole, shared-edge
    and shared-vertex touch, and a non-convex star."""
    from gdal_spark.predicates import predicate_pairs

    _ = sf_dir  # layer-vs-layer fixture op
    return predicate_pairs(spark)


def q_st_constructive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The GEOS constructive surface (ogrgeometry.cpp Buffer:4186,
    ConvexHull:4330, Simplify:4982, MakeValid:4017, Union:5280) as
    registered ST_ SQL functions over WKB: hull of a 48-point cloud,
    chord-join buffer of the octagon + a point, Douglas-Peucker
    simplify, orientation/dup repair, exact slab-decomposition union of
    rectilinear and 45-degree fixtures, envelope, plus the accessor set
    (ST_GeometryType/NumGeometries/Start-End-PointN/XMin-YMax/Boundary/
    Reverse/PointOnSurface; ogrsqlitesqlfunctions.cpp OGR2SQLITE_ST_*,
    ogr/ogrgeometry.cpp Boundary:4116). The DuckDB oracle
    derives every area from first principles (SQL shoelace / perimeter /
    wedge sums over the literal vertices)."""
    from gdal_spark.constructive import constructive_cases

    _ = sf_dir  # fixture op
    return constructive_cases(spark)


def q_st_buffer_styles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BufferEx option parity (OGRGeometry::BufferEx
    ogr/ogrgeometry.cpp:4637 → GEOSBufferWithParams): endcap styles
    round/flat/square on a segment, join styles round/mitre/bevel with
    the mitre-limit fallback on a polygon, quadrant-segment counts —
    plus SimplifyPreserveTopology (:5029), which restores dropped
    vertices rather than emit a degenerate or self-crossing ring. The
    DuckDB oracle holds the closed-form areas (rectangle + cap /
    A + P·r + vertex-join wedges) and deterministic vertex counts."""
    from gdal_spark.constructive import buffer_styles_cases

    _ = sf_dir  # fixture op
    return buffer_styles_cases(spark)


def q_st_segmentize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segmentize (OGRSimpleCurve::segmentize ogr/ogrlinestring.cpp:2628
    — the ogr2ogr -segmentize densification): GDAL's exact epsilon rules
    (split when d² − m² > 1e-5·m², n = floor(√(d²/m²) − 0.01)) and
    even spacing, checked against a closed-form oracle (arithmetic-
    series vertex fingerprint, invariant length, exact point counts)."""
    from gdal_spark.constructive import segmentize_cases

    _ = sf_dir  # fixture op
    return segmentize_cases(spark)


def q_st_wrapdateline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WRAPDATELINE (ogr2ogr -wrapdateline, OGRGeometryFactory::
    transformWithOptions ogrgeometryfactory.cpp:4022): antimeridian
    linestring splits with the reference's interpolation and gap
    heuristics, ±360 whole-geometry shifts, per-point wraps. Exact
    output coordinates are pinned against autotest/ogr/ogr_geom.py's
    wrapdateline goldens in tests; the contract hashes the structural
    outputs (type, part and point counts) per case."""
    from gdal_spark.constructive import wrapdateline_cases

    _ = sf_dir  # fixture op
    return wrapdateline_cases(spark)


def q_explodecollections(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ogr2ogr -explodecollections chained after -wrapdateline
    (apps/ogr2ogr_lib.cpp): one output feature per collection member
    via ST_GeometryN + a sequence lateral view (pure one-to-many
    Catalyst explode — no shuffle), single-part inputs pass through."""
    from gdal_spark.constructive import explodecollections_cases

    _ = sf_dir  # fixture op
    return explodecollections_cases(spark)


def q_checkpoint_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot checkpoint + resume (north rule; `gdal raster tile
    --resume`, apps/gdalalg_raster_tile.cpp:154): the zonal-count job is
    run once restricted to zone_id < 5 (simulating a run that died
    partway), then resumed; the resume anti-joins the committed manifest
    and writes only the remaining zones. Output: committed rows + the
    snapshot that committed each key — fully deterministic, so the
    oracle checks WHICH run wrote each zone, not just the data."""
    import tempfile

    from gdal_spark.checkpoint import (lineage, read_committed,
                                       run_checkpointed)
    from gdal_spark.pipeline import pages_per_zone

    root = tempfile.mkdtemp(prefix="gdal_spark_ckpt_")
    zonal = pages_per_zone(spark, sf_dir)
    first = run_checkpointed(zonal, root, "zone_id",
                             key_filter="zone_id < 5")
    second = run_checkpointed(zonal, root, "zone_id")
    assert second["snapshot"] == first["snapshot"] + 1
    lin = lineage(spark, root).select("zone_id", "snap")
    return read_committed(spark, root, "zone_id").join(lin, "zone_id") \
        .select("zone_id", "n_pages", "snap")


OGR2OGR_WHERE = "doc_id % 3 != 1"


def q_ogr2ogr_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ogr2ogr ETL chain (apps/ogr2ogr_lib.cpp LayerTranslator
    §3.3): -where attribute filter → -clipsrc (PIP semi join against the
    zone layer) → -t_srs reprojection (EPSG:3857) → field selection.
    One narrow Spark stage + the broadcast clip join, exactly the
    reference's per-feature pipeline as a declarative plan."""
    from gdal_spark.crs import apply_sql_stages, webmercator_sql_stages

    pts = points_from_documents(spark, sf_dir).filter(OGR2OGR_WHERE)
    clipped = pip_join(pts, build_zone_index_from_defs(zone_defs()),
                       how="semi")
    out = apply_sql_stages(clipped, webmercator_sql_stages("lon", "lat"))
    return out.select(
        "doc_id",
        F.round("x_3857", 3).alias("x_3857"),
        F.round("y_3857", 3).alias("y_3857"),
    )


def q_zonal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zonal summary after the PIP join (groupBy(zone).agg — SURVEY §2.4
    'zonal-style summaries'): count + integer-exact coordinate stats."""
    pts = points_from_documents(spark, sf_dir)
    joined = pip_join(pts, build_zone_index_from_defs(zone_defs()), how="inner")
    return joined.groupBy("zone_id").agg(
        F.count(F.lit(1)).alias("n_points"),
        F.min("lon_mic").alias("min_lon_mic"),
        F.max("lat_mic").alias("max_lat_mic"),
        F.sum("lon_mic").alias("sum_lon_mic"),
    )


def _extract_oracle() -> str:
    synth = stages_to_duckdb_sql(
        "select doc_id, text from documents",
        synth_stages("doc_id") + [("gtext", geotag_text_sql("text"))],
        ["doc_id", "has_geo", "gtext"],
    )
    pat = "'geo:([+-]?[0-9]+),([+-]?[0-9]+)'"
    return f"""
with g as ({synth})
select doc_id,
       regexp_extract(gtext, {pat}, 0) as extracted_text,
       round(cast(regexp_extract(gtext, {pat}, 1) as bigint) / 1000000.0, 6) as lat,
       round(cast(regexp_extract(gtext, {pat}, 2) as bigint) / 1000000.0, 6) as lon
from g where has_geo
"""


_PTS = points_oracle_sql("documents")

def q_lineref_pickets(spark, sf_dir):
    """ogrlineref picket creation (apps/ogrlineref.cpp:733-775 +
    OGRSimpleCurve::Value, ogr/ogrlinestring.cpp:2098): points every
    25 km of planar length along each zone boundary ring in WebMercator
    meters. Window cumsum per line -> sequence explode -> first-
    containing-segment match -> linear interpolation; every exchange is
    keyed by line id."""
    from pyspark.sql import functions as F

    from gdal_spark.lineref import lineref_pickets
    from gdal_spark.rasterize_poly import _MX, _MY, _zone_rows

    _ = sf_dir  # layer fixture op
    rings = spark.createDataFrame(
        _zone_rows(zone_defs()),
        "zone_id int, eas_id int, ring_idx int,"
        " lons array<double>, lats array<double>")
    lines = rings.selectExpr(
        "cast(zone_id * 10 + ring_idx as bigint) as line_id",
        f"transform(lons, v -> {_MX.format(v='v')}) as xs",
        f"transform(lats, v -> {_MY.format(v='v')}) as ys")
    out = lineref_pickets(lines, 25000.0)
    return out.select("line_id",
                      F.round("m", 3).alias("m"),
                      F.round("x", 3).alias("x"),
                      F.round("y", 3).alias("y"))


def _lineref_oracle():
    from gdal_spark.lineref import lineref_pickets_oracle_sql
    from gdal_spark.rasterize_poly import _MX, _MY, _zone_rows
    from gdal_spark.crs import _fmt

    rows = []
    for zone_id, eas_id, ri, lons, lats in _zone_rows(zone_defs()):
        ll = ", ".join(_fmt(v) for v in lons)
        la = ", ".join(_fmt(v) for v in lats)
        rows.append(f"({zone_id * 10 + ri}, [{ll}], [{la}])")
    mx = _MX.format(v="v")
    my = _MY.format(v="v")
    lines_sql = (
        f"select cast(line_id as bigint) as line_id,"
        f" list_transform(lons, v -> {mx}) as xs,"
        f" list_transform(lats, v -> {my}) as ys"
        f" from (values {', '.join(rows)}) as lr(line_id, lons, lats)")
    inner = lineref_pickets_oracle_sql(lines_sql, 25000.0)
    return (f"select line_id, round(m, 3) as m, round(x, 3) as x,"
            f" round(y, 3) as y from ({inner}) q")


def q_lineref_position(spark, sf_dir):
    """ogrlineref get_pos (apps/ogrlineref.cpp:983 GetPosition): each
    geotagged point projects onto ITS zone's outer boundary ring —
    measure along the ring + distance to the boundary, in WebMercator
    meters. The point→segments match is an equi-join on the zone's
    line id (never all-pairs); nearest segment by squared distance,
    first segment on ties (the reference's sequential scan order)."""
    from pyspark.sql import functions as F

    from gdal_spark.lineref import lineref_project
    from gdal_spark.rasterize_poly import _MX, _MY, _zone_rows

    pts = points_from_documents(spark, sf_dir)
    joined = pip_join(pts, build_zone_index_from_defs(zone_defs()),
                      how="inner")
    points = joined.selectExpr(
        "doc_id as pid",
        f"{_MX.format(v='lon')} as px",
        f"{_MY.format(v='lat')} as py",
        "cast(zone_id * 10 as bigint) as line_id")
    rings = spark.createDataFrame(
        _zone_rows(zone_defs()),
        "zone_id int, eas_id int, ring_idx int,"
        " lons array<double>, lats array<double>").filter("ring_idx = 0")
    lines = rings.selectExpr(
        "cast(zone_id * 10 as bigint) as line_id",
        f"transform(lons, v -> {_MX.format(v='v')}) as xs",
        f"transform(lats, v -> {_MY.format(v='v')}) as ys")
    out = lineref_project(points, lines)
    return out.select(F.col("pid").alias("doc_id"), "line_id",
                      F.round("m", 3).alias("m"),
                      F.round("dist", 3).alias("dist"))


def _lineref_position_oracle():
    from gdal_spark.crs import _fmt
    from gdal_spark.lineref import lineref_project_oracle_sql
    from gdal_spark.rasterize_poly import _MX, _MY, _zone_rows

    rows = []
    for zone_id, eas_id, ri, lons, lats in _zone_rows(zone_defs()):
        if ri != 0:
            continue
        ll = ", ".join(_fmt(v) for v in lons)
        la = ", ".join(_fmt(v) for v in lats)
        rows.append(f"({zone_id * 10}, [{ll}], [{la}])")
    mx = _MX.format(v="v")
    my = _MY.format(v="v")
    lines_sql = (
        f"select cast(line_id as bigint) as line_id,"
        f" list_transform(lons, v -> {mx}) as xs,"
        f" list_transform(lats, v -> {my}) as ys"
        f" from (values {', '.join(rows)}) as lr(line_id, lons, lats)")
    points_sql = (
        f"select j.doc_id as pid, {_MX.format(v='p.lon')} as px,"
        f" {_MY.format(v='p.lat')} as py,"
        f" cast(j.zone_id * 10 as bigint) as line_id"
        f" from ({pip_oracle_sql(_PTS)}) j join ({_PTS}) p using (doc_id)")
    inner = lineref_project_oracle_sql(points_sql, lines_sql)
    return (f"select pid as doc_id, line_id, round(m, 3) as m,"
            f" round(dist, 3) as dist from ({inner}) q")


# --- layer-algebra option surface (ogrlayer.cpp:3290-3330 options;
# fixtures + expected outputs ported from autotest/ogr/ogr_layer_algebra.py)

_LA_A = [
    {"fid": 1, "gtype": "POLYGON", "fields": {"A": 1},
     "coords": [[1, 2], [1, 3], [3, 3], [3, 2], [1, 2]]},
    {"fid": 2, "gtype": "POLYGON", "fields": {"A": 2},
     "coords": [[5, 2], [5, 3], [7, 3], [7, 2], [5, 2]]},
]
_LA_B = [
    {"fid": 1, "gtype": "POLYGON", "fields": {"B": "first"},
     "coords": [[2, 1], [2, 4], [6, 4], [6, 1], [2, 1]]},
]
# test_algebra_KEEP_LOWER_DIMENSION_GEOMETRIES layers (corner-touching
# rectangles + collinear endpoint-touching lines)
_LA_T1 = [
    {"fid": 1, "gtype": "POLYGON", "fields": {},
     "coords": [[140, 360], [140, 480], [220, 480], [220, 360],
                [140, 360]]},
    {"fid": 2, "gtype": "LINESTRING", "fields": {},
     "coords": [[0, 0], [1, 0]]},
]
_LA_T2 = [
    {"fid": 1, "gtype": "POLYGON", "fields": {},
     "coords": [[220, 260], [220, 360], [300, 360], [300, 260],
                [220, 260]]},
    {"fid": 2, "gtype": "LINESTRING", "fields": {},
     "coords": [[1, 0], [2, 0]]},
]
# test_algebra_intersection_multipoint layers (crossing lines)
_LA_X1 = [{"fid": 1, "gtype": "LINESTRING", "fields": {},
           "coords": [[0, 0], [1, 1]]}]
_LA_X2 = [{"fid": 1, "gtype": "LINESTRING", "fields": {},
           "coords": [[0, 1], [1, 0]]}]


def q_layer_algebra_options(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OGRLayer::Intersection option surface
    (KEEP_LOWER_DIMENSION_GEOMETRIES / PROMOTE_TO_MULTI,
    ogrlayer.cpp:3367-3403, 3540-3552): four option sets over the
    ported autotest fixtures. The oracle pins the reference's own
    expected outputs (autotest/ogr/ogr_layer_algebra.py
    test_algebra_intersection_1/2, _multipoint,
    test_algebra_KEEP_LOWER_DIMENSION_GEOMETRIES)."""
    from gdal_spark.overlay_features import intersection_features_options

    _ = sf_dir  # ported autotest layer fixtures

    def run(optset: str, fa, fb, options):
        df = intersection_features_options(spark, fa, fb, options)
        a_attr = "cast(A as string)" if any(
            f["fields"] for f in fa) else "cast(null as string)"
        b_attr = "cast(B as string)" if any(
            f["fields"] for f in fb) else "cast(null as string)"
        return df.selectExpr(
            f"'{optset}' as optset",
            "cast(in_fid as int) as in_fid",
            "cast(m_fid as int) as m_fid", "gtype",
            "cast(z_dim as int) as z_dim",
            "cast(n_pieces as int) as n_pieces",
            f"{a_attr} as a_attr", f"{b_attr} as b_attr")

    out = run("default", _LA_A, _LA_B, None)
    out = out.unionByName(run(
        "promote", _LA_A, _LA_B, {"PROMOTE_TO_MULTI": "YES"}))
    out = out.unionByName(run(
        "keep_yes", _LA_T1, _LA_T2,
        {"KEEP_LOWER_DIMENSION_GEOMETRIES": "YES"}))
    out = out.unionByName(run(
        "keep_no", _LA_T1, _LA_T2,
        {"KEEP_LOWER_DIMENSION_GEOMETRIES": "NO"}))
    out = out.unionByName(run(
        "promote_pt", _LA_X1, _LA_X2, {"PROMOTE_TO_MULTI": "YES"}))
    return out


def _layer_algebra_options_oracle() -> str:
    # the reference's pinned expectations, row for row:
    # - Intersection(A, B) -> two POLYGON features carrying (A, B)
    # - PROMOTE_TO_MULTI -> the same two as MULTIPOLYGON
    # - KEEP=YES on the touching layers -> two POINT features
    #   (poly-corner touch + collinear line endpoint touch)
    # - KEEP=NO -> zero features (equal input dims, lower result dim)
    # - crossing lines + PROMOTE -> MULTIPOINT ((0.5 0.5))
    rows = [
        "('default', 1, 1, 'POLYGON', 2, 1, '1', 'first')",
        "('default', 2, 1, 'POLYGON', 2, 1, '2', 'first')",
        "('promote', 1, 1, 'MULTIPOLYGON', 2, 1, '1', 'first')",
        "('promote', 2, 1, 'MULTIPOLYGON', 2, 1, '2', 'first')",
        "('keep_yes', 1, 1, 'POINT', 0, 1, NULL, NULL)",
        "('keep_yes', 2, 2, 'POINT', 0, 1, NULL, NULL)",
        "('promote_pt', 1, 1, 'MULTIPOINT', 0, 1, NULL, NULL)",
    ]
    return (
        "select optset, cast(in_fid as int) as in_fid,"
        " cast(m_fid as int) as m_fid, gtype,"
        " cast(z_dim as int) as z_dim,"
        " cast(n_pieces as int) as n_pieces,"
        " cast(a_attr as string) as a_attr,"
        " cast(b_attr as string) as b_attr"
        f" from (values {', '.join(rows)})"
        " as t(optset, in_fid, m_fid, gtype, z_dim, n_pieces,"
        " a_attr, b_attr)")


QUERIES = {
    "lineref_pickets": q_lineref_pickets,
    "lineref_position": q_lineref_position,
    "extract_geotags": q_extract_geotags,
    "cell_assign": q_cell_assign,
    "tile_counts_z8": q_tile_counts_z8,
    "pip_join": q_pip_join,
    "clip": q_clip,
    "erase": q_erase,
    "zonal_count": q_zonal_count,
    "zonal_stats": q_zonal_stats,
    "pip_join_cellprejoin": q_pip_join,
    "streaming_zonal_window": q_streaming_zonal,
    "streaming_stateful_totals": q_streaming_stateful,
    "streaming_dedup_urls": q_streaming_dedup,
    "layer_algebra_overlay": q_layer_overlay,
    "layer_algebra_options": q_layer_algebra_options,
    "layer_algebra_identity_update": q_layer_identity_update,
    "layer_algebra_intersection_nonconvex": q_layer_intersection_nonconvex,
    "layer_algebra_union_features": q_layer_union_features,
    "st_functions": q_st_functions,
    "st_predicates": q_st_predicates,
    "st_constructive": q_st_constructive,
    "st_buffer_styles": q_st_buffer_styles,
    "st_segmentize": q_st_segmentize,
    "st_wrapdateline": q_st_wrapdateline,
    "ogr2ogr_explodecollections": q_explodecollections,
    "ogr2ogr_pipeline": q_ogr2ogr_pipeline,
    "checkpoint_resume": q_checkpoint_resume,
    "clip_lines_cyrus_beck": q_clip_lines,
}


def _streaming_oracle() -> str:
    """The streaming windowed count ≡ hour-truncated batch count."""
    return f"""
with j as ({pip_oracle_sql(_PTS)})
select date_trunc('hour',
         cast(to_timestamp(1735689600 + j.doc_id * 7) as timestamp))
         as window_start,
       j.zone_id, count(*) as n_pages
from j group by 1, 2
"""


def _overlay_oracle() -> str:
    from gdal_spark.layer_algebra import (DUCKDB as _D, overlay_areas_sql,
                                          shift_defs)

    defs = zone_defs()
    return overlay_areas_sql(defs, shift_defs(defs, 0.31, 0.17), _D)


def _ogr2ogr_oracle() -> str:
    from gdal_spark.crs import webmercator_sql_stages

    inner = stages_to_duckdb_sql(
        f"select doc_id, lon, lat from ({_PTS}) p"
        f" where ({OGR2OGR_WHERE}) and doc_id in"
        f" (select doc_id from ({pip_oracle_sql(_PTS)}) j)",
        webmercator_sql_stages("lon", "lat"),
        ["doc_id", "x_3857", "y_3857"])
    return ("select doc_id, round(x_3857, 3) as x_3857,"
            f" round(y_3857, 3) as y_3857 from ({inner}) q")


def _nonconvex_oracle() -> str:
    from gdal_spark.layer_algebra import DUCKDB as _D, shift_defs
    from gdal_spark.overlay_features import intersection_agg_sql

    defs = zone_defs()
    return intersection_agg_sql(defs, shift_defs(defs, 0.31, 0.17), _D)


def _identity_update_oracle() -> str:
    from gdal_spark.layer_algebra import (DUCKDB as _D, disjoint_method_defs,
                                          identity_update_sql, shift_defs)

    defs = zone_defs()
    method = disjoint_method_defs(shift_defs(defs, 0.31, 0.17))
    return identity_update_sql(defs, method, _D)

ORACLES = {
    "lineref_pickets": _lineref_oracle(),
    "lineref_position": _lineref_position_oracle(),
    "extract_geotags": _extract_oracle(),
    "cell_assign": (
        f"select doc_id, {cell_id_sql('lon', 'lat', 12)} as cell_id"
        f" from ({_PTS}) p"
    ),
    "tile_counts_z8": (
        f"select {tile_x_sql('lon', 8)} as tile_x,"
        f" {tile_y_sql('lat', 8)} as tile_y,"
        f" count(*) as n_points from ({_PTS}) p group by 1, 2"
    ),
    "pip_join": pip_oracle_sql(_PTS),
    "clip": (
        f"select doc_id, lon_mic, lat_mic from ({_PTS}) p"
        f" where doc_id in (select doc_id from ({pip_oracle_sql(_PTS)}) j)"
    ),
    "erase": (
        f"select doc_id, lon_mic, lat_mic from ({_PTS}) p"
        f" where doc_id not in (select doc_id from ({pip_oracle_sql(_PTS)}) j)"
    ),
    "zonal_count": (
        f"select zone_id, count(*) as n_pages from ({pip_oracle_sql(_PTS)}) j"
        f" group by zone_id order by zone_id"
    ),
    "zonal_stats": f"""
with j as ({pip_oracle_sql(_PTS)}),
p as ({_PTS})
select j.zone_id, count(*) as n_points,
       min(p.lon_mic) as min_lon_mic, max(p.lat_mic) as max_lat_mic,
       cast(sum(p.lon_mic) as bigint) as sum_lon_mic
from j join p on j.doc_id = p.doc_id
group by j.zone_id
""",
    "pip_join_cellprejoin": pip_oracle_sql(_PTS),
    "streaming_zonal_window": _streaming_oracle(),
    "streaming_stateful_totals": (
        f"select zone_id, count(*) as n_pages"
        f" from ({pip_oracle_sql(_PTS)}) j group by zone_id"
    ),
    "streaming_dedup_urls": """
select concat('https://site', doc_id % 100, '.example/p/', doc_id) as url,
       lang
from documents
""",
    "layer_algebra_overlay": _overlay_oracle(),
    "layer_algebra_options": _layer_algebra_options_oracle(),
    "layer_algebra_identity_update": _identity_update_oracle(),
    "layer_algebra_intersection_nonconvex": _nonconvex_oracle(),
    "layer_algebra_union_features": __import__(
        "gdal_spark.overlay_features",
        fromlist=["union_features_oracle_sql"]
    ).union_features_oracle_sql(),
    "st_functions": __import__(
        "gdal_spark.stfuncs", fromlist=["st_functions_oracle_sql"]
    ).st_functions_oracle_sql(zone_defs()),
    "st_constructive": __import__(
        "gdal_spark.constructive", fromlist=["constructive_oracle_sql"]
    ).constructive_oracle_sql(),
    "st_buffer_styles": __import__(
        "gdal_spark.constructive", fromlist=["buffer_styles_oracle_sql"]
    ).buffer_styles_oracle_sql(),
    "st_segmentize": __import__(
        "gdal_spark.constructive", fromlist=["segmentize_oracle_sql"]
    ).segmentize_oracle_sql(),
    "st_wrapdateline": __import__(
        "gdal_spark.constructive", fromlist=["wrapdateline_oracle_sql"]
    ).wrapdateline_oracle_sql(),
    "ogr2ogr_explodecollections": __import__(
        "gdal_spark.constructive",
        fromlist=["explodecollections_oracle_sql"]
    ).explodecollections_oracle_sql(),
    "st_predicates": __import__(
        "gdal_spark.predicates", fromlist=["predicates_oracle_sql"]
    ).predicates_oracle_sql(),
    "ogr2ogr_pipeline": _ogr2ogr_oracle(),
    "checkpoint_resume": (
        f"select zone_id, count(*) as n_pages,"
        f" cast(case when zone_id < 5 then 1 else 2 end as bigint) as snap"
        f" from ({pip_oracle_sql(_PTS)}) j group by zone_id"
    ),
    "clip_lines_cyrus_beck": __import__(
        "gdal_spark.lineclip", fromlist=["clip_lines_sql"]
    ).clip_lines_sql(zone_defs(), "duckdb"),
}
