"""Reprojection + kNN queries (driver contract).

Reprojection replicates gdalwarp's EPSG transform semantics
(OGRCoordinateTransformation, ogr/ogrct.cpp:2344) as staged Catalyst
expressions; the identical SQL text runs under DuckDB, so parity is
bit-level before the mm-rounding applied for display.

kNN is the count-bounded candidate-cover join (gdal_spark.knn) checked
against a brute-force cross-join oracle — exactness of its distance
bound and cap cover is what's under test.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gdal_spark.crs import (apply_sql_stages, haversine_sql,
                            stages_to_duckdb_sql, tmerc_sql_stages,
                            webmercator_sql_stages)
from gdal_spark.knn import knn_join
from gdal_spark.pages import points_from_documents, points_oracle_sql

_PTS = points_oracle_sql("documents")
K = 5
QUERY_FILTER = "doc_id % 13 = 3"


def q_reproject_webmercator(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = points_from_documents(spark, sf_dir)
    out = apply_sql_stages(pts, webmercator_sql_stages("lon", "lat"))
    return out.select(
        "doc_id",
        F.round("x_3857", 3).alias("x_3857"),
        F.round("y_3857", 3).alias("y_3857"),
        "ok",
    )


def q_reproject_utm31(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EPSG:4326 → EPSG:32631 (UTM 31N), Krüger series. Restricted to the
    zone's ±6° neighborhood (the series' operating envelope; gdalwarp
    would likewise be driven zone-by-zone)."""
    pts = points_from_documents(spark, sf_dir).filter(
        "lon >= -3.0 and lon <= 9.0")
    out = apply_sql_stages(pts, tmerc_sql_stages("lon", "lat", 3.0))
    return out.select(
        "doc_id",
        F.round("easting", 3).alias("easting"),
        F.round("northing", 3).alias("northing"),
        "ok",
    )


def q_reproject_lcc93(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EPSG:4326 → EPSG:2154 (RGF93 / Lambert-93, LCC 2SP) AND
    EPSG:4326 → EPSG:3031 (Antarctic Polar Stereographic, EPSG method
    9829) through the EPSG-code-keyed dispatch (crs.epsg_fwd_stages —
    the proj_create_crs_to_crs surface, ogr/ogrct.cpp:1705), with
    per-point failure flags; one row per doc carries both projections."""
    from gdal_spark.crs import epsg_fwd_stages

    pts = points_from_documents(spark, sf_dir)
    # distinct per-projection flags: the two stage lists each define an
    # internal ``ok``; aliasing per projection keeps the LCC flag from
    # being overwritten by the PS one (a lat=-90 row is ps-ok, not lcc-ok)
    out = apply_sql_stages(pts, epsg_fwd_stages(2154, "easting", "northing",
                                                ok_col="lcc_ok"))
    out = apply_sql_stages(out, epsg_fwd_stages(3031, "ps_easting",
                                                "ps_northing",
                                                ok_col="ps_ok"))
    return out.select(
        "doc_id",
        F.round("easting", 3).alias("easting"),
        F.round("northing", 3).alias("northing"),
        F.round("ps_easting", 3).alias("ps_easting"),
        F.round("ps_northing", 3).alias("ps_northing"),
        "lcc_ok", "ps_ok",
    )


def q_reproject_utm_south(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EPSG:4326 → EPSG:32731 (UTM 31S): the southern-hemisphere UTM
    family (false northing 10,000,000 m — ogrct.cpp routes 327xx like
    326xx with FN; same Krüger series, same ±6° envelope), southern
    points only."""
    from gdal_spark.crs import epsg_fwd_stages

    pts = points_from_documents(spark, sf_dir).filter(
        "lon >= -3.0 and lon <= 9.0 and lat < 0.0")
    out = apply_sql_stages(pts, epsg_fwd_stages(32731, "easting", "northing"))
    return out.select(
        "doc_id",
        F.round("easting", 3).alias("easting"),
        F.round("northing", 3).alias("northing"),
        "ok",
    )


def q_reproject_albers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EPSG:4326 → EPSG:3577 (GDA94 / Australian Albers, Albers Equal
    Area 2SP, EPSG method 9822 — the first non-conformal and first
    negative-n family in the registry; GDA94↔WGS84 is the published
    null transform EPSG:1150). ρ = a·√(C−n·q)/n is defined for every
    latitude under these parallels, so all geotagged points project."""
    from gdal_spark.crs import epsg_fwd_stages

    pts = points_from_documents(spark, sf_dir)
    out = apply_sql_stages(pts, epsg_fwd_stages(3577, "easting", "northing"))
    return out.select(
        "doc_id",
        F.round("easting", 3).alias("easting"),
        F.round("northing", 3).alias("northing"),
        "ok",
    )


def q_reproject_osgb36(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EPSG:4326 → EPSG:27700 (OSGB36 / British National Grid): the
    first NON-WGS84-DATUM family — WGS84 geodetic→geocentric, published
    7-parameter Helmert (OS Guide §6.6 / EPSG:1314, position-vector),
    geocentric→Airy-1830 geodetic (fixed-point unrolled), Krüger
    forward with Airy coefficients and the 49°N/2°W national-grid
    origin. Validated against the OS Guide worked example (mm-exact on
    the projection leg, tests/test_geodesy.py). Points restricted to
    ±20° longitude (the Krüger operating envelope); accuracy is the
    single-Helmert ~3.5 m vs OSTN15, documented."""
    from gdal_spark.crs import epsg_fwd_stages

    pts = points_from_documents(spark, sf_dir).filter(
        "lon >= -20.0 and lon <= 20.0")
    out = apply_sql_stages(pts, epsg_fwd_stages(27700, "easting", "northing"))
    return out.select(
        "doc_id",
        F.round("easting", 3).alias("easting"),
        F.round("northing", 3).alias("northing"),
        "ok",
    )


def q_reproject_etrs89(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EPSG:4326 → EPSG:25832 (ETRS89 / UTM zone 32N): first family
    resolved from the EPSG parameter table (crs.epsg_table) rather
    than a per-code function — parameterized Krüger on GRS80 with the
    published null ETRS89↔WGS84 datum transform (EPSG:1149). Same ±6°
    zone-neighborhood envelope as the WGS84 UTM rows."""
    from gdal_spark.crs import epsg_fwd_stages

    pts = points_from_documents(spark, sf_dir).filter(
        "lon >= 3.0 and lon <= 15.0")
    out = apply_sql_stages(pts, epsg_fwd_stages(25832, "easting", "northing"))
    return out.select(
        "doc_id",
        F.round("easting", 3).alias("easting"),
        F.round("northing", 3).alias("northing"),
        "ok",
    )


def q_reproject_nad27(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EPSG:4326 → EPSG:26718 (NAD27 / UTM zone 18N): the second true
    datum-shift family (after OSGB36) — the published EPSG:1173
    geocentric translation NAD27↔WGS84 (tx=-8, ty=160, tz=176 m,
    reversed exactly) through XYZ, then Krüger on Clarke 1866
    (validated against Snyder 1987 §8's worked UTM example,
    tests/test_geodesy.py). Points restricted to the zone's ±6°
    neighborhood around 75°W."""
    from gdal_spark.crs import epsg_fwd_stages

    pts = points_from_documents(spark, sf_dir).filter(
        "lon >= -81.0 and lon <= -69.0")
    out = apply_sql_stages(pts, epsg_fwd_stages(26718, "easting", "northing"))
    return out.select(
        "doc_id",
        F.round("easting", 3).alias("easting"),
        F.round("northing", 3).alias("northing"),
        "ok",
    )


def q_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact kNN: every 13th doc queries the geotagged point set."""
    # cache the NARROW projection (id, lon, lat ≈ 24 B/row — bounded even
    # at 10^10 points), not the full-width table: the plan reads the
    # point side for both the count pyramid and the candidate join, and
    # uncached each read re-runs the geotag-extraction expression
    pts = points_from_documents(spark, sf_dir) \
        .select("doc_id", "lon", "lat").cache()
    queries = pts.filter(QUERY_FILTER).select(
        F.col("doc_id").alias("qid"), "lon", "lat")
    out = knn_join(pts, queries, k=K)
    return out.select("qid", "doc_id", "rank",
                      F.round("dist_m", 6).alias("dist_m"))


def q_reproject_laea_europe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EPSG:4326 → EPSG:3035 (ETRS89-extended / LAEA Europe): Lambert
    Azimuthal Equal Area oblique aspect (EPSG method 9820), the
    standard EU statistical grid — the first azimuthal equal-area
    family in the registry (ETRS89↔WGS84 null transform EPSG:1149).
    The per-point ok flag rejects only the antipode of the projection
    centre, so all geotagged points project; equal-area validated by
    the Jacobian invariant in tests/test_geodesy.py."""
    from gdal_spark.crs import epsg_fwd_stages

    pts = points_from_documents(spark, sf_dir)
    out = apply_sql_stages(pts, epsg_fwd_stages(3035, "easting", "northing"))
    return out.select(
        "doc_id",
        F.round("easting", 3).alias("easting"),
        F.round("northing", 3).alias("northing"),
        "ok",
    )


def q_reproject_ps_north(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EPSG:4326 → EPSG:3413 (WGS84 / NSIDC Sea Ice Polar Stereographic
    North): the north-aspect polar stereographic (EPSG method 9829
    variant B, standard parallel 70°N, λ0 = −45°), resolved through the
    same south-equivalent-latitude formula set as 3031/3032 (exact
    mirror symmetry asserted in tests/test_geodesy.py). Northern
    points only (the south pole is the aspect's singular point)."""
    from gdal_spark.crs import epsg_fwd_stages

    pts = points_from_documents(spark, sf_dir).filter("lat > 0.0")
    out = apply_sql_stages(pts, epsg_fwd_stages(3413, "easting", "northing"))
    return out.select(
        "doc_id",
        F.round("easting", 3).alias("easting"),
        F.round("northing", 3).alias("northing"),
        "ok",
    )


def q_reproject_osgb36_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EPSG:4326 → EPSG:27700 through the NTv2-style GRID datum path
    (gdal_spark.gridshift — broadcast cell join + bilinear shift +
    Airy Krüger; ogr/ogrct.cpp:1705-1803's PROJ-grid seam). The point
    fixture straddles the grid footprint so in-grid rows produce
    coordinates and out-of-grid rows fail with ok=false, exactly like
    PROJ outside a grid's extent."""
    from gdal_spark.gridshift import osgb36_grid_fwd

    _ = sf_dir  # deterministic grid + point fixture
    pts = spark.range(60).selectExpr(
        "cast(id as bigint) as pid",
        "-12.0 + cast(id % 10 as double) * 1.8 as lon",
        "48.0 + cast(id DIV 10 as double) * 2.3 as lat")
    out = osgb36_grid_fwd(spark, pts)
    return out.select(
        "pid",
        F.round("easting", 3).alias("easting"),
        F.round("northing", 3).alias("northing"),
        "in_grid", "ok")


def q_reproject_equal_earth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EPSG:4326 → EPSG:8857 (WGS 84 / Equal Earth Greenwich): the
    published Savric–Patterson–Jenny polynomial over the PARAMETRIC
    angle of the authalic latitude (PROJ's ellipsoidal treatment —
    the same q/qp machinery as the LAEA family). Equal-area validated
    by a Jacobian invariant in tests/test_geodesy.py."""
    from gdal_spark.crs import epsg_fwd_stages

    pts = points_from_documents(spark, sf_dir)
    out = apply_sql_stages(pts, epsg_fwd_stages(8857, "easting", "northing"))
    return out.select(
        "doc_id",
        F.round("easting", 3).alias("easting"),
        F.round("northing", 3).alias("northing"),
        "ok",
    )


def q_reproject_sinusoidal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EPSG:4326 → MODIS sinusoidal (SR-ORG:6842 — the MODIS land
    grid's sphere, R=6371007.181): the equal-area projection behind
    the most-warped raster grid in GDAL practice. Spherical closed
    form; per-point ok flags, same contract as every registry
    family."""
    from gdal_spark.crs import epsg_fwd_stages

    pts = points_from_documents(spark, sf_dir)
    out = apply_sql_stages(pts, epsg_fwd_stages(6842, "easting", "northing"))
    return out.select(
        "doc_id",
        F.round("easting", 3).alias("easting"),
        F.round("northing", 3).alias("northing"),
        "ok",
    )


def q_reproject_mollweide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EPSG:4326 → World Mollweide (ESRI:54009): the classic equal-area
    world map. PROJ's +proj=moll is spherical — with +datum=WGS84 the
    sphere radius is the semi-major axis — matched exactly; the
    defining equation 2θ + sin 2θ = π sin φ runs as a pole-guarded
    unrolled Newton in pure staged SQL (Snyder p.251; anchor-validated
    against Snyder's published numerical example in
    tests/test_geodesy.py)."""
    from gdal_spark.crs import epsg_fwd_stages

    pts = points_from_documents(spark, sf_dir)
    out = apply_sql_stages(pts, epsg_fwd_stages(54009, "easting", "northing"))
    return out.select(
        "doc_id",
        F.round("easting", 3).alias("easting"),
        F.round("northing", 3).alias("northing"),
        "ok",
    )


def q_reproject_nad27_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NAD27 → NAD83 / UTM 14N (EPSG:26914) through the NADCON-style
    GRID datum path (gdal_spark.gridshift CONUS_GRID — the same
    broadcast-join seam as reproject_osgb36_grid, demonstrating it is
    grid-parameterized, not UK-specific; PROJ's conus.las/.los via
    ogr/ogrct.cpp:1705-1803 is the reference precedent). The fixture
    straddles the CONUS footprint so out-of-grid rows fail with
    ok=false exactly like PROJ outside a grid's extent."""
    from gdal_spark.gridshift import nad27_grid_fwd

    _ = sf_dir  # deterministic grid + point fixture
    pts = spark.range(60).selectExpr(
        "cast(id as bigint) as pid",
        "-128.0 + cast(id % 10 as double) * 7.3 as lon",
        "22.0 + cast(id DIV 10 as double) * 5.7 as lat")
    out = nad27_grid_fwd(spark, pts)
    return out.select(
        "pid",
        F.round("easting", 3).alias("easting"),
        F.round("northing", 3).alias("northing"),
        "in_grid", "ok")


QUERIES = {
    "reproject_webmercator": q_reproject_webmercator,
    "reproject_utm31": q_reproject_utm31,
    "reproject_lcc93": q_reproject_lcc93,
    "reproject_utm_south": q_reproject_utm_south,
    "reproject_albers": q_reproject_albers,
    "reproject_osgb36": q_reproject_osgb36,
    "reproject_etrs89": q_reproject_etrs89,
    "reproject_nad27": q_reproject_nad27,
    "reproject_laea_europe": q_reproject_laea_europe,
    "reproject_ps_north": q_reproject_ps_north,
    "reproject_osgb36_grid": q_reproject_osgb36_grid,
    "reproject_nad27_grid": q_reproject_nad27_grid,
    "reproject_equal_earth": q_reproject_equal_earth,
    "reproject_sinusoidal": q_reproject_sinusoidal,
    "reproject_mollweide": q_reproject_mollweide,
    "knn": q_knn,
}


def _nad27_grid_oracle() -> str:
    from gdal_spark.gridshift import nad27_grid_duckdb_sql

    pts = ("select cast(id as bigint) as pid,"
           " -128.0 + cast(id % 10 as double) * 7.3 as lon,"
           " 22.0 + cast(id // 10 as double) * 5.7 as lat"
           " from (select range as id from range(0, 60)) t")
    inner = nad27_grid_duckdb_sql(pts, keep=["pid"])
    return (f"select pid, round(easting, 3) as easting,"
            f" round(northing, 3) as northing, in_grid, ok"
            f" from ({inner}) z")


def _osgb36_grid_oracle() -> str:
    from gdal_spark.gridshift import osgb36_grid_duckdb_sql

    pts = ("select cast(id as bigint) as pid,"
           " -12.0 + cast(id % 10 as double) * 1.8 as lon,"
           " 48.0 + cast(id // 10 as double) * 2.3 as lat"
           " from (select range as id from range(0, 60)) t")
    inner = osgb36_grid_duckdb_sql(pts, keep=["pid"])
    return (f"select pid, round(easting, 3) as easting,"
            f" round(northing, 3) as northing, in_grid, ok"
            f" from ({inner}) z")


def _lcc_oracle() -> str:
    from gdal_spark.crs import epsg_fwd_stages

    stages = (epsg_fwd_stages(2154, "easting", "northing",
                              ok_col="lcc_ok")
              + epsg_fwd_stages(3031, "ps_easting", "ps_northing",
                                ok_col="ps_ok"))
    inner = stages_to_duckdb_sql(
        f"select doc_id, lon, lat from ({_PTS}) p", stages,
        ["doc_id", "easting", "northing",
         "ps_easting", "ps_northing", "lcc_ok", "ps_ok"])
    return (f"select doc_id, round(easting, 3) as easting,"
            f" round(northing, 3) as northing,"
            f" round(ps_easting, 3) as ps_easting,"
            f" round(ps_northing, 3) as ps_northing, lcc_ok, ps_ok"
            f" from ({inner}) q")


def _webmerc_oracle() -> str:
    inner = stages_to_duckdb_sql(
        f"select doc_id, lon, lat from ({_PTS}) p",
        webmercator_sql_stages("lon", "lat"),
        ["doc_id", "x_3857", "y_3857", "ok"],
    )
    return (f"select doc_id, round(x_3857, 3) as x_3857,"
            f" round(y_3857, 3) as y_3857, ok from ({inner}) q")


def _utm_oracle() -> str:
    inner = stages_to_duckdb_sql(
        f"select doc_id, lon, lat from ({_PTS}) p"
        f" where lon >= -3.0 and lon <= 9.0",
        tmerc_sql_stages("lon", "lat", 3.0),
        ["doc_id", "easting", "northing", "ok"],
    )
    return (f"select doc_id, round(easting, 3) as easting,"
            f" round(northing, 3) as northing, ok from ({inner}) q")


def _utm_south_oracle() -> str:
    from gdal_spark.crs import epsg_fwd_stages

    inner = stages_to_duckdb_sql(
        f"select doc_id, lon, lat from ({_PTS}) p"
        f" where lon >= -3.0 and lon <= 9.0 and lat < 0.0",
        epsg_fwd_stages(32731, "easting", "northing"),
        ["doc_id", "easting", "northing", "ok"],
    )
    return (f"select doc_id, round(easting, 3) as easting,"
            f" round(northing, 3) as northing, ok from ({inner}) q")


def _albers_oracle() -> str:
    from gdal_spark.crs import epsg_fwd_stages

    inner = stages_to_duckdb_sql(
        f"select doc_id, lon, lat from ({_PTS}) p",
        epsg_fwd_stages(3577, "easting", "northing"),
        ["doc_id", "easting", "northing", "ok"],
    )
    return (f"select doc_id, round(easting, 3) as easting,"
            f" round(northing, 3) as northing, ok from ({inner}) q")


def _osgb36_oracle() -> str:
    from gdal_spark.crs import epsg_fwd_stages

    inner = stages_to_duckdb_sql(
        f"select doc_id, lon, lat from ({_PTS}) p"
        f" where lon >= -20.0 and lon <= 20.0",
        epsg_fwd_stages(27700, "easting", "northing"),
        ["doc_id", "easting", "northing", "ok"],
    )
    return (f"select doc_id, round(easting, 3) as easting,"
            f" round(northing, 3) as northing, ok from ({inner}) q")


def _epsg_pts_oracle(code: int, where: str) -> str:
    from gdal_spark.crs import epsg_fwd_stages

    inner = stages_to_duckdb_sql(
        f"select doc_id, lon, lat from ({_PTS}) p where {where}",
        epsg_fwd_stages(code, "easting", "northing"),
        ["doc_id", "easting", "northing", "ok"],
    )
    return (f"select doc_id, round(easting, 3) as easting,"
            f" round(northing, 3) as northing, ok from ({inner}) q")


def _knn_oracle() -> str:
    dist = haversine_sql("q.lon", "q.lat", "p.lon", "p.lat")
    return f"""
with p as ({_PTS}),
q as (select doc_id as qid, lon, lat from ({_PTS}) x where {QUERY_FILTER.replace('doc_id', 'x.doc_id')}),
ranked as (
  select q.qid, p.doc_id, {dist} as dist_m,
         row_number() over (partition by q.qid
                            order by {dist}, p.doc_id) as rank
  from q cross join p
)
select qid, doc_id, rank, round(dist_m, 6) as dist_m
from ranked where rank <= {K}
"""


ORACLES = {
    "reproject_webmercator": _webmerc_oracle(),
    "reproject_utm31": _utm_oracle(),
    "reproject_lcc93": _lcc_oracle(),
    "reproject_utm_south": _utm_south_oracle(),
    "reproject_albers": _albers_oracle(),
    "reproject_osgb36": _osgb36_oracle(),
    "reproject_etrs89": _epsg_pts_oracle(
        25832, "lon >= 3.0 and lon <= 15.0"),
    "reproject_nad27": _epsg_pts_oracle(
        26718, "lon >= -81.0 and lon <= -69.0"),
    "reproject_laea_europe": _epsg_pts_oracle(3035, "1 = 1"),
    "reproject_ps_north": _epsg_pts_oracle(3413, "lat > 0.0"),
    "reproject_osgb36_grid": _osgb36_grid_oracle(),
    "reproject_nad27_grid": _nad27_grid_oracle(),
    "reproject_equal_earth": _epsg_pts_oracle(8857, "1 = 1"),
    "reproject_sinusoidal": _epsg_pts_oracle(6842, "1 = 1"),
    "reproject_mollweide": _epsg_pts_oracle(54009, "1 = 1"),
    "knn": _knn_oracle(),
}
