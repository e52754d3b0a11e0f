"""Grid-based datum correction (NTv2/NADCON-style) as a broadcast join.

GDAL applies national datum corrections through PROJ's grid files
(NTv2 / OSTN15 / NADCON — loaded via the transformation database,
ogr/ogrct.cpp:1705-1803): a regular lat/lon raster of (dlat, dlon)
shifts in arcseconds, sampled by BILINEAR interpolation of the four
surrounding nodes and ADDED to the source coordinates before the map
projection. The engine's Helmert-only EPSG:27700 chain (gdal_spark.crs)
carries a documented ~3.5 m error vs OSTN15; this module supplies the
missing structural seam — with a grid table in place of the 7-parameter
shift, the chain is grid-exact.

Spark-first shape: a shift grid is a SMALL table (OSTN15 is ~876k
nodes ≈ a few MB; NTv2 national grids are far smaller) keyed by cell
index, so the lookup is a textbook **broadcast equi-join**: points
compute their (ci, cj) cell, join the broadcast cell table (one row
per cell carrying all four corner shifts — no 4-way join), and the
bilinear blend + projection run as whole-stage-codegen'd expressions.
Nothing shuffles; the grid broadcasts once per stage. At 10^12-point
scale this is exactly the plan you want: scan → broadcast hash join →
projection arithmetic.

The seam is PARAMETERIZED by a grid spec — the same builders serve
both registered families:
- ``UK_GRID``: a 0.5° grid over the British Isles (the OSTN15
  footprint shape), feeding the Airy Krüger for EPSG:4277→27700;
- ``CONUS_GRID``: a 1° grid over the conterminous US (the NADCON
  conus.las/.los footprint shape), shifting NAD27→NAD83 before the
  GRS80 UTM projection (EPSG:26914 in the contract query).
Each grid is a deterministic synthetic fixture (integer node formula
shared textually with the DuckDB oracle) standing in for a real grid
file — the real thing differs only in where the table's rows come
from. Points outside a grid fail with ok=false exactly like PROJ
outside-grid behavior.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Fixture grid specs: nodes at lon0 + i*step (i in [0, ni)),
# lat0 + j*step (j in [0, nj)); cells (ci, cj) span node i..i+1, j..j+1.
# dlat/dlon give the synthetic node-shift formula coefficients
# (a, b, mod, base, scale): shift = base + ((i*a + j*b) % mod) * scale.
UK_GRID = {
    "lon0": -9.0, "lat0": 49.0, "step": 0.5,
    "ni": 25, "nj": 27,  # nodes: lon -9..3, lat 49..62
    "dlat": (7, 13, 41, -4.0, 0.05),
    "dlon": (11, 5, 37, 1.0, 0.04),
}
CONUS_GRID = {
    "lon0": -125.0, "lat0": 24.0, "step": 1.0,
    "ni": 59, "nj": 26,  # nodes: lon -125..-67, lat 24..49
    "dlat": (5, 17, 43, -0.9, 0.03),
    "dlon": (3, 19, 47, 0.4, 0.06),
}


# module-level aliases for the UK fixture (the original single-grid API)
LON0, LAT0, STEP = UK_GRID["lon0"], UK_GRID["lat0"], UK_GRID["step"]


def _node_sql(i: str, j: str, c: tuple) -> str:
    """Synthetic node shift (arcsec) — integer arithmetic then one
    multiply/add, so both engines compute the identical double from
    identical text."""
    a, b, m, base, scale = c
    return (f"({base!r} + cast((({i}) * {a} + ({j}) * {b}) % {m}"
            f" as double) * {scale!r})")


def _cell_cols(grid: dict) -> list[tuple[str, str]]:
    """One row per CELL with the four corner shifts — the broadcast
    table's columns."""
    out = []
    for p, c in (("dlat", grid["dlat"]), ("dlon", grid["dlon"])):
        out += [
            (f"{p}00", _node_sql("ci", "cj", c)),
            (f"{p}10", _node_sql("ci + 1", "cj", c)),
            (f"{p}01", _node_sql("ci", "cj + 1", c)),
            (f"{p}11", _node_sql("ci + 1", "cj + 1", c)),
        ]
    return out


def grid_cells(spark: SparkSession, grid: dict = UK_GRID) -> DataFrame:
    """The (ni-1)x(nj-1) cell table, built from the node formula (a
    real NTv2/NADCON file would parquet-load instead — same shape)."""
    nci = grid["ni"] - 1
    df = spark.range(nci * (grid["nj"] - 1)).selectExpr(
        f"cast(id % {nci} as int) as ci",
        f"cast(id DIV {nci} as int) as cj")
    return df.selectExpr("ci", "cj",
                         *[f"{expr} as {name}"
                           for name, expr in _cell_cols(grid)])


def grid_cells_duckdb(grid: dict = UK_GRID) -> str:
    """DuckDB CTE body producing the identical cell table."""
    nci = grid["ni"] - 1
    cols = ", ".join(f"{expr} as {name}"
                     for name, expr in _cell_cols(grid))
    return (f"select cast(id % {nci} as int) as ci,"
            f" cast(id // {nci} as int) as cj, {cols}"
            f" from (select range as id from"
            f" range(0, {nci * (grid['nj'] - 1)})) t")


def cell_key_stages(grid: dict = UK_GRID) -> list[tuple[str, str]]:
    """Point-side stages: cell index + in-grid flag (shared text).
    Out-of-grid points get key (-1, -1) so the left join never
    matches them."""
    lon0, lat0, step = grid["lon0"], grid["lat0"], grid["step"]
    return [
        ("_gci", f"cast(floor(((lon) - {lon0!r}) / {step!r}) as int)"),
        ("_gcj", f"cast(floor(((lat) - {lat0!r}) / {step!r}) as int)"),
        ("in_grid", f"(_gci >= 0 and _gci <= {grid['ni'] - 2}"
                    f" and _gcj >= 0 and _gcj <= {grid['nj'] - 2})"),
        ("ci", f"case when in_grid then _gci else -1 end"),
        ("cj", f"case when in_grid then _gcj else -1 end"),
    ]


def bilinear_shift_stages(out_lon: str = "_glon",
                          out_lat: str = "_glat",
                          grid: dict = UK_GRID) -> list[tuple[str, str]]:
    """Post-join stages: bilinear blend of the four corner shifts,
    applied in arcseconds (PROJ grid convention: shift ADDS to the
    source coordinate). Out-of-grid rows become NaN — the projection
    stages downstream then fail them exactly like any invalid input."""
    lon0, lat0, step = grid["lon0"], grid["lat0"], grid["step"]
    fx = f"(((lon) - {lon0!r}) / {step!r} - ci)"
    fy = f"(((lat) - {lat0!r}) / {step!r} - cj)"

    def blend(p: str) -> str:
        return (f"({p}00 * (1.0 - _fx) * (1.0 - _fy)"
                f" + {p}10 * _fx * (1.0 - _fy)"
                f" + {p}01 * (1.0 - _fx) * _fy"
                f" + {p}11 * _fx * _fy)")

    return [
        ("_fx", f"case when in_grid then {fx} else 0.0 end"),
        ("_fy", f"case when in_grid then {fy} else 0.0 end"),
        ("_dlat", f"case when in_grid then {blend('dlat')} else 0.0 end"),
        ("_dlon", f"case when in_grid then {blend('dlon')} else 0.0 end"),
        (out_lat, f"case when in_grid then (lat) + _dlat / 3600.0"
                  f" else cast('nan' as double) end"),
        (out_lon, f"case when in_grid then (lon) + _dlon / 3600.0"
                  f" else cast('nan' as double) end"),
    ]


def grid_datum_fwd(spark: SparkSession, pts: DataFrame, grid: dict,
                   tmerc_params) -> DataFrame:
    """The generic GRID datum path: broadcast cell join → bilinear
    shift → transverse-Mercator projection on the target datum's
    ellipsoid. Adds easting / northing / ok (+ in_grid). On the
    synthetic fixtures the datum step is grid-exact by construction
    (tests pin node-exactness and an independent numpy bilinear)."""
    from gdal_spark.crs import apply_sql_stages, tmerc_sql_stages_p

    pts = apply_sql_stages(pts, cell_key_stages(grid))
    joined = pts.join(F.broadcast(grid_cells(spark, grid)),
                      ["ci", "cj"], "left")
    # one staged pipeline: apply_sql_stages drops _-temporaries at the
    # end, so the bilinear outputs must stay in scope for the Krüger
    # stages that consume them
    stages = (bilinear_shift_stages(grid=grid)
              + tmerc_sql_stages_p("_glon", "_glat", tmerc_params)
              + [("ok", "(in_grid and ok)")])
    return apply_sql_stages(joined, stages)


def grid_datum_duckdb_sql(pts_select: str, grid: dict, tmerc_params,
                          keep: list[str] | None = None) -> str:
    """The identical chain as one DuckDB statement: pts → cell keys →
    left join grid → bilinear → Krüger; same stage text."""
    from gdal_spark.crs import stages_to_duckdb_sql, tmerc_sql_stages_p

    keep = keep or []
    key_inner = stages_to_duckdb_sql(
        pts_select, cell_key_stages(grid),
        keep + ["lon", "lat", "in_grid", "ci", "cj"])
    grid_cols = [name for name, _ in _cell_cols(grid)]
    joined = (f"select p.*, {', '.join('g.' + c for c in grid_cols)}"
              f" from ({key_inner}) p left join"
              f" ({grid_cells_duckdb(grid)}) g"
              f" using (ci, cj)")
    shifted = stages_to_duckdb_sql(
        joined, bilinear_shift_stages(grid=grid),
        keep + ["lon", "lat", "in_grid", "_glon", "_glat"])
    final = stages_to_duckdb_sql(
        shifted, tmerc_sql_stages_p("_glon", "_glat", tmerc_params),
        keep + ["in_grid", "easting", "northing", "ok"])
    return (f"select {', '.join(keep + ['in_grid'])},"
            f" easting, northing, (in_grid and ok) as ok from ({final}) q")


def osgb36_grid_fwd(spark: SparkSession, pts: DataFrame) -> DataFrame:
    """EPSG:4326 → EPSG:27700 with the GRID datum path (the flag-gated
    alternative to the single Helmert of crs.datum_tmerc_sql_stages with
    HELMERT_WGS84_TO_OSGB36): UK grid → Airy Krüger."""
    from gdal_spark.crs import TMERC_27700

    return grid_datum_fwd(spark, pts, UK_GRID, TMERC_27700)


def osgb36_grid_duckdb_sql(pts_select: str,
                           keep: list[str] | None = None) -> str:
    from gdal_spark.crs import TMERC_27700

    return grid_datum_duckdb_sql(pts_select, UK_GRID, TMERC_27700, keep)


def _nad83_utm14() -> object:
    from gdal_spark.crs import _grs80_utm_params

    return _grs80_utm_params(14, fn=0.0)  # EPSG:26914


def nad27_grid_fwd(spark: SparkSession, pts: DataFrame) -> DataFrame:
    """NAD27 lon/lat → NAD83 / UTM 14N (EPSG:26914) with the NADCON
    grid path: the CONUS grid shifts NAD27 coordinates onto NAD83
    (PROJ's conus.las/.los precedent), then the GRS80 Krüger projects.
    The Helmert alternative is crs' reproject_nad27 family; on the
    synthetic fixture the grid path is datum-exact by construction."""
    return grid_datum_fwd(spark, pts, CONUS_GRID, _nad83_utm14())


def nad27_grid_duckdb_sql(pts_select: str,
                          keep: list[str] | None = None) -> str:
    return grid_datum_duckdb_sql(pts_select, CONUS_GRID,
                                 _nad83_utm14(), keep)
