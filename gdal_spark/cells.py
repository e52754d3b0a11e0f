"""Hierarchical spatial cell index: WebMercatorQuad tiles / quadkey cells.

Replicates the tile-indexing semantics of GDAL's `gdal raster tile`
(WebMercatorQuad a.k.a. GoogleMapsCompatible / XYZ; reference
apps/gdalalg_raster_tile.cpp:274 GetTileIndices): a point (lon, lat) at
zoom z maps to tile

    n  = 2**z
    tx = clamp(floor((lon + 180) / 360 * n), 0, n-1)
    ty = clamp(floor((1 - asinh(tan(lat_rad)) / pi) / 2 * n), 0, n-1)

In SQL, tx is NULL unless lon ∈ [-180, 180] and ty is NULL unless
lat ∈ [-90, 90]: NULL, NaN and ±inf fail the range check in both Spark
and DuckDB, so an invalid coordinate gets no tile instead of an edge tile.

The packed ``cell_id = (z << 58) | (tx << 29) | ty`` is this engine's
H3/S2-equivalent hierarchical cell id (the north rule allows a pure-math
quad scheme; h3/s2 native libs are not available in this environment).
Parent/child moves are bit shifts (``tx >> dz``, ``ty >> dz``).

All hot-path column math is **JVM-side Catalyst expressions** (whole-stage
codegen, no Python): the same SQL snippet is used verbatim by the Spark
plan and by the DuckDB test oracle, so the formula — not just the intent —
is shared.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

MAX_LAT = 85.05112878  # WebMercator latitude clamp
Z_SHIFT = 58
X_SHIFT = 29

# ---------------------------------------------------------------------------
# Shared SQL templates (valid in both Spark SQL and DuckDB SQL).
# asinh is spelled ln(t + sqrt(t*t + 1)) because DuckDB 1.0 lacks asinh.
# ---------------------------------------------------------------------------


def _lit(v: float) -> str:
    """e0-suffixed double literal (a bare decimal literal is DECIMAL in
    Spark SQL and would silently change the arithmetic)."""
    r = repr(float(v))
    return r if "e" in r or "E" in r else r + "e0"


def _sum_fold_sql(e: str, engine: str) -> str:
    """Left-to-right sum of the double array expression ``e``: one
    association order, so Spark (``engine == "spark"``) and DuckDB sum
    the same list to the same IEEE double."""
    if engine == "spark":
        return f"aggregate({e}, cast(0 as double), (s, v) -> s + v)"
    return (f"list_reduce(list_concat([cast(0 as double)],"
            f" {e}), (s, v) -> s + v)")


def tile_x_floor_sql(lon: str, n: str) -> str:
    """Unclamped, unwrapped tile column of ``lon`` on an n-wide grid
    (``n`` is SQL: a literal or a column)."""
    return f"floor((({lon}) + 180.0) / 360.0 * {n})"


def tile_y_floor_sql(lat: str, n: str) -> str:
    """Unclamped tile row of ``lat`` (itself clamped to ±MAX_LAT) on an
    n-high grid (``n`` is SQL: a literal or a column)."""
    t = f"tan(radians(least(greatest({lat}, {-MAX_LAT}), {MAX_LAT})))"
    asinh_t = f"ln({t} + sqrt({t} * {t} + 1.0))"
    return f"floor((1.0 - ({asinh_t}) / pi()) / 2.0 * {n})"


def tile_x_sql(lon: str, z: int) -> str:
    n = 1 << z
    return (
        f"case when ({lon}) between -180.0 and 180.0 then"
        f" cast(least({tile_x_floor_sql(lon, str(n))}, {n - 1})"
        f" as bigint) end"
    )


def tile_y_sql(lat: str, z: int) -> str:
    n = 1 << z
    return (
        f"case when ({lat}) between -90.0 and 90.0 then"
        f" cast(least(greatest({tile_y_floor_sql(lat, str(n))}, 0),"
        f" {n - 1}) as bigint) end"
    )


def cell_id_sql(lon: str, lat: str, z: int) -> str:
    return (
        f"(cast({z} as bigint) * {1 << Z_SHIFT}"
        f" + {tile_x_sql(lon, z)} * {1 << X_SHIFT}"
        f" + {tile_y_sql(lat, z)})"
    )


# ---------------------------------------------------------------------------
# Spark Column API (delegates to the shared SQL template → identical math).
# ---------------------------------------------------------------------------


def tile_x_col(z: int) -> Column:
    return F.expr(tile_x_sql("lon", z))


def tile_y_col(z: int) -> Column:
    return F.expr(tile_y_sql("lat", z))


def cell_id_col(lon: str, lat: str, z: int) -> Column:
    return F.expr(cell_id_sql(lon, lat, z))


# ---------------------------------------------------------------------------
# Numpy kernels (for pandas-UDF raster/kNN internals and test oracles).
# ---------------------------------------------------------------------------


def tile_xy_np(lon: np.ndarray, lat: np.ndarray, z: int):
    """Twin of tile_x_sql/tile_y_sql; where SQL gives NULL (NaN, ±inf,
    lon ∉ [-180, 180] or lat ∉ [-90, 90]) both tx and ty are -1."""
    n = 1 << z
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    ok = (np.abs(lon) <= 180.0) & (np.abs(lat) <= 90.0)  # False for NaN
    with np.errstate(invalid="ignore"):
        tx = np.floor((lon + 180.0) / 360.0 * n)
        t = np.tan(np.radians(np.clip(lat, -MAX_LAT, MAX_LAT)))
        ty = np.floor((1.0 - np.log(t + np.sqrt(t * t + 1.0)) / np.pi) / 2.0 * n)
    tx = np.where(ok, np.clip(tx, 0, n - 1), -1).astype(np.int64)
    ty = np.where(ok, np.clip(ty, 0, n - 1), -1).astype(np.int64)
    return tx, ty


def cell_id_np(lon: np.ndarray, lat: np.ndarray, z: int) -> np.ndarray:
    """Twin of cell_id_sql; -1 where SQL gives NULL."""
    tx, ty = tile_xy_np(lon, lat, z)
    return np.where(tx < 0, -1, (np.int64(z) << Z_SHIFT) | (tx << X_SHIFT) | ty)


def unpack_cell_id(cell_id: np.ndarray):
    cell_id = np.asarray(cell_id, dtype=np.int64)
    z = cell_id >> Z_SHIFT
    tx = (cell_id >> X_SHIFT) & ((1 << (Z_SHIFT - X_SHIFT)) - 1)
    ty = cell_id & ((1 << X_SHIFT) - 1)
    return z, tx, ty
