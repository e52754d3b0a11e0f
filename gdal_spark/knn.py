"""Exact kNN join as one lazy plan over a count-bounded candidate cover.

Semantics: GDAL's gridding nearest-neighbour search, which expands until
k neighbours are guaranteed (alg/gdalgrid.cpp:879-923
GDALGridNearestNeighbor + CPLQuadTreeSearch, tree
port/cpl_quad_tree.cpp). Here the quadtree is the WebMercatorQuad grid
and the search is one pruned join, as "Distributed Stream KNN Join"
(SIGMOD 2021) prunes with a partition summary. No step runs a Spark
action; the plan is:

  1. counts: each point's tile at the finest zoom z0 and, by bit shift
     (floor-consistent, n is a power of two), its tiles at every level
     z0, z0-1, …, 2. One count per level cell is the count pyramid.
  2. level: per query, the finest level whose 3×3 block around its tile
     holds ≥ k points and whose cover (4.) has ≤ MAX_COVER tiles; the
     cap only bites where a fine block reaches a pole, whose cover
     takes every column. The coarsest level always qualifies: with
     fewer than k points in its block its cover is the whole grid.
  3. bound: the block's points lie within U of the query, with
     hav(U/R) ≤ hav(Δφmax) + cos φq·hav(min(Δλmax, π)) over the block's
     edges (rows 0 and n-1 reach the poles), widened for rounding.
  4. cover: every tile of the level that meets the bounding box of the
     cap of radius U (all columns once the cap holds a pole); x wraps.
  5. one cell equi-join of the covers to the points, then the k first by
     (dist_m, point id).

Exactness rests on 3 and 4 alone: the k-th distance is ≤ U, and every
point within U is in the cover. z0 only bounds how fine a level can be.
A step of one zoom between levels keeps the cover within ~4× the area
that holds k points. Distances are ``haversine_sql``, the expression text
the DuckDB brute-force oracle shares, so distances and ties match it bit
for bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gdal_spark.cells import (X_SHIFT, Z_SHIFT, tile_x_floor_sql,
                              tile_x_sql, tile_y_floor_sql, tile_y_sql)
from gdal_spark.crs import WGS84_A, haversine_sql

Z0 = 14          # finest level of the count pyramid
# a larger cover means a cap over a pole at a fine level; every grid up to
# z5 (32×32) fits, so the coarsest level (z2) always qualifies
MAX_COVER = 1024


def _cell(z: str, tx: str, ty: str) -> str:
    return (f"shiftleft(cast({z} as bigint), {Z_SHIFT})"
            f" + shiftleft({tx}, {X_SHIFT}) + {ty}")


def _edge_lat(row: str) -> str:
    """North edge (deg) of tile row ``row`` of an _n-high grid; rows ≤ 0
    reach +90 and row _n (south of the last) -90: the clamp's caps."""
    return (f"case when {row} <= 0 then 90.0 when {row} >= _n then -90.0"
            f" else degrees(atan(sinh(pi() * (1.0 - 2.0 * ({row}) / _n)))) end")


# 3. U (radians) from the block around tile (_bx, _by) of an _n-wide grid
_DPHI = f"greatest({_edge_lat('_by - 1')} - q_lat, q_lat - {_edge_lat('_by + 2')})"
_DLAM = ("least(greatest(q_lon + 180.0 - (_bx - 1) * 360.0 / _n,"
         " (_bx + 2) * 360.0 / _n - 180.0 - q_lon), 180.0)")
_BOUND = (f"2.0 * asin(sqrt(least(pow(sin(radians({_DPHI}) / 2.0), 2)"
          f" + cos(radians(q_lat)) * pow(sin(radians({_DLAM}) / 2.0), 2), 1.0)))"
          f" * (1.0 + 1e-9) + 1.0 / {WGS84_A!r}")
# 4. the cap's latitude and longitude half-widths (deg)
_R = "(degrees(_u) + 1e-9)"
_DL = (f"if(abs(q_lat) + {_R} >= 90.0, 180.0,"
       " degrees(asin(least(sin(_u) / cos(radians(q_lat)), 1.0))) + 1e-9)")


def knn_join(points: DataFrame, queries: DataFrame, k: int,
             z0: int | None = None) -> DataFrame:
    """Exact k nearest points for every query row.

    points:  (doc_id, lon, lat, …);  queries: (qid, lon, lat, …)
    returns: (qid, doc_id, rank, dist_m)

    ``z0`` is the finest zoom of the count pyramid (default ``Z0``;
    values below 2 are raised to 2). Exactness does not depend on it.
    Rows with NULL, NaN or out-of-range coordinates match nothing.
    """
    zf = max(2, Z0 if z0 is None else z0)
    nlev = zf - 1  # levels zf - j for j < nlev: zf, zf - 1, …, 2
    tiles = (f"{tile_x_sql('lon', zf)} as _tx", f"{tile_y_sql('lat', zf)} as _ty")

    # 1. the count pyramid (an invalid point's cells are NULL: no
    # equi-join matches them)
    pts = (points.selectExpr("doc_id", "lon as p_lon", "lat as p_lat", *tiles)
           .selectExpr("doc_id", "p_lon", "p_lat", "explode(array({})) as _cell".format(
               ", ".join(_cell(str(zf - j), f"shiftright(_tx, {j})", f"shiftright(_ty, {j})")
                         for j in range(nlev)))))
    counts = pts.groupBy("_cell").count()

    # 2. each query's count in its 3×3 block at every level j. Grouped by
    # the query id alone, the rows stay hash-partitioned by it through
    # the top-k window, which then needs no shuffle of its own when the
    # candidate join broadcasts the points.
    qcols = ("qid", "q_lon", "q_lat", "_tx", "_ty")
    n = f"shiftleft(1L, {zf} - _i div 9)"
    bx, by = "shiftright(_tx, _i div 9) + _i % 3 - 1", "shiftright(_ty, _i div 9) + _i div 3 % 3 - 1"
    blk = (queries.selectExpr("qid", "lon as q_lon", "lat as q_lat", *tiles)
           .where("_tx is not null and _ty is not null")
           .selectExpr(*qcols, f"explode(sequence(0, {9 * nlev - 1})) as _i")
           .selectExpr(*qcols, "_i div 9 as _j", f"if({by} between 0 and {n} - 1,"
                       f" {_cell(f'{zf} - _i div 9', f'pmod({bx}, {n})', by)}, null) as _cell")
           .join(counts, "_cell", "left")
           .groupBy("qid")
           .agg(*(F.expr(f"any_value({c}) as {c}") for c in qcols[1:]),
                F.expr("array({}) as _c".format(", ".join(
                    f"sum(if(_j = {j}, count, 0))" for j in range(nlev))))))

    # 3.-4. per level: the bound U, then the tile box of the cap
    lcols = (*qcols, "_z", "_n")
    lv = (blk.selectExpr(*qcols, "posexplode(_c) as (_j, _cnt)")
          .selectExpr(*qcols, "_cnt", f"{zf} - _j as _z", f"shiftleft(1L, {zf} - _j) as _n",
                      "shiftright(_tx, _j) as _bx", "shiftright(_ty, _j) as _by")
          .selectExpr(*lcols, f"_cnt >= {k} or _z = 2 as _ok",
                      f"if(_cnt >= {k}, {_BOUND}, pi()) as _u")
          .selectExpr(*lcols, "_ok",
                      f"greatest({tile_y_floor_sql(f'q_lat + {_R}', '_n')}, 0) as _y0",
                      f"least({tile_y_floor_sql(f'q_lat - {_R}', '_n')}, _n - 1) as _y1",
                      f"{tile_x_floor_sql(f'q_lon - {_DL}', '_n')} as _x0",
                      f"{tile_x_floor_sql(f'q_lon + {_DL}', '_n')} as _x1")
          .selectExpr("qid", "q_lon", "q_lat",
                      f"if(_ok and (_y1 - _y0 + 1) * least(_x1 - _x0 + 1, _n) <= {MAX_COVER},"
                      " named_struct('z', _z, 'n', _n, 'y0', _y0, 'x0', _x0,"
                      " 'ny', _y1 - _y0 + 1, 'nx', least(_x1 - _x0 + 1, _n)), null) as _cv"))

    # 2. the finest qualifying level (max compares z first), then 4. its
    # cover's cells
    cov = (lv.groupBy("qid", "q_lon", "q_lat")
           .agg(F.expr("max(_cv) as _cv"))
           .selectExpr("qid", "q_lon", "q_lat", "_cv",
                       "explode(sequence(0L, _cv.ny * _cv.nx - 1)) as _i")
           .selectExpr("qid", "q_lon", "q_lat", _cell(
               "_cv.z", "pmod(_cv.x0 + _i % _cv.nx, _cv.n)", "_cv.y0 + _i div _cv.nx") + " as _cell"))

    # 5. one equi-join, one top-k window
    dist = haversine_sql("q_lon", "q_lat", "p_lon", "p_lat")
    return (cov.join(pts, "_cell")
            .selectExpr("qid", "doc_id", f"{dist} as dist_m")
            .selectExpr("qid", "doc_id", "row_number() over (partition by qid"
                        " order by dist_m, doc_id) as rank", "dist_m")
            .where(f"rank <= {k}"))
