"""Exact kNN join via iterative cell-ring expansion (the north-star op).

Semantics: GDAL's gridding nearest-neighbor search — a quadtree-assisted
expanding search until k neighbors are guaranteed
(alg/gdalgrid.cpp:879-923 GDALGridNearestNeighbor + CPLQuadTreeSearch,
tree port/cpl_quad_tree.cpp). Here the quadtree is the WebMercatorQuad
cell grid itself and the search is a *join*, not a per-point probe.

Ring levels, zoom z ∈ (z0, z0-2, z0-4, …) while z ≥ 3, each one pass:
  1. explode each pending query onto the 5×5 cell neighborhood (ring r=2)
     of its cell at z (x wraps at the antimeridian; from z3 up the grid
     is ≥ 8 tiles wide, so the ring never aliases a cell twice)
  2. left equi-join to points on cell id — a query with no candidate
     keeps one null row and so stays pending
  3. rank candidates per query by (haversine, point id), keep the top k,
     and mark the query DONE if it has k candidates, its kth distance is
     below the guarantee radius — the ground distance to the nearest
     possible point *outside* the 5×5 block (a tile at the block's
     worst-case latitude) — and the block touches neither tile row 0 nor
     row n-1 (the mercator clamp folds each polar cap into those rows,
     where columns far apart in x meet)
  4. one localCheckpoint holds the level's status: results are its done
     rows, the next level's pending queries its undone rank-1 rows.
Final level, z2: brute force — each still-pending query joins every
tile of the 4×4 grid, so it meets every point once (still an equi-join,
no all-pairs plan node), and every query resolves.

All distance math is JVM-side Catalyst expressions sharing the exact
expression text with the DuckDB brute-force oracle → bit-identical
distances → identical top-k sets (ties broken by point id).

Scale notes: each level joins only *pending* queries (hotspot queries —
the vast majority under power-law skew — resolve at the first level); the
join is a cell-id equi-join, so AQE handles hot-cell skew; candidate
ranking is a window over qid (bounded by k per query after the rank
filter).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from gdal_spark.cells import (X_SHIFT, Z_SHIFT, cell_id_sql, tile_x_sql,
                              tile_y_sql)
from gdal_spark.crs import WGS84_A, haversine_sql

EARTH_CIRCUM = 2.0 * math.pi * WGS84_A
RING = 2  # 5x5 neighborhood per level


def _cell_expr(z: int, tx: str, ty: str) -> str:
    n = 1 << z
    return (f"(cast({z} as bigint) * {1 << Z_SHIFT}"
            f" + ((({tx}) % {n} + {n}) % {n}) * {1 << X_SHIFT} + ({ty}))")


def _guarantee_expr(z: int, ty: str) -> str:
    """Ground meters to the nearest point outside the 5×5 block: one full
    tile width at the block's worst-case (highest-|lat|) row. Tile rows
    [ty-2, ty+2] lie inside [1, n-2] (the polar guard); evaluate mercator
    edge latitudes of the block's top and bottom, take the larger |lat|."""
    n = 1 << z
    lat_n = f"degrees(atan(sinh(pi() * (1.0 - 2.0 * ({ty} - {RING}) / {n}))))"
    lat_s = f"degrees(atan(sinh(pi() * (1.0 - 2.0 * ({ty} + {RING + 1}) / {n}))))"
    maxlat = f"greatest(abs({lat_n}), abs({lat_s}))"
    # 0.45: a full tile at worst-case latitude, halved for safety — at very
    # coarse zooms the geodesic between two points on a parallel undercuts
    # the parallel arc, so the naive one-tile bound is not a true lower
    # bound; 0.45 < 2/pi (the worst chord/arc ratio) keeps it rigorous.
    return f"(0.45 * {EARTH_CIRCUM!r} / {n} * cos(radians({maxlat})))"


def _estimate_rows(df: DataFrame) -> int:
    """Row-count estimate from the optimized plan's statistics — reads
    only metadata (Parquet footers / CBO stats), never launches a job."""
    stats = df._jdf.queryExecution().optimizedPlan().stats()
    rc = stats.rowCount()
    if rc.isDefined():
        return max(1, int(str(rc.get())))
    return max(1, int(str(stats.sizeInBytes())) // 64)


def knn_join(points: DataFrame, queries: DataFrame, k: int,
             z0: int | None = None, point_id: str = "doc_id",
             query_id: str = "qid") -> DataFrame:
    """Exact k nearest points for every query row.

    points:  (point_id, lon, lat, …);  queries: (query_id, lon, lat, …)
    returns: (query_id, point_id, rank, dist_m)

    ``z0`` (start zoom) defaults to a density heuristic: ~12 points per
    starting cell, so the first 5×5 ring already resolves typical
    queries, while sparse datasets skip straight to coarse levels
    instead of burning join rounds that cannot find k candidates.
    Exactness does not depend on z0 — only the number of rounds does.
    """
    if z0 is None:
        # density heuristic from CATALYST PLAN STATISTICS — no Spark
        # action: exact rowCount when CBO stats exist, else the
        # metadata sizeInBytes (file footers) over an assumed ~64 B/row.
        # z0 enters through log base 4, so an order-of-magnitude
        # estimate lands within one level; exactness never depends on
        # it, only round count does. Production callers should still
        # pass z0 (a static property of dataset density).
        n = _estimate_rows(points)
        z0 = min(14, max(2, round(math.log(max(n, 13) / 12.0, 4.0))))
        if z0 % 2 == 1:
            z0 += 1
    # no blind cache of the full point table: each level's join re-reads
    # the narrow (id, lon, lat) scan — at 100 TB a cache of every point
    # would evict everything else for a ≤3-level reuse; the columnar
    # re-scan is the cheaper, bounded choice
    pts = points.select(
        point_id,
        F.col("lon").alias("p_lon"), F.col("lat").alias("p_lat"),
    )

    pending = queries.select(
        query_id,
        F.col("lon").alias("q_lon"), F.col("lat").alias("q_lat"),
    )
    dist_expr = haversine_sql("q_lon", "q_lat", "p_lon", "p_lat")
    by_dist = Window.partitionBy(query_id).orderBy(
        F.col("dist_m").asc_nulls_last(), point_id)
    by_q = Window.partitionBy(query_id)
    results = []

    for z in [*range(z0, 2, -2), 2]:
        n = 1 << z
        last = z == 2
        if last:
            # brute force, kept an equi-join (no all-pairs plan node):
            # each query explodes onto every tile of the 4×4 z2 grid, so
            # it meets every point exactly once, and every query is done
            span_x = ("-_tx", f"{n - 1} - _tx")
            span_y = ("-_ty", f"{n - 1} - _ty")
            done = "true"
        else:
            span_x = span_y = (f"{-RING}", f"{RING}")
            done = (f"_nc >= {k} and _kth < {_guarantee_expr(z, '_ty')}"
                    f" and _ty > {RING} and _ty < {n - 1 - RING}")
        cand = (
            pending
            .withColumn("_tx", F.expr(tile_x_sql("q_lon", z)))
            .withColumn("_ty", F.expr(tile_y_sql("q_lat", z)))
            .withColumn("_dx", F.explode(F.sequence(*map(F.expr, span_x))))
            .withColumn("_dy", F.explode(F.sequence(*map(F.expr, span_y))))
            .filter(f"_ty + _dy >= 0 and _ty + _dy < {n}")
            .withColumn("_cell", F.expr(_cell_expr(z, "_tx + _dx", "_ty + _dy")))
        )
        p = pts.withColumn("_pcell", F.expr(cell_id_sql("p_lon", "p_lat", z)))
        # the level's one heavy job: cell join + top-k window + per-query
        # status, then localCheckpoint — the result is tiny (≤ k rows per
        # pending query), and both the level's results and the next
        # level's pending queries read the materialized rows
        ranked = (
            cand.join(p, cand._cell == p._pcell, "left")
            .withColumn("dist_m", F.expr(dist_expr))
            .withColumn("_rn", F.row_number().over(by_dist))
            .filter(F.col("_rn") <= k)
            .withColumn("_nc", F.count(point_id).over(by_q))
            .withColumn("_kth", F.max("dist_m").over(by_q))
            .withColumn("_done", F.expr(done))
            .localCheckpoint(eager=True)
        )
        # a query with fewer than k points keeps null rows from empty cells
        results.append(
            ranked.filter(F.col("_done") & F.col(point_id).isNotNull())
            .select(query_id, point_id, F.col("_rn").alias("rank"), "dist_m"))
        if last:
            break
        pending = ranked.filter("not _done and _rn = 1") \
                        .select(query_id, "q_lon", "q_lat")
        # iterative deepening stops as soon as the frontier drains
        # (gdalgrid.cpp:879 stops expanding once k are guaranteed)
        if pending.isEmpty():
            break

    out = results[0]
    for r in results[1:]:
        out = out.unionByName(r)
    return out
