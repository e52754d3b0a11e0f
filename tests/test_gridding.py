"""Gridding semantics (alg/gdalgrid.cpp IDW, moving average, nearest
neighbor and data metrics, all columns of the one-pass grid_kernels)."""

from __future__ import annotations

import pytest

from gdal_spark.gridding import (GRID_LAT0, GRID_LON0, GRID_N, GRID_STEP,
                                 RADIUS, grid_kernels)
from gdal_spark.pages import points_from_documents


@pytest.fixture(scope="module")
def grid(spark):
    return grid_kernels(spark, "/root/testdata/sf0.001").toPandas()


def test_grid_bounds_and_weights(grid):
    assert (grid["i"] >= 0).all() and (grid["i"] < GRID_N).all()
    assert (grid["n_pts"] >= 1).all()
    # IDW is a convex combination → value within the point-value range
    assert (grid["idw_value"] >= 0).all() and (grid["idw_value"] <= 96).all()


def test_single_point_pixels_take_point_value(spark, grid):
    pts = points_from_documents(spark, "/root/testdata/sf0.001").toPandas()
    singles = grid[grid["n_pts"] == 1]
    assert len(singles) > 0
    vals = sorted(set((pts["doc_id"] % 97).astype(float)))
    for _, r in singles.iterrows():
        # (v/d²)/(1/d²) carries one ulp of division rounding (the same
        # arithmetic the oracle runs — cross-engine equality is exact,
        # recovery of v is not)
        assert min(abs(float(r["idw_value"]) - v) for v in vals) < 1e-10


def test_pixels_without_nearby_points_are_absent(spark, grid):
    """Radius-limited search: empty neighborhoods emit no row (nodata),
    so the grid has fewer rows than GRID_N² and every present pixel has
    a point within RADIUS of its center."""
    import numpy as np

    pts = points_from_documents(spark, "/root/testdata/sf0.001").toPandas()
    assert len(grid) < GRID_N * GRID_N
    px = pts["lon"].astype(float).to_numpy()
    py = pts["lat"].astype(float).to_numpy()
    for _, r in grid.sample(20, random_state=1).iterrows():
        cx = GRID_LON0 + (r["i"] + 0.5) * GRID_STEP
        cy = GRID_LAT0 + (r["j"] + 0.5) * GRID_STEP
        d2 = (px - cx) ** 2 + (py - cy) ** 2
        assert (d2 <= RADIUS * RADIUS).sum() == r["n_pts"]


def test_nearest_grid_matches_brute_force(spark, grid):
    """GDALGridNearestNeighbor analogue: every pixel's chosen point is
    the true distance-minimum over all points (doc_id tie-break)."""
    import numpy as np

    pts = points_from_documents(spark, "/root/testdata/sf0.001").toPandas()
    px = pts["lon"].astype(float).to_numpy()
    py = pts["lat"].astype(float).to_numpy()
    ids = pts["doc_id"].to_numpy()
    assert len(grid) > 0
    for _, r in grid.sample(min(30, len(grid)), random_state=2).iterrows():
        cx = GRID_LON0 + (r["i"] + 0.5) * GRID_STEP
        cy = GRID_LAT0 + (r["j"] + 0.5) * GRID_STEP
        d2 = (px - cx) ** 2 + (py - cy) ** 2
        order = np.lexsort((ids, d2))
        best = order[0]
        assert ids[best] == r["nn_doc_id"]
        assert abs(np.sqrt(d2[best]) - r["nn_dist"]) < 1e-12


def test_moving_average_within_range_and_counts(grid):
    assert (grid["avg_value"] >= 0).all() and (grid["avg_value"] <= 96).all()
    assert (grid["min_dist"] <= grid["max_dist"]).all()
    assert (grid["max_dist"] <= RADIUS + 1e-12).all()
    # nearest neighbor and the data metrics see the same candidate set
    assert (grid["nn_dist"] == grid["min_dist"]).all()
    assert (grid.loc[grid["n_pts"] == 1, "value_range"] == 0).all()


# ---------------------------------------------------------------------------
# Linear (Delaunay) gridding — alg/gdalgrid.cpp:2459 GDALGridLinear
# ---------------------------------------------------------------------------


def test_delaunay_properties():
    """Bowyer–Watson output is a real Delaunay triangulation of the
    scatter fixture: covers the convex hull exactly, uses every point,
    and no point lies strictly inside any triangle's circumcircle."""
    import numpy as np

    from gdal_spark.delaunay import (_circumcircle_contains, delaunay,
                                     scatter_points)

    pts = scatter_points()
    assert len(np.unique(pts[:, :2], axis=0)) == len(pts)
    tris = delaunay(pts)

    def tri_area(t):
        a, b, c = pts[t[0], :2], pts[t[1], :2], pts[t[2], :2]
        return 0.5 * abs((b[0] - a[0]) * (c[1] - a[1])
                         - (b[1] - a[1]) * (c[0] - a[0]))

    # hull area via monotone chain
    p = pts[np.lexsort((pts[:, 1], pts[:, 0]))][:, :2]

    def half(pp):
        h = []
        for q in pp:
            while len(h) >= 2 and (h[-1][0] - h[-2][0]) * (q[1] - h[-2][1]) \
                    - (h[-1][1] - h[-2][1]) * (q[0] - h[-2][0]) <= 0:
                h.pop()
            h.append(q)
        return h

    ring = half(p)[:-1] + half(p[::-1])[:-1]
    s = 0.0
    for i in range(len(ring)):
        x0, y0 = ring[i]
        x1, y1 = ring[(i + 1) % len(ring)]
        s += x0 * y1 - x1 * y0
    hull = abs(s) / 2
    assert sum(tri_area(t) for t in tris) == pytest.approx(hull, abs=1e-9)
    assert {i for t in tris for i in t} == set(range(len(pts)))
    for t in tris:
        a, b, c = pts[t[0]], pts[t[1]], pts[t[2]]
        for k in range(len(pts)):
            if k in t:
                continue
            assert not _circumcircle_contains(
                a[0], a[1], b[0], b[1], c[0], c[1], pts[k, 0], pts[k, 1])


def test_grid_linear_matches_duckdb_and_barycentric(spark):
    """grid_linear is bit-identical to the DuckDB twin, every z is a
    convex combination of its triangle's vertex values, and scatter
    points' own pixels interpolate near their z."""
    import duckdb
    import numpy as np

    from gdal_spark.delaunay import (DUCKDB, SPARK, delaunay,
                                     grid_linear_sql, scatter_points)

    sdf = spark.sql(grid_linear_sql(SPARK)).toPandas()
    odf = duckdb.connect().execute(grid_linear_sql(DUCKDB)).df()
    cols = sorted(sdf.columns)
    a = sdf[cols].sort_values(cols).reset_index(drop=True)
    b = odf[cols].sort_values(cols).reset_index(drop=True)
    assert a.shape == b.shape and len(a) > 1000
    for c in cols:
        assert np.array_equal(a[c].to_numpy(), b[c].to_numpy())
    # every interpolated z within the triangle's vertex z range
    pts, tris = scatter_points(), delaunay(scatter_points())
    for _, r in sdf.iterrows():
        zs = [pts[i, 2] for i in tris[int(r["tid"])]]
        assert min(zs) - 1e-9 <= r["z"] <= max(zs) + 1e-9
