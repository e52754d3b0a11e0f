"""Grid-based datum correction (gdal_spark.gridshift) — the NTv2-style
broadcast-grid bilinear seam (ogr/ogrct.cpp:1705-1803 PROJ grids)."""

from __future__ import annotations

import numpy as np

from gdal_spark.gridshift import (LAT0, LON0, STEP, UK_GRID,
                                  bilinear_shift_stages, cell_key_stages,
                                  grid_cells, osgb36_grid_fwd)

NI, NJ = UK_GRID["ni"], UK_GRID["nj"]


def _node_dlat(i: int, j: int) -> float:
    return -4.0 + float((i * 7 + j * 13) % 41) * 0.05


def _node_dlon(i: int, j: int) -> float:
    return 1.0 + float((i * 11 + j * 5) % 37) * 0.04


def _shift_df(spark, pts):
    """Run just the datum-correction half (cell join + bilinear)."""
    from pyspark.sql import functions as F

    from gdal_spark.crs import apply_sql_stages

    df = spark.createDataFrame(pts, "pid int, lon double, lat double")
    df = apply_sql_stages(df, cell_key_stages())
    df = df.join(F.broadcast(grid_cells(spark)), ["ci", "cj"], "left")
    # keep the bilinear temporaries observable via output columns
    stages = bilinear_shift_stages("glon", "glat")
    return apply_sql_stages(df, stages)


def test_node_points_are_grid_exact(spark):
    """A point exactly ON a grid node gets exactly that node's shift
    (fx = fy = 0): the 'grid-exact on the fixture' criterion."""
    pts = [(0, LON0 + 3 * STEP, LAT0 + 5 * STEP),
           (1, LON0, LAT0),
           (2, LON0 + (NI - 2) * STEP, LAT0 + (NJ - 2) * STEP)]
    rows = {r["pid"]: r for r in _shift_df(spark, pts).collect()}
    for pid, (i, j) in {0: (3, 5), 1: (0, 0), 2: (NI - 2, NJ - 2)}.items():
        r = rows[pid]
        assert r["in_grid"]
        assert r["glat"] == pts[pid][2] + _node_dlat(i, j) / 3600.0
        assert r["glon"] == pts[pid][1] + _node_dlon(i, j) / 3600.0


def test_bilinear_matches_independent_numpy(spark):
    """Interior points: the SQL bilinear equals an independent numpy
    bilinear to 1e-12 (different evaluation order, so exact equality
    is not required here — exactness across ENGINES is the contract
    row's job)."""
    rng = np.random.RandomState(3)
    pts = [(k, float(LON0 + rng.uniform(0.01, (NI - 1) * STEP - 0.01)),
            float(LAT0 + rng.uniform(0.01, (NJ - 1) * STEP - 0.01)))
           for k in range(50)]
    rows = {r["pid"]: r for r in _shift_df(spark, pts).collect()}
    for pid, lon, lat in pts:
        ci = int(np.floor((lon - LON0) / STEP))
        cj = int(np.floor((lat - LAT0) / STEP))
        fx = (lon - LON0) / STEP - ci
        fy = (lat - LAT0) / STEP - cj
        dlat = (_node_dlat(ci, cj) * (1 - fx) * (1 - fy)
                + _node_dlat(ci + 1, cj) * fx * (1 - fy)
                + _node_dlat(ci, cj + 1) * (1 - fx) * fy
                + _node_dlat(ci + 1, cj + 1) * fx * fy)
        dlon = (_node_dlon(ci, cj) * (1 - fx) * (1 - fy)
                + _node_dlon(ci + 1, cj) * fx * (1 - fy)
                + _node_dlon(ci, cj + 1) * (1 - fx) * fy
                + _node_dlon(ci + 1, cj + 1) * fx * fy)
        r = rows[pid]
        assert r["in_grid"]
        assert abs(r["glat"] - (lat + dlat / 3600.0)) < 1e-12
        assert abs(r["glon"] - (lon + dlon / 3600.0)) < 1e-12


def test_outside_grid_fails_like_proj(spark):
    """Points outside the grid footprint: in_grid false, NaN outputs,
    ok false after the projection stages — PROJ's outside-grid
    failure, not a silent extrapolation."""
    pts = [(0, LON0 - 1.0, 50.0), (1, 0.0, LAT0 - 1.0),
           (2, 0.0, 55.0)]
    df = osgb36_grid_fwd(
        spark, spark.createDataFrame(
            pts, "pid int, lon double, lat double"))
    rows = {r["pid"]: r for r in df.collect()}
    assert not rows[0]["in_grid"] and not rows[0]["ok"]
    assert not rows[1]["in_grid"] and not rows[1]["ok"]
    assert np.isnan(rows[0]["easting"])
    assert rows[2]["in_grid"] and rows[2]["ok"]
    assert np.isfinite(rows[2]["easting"])


def test_grid_join_is_broadcast_no_shuffle_of_points(spark):
    """Plan shape: the cell lookup must be a BroadcastHashJoin — the
    grid broadcasts, the point side never shuffles (the 10^12-row
    scale requirement)."""
    pts = spark.range(100).selectExpr(
        "cast(id as int) as pid",
        "cast(-8.0 + (id % 10) * 1.0 as double) as lon",
        "cast(50.0 + (id DIV 10) * 1.0 as double) as lat")
    plan = osgb36_grid_fwd(spark, pts)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_grid_shift_magnitude_is_ntv2_like(spark):
    """Fixture sanity: shifts stay in the single-arcsecond band (real
    OSGB36<->WGS84 offsets are a few arcsec), so the TM stage sees
    realistic perturbations."""
    rows = grid_cells(spark).collect()
    for r in rows:
        for c in ("dlat00", "dlat10", "dlat01", "dlat11"):
            assert -4.0 <= r[c] <= -1.9
        for c in ("dlon00", "dlon10", "dlon01", "dlon11"):
            assert 1.0 <= r[c] <= 2.5


# ---------------------------------------------------------------------------
# CONUS (NADCON-style) second family: the seam is grid-parameterized,
# not UK-specific. Independent numpy bilinear against the CONUS node
# formula, plus the out-of-grid contract on the CONUS footprint.
# ---------------------------------------------------------------------------

def _conus_node(i: int, j: int, c) -> float:
    a, b, m, base, scale = c
    return base + float((i * a + j * b) % m) * scale


def test_conus_grid_bilinear_matches_independent_numpy(spark):
    from pyspark.sql import functions as F

    from gdal_spark.crs import apply_sql_stages
    from gdal_spark.gridshift import CONUS_GRID

    g = CONUS_GRID
    rng = np.random.RandomState(21)
    pts = [(k,
            float(g["lon0"] + rng.uniform(0.01,
                                          (g["ni"] - 1) * g["step"] - .01)),
            float(g["lat0"] + rng.uniform(0.01,
                                          (g["nj"] - 1) * g["step"] - .01)))
           for k in range(30)]
    df = spark.createDataFrame(pts, "pid int, lon double, lat double")
    df = apply_sql_stages(df, cell_key_stages(g))
    df = df.join(F.broadcast(grid_cells(spark, g)), ["ci", "cj"], "left")
    out = {r["pid"]: r for r in apply_sql_stages(
        df, bilinear_shift_stages("glon", "glat",
                                  grid=g)).collect()}
    for pid, lon, lat in pts:
        ci = int(np.floor((lon - g["lon0"]) / g["step"]))
        cj = int(np.floor((lat - g["lat0"]) / g["step"]))
        fx = (lon - g["lon0"]) / g["step"] - ci
        fy = (lat - g["lat0"]) / g["step"] - cj
        exp_dlat = sum(
            _conus_node(ci + di, cj + dj, g["dlat"]) * wx * wy
            for di, wx in ((0, 1 - fx), (1, fx))
            for dj, wy in ((0, 1 - fy), (1, fy)))
        exp_dlon = sum(
            _conus_node(ci + di, cj + dj, g["dlon"]) * wx * wy
            for di, wx in ((0, 1 - fx), (1, fx))
            for dj, wy in ((0, 1 - fy), (1, fy)))
        r = out[pid]
        assert abs(r["glat"] - (lat + exp_dlat / 3600.0)) < 1e-12
        assert abs(r["glon"] - (lon + exp_dlon / 3600.0)) < 1e-12


def test_nad27_grid_fwd_footprint_and_plan(spark):
    """Out-of-grid rows fail like PROJ; the CONUS cell join is a
    broadcast hash join — the points never shuffle."""
    from gdal_spark.gridshift import nad27_grid_fwd

    pts = spark.createDataFrame(
        [(0, -98.5, 35.2),      # in CONUS footprint
         (1, -130.0, 35.0),     # west of grid
         (2, -98.0, 20.0),      # south of grid
         (3, -98.0, 55.0)],     # north of grid
        "pid int, lon double, lat double")
    out = nad27_grid_fwd(spark, pts)
    rows = {r["pid"]: r for r in out.collect()}
    assert rows[0]["ok"] and rows[0]["in_grid"]
    for pid in (1, 2, 3):
        assert not rows[pid]["in_grid"] and not rows[pid]["ok"]
        assert np.isnan(rows[pid]["easting"])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "Cartesian" not in plan


def test_uk_and_conus_grids_differ():
    """The two registered grids must not alias each other (distinct
    footprints and node formulas)."""
    from gdal_spark.gridshift import CONUS_GRID, UK_GRID

    assert UK_GRID["lon0"] != CONUS_GRID["lon0"]
    assert UK_GRID["dlat"] != CONUS_GRID["dlat"]
    assert _conus_node(3, 5, CONUS_GRID["dlat"]) != \
        _conus_node(3, 5, UK_GRID["dlat"])
