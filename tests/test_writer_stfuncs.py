"""ST_ function registry."""

from __future__ import annotations

import pytest

from gdal_spark import geom as G
from gdal_spark.stfuncs import register_st_functions
from gdal_spark.zones import zone_defs, zones_df


def test_st_functions_match_python_kernels(spark):
    register_st_functions(spark)
    zones_df(spark).createOrReplaceTempView("zones_st")
    rows = spark.sql("""
        select zone_id, st_area(geom) as a, st_npoints(geom) as np,
               st_centroid_x(geom) as cx, st_centroid_y(geom) as cy,
               st_contains_xy(geom, st_centroid_x(geom),
                              st_centroid_y(geom)) as c_in,
               st_distance_xy(geom, 0.0, 0.0) as d0
        from zones_st
    """).collect()
    defs = {z["zone_id"]: z for z in zone_defs()}
    assert len(rows) == len(defs)
    for r in rows:
        z = defs[r["zone_id"]]
        # sequential-fold kernels (pinned to the SQL oracle's fold
        # order) agree with numpy's pairwise sums only to rounding
        assert abs(r["a"] - G.polygon_area(z["rings"])) < 1e-9
        assert r["np"] == sum(len(ring) for ring in z["rings"])
        cx, cy = G.polygon_centroid(z["rings"])
        assert abs(r["cx"] - cx) < 1e-9 and abs(r["cy"] - cy) < 1e-9
        if r["zone_id"] != 10:  # star centroid is inside too, but skip
            assert r["c_in"] or r["zone_id"] == 11  # hole zone: centroid
            # of donut may fall in the hole
        assert r["d0"] > 0.0  # origin is far from every zone


def test_st_distance_zero_inside(spark):
    register_st_functions(spark)
    z = zone_defs()[0]
    cx, cy = G.polygon_centroid(z["rings"])
    zones_df(spark).filter("zone_id = 0").createOrReplaceTempView("z0")
    r = spark.sql(
        f"select st_distance_xy(geom, {cx!r}, {cy!r}) as d from z0"
    ).collect()[0]
    assert r["d"] == 0.0


def test_st_functions_contract_query(spark):
    """ST_ registry end-to-end: area agrees with the numpy kernel, the
    probe containment matches points_in_polygon, distance is 0 iff
    contained."""
    from gdal_spark import geom as G
    from gdal_spark.queries.spatial import q_st_functions
    from gdal_spark.zones import zone_defs

    res = q_st_functions(spark, "unused").toPandas().set_index("zone_id")
    for z in zone_defs():
        r = res.loc[z["zone_id"]]
        assert abs(r["area"] - G.polygon_area(z["rings"])) < 1e-9
        import numpy as np
        from gdal_spark.stfuncs import st_query_points
        qpt = next(p for p in st_query_points(zone_defs())
                   if p[0] == z["zone_id"])
        inside = bool(G.points_in_polygon(
            np.array([qpt[1]]), np.array([qpt[2]]), z["rings"])[0])
        assert bool(r["contains_q"]) == inside
        assert (r["dist_q"] == 0.0) == inside


# ---------------------------------------------------------------------------
# SQLite-dialect ExecuteSQL: ST_ functions inside statement strings
# (autotest/ogr/ogr_sql_sqlite.py:1755-1935 shapes — ExecuteSQL with
# dialect=SQLITE routes the statement to a full planner; here Catalyst
# with the registered ST_ surface).
# ---------------------------------------------------------------------------


def test_execute_sql_st_roundtrip_and_area(spark):
    from gdal_spark.sqlapi import execute_sql
    from gdal_spark.stfuncs import register_st_functions

    register_st_functions(spark)
    lyr = spark.createDataFrame([(0,)], "ord int")
    # ogr_sql_sqlite: ST_GeomFromWKB(ST_AsBinary(ST_GeomFromText(
    #   ST_AsText(ST_GeomFromText('POINT (0 1)')))))
    r = execute_sql(
        spark,
        "SELECT st_astext(st_geomfromwkb(st_asbinary(st_geomfromtext("
        "st_astext(st_geomfromtext('POINT (0 1)')))))) AS wkt, "
        "st_area(st_geomfromtext("
        "'POLYGON((0 0,0 10,10 10,10 0,0 0))')) AS a, "
        "st_area(null) AS a_null "
        "FROM t", {"t": lyr}, fid_order={"t": "ord"}).collect()[0]
    assert r["wkt"] == "POINT (0 1)"
    assert r["a"] == 100.0
    assert r["a_null"] is None


def test_execute_sql_st_predicates_and_buffer(spark):
    from gdal_spark.sqlapi import execute_sql
    from gdal_spark.stfuncs import register_st_functions

    register_st_functions(spark)
    lyr = spark.createDataFrame([(0,)], "ord int")
    sq = "POLYGON((0 0,0 10,10 10,10 0,0 0))"
    far = "POLYGON((20 20,20 30,30 30,30 20,20 20))"
    inner = "POLYGON((2 2,2 8,8 8,8 2,2 2))"
    r = execute_sql(
        spark,
        f"SELECT st_intersects(st_geomfromtext('{sq}'), "
        f"st_geomfromtext('{inner}')) AS i1, "
        f"st_intersects(st_geomfromtext('{sq}'), "
        f"st_geomfromtext('{far}')) AS i2, "
        f"st_within(st_geomfromtext('{inner}'), "
        f"st_geomfromtext('{sq}')) AS w, "
        f"st_area(st_buffer(st_geomfromtext('{sq}'), 0.0, 1)) AS ba "
        f"FROM t", {"t": lyr}, fid_order={"t": "ord"}).collect()[0]
    assert r["i1"] is True and r["i2"] is False and r["w"] is True
    assert r["ba"] == 100.0  # zero-distance buffer keeps the area
