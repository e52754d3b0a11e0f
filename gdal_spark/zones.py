"""The ``zones`` polygon layer — deterministic fixture + SQL-renderable oracle.

Mirrors the role of GDAL's canonical poly.shp fixture (10 polygons, fields
AREA/EAS_ID/PRFEDEA — autotest/ogr/data/poly.shp, used throughout
autotest/ogr/ogr_sql_test.py): a small polygon layer joined against the
huge point table. Includes convex zones over the synthetic city hotspots,
one concave (star) zone, one zone with a hole, and one overlapping pair —
exercising contains-vs-intersects and even-odd hole semantics.

Vertices are fixed decimal literals, so the identical polygon renders into
DuckDB SQL (ray-casting parity oracle) and into the engine's broadcast
R-tree with bit-equal coordinates.
"""

from __future__ import annotations

import math

import numpy as np

from gdal_spark import geom as G
from gdal_spark import wkb as W

N_CONVEX = 10


def _city_center(c: int) -> tuple[float, float]:
    """Same formula as pages.synth_stages city centers (degrees)."""
    return (
        float(-175 + ((c * 77) % 350)),
        float(-60 + ((c * 131) % 120)),
    )


def _octagon(cx: float, cy: float, r: float, phase: float = 0.0) -> np.ndarray:
    pts = []
    for k in range(8):
        a = phase + 2.0 * math.pi * k / 8.0
        pts.append((round(cx + r * math.cos(a), 6), round(cy + r * math.sin(a), 6)))
    pts.append(pts[0])
    return np.asarray(pts, dtype=np.float64)


def _star(cx: float, cy: float, r_out: float, r_in: float) -> np.ndarray:
    pts = []
    for k in range(10):
        r = r_out if k % 2 == 0 else r_in
        a = 2.0 * math.pi * k / 10.0
        pts.append((round(cx + r * math.cos(a), 6), round(cy + r * math.sin(a), 6)))
    pts.append(pts[0])
    return np.asarray(pts, dtype=np.float64)


def zone_defs() -> list[dict]:
    """Deterministic zone list: [{zone_id, eas_id, prfedea, rings}]."""
    zones = []
    # 10 convex octagons over city hotspots 0..9 (offset to avoid exact
    # vertex/point coincidences with synthetic page coordinates)
    for c in range(N_CONVEX):
        cx, cy = _city_center(c)
        rings = [_octagon(cx + 0.0123, cy + 0.0071, 0.5 + 0.07 * c,
                          phase=0.1 * c)]
        zones.append({"zone_id": c, "rings": rings})
    # concave star over city 10
    cx, cy = _city_center(10)
    zones.append({"zone_id": 10, "rings": [_star(cx + 0.0123, cy + 0.0071, 1.0, 0.35)]})
    # polygon with a hole over city 11 (even-odd semantics)
    cx, cy = _city_center(11)
    zones.append({
        "zone_id": 11,
        "rings": [_octagon(cx + 0.0123, cy + 0.0071, 0.8),
                  _octagon(cx + 0.0123, cy + 0.0071, 0.3, phase=0.2)],
    })
    # overlapping partner of zone 0 (shifted) — overlap pair semantics
    cx, cy = _city_center(0)
    zones.append({"zone_id": 12, "rings": [_octagon(cx + 0.35, cy + 0.22, 0.5,
                                                    phase=0.05)]})
    for i, z in enumerate(zones):
        z["eas_id"] = 158 + i
        z["prfedea"] = f"35043{400 + i}"
        z["area"] = G.polygon_area(z["rings"])
    return zones


def zones_rows() -> list[tuple]:
    """(zone_id, eas_id, area, prfedea, geom_wkb, minx, miny, maxx, maxy)."""
    rows = []
    for z in zone_defs():
        minx, miny, maxx, maxy = G.rings_bbox(z["rings"])
        rows.append((
            z["zone_id"], z["eas_id"], z["area"], z["prfedea"],
            W.dumps_polygon(z["rings"]), minx, miny, maxx, maxy,
        ))
    return rows


ZONES_SCHEMA = ("zone_id long, eas_id long, area double, prfedea string,"
                " geom binary, minx double, miny double, maxx double,"
                " maxy double")


def zones_df(spark):
    return spark.createDataFrame(zones_rows(), schema=ZONES_SCHEMA)


def _fmt(v: float) -> str:
    return repr(float(v))


def zone_edges_values_sql() -> str:
    """VALUES list of every ring edge: (zone_id, x0, y0, x1, y1)."""
    vals = []
    for z in zone_defs():
        for ring in z["rings"]:
            for i in range(len(ring) - 1):
                vals.append(
                    f"({z['zone_id']}, {_fmt(ring[i, 0])}, {_fmt(ring[i, 1])},"
                    f" {_fmt(ring[i + 1, 0])}, {_fmt(ring[i + 1, 1])})"
                )
    return ("(values " + ", ".join(vals)
            + ") as e(zone_id, x0, y0, x1, y1)")


def zone_bbox_values_sql() -> str:
    vals = []
    for z in zone_defs():
        minx, miny, maxx, maxy = G.rings_bbox(z["rings"])
        vals.append(f"({z['zone_id']}, {z['eas_id']}, {_fmt(minx)}, {_fmt(miny)},"
                    f" {_fmt(maxx)}, {_fmt(maxy)})")
    return ("(values " + ", ".join(vals)
            + ") as b(zone_id, eas_id, minx, miny, maxx, maxy)")


def pip_oracle_sql(points_sql: str) -> str:
    """DuckDB SQL: even-odd ray-cast PIP of points against all zones.

    Emits (doc_id, zone_id) for every point strictly inside a zone —
    the same arithmetic (same expression text) as the numpy kernel in
    gdal_spark.geom.points_in_ring, so results match bit-for-bit.
    """
    return f"""
with pts as ({points_sql}),
cand as (
  select p.*, b.zone_id as zid
  from pts p
  join {zone_bbox_values_sql()}
    on p.lon >= b.minx and p.lon <= b.maxx
   and p.lat >= b.miny and p.lat <= b.maxy
),
crossed as (
  select c.doc_id, c.zid,
         sum(case when ((e.y0 > c.lat) != (e.y1 > c.lat))
                   and c.lon < (e.x1 - e.x0) * (c.lat - e.y0) / (e.y1 - e.y0) + e.x0
              then 1 else 0 end) as crossings
  from cand c
  join {zone_edges_values_sql()} on e.zone_id = c.zid
  group by c.doc_id, c.zid
)
select doc_id, zid as zone_id from crossed where crossings % 2 = 1
"""
