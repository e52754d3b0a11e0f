"""ST_* SQL function registry: the SQLite-dialect geometry functions.

GDAL's SQLite dialect registers ~53 SQL scalar functions over geometries
(ogr/ogrsf_frmts/sqlite/ogrsqlitesqlfunctions.cpp — ST_Area:956 etc.);
the OGR SQL dialect exposes the special fields OGR_GEOM_AREA /
OGR_GEOM_WKT (ogr/ogr_p.h:164). This module registers the core set as
Spark SQL functions over WKB binary columns so `spark.sql(...)` and the
ExecuteSQL translator can call them by name.

All kernels are Arrow-batched pandas UDFs decoding ISO WKB
(gdal_spark.wkb) and dispatching to the vectorizable planar kernels in
gdal_spark.geom — no GEOS, no per-row JVM↔Python chatter beyond the
batch boundary.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from gdal_spark import geom as G
from gdal_spark import wkb as W
from gdal_spark.cells import _lit


def _seq_sum(terms) -> float:
    """Strictly sequential IEEE summation. numpy's pairwise/unrolled
    np.sum tree differs from a left fold for n ≥ 8 terms; the ST_
    kernels fold sequentially so the DuckDB oracle (list_reduce over the
    same term order) compares bit-exactly."""
    s = 0.0
    for t in terms:
        s += float(t)
    return s


def _ring_area_seq(ring) -> float:
    x = ring[:, 0]
    y = ring[:, 1]
    return 0.5 * _seq_sum(x[i] * y[i + 1] - x[i + 1] * y[i]
                          for i in range(len(ring) - 1))


def _polygon_area_seq(rings) -> float:
    area = abs(_ring_area_seq(rings[0]))
    for hole in rings[1:]:
        area -= abs(_ring_area_seq(hole))
    return area


def _geom_area_seq(blob: bytes) -> float:
    """OGR_GEOM_AREA semantics: Polygon = |exterior| - sum(|holes|);
    MultiPolygon = sequential sum of member polygon areas (ring
    flattening would misread trailing members as holes). Non-surface
    types are 0 like OGR_G_Area (total: CASE branches evaluate eagerly,
    so any geometry may arrive)."""
    g = W.loads(bytes(blob))
    if g["type"] == "Polygon":
        return _polygon_area_seq(g["coords"])
    if g["type"] == "MultiPolygon":
        return _seq_sum(_polygon_area_seq(p) for p in g["coords"])
    return 0.0


def _st_area(col: pd.Series) -> pd.Series:
    return pd.Series([
        _geom_area_seq(b) if b is not None else None
        for b in col], dtype="float64")


def _st_npoints(col: pd.Series) -> pd.Series:
    out = []
    for b in col:
        if b is None:
            out.append(None)
            continue
        g = W.loads(bytes(b))
        if g["type"] == "Point":
            out.append(1)
        elif g["type"] == "LineString":
            out.append(len(g["coords"]))
        elif g["type"] == "Polygon":
            out.append(sum(len(r) for r in g["coords"]))
        elif g["type"] == "MultiPoint":
            # one vertex per member point (a member is an (x, y) pair,
            # not a ring — summing len() over it would count 2)
            out.append(len(g["coords"]))
        else:
            out.append(sum(len(r) for part in g["coords"] for r in
                           (part if isinstance(part, list) else [part])))
    # nullable Int64: NULL geometries (unused CASE branches) stay NULL
    return pd.Series(out, dtype="Int64")


def _polygon_centroid_seq(rings) -> tuple[float, float]:
    """Area-weighted centroid with sequential folds (same semantics as
    geom.polygon_centroid, fold order pinned for the oracle)."""
    total_a = 0.0
    cx = 0.0
    cy = 0.0
    for i, ring in enumerate(rings):
        signed_a = _ring_area_seq(ring)
        if signed_a == 0.0:
            continue
        want = 1.0 if i == 0 else -1.0
        flip = want * (1.0 if signed_a > 0 else -1.0)
        x = ring[:, 0]
        y = ring[:, 1]
        sx = _seq_sum((x[j] + x[j + 1])
                      * (x[j] * y[j + 1] - x[j + 1] * y[j])
                      for j in range(len(ring) - 1))
        sy = _seq_sum((y[j] + y[j + 1])
                      * (x[j] * y[j + 1] - x[j + 1] * y[j])
                      for j in range(len(ring) - 1))
        cx += flip * sx / 6.0
        cy += flip * sy / 6.0
        total_a += signed_a * flip
    return cx / total_a, cy / total_a


def _st_centroid_x(col: pd.Series) -> pd.Series:
    return pd.Series(
        [_polygon_centroid_seq(W.polygon_rings(b))[0] for b in col],
        dtype="float64")


def _st_centroid_y(col: pd.Series) -> pd.Series:
    return pd.Series(
        [_polygon_centroid_seq(W.polygon_rings(b))[1] for b in col],
        dtype="float64")


def _st_contains_xy(col: pd.Series, xs: pd.Series,
                    ys: pd.Series) -> pd.Series:
    out = np.zeros(len(col), dtype=bool)
    xv = xs.to_numpy(dtype=np.float64)
    yv = ys.to_numpy(dtype=np.float64)
    for i, b in enumerate(col):
        if b is None:
            continue
        out[i] = bool(G.points_in_polygon(xv[i:i + 1], yv[i:i + 1],
                                          W.polygon_rings(b))[0])
    return pd.Series(out)


def _st_distance_xy(col: pd.Series, xs: pd.Series,
                    ys: pd.Series) -> pd.Series:
    """Planar distance from (x, y) to the polygon (0 when inside —
    ogrgeometry.cpp Distance semantics)."""
    out = np.full(len(col), np.nan)
    xv = xs.to_numpy(dtype=np.float64)
    yv = ys.to_numpy(dtype=np.float64)
    for i, b in enumerate(col):
        if b is None:
            continue
        rings = W.polygon_rings(b)
        if G.points_in_polygon(xv[i:i + 1], yv[i:i + 1], rings)[0]:
            out[i] = 0.0
            continue
        best = math.inf
        for ring in rings:
            for j in range(len(ring) - 1):
                best = min(best, _seg_dist2(
                    float(xv[i]), float(yv[i]),
                    float(ring[j, 0]), float(ring[j, 1]),
                    float(ring[j + 1, 0]), float(ring[j + 1, 1])))
        out[i] = math.sqrt(best)
    return pd.Series(out, dtype="float64")


def _seg_dist2(px: float, py: float, ax: float, ay: float,
               bx: float, by: float) -> float:
    """Squared point-to-segment distance, expression order pinned to the
    oracle SQL: t = clamp(((p-a)·d)/|d|², 0, 1); d² to a + t·d."""
    dx = bx - ax
    dy = by - ay
    len2 = dx * dx + dy * dy
    t = ((px - ax) * dx + (py - ay) * dy) / len2
    t = max(min(t, 1.0), 0.0)
    ex = ax + t * dx
    ey = ay + t * dy
    return (px - ex) * (px - ex) + (py - ey) * (py - ey)


def _st_astext(col: pd.Series) -> pd.Series:
    """ST_AsText / the OGR_GEOM_WKT special field (ogr/ogr_p.h:166)."""
    return pd.Series([
        W.wkt_dumps(W.loads(bytes(b))) if b is not None else None
        for b in col], dtype="object")


def _st_geomfromtext(col: pd.Series) -> pd.Series:
    return pd.Series([
        bytearray(W.dumps(W.wkt_loads(s))) if s is not None else None
        for s in col], dtype="object")


def _st_asbinary(col: pd.Series) -> pd.Series:
    """ST_AsBinary: geometry columns already ARE ISO WKB; identity."""
    return pd.Series([None if b is None else bytearray(bytes(b))
                      for b in col], dtype="object")


def _st_geomfromwkb(col: pd.Series) -> pd.Series:
    """ST_GeomFromWKB: decode + re-encode — validates and normalizes to
    little-endian ISO WKB (big-endian input accepted)."""
    return pd.Series([
        None if b is None else bytearray(W.dumps(W.loads(bytes(b))))
        for b in col], dtype="object")


def _st_srid(col: pd.Series) -> pd.Series:
    """ST_SRID: plain ISO WKB carries no SRID → 0, OGR's convention for
    an unset spatial reference."""
    return pd.Series([None if b is None else 0 for b in col],
                     dtype="object").astype("Int32")


def _st_makepoint(xs: pd.Series, ys: pd.Series) -> pd.Series:
    return pd.Series([
        None if x is None or y is None
        else bytearray(W.dumps_point(float(x), float(y)))
        for x, y in zip(xs, ys)], dtype="object")


def _st_makeenvelope(x0s: pd.Series, y0s: pd.Series, x1s: pd.Series,
                     y1s: pd.Series) -> pd.Series:
    """ST_MakeEnvelope(minx, miny, maxx, maxy) → CCW rectangle polygon
    WKB — the shape ogr_layer_Extent() returns (sqlite dialect,
    ogr/ogrsf_frmts/sqlite/ogrsqlitevirtualogr.cpp:1990)."""
    out = []
    for x0, y0, x1, y1 in zip(x0s, y0s, x1s, y1s):
        if x0 is None or y0 is None or x1 is None or y1 is None:
            out.append(None)
            continue
        x0, y0, x1, y1 = float(x0), float(y0), float(x1), float(y1)
        ring = [[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]]
        out.append(bytearray(W.dumps_polygon([ring])))
    return pd.Series(out, dtype="object")


def _length_line_seq(arr: np.ndarray) -> float:
    return _seq_sum(math.sqrt(
        (arr[j + 1, 0] - arr[j, 0]) ** 2 + (arr[j + 1, 1] - arr[j, 1]) ** 2)
        for j in range(len(arr) - 1))


def _st_length(col: pd.Series) -> pd.Series:
    """ST_Length (OGR_G_Length): curve types only — LineString /
    MultiLineString; points and surfaces yield 0 like OGR."""
    out = []
    for b in col:
        if b is None:
            out.append(None)
            continue
        g = W.loads(bytes(b))
        if g["type"] == "LineString":
            out.append(_length_line_seq(np.asarray(g["coords"])))
        elif g["type"] == "MultiLineString":
            out.append(_seq_sum(_length_line_seq(np.asarray(m))
                                for m in g["coords"]))
        else:
            out.append(0.0)
    return pd.Series(out, dtype="float64")


def _segments_of(geom: dict) -> np.ndarray:
    """(n, 4) segment array of any geometry; points become degenerate
    zero-length segments."""
    t, c = geom["type"], geom["coords"]
    segs: list[tuple[float, float, float, float]] = []

    def add_line(arr):
        a = np.asarray(arr, dtype=np.float64)
        if len(a) == 1:
            segs.append((a[0, 0], a[0, 1], a[0, 0], a[0, 1]))
        for j in range(len(a) - 1):
            segs.append((a[j, 0], a[j, 1], a[j + 1, 0], a[j + 1, 1]))

    if t == "Point":
        segs.append((c[0], c[1], c[0], c[1]))
    elif t == "MultiPoint":
        for p in c:
            segs.append((p[0], p[1], p[0], p[1]))
    elif t == "LineString":
        add_line(c)
    elif t == "MultiLineString":
        for m in c:
            add_line(m)
    elif t == "Polygon":
        for r in c:
            add_line(r)
    else:  # MultiPolygon
        for poly in c:
            for r in poly:
                add_line(r)
    return np.asarray(segs, dtype=np.float64)


def _segseg_dist2(a: np.ndarray, b: np.ndarray) -> float:
    """Squared distance between two segments; 0 if they intersect."""
    ax, ay, bx, by = a
    cx, cy, dx_, dy_ = b
    d1x, d1y = bx - ax, by - ay
    d2x, d2y = dx_ - cx, dy_ - cy
    den = d1x * d2y - d1y * d2x
    if den != 0.0:
        t = ((cx - ax) * d2y - (cy - ay) * d2x) / den
        s = ((cx - ax) * d1y - (cy - ay) * d1x) / den
        if 0.0 <= t <= 1.0 and 0.0 <= s <= 1.0:
            return 0.0
    best = math.inf
    if d1x or d1y:
        best = min(best, _seg_dist2(cx, cy, ax, ay, bx, by),
                   _seg_dist2(dx_, dy_, ax, ay, bx, by))
    if d2x or d2y:
        best = min(best, _seg_dist2(ax, ay, cx, cy, dx_, dy_),
                   _seg_dist2(bx, by, cx, cy, dx_, dy_))
    if best is math.inf:  # two points
        best = (ax - cx) ** 2 + (ay - cy) ** 2
    return best


def _geom_distance(ga: dict, gb: dict) -> float:
    """OGRGeometry::Distance (ogrgeometry.cpp:1044): planar min distance,
    0 when the geometries intersect or one contains the other."""
    for g, other in ((ga, gb), (gb, ga)):
        if g["type"] in ("Polygon", "MultiPolygon"):
            rings = ([r for r in g["coords"]] if g["type"] == "Polygon"
                     else [r for poly in g["coords"] for r in poly])
            v = _segments_of(other)[:, :2]
            inside = G.points_in_polygon(
                np.ascontiguousarray(v[:, 0]),
                np.ascontiguousarray(v[:, 1]), rings)
            if bool(np.any(inside)):
                return 0.0
    sa, sb = _segments_of(ga), _segments_of(gb)
    best = math.inf
    for a in sa:
        for b in sb:
            d2 = _segseg_dist2(a, b)
            if d2 < best:
                best = d2
                if best == 0.0:
                    return 0.0
    return math.sqrt(best)


def _st_distance(a: pd.Series, b: pd.Series) -> pd.Series:
    return pd.Series([
        np.nan if ba is None or bb is None
        else _geom_distance(W.loads(bytes(ba)), W.loads(bytes(bb)))
        for ba, bb in zip(a, b)], dtype="float64")


def _st_centroid(col: pd.Series) -> pd.Series:
    """ST_Centroid as a geometry (Point WKB): polygons area-weighted,
    linestrings length-weighted, point sets vertex means."""
    out = []
    for b in col:
        if b is None:
            out.append(None)
            continue
        g = W.loads(bytes(b))
        t = g["type"]
        if t in ("Polygon", "MultiPolygon"):
            rings = W.polygon_rings(b)
            if all(_ring_area_seq(r) == 0.0 for r in rings):
                # degenerate (zero-area, e.g. bowtie): vertex mean
                v = np.vstack([np.asarray(r)[:-1] for r in rings])
                cx = _seq_sum(v[:, 0]) / len(v)
                cy = _seq_sum(v[:, 1]) / len(v)
            else:
                cx, cy = _polygon_centroid_seq(rings)
        elif t == "Point":
            cx, cy = float(g["coords"][0]), float(g["coords"][1])
        elif t == "MultiPoint":
            v = np.asarray(g["coords"], dtype=np.float64)
            cx = _seq_sum(v[:, 0]) / len(v)
            cy = _seq_sum(v[:, 1]) / len(v)
        else:  # LineString / MultiLineString: length-weighted midpoints
            lines = ([g["coords"]] if t == "LineString" else g["coords"])
            wsum = xs = ys = 0.0
            for m in lines:
                arr = np.asarray(m, dtype=np.float64)
                for j in range(len(arr) - 1):
                    w = math.sqrt((arr[j + 1, 0] - arr[j, 0]) ** 2
                                  + (arr[j + 1, 1] - arr[j, 1]) ** 2)
                    xs += w * 0.5 * (arr[j, 0] + arr[j + 1, 0])
                    ys += w * 0.5 * (arr[j, 1] + arr[j + 1, 1])
                    wsum += w
            cx, cy = xs / wsum, ys / wsum
        out.append(bytearray(W.dumps_point(cx, cy)))
    return pd.Series(out, dtype="object")


def _ring_edges(rings) -> list[np.ndarray]:
    return [np.asarray(r, dtype=np.float64) for r in rings]


def _has_proper_self_intersection(rings) -> bool:
    """Any proper crossing between non-adjacent edges across all rings
    (adjacent edges share an endpoint by construction — skipped)."""
    edges = []
    for ri, r in enumerate(_ring_edges(rings)):
        n = len(r) - 1
        for j in range(n):
            edges.append((ri, j, n, r[j, 0], r[j, 1], r[j + 1, 0],
                          r[j + 1, 1]))
    for i in range(len(edges)):
        ri, ji, ni, ax, ay, bx, by = edges[i]
        for k in range(i + 1, len(edges)):
            rk, jk, nk, cx, cy, dx_, dy_ = edges[k]
            if ri == rk and (abs(ji - jk) in (1, ni - 1)):
                continue  # adjacent in the same ring
            d1x, d1y = bx - ax, by - ay
            d2x, d2y = dx_ - cx, dy_ - cy
            den = d1x * d2y - d1y * d2x
            if den == 0.0:
                continue
            t = ((cx - ax) * d2y - (cy - ay) * d2x) / den
            s = ((cx - ax) * d1y - (cy - ay) * d1x) / den
            if 0.0 < t < 1.0 and 0.0 < s < 1.0:
                return True
    return False


def _st_isvalid(col: pd.Series) -> pd.Series:
    """ST_IsValid — the deterministic OGC checks: rings closed with ≥3
    distinct vertices, no repeated consecutive vertices, no proper
    self-intersection. (Nested-hole topology is out of scope, like the
    engine's MakeValid.)"""
    out = []
    for b in col:
        if b is None:
            out.append(None)
            continue
        g = W.loads(bytes(b))
        if g["type"] not in ("Polygon", "MultiPolygon"):
            out.append(True)
            continue
        polys = [g["coords"]] if g["type"] == "Polygon" else g["coords"]
        ok = True
        for rings in polys:
            for r in rings:
                arr = np.asarray(r, dtype=np.float64)
                if (len(arr) < 4 or not np.array_equal(arr[0], arr[-1])
                        or np.any(np.all(arr[1:] == arr[:-1], axis=1))
                        or len(np.unique(arr[:-1], axis=0)) < 3):
                    ok = False
            if ok and _has_proper_self_intersection(rings):
                ok = False
        out.append(ok)
    return pd.Series(out, dtype="object")


def _st_issimple(col: pd.Series) -> pd.Series:
    """ST_IsSimple: linestrings have no proper self-crossing and no
    repeated consecutive vertices; multipoints have distinct members;
    points always simple; polygons defer to the validity checks."""
    out = []
    for b in col:
        if b is None:
            out.append(None)
            continue
        g = W.loads(bytes(b))
        t = g["type"]
        if t == "Point":
            out.append(True)
        elif t == "MultiPoint":
            v = np.asarray(g["coords"], dtype=np.float64)
            out.append(len(np.unique(v, axis=0)) == len(v))
        elif t in ("LineString", "MultiLineString"):
            lines = [g["coords"]] if t == "LineString" else g["coords"]
            arrs = [np.asarray(m, dtype=np.float64) for m in lines]
            dup = any(np.any(np.all(a[1:] == a[:-1], axis=1))
                      for a in arrs if len(a) > 1)
            out.append(not dup
                       and not _has_proper_self_intersection(arrs))
        else:
            out.append(
                not _has_proper_self_intersection(W.polygon_rings(b)))
    return pd.Series(out, dtype="object")


def _st_transform(col: pd.Series, src: pd.Series,
                  dst: pd.Series) -> pd.Series:
    """ST_Transform over the EPSG registry (gdal_spark.crs: the
    proj_create_crs_to_crs surface, ogr/ogrct.cpp:1705). Every vertex
    maps through the lon/lat hub; a failed vertex nulls the geometry
    (TransformWithErrorCodes semantics)."""
    from gdal_spark.crs import transform_np

    def tx(arr, s, d):
        a = np.asarray(arr, dtype=np.float64)
        x2, y2, ok = transform_np(int(s), int(d), a[:, 0], a[:, 1])
        if not bool(np.all(ok)):
            return None
        return np.column_stack([x2, y2])

    out = []
    for b, s, d in zip(col, src, dst):
        if b is None:
            out.append(None)
            continue
        g = W.loads(bytes(b))
        t, c = g["type"], g["coords"]
        if t == "Point":
            r = tx(np.asarray([c]), s, d)
            out.append(None if r is None else
                       bytearray(W.dumps_point(r[0, 0], r[0, 1])))
            continue
        if t == "LineString":
            r = tx(c, s, d)
        elif t == "Polygon":
            parts = [tx(ring, s, d) for ring in c]
            r = None if any(p is None for p in parts) else parts
        else:
            out.append(None)  # multi types: transform members upstream
            continue
        out.append(None if r is None else bytearray(
            W.dumps({"type": t, "coords": r})))
    return pd.Series(out, dtype="object")


def _st_geometrytype(col: pd.Series) -> pd.Series:
    """ST_GeometryType: OGC uppercase name (OGRGeometry::getGeometryName,
    ogr/ogrgeometry.cpp)."""
    return pd.Series([
        None if b is None else W.loads(bytes(b))["type"].upper()
        for b in col], dtype="object")


def _st_numgeometries(col: pd.Series) -> pd.Series:
    out = []
    for b in col:
        if b is None:
            out.append(None)
            continue
        g = W.loads(bytes(b))
        out.append(len(g["coords"]) if g["type"].startswith("Multi") else 1)
    return pd.Series(out, dtype="Int64")


def _st_geometryn(col: pd.Series, ns: pd.Series) -> pd.Series:
    """ST_GeometryN: 1-based member of a Multi geometry (NULL out of
    range or for non-collections — the spatialite/OGR SQLite-dialect
    convention, ogrsqlitesqlfunctions.cpp)."""
    sub = {"MultiPoint": "Point", "MultiLineString": "LineString",
           "MultiPolygon": "Polygon"}
    out = []
    for b, n in zip(col, ns):
        if b is None or n is None:
            out.append(None)
            continue
        g = W.loads(bytes(b))
        if g["type"] not in sub or not (1 <= int(n) <= len(g["coords"])):
            out.append(None)
            continue
        member = {"type": sub[g["type"]],
                  "coords": g["coords"][int(n) - 1]}
        out.append(bytearray(W.dumps(member)))
    return pd.Series(out, dtype="object")


def _line_coords(g: dict):
    return np.asarray(g["coords"], dtype=np.float64) \
        if g["type"] == "LineString" else None


def _st_startpoint(col: pd.Series) -> pd.Series:
    out = []
    for b in col:
        arr = None if b is None else _line_coords(W.loads(bytes(b)))
        out.append(None if arr is None
                   else bytearray(W.dumps_point(arr[0, 0], arr[0, 1])))
    return pd.Series(out, dtype="object")


def _st_endpoint(col: pd.Series) -> pd.Series:
    out = []
    for b in col:
        arr = None if b is None else _line_coords(W.loads(bytes(b)))
        out.append(None if arr is None
                   else bytearray(W.dumps_point(arr[-1, 0], arr[-1, 1])))
    return pd.Series(out, dtype="object")


def _st_pointn(col: pd.Series, ns: pd.Series) -> pd.Series:
    """ST_PointN: 1-based vertex of a LineString (NULL out of range)."""
    out = []
    for b, n in zip(col, ns):
        arr = None if b is None or n is None \
            else _line_coords(W.loads(bytes(b)))
        if arr is None or not (1 <= int(n) <= len(arr)):
            out.append(None)
            continue
        p = arr[int(n) - 1]
        out.append(bytearray(W.dumps_point(p[0], p[1])))
    return pd.Series(out, dtype="object")


def _all_coords(g: dict) -> np.ndarray:
    t, c = g["type"], g["coords"]
    if t == "Point":
        return np.asarray([c], dtype=np.float64)
    if t in ("MultiPoint", "LineString"):
        return np.asarray(c, dtype=np.float64)
    if t in ("MultiLineString", "Polygon"):
        return np.vstack([np.asarray(m, dtype=np.float64) for m in c])
    return np.vstack([np.asarray(r, dtype=np.float64)
                      for poly in c for r in poly])


def _bbox_udf(which: int):
    def kernel(col: pd.Series) -> pd.Series:
        out = []
        for b in col:
            if b is None:
                out.append(np.nan)
                continue
            v = _all_coords(W.loads(bytes(b)))
            out.append([v[:, 0].min(), v[:, 1].min(),
                        v[:, 0].max(), v[:, 1].max()][which])
        return pd.Series(out, dtype="float64")

    return kernel


def _st_boundary(col: pd.Series) -> pd.Series:
    """ST_Boundary (OGRGeometry::Boundary, ogr/ogrgeometry.cpp:4116):
    surfaces → ring MultiLineString; lines → endpoint MultiPoint (empty
    when closed); points → NULL."""
    out = []
    for b in col:
        if b is None:
            out.append(None)
            continue
        g = W.loads(bytes(b))
        t = g["type"]
        if t in ("Polygon", "MultiPolygon"):
            rings = (g["coords"] if t == "Polygon"
                     else [r for poly in g["coords"] for r in poly])
            out.append(bytearray(W.dumps_multi(
                "MultiLineString",
                [W.dumps_linestring(np.asarray(r, dtype=np.float64))
                 for r in rings])))
        elif t == "LineString":
            arr = np.asarray(g["coords"], dtype=np.float64)
            pts = [] if np.array_equal(arr[0], arr[-1]) else [
                W.dumps_point(arr[0, 0], arr[0, 1]),
                W.dumps_point(arr[-1, 0], arr[-1, 1])]
            out.append(bytearray(W.dumps_multi("MultiPoint", pts)))
        else:
            out.append(None)
    return pd.Series(out, dtype="object")


def _st_reverse(col: pd.Series) -> pd.Series:
    out = []
    for b in col:
        if b is None:
            out.append(None)
            continue
        g = W.loads(bytes(b))
        t = g["type"]
        if t == "LineString":
            out.append(bytearray(W.dumps_linestring(
                np.asarray(g["coords"], dtype=np.float64)[::-1])))
        elif t == "Polygon":
            out.append(bytearray(W.dumps_polygon(
                [np.asarray(r, dtype=np.float64)[::-1].tolist()
                 for r in g["coords"]])))
        else:
            out.append(bytearray(bytes(b)))
    return pd.Series(out, dtype="object")


def _st_pointonsurface(col: pd.Series) -> pd.Series:
    """ST_PointOnSurface: midpoint of the widest interior interval of
    the bbox-mid horizontal scanline (the GEOS bisector policy) —
    guaranteed inside, unlike the centroid of a concave polygon."""
    out = []
    for b in col:
        if b is None:
            out.append(None)
            continue
        g = W.loads(bytes(b))
        if g["type"] not in ("Polygon", "MultiPolygon"):
            out.append(None)
            continue
        rings = (g["coords"] if g["type"] == "Polygon"
                 else [r for poly in g["coords"] for r in poly])
        v = _all_coords(g)
        ymid = (v[:, 1].min() + v[:, 1].max()) / 2.0
        xs: list[float] = []
        for r in rings:
            arr = np.asarray(r, dtype=np.float64)
            for j in range(len(arr) - 1):
                (x1, y1), (x2, y2) = arr[j], arr[j + 1]
                if (y1 > ymid) != (y2 > ymid):
                    xs.append(x1 + (ymid - y1) * (x2 - x1) / (y2 - y1))
        xs.sort()
        if len(xs) < 2:
            cx, cy = _polygon_centroid_seq(rings)
            out.append(bytearray(W.dumps_point(cx, cy)))
            continue
        spans = [(xs[j + 1] - xs[j], j) for j in range(0, len(xs) - 1, 2)]
        _, j = max(spans)
        out.append(bytearray(W.dumps_point(
            (xs[j] + xs[j + 1]) / 2.0, ymid)))
    return pd.Series(out, dtype="object")


_REGISTRY = {
    "st_area": (_st_area, "double"),
    "st_npoints": (_st_npoints, "long"),
    "st_centroid_x": (_st_centroid_x, "double"),
    "st_centroid_y": (_st_centroid_y, "double"),
    "st_contains_xy": (_st_contains_xy, "boolean"),
    "st_distance_xy": (_st_distance_xy, "double"),
    "st_astext": (_st_astext, "string"),
    "st_geomfromtext": (_st_geomfromtext, "binary"),
    "st_asbinary": (_st_asbinary, "binary"),
    "st_geomfromwkb": (_st_geomfromwkb, "binary"),
    "st_srid": (_st_srid, "int"),
    "st_makepoint": (_st_makepoint, "binary"),
    "st_makeenvelope": (_st_makeenvelope, "binary"),
    "st_length": (_st_length, "double"),
    "st_distance": (_st_distance, "double"),
    "st_centroid": (_st_centroid, "binary"),
    "st_isvalid": (_st_isvalid, "boolean"),
    "st_issimple": (_st_issimple, "boolean"),
    "st_transform": (_st_transform, "binary"),
    "st_geometrytype": (_st_geometrytype, "string"),
    "st_numgeometries": (_st_numgeometries, "long"),
    "st_geometryn": (_st_geometryn, "binary"),
    "st_startpoint": (_st_startpoint, "binary"),
    "st_endpoint": (_st_endpoint, "binary"),
    "st_pointn": (_st_pointn, "binary"),
    "st_xmin": (_bbox_udf(0), "double"),
    "st_ymin": (_bbox_udf(1), "double"),
    "st_xmax": (_bbox_udf(2), "double"),
    "st_ymax": (_bbox_udf(3), "double"),
    "st_boundary": (_st_boundary, "binary"),
    "st_reverse": (_st_reverse, "binary"),
    "st_pointonsurface": (_st_pointonsurface, "binary"),
}


def register_st_functions(spark: SparkSession) -> None:
    """Register every ST_ function for use in spark.sql strings —
    including the pairwise predicate set (gdal_spark.predicates) and the
    constructive surface (gdal_spark.constructive)."""
    from gdal_spark.constructive import REGISTRY as _CONSTRUCTIVE
    from gdal_spark.predicates import register_predicates

    for name, (fn, rtype) in {**_REGISTRY, **_CONSTRUCTIVE}.items():
        spark.udf.register(name, F.pandas_udf(fn, rtype))
    register_predicates(spark)


# ---------------------------------------------------------------------------
# Contract fixture + DuckDB oracle for the ST_ surface
# ---------------------------------------------------------------------------


def st_query_points(defs: list[dict]) -> list[tuple[int, float, float]]:
    """One deterministic probe point per zone (bbox-center + fixed
    offset, rounded to 6 decimals): a mix of inside/outside hits."""
    out = []
    for z in defs:
        bb = G.rings_bbox(z["rings"])
        qx = round((bb[0] + bb[2]) / 2 + 0.61, 6)
        qy = round((bb[1] + bb[3]) / 2 + 0.13, 6)
        out.append((z["zone_id"], qx, qy))
    return out


def zones_wkb_df(spark: SparkSession, defs: list[dict]):
    """DataFrame (zone_id, wkb) of the zone polygons as ISO WKB."""
    from gdal_spark import wkb as W

    rows = [(z["zone_id"],
             bytearray(W.dumps_polygon([r.tolist() for r in z["rings"]])))
            for z in defs]
    return spark.createDataFrame(rows, "zone_id int, wkb binary")


def st_functions_oracle_sql(defs: list[dict]) -> str:
    """DuckDB oracle recomputing every ST_ kernel from vertex VALUES
    tables: ordered-fold shoelace area and centroid (matching the
    kernels' sequential summation), even-odd parity containment, and
    min-over-edges clamped-projection distance."""
    edges, qrows = [], []
    for z in defs:
        for ri, ring in enumerate(z["rings"]):
            for vi in range(len(ring) - 1):
                edges.append(
                    f"({z['zone_id']}, {ri}, {vi},"
                    f" {_lit(ring[vi, 0])}, {_lit(ring[vi, 1])},"
                    f" {_lit(ring[vi + 1, 0])}, {_lit(ring[vi + 1, 1])})")
    for zid, qx, qy in st_query_points(defs):
        qrows.append(f"({zid}, {_lit(qx)}, {_lit(qy)})")

    def fold(list_expr: str) -> str:
        return (f"list_reduce(list_concat([cast(0 as double)],"
                f" {list_expr}), (a, b) -> a + b)")

    def ring_fold(term: str) -> str:
        return fold("list_transform(list_sort(list("
                    f"{{'i': vert_idx, 't': {term}}})), s -> s.t)")

    d2 = ("(qx - (x0 + greatest(least(((qx - x0) * (x1 - x0)"
          " + (qy - y0) * (y1 - y0)) / ((x1 - x0) * (x1 - x0)"
          " + (y1 - y0) * (y1 - y0)), 1e0), 0e0) * (x1 - x0)))"
          " * (qx - (x0 + greatest(least(((qx - x0) * (x1 - x0)"
          " + (qy - y0) * (y1 - y0)) / ((x1 - x0) * (x1 - x0)"
          " + (y1 - y0) * (y1 - y0)), 1e0), 0e0) * (x1 - x0)))"
          " + (qy - (y0 + greatest(least(((qx - x0) * (x1 - x0)"
          " + (qy - y0) * (y1 - y0)) / ((x1 - x0) * (x1 - x0)"
          " + (y1 - y0) * (y1 - y0)), 1e0), 0e0) * (y1 - y0)))"
          " * (qy - (y0 + greatest(least(((qx - x0) * (x1 - x0)"
          " + (qy - y0) * (y1 - y0)) / ((x1 - x0) * (x1 - x0)"
          " + (y1 - y0) * (y1 - y0)), 1e0), 0e0) * (y1 - y0)))")
    return f"""
with edges(zone_id, ring_idx, vert_idx, x0, y0, x1, y1) as
  (values {", ".join(edges)}),
q(zone_id, qx, qy) as (values {", ".join(qrows)}),
ring_stats as (
  select zone_id, ring_idx,
         0.5e0 * {ring_fold("x0 * y1 - x1 * y0")} as signed_a,
         {ring_fold("(x0 + x1) * (x0 * y1 - x1 * y0)")} as sx,
         {ring_fold("(y0 + y1) * (x0 * y1 - x1 * y0)")} as sy,
         count(*) as n_edges
  from edges group by zone_id, ring_idx
),
ring_c as (
  select zone_id, ring_idx, signed_a, sx, sy, n_edges,
         (case when ring_idx = 0 then 1e0 else -1e0 end)
       * (case when signed_a > 0 then 1e0 else -1e0 end) as flip
  from ring_stats
),
zonal as (
  select zone_id,
         {fold("list_transform(list_sort(list({'i': ring_idx,"
               " 't': case when ring_idx = 0 then abs(signed_a)"
               " else -abs(signed_a) end})), s -> s.t)")} as area,
         {fold("list_transform(list_sort(list({'i': ring_idx,"
               " 't': flip * sx / 6.0e0})), s -> s.t)")} as cxs,
         {fold("list_transform(list_sort(list({'i': ring_idx,"
               " 't': flip * sy / 6.0e0})), s -> s.t)")} as cys,
         {fold("list_transform(list_sort(list({'i': ring_idx,"
               " 't': signed_a * flip})), s -> s.t)")} as total_a,
         cast(sum(n_edges) + count(*) as bigint) as npoints
  from ring_c group by zone_id
),
par as (
  select e.zone_id, e.ring_idx,
         (sum(case when (e.y0 > q.qy) != (e.y1 > q.qy)
               and q.qx < (e.x1 - e.x0) * (q.qy - e.y0)
                          / (e.y1 - e.y0) + e.x0
              then 1 else 0 end) % 2) = 1 as inside
  from edges e join q on q.zone_id = e.zone_id
  group by e.zone_id, e.ring_idx
),
inq as (
  select zone_id,
         bool_or(case when ring_idx = 0 then inside else false end)
         and not bool_or(case when ring_idx > 0 then inside
                         else false end) as contains_q
  from par group by zone_id
),
mind as (
  select e.zone_id, min({d2}) as d2
  from edges e join q on q.zone_id = e.zone_id
  group by e.zone_id
)
select z.zone_id, z.area, z.npoints,
       z.cxs / z.total_a as centroid_x, z.cys / z.total_a as centroid_y,
       i.contains_q,
       case when i.contains_q then 0e0 else sqrt(m.d2) end as dist_q
from zonal z
join inq i on i.zone_id = z.zone_id
join mind m on m.zone_id = z.zone_id
"""
