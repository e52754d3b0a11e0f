"""ISO WKB geometry codec (pure numpy/struct; no GEOS available here).

The engine's single geometry convention (SURVEY §7 risk register): 2-D,
little-endian ISO WKB — the same shape OGR's Arrow surface emits
(CreateSchemaForWKBGeometryColumn, ogr/ogrsf_frmts/generic/
ogrlayerarrow.cpp:702). Geometry columns are Spark ``BinaryType``.

Supported types (geometry type codes per ogr/ogr_core.h:409): Point=1,
LineString=2, Polygon=3, MultiPoint=4, MultiLineString=5, MultiPolygon=6.
Curves/Z/M variants are out of scope (GDAL itself linearizes curves before
analytics, apps/ogr2ogr_lib.cpp:6961).

Decoded form is a plain dict: {"type": str, "coords": ...} where coords is
- Point: (x, y)
- LineString: float64 ndarray (n, 2)
- Polygon: list of rings, each float64 ndarray (n, 2) (first = exterior,
  closed: first point == last point)
- Multi*: list of the member coords.
"""

from __future__ import annotations

import struct

import numpy as np

POINT, LINESTRING, POLYGON = 1, 2, 3
MULTIPOINT, MULTILINESTRING, MULTIPOLYGON = 4, 5, 6

_TYPE_NAMES = {
    POINT: "Point",
    LINESTRING: "LineString",
    POLYGON: "Polygon",
    MULTIPOINT: "MultiPoint",
    MULTILINESTRING: "MultiLineString",
    MULTIPOLYGON: "MultiPolygon",
}
_NAME_TYPES = {v: k for k, v in _TYPE_NAMES.items()}


def dumps_point(x: float, y: float) -> bytes:
    return struct.pack("<BIdd", 1, POINT, x, y)


def dumps_linestring(coords) -> bytes:
    arr = np.asarray(coords, dtype="<f8").reshape(-1, 2)
    return struct.pack("<BII", 1, LINESTRING, len(arr)) + arr.tobytes()


def _ring_bytes(ring) -> bytes:
    arr = np.asarray(ring, dtype="<f8").reshape(-1, 2)
    if len(arr) and not np.array_equal(arr[0], arr[-1]):
        arr = np.vstack([arr, arr[:1]])
    return struct.pack("<I", len(arr)) + arr.tobytes()


def dumps_polygon(rings) -> bytes:
    """rings: list of (n,2) sequences; ring[0] exterior, rest holes."""
    body = b"".join(_ring_bytes(r) for r in rings)
    return struct.pack("<BII", 1, POLYGON, len(rings)) + body


def dumps_multi(kind: str, members: list[bytes]) -> bytes:
    code = _NAME_TYPES[kind]
    return struct.pack("<BII", 1, code, len(members)) + b"".join(members)


def dumps(geom: dict) -> bytes:
    t = geom["type"]
    c = geom["coords"]
    if t == "Point":
        return dumps_point(c[0], c[1])
    if t == "LineString":
        return dumps_linestring(c)
    if t == "Polygon":
        return dumps_polygon(c)
    if t in ("MultiPoint", "MultiLineString", "MultiPolygon"):
        sub = {"MultiPoint": "Point", "MultiLineString": "LineString",
               "MultiPolygon": "Polygon"}[t]
        return dumps_multi(t, [dumps({"type": sub, "coords": m}) for m in c])
    raise ValueError(f"unsupported geometry type {t}")


def _read_header(buf: bytes, off: int):
    byte_order = buf[off]
    fmt = "<I" if byte_order == 1 else ">I"
    (code,) = struct.unpack_from(fmt, buf, off + 1)
    code = code % 1000  # tolerate EWKB/ISO Z offsets, coords still 2-D only
    return byte_order, code, off + 5


def _read_coords(buf: bytes, off: int, n: int, little: bool):
    dt = "<f8" if little else ">f8"
    arr = np.frombuffer(buf, dtype=dt, count=2 * n, offset=off)
    return arr.reshape(n, 2).astype(np.float64), off + 16 * n


def loads(buf: bytes):
    geom, _ = _loads_at(bytes(buf), 0)
    return geom


def _loads_at(buf: bytes, off: int):
    bo, code, off = _read_header(buf, off)
    little = bo == 1
    fmt = "<I" if little else ">I"
    if code == POINT:
        coords, off = _read_coords(buf, off, 1, little)
        return {"type": "Point", "coords": (coords[0, 0], coords[0, 1])}, off
    if code == LINESTRING:
        (n,) = struct.unpack_from(fmt, buf, off)
        coords, off = _read_coords(buf, off + 4, n, little)
        return {"type": "LineString", "coords": coords}, off
    if code == POLYGON:
        (nrings,) = struct.unpack_from(fmt, buf, off)
        off += 4
        rings = []
        for _ in range(nrings):
            (n,) = struct.unpack_from(fmt, buf, off)
            ring, off = _read_coords(buf, off + 4, n, little)
            rings.append(ring)
        return {"type": "Polygon", "coords": rings}, off
    if code in (MULTIPOINT, MULTILINESTRING, MULTIPOLYGON):
        (nmem,) = struct.unpack_from(fmt, buf, off)
        off += 4
        members = []
        for _ in range(nmem):
            g, off = _loads_at(buf, off)
            members.append(g["coords"])
        return {"type": _TYPE_NAMES[code], "coords": members}, off
    raise ValueError(f"unsupported WKB geometry code {code}")


# ---------------------------------------------------------------------------
# WKT I/O (OGR_GEOM_WKT special field, ogr/ogr_p.h:164; exportToWkt /
# importFromWkt semantics for the linear 2-D types). Numbers render via
# repr (shortest round-trip), integers without a trailing ".0" — matching
# OGR's %.15g-style trimming closely enough for fixtures.
# ---------------------------------------------------------------------------


def _wkt_num(v: float) -> str:
    r = repr(float(v))
    return r[:-2] if r.endswith(".0") else r


def _wkt_coords(arr) -> str:
    return ", ".join(f"{_wkt_num(x)} {_wkt_num(y)}" for x, y in arr)


def wkt_dumps(geom: dict) -> str:
    t, c = geom["type"], geom["coords"]
    if t == "Point":
        return f"POINT ({_wkt_num(c[0])} {_wkt_num(c[1])})"
    if t == "LineString":
        return f"LINESTRING ({_wkt_coords(c)})"
    if t == "Polygon":
        rings = ", ".join(f"({_wkt_coords(r)})" for r in c)
        return f"POLYGON ({rings})"
    if t == "MultiPoint":
        return "MULTIPOINT (" + ", ".join(
            f"({_wkt_num(p[0])} {_wkt_num(p[1])})" for p in c) + ")"
    if t == "MultiLineString":
        return "MULTILINESTRING (" + ", ".join(
            f"({_wkt_coords(m)})" for m in c) + ")"
    if t == "MultiPolygon":
        return "MULTIPOLYGON (" + ", ".join(
            "(" + ", ".join(f"({_wkt_coords(r)})" for r in poly) + ")"
            for poly in c) + ")"
    raise ValueError(f"unsupported geometry type {t}")


def _parse_coords(body: str) -> np.ndarray:
    pts = []
    for pair in body.split(","):
        xs = pair.split()
        pts.append((float(xs[0]), float(xs[1])))
    return np.asarray(pts, dtype=np.float64)


def _split_groups(body: str) -> list[str]:
    """Split 'a), (b', honoring nesting, into top-level paren groups."""
    groups, depth, start = [], 0, 0
    for i, ch in enumerate(body):
        if ch == "(":
            if depth == 0:
                start = i + 1
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth == 0:
                groups.append(body[start:i])
    return groups


def wkt_loads(text: str) -> dict:
    s = text.strip()
    kind = s.split("(", 1)[0].strip().upper()
    body = s[s.index("("): ].strip()
    inner = body[1:-1]
    if kind == "POINT":
        arr = _parse_coords(inner)
        return {"type": "Point", "coords": (arr[0, 0], arr[0, 1])}
    if kind == "LINESTRING":
        return {"type": "LineString", "coords": _parse_coords(inner)}
    if kind == "POLYGON":
        return {"type": "Polygon",
                "coords": [_parse_coords(g) for g in _split_groups(inner)]}
    if kind == "MULTIPOINT":
        groups = _split_groups(inner)
        if not groups:  # bare form: MULTIPOINT (1 2, 3 4)
            arr = _parse_coords(inner)
            return {"type": "MultiPoint",
                    "coords": [(p[0], p[1]) for p in arr]}
        return {"type": "MultiPoint",
                "coords": [tuple(_parse_coords(g)[0]) for g in groups]}
    if kind == "MULTILINESTRING":
        return {"type": "MultiLineString",
                "coords": [_parse_coords(g) for g in _split_groups(inner)]}
    if kind == "MULTIPOLYGON":
        return {"type": "MultiPolygon",
                "coords": [[_parse_coords(r) for r in _split_groups(g)]
                           for g in _split_groups(inner)]}
    raise ValueError(f"unsupported WKT kind {kind}")


def polygon_rings(buf: bytes) -> list[np.ndarray]:
    """Every ring of a Polygon or MultiPolygon, members in order."""
    g = loads(buf)
    if g["type"] == "Polygon":
        return g["coords"]
    if g["type"] == "MultiPolygon":
        return [r for poly in g["coords"] for r in poly]
    raise ValueError(f"not a polygon: {g['type']}")


def point_xy(buf: bytes) -> tuple[float, float]:
    """Fast path: decode a WKB point without building the dict."""
    bo, code, off = _read_header(bytes(buf), 0)
    if code != POINT:
        raise ValueError("not a point")
    dt = "<f8" if bo == 1 else ">f8"
    arr = np.frombuffer(buf, dtype=dt, count=2, offset=off)
    return float(arr[0]), float(arr[1])
