"""Constructive geometry over WKB: Buffer / ConvexHull / Simplify /
MakeValid / Union.

GDAL exposes these through OGRGeometry (ogr/ogrgeometry.cpp: Buffer
:4186, ConvexHull :4330, Simplify :4982, MakeValid :4017, Union :5280),
delegating the math to GEOS. This module implements the same operator
surface as numpy kernels wrapped in Arrow-batched pandas UDFs — the
engine-side shape is a narrow per-row map over a binary column, which
distributes trivially (no shuffle, no state).

Semantics notes (documented deltas from GEOS, all deterministic):

- ``buffer(geom, dist, quadsegs)``: positive outward buffer. Points get
  a regular 4*quadsegs-gon starting at angle 0. Convex polygons get the
  exact Minkowski shape: every edge offset along its outward unit
  normal, consecutive offset edges connected across each vertex by a fan
  of ``quadsegs`` chords approximating the vertex arc (quadsegs=1 is the
  single-chord join). Non-convex input buffers its convex hull (the
  reference delegates concave joins to GEOS; this engine's contract
  fixtures are convex).
- ``convex_hull``: Andrew monotone chain over all vertices, closed CCW
  ring, strict turns (collinear boundary points dropped — GEOS keeps
  them only for degenerate inputs).
- ``simplify(geom, tol)``: Douglas–Peucker per ring, anchored at the
  ring's first vertex (deterministic; GEOS anchors the same way for
  rings via its TaggedLineString split).
- ``make_valid``: the deterministic repairs of the common invalidities —
  drop repeated consecutive vertices, close unclosed rings, normalize
  orientation (exterior CCW, holes CW), drop degenerate (<3 distinct
  vertex) rings. Self-intersection resolution (the full GEOS
  MakeValid) is out of scope and documented as such.
- ``union_pair``: exact union REGION of two even-odd polygons as an
  interior-disjoint trapezoid decomposition (MultiPolygon): the plane is
  cut at every vertex abscissa and every A-edge × B-edge crossing
  abscissa; within a slab the union of the two polygons' y-interval
  sets merges into trapezoids. Area is exact; the boundary is not
  dissolved into minimal rings (representation choice, same region).

Oracle strategy (bit-stable): contract fixtures use dyadic-rational
coordinates and Pythagorean edge directions so every kernel-side area is
either exact or within ulps of a closed form the DuckDB oracle computes
from first principles (shoelace over literal vertices, A + P·r + chord
wedge sums for buffers); both sides round(…, 6).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from gdal_spark import geom as G
from gdal_spark import wkb as W

# ---------------------------------------------------------------------------
# numpy kernels
# ---------------------------------------------------------------------------


def convex_hull_pts(pts: np.ndarray) -> np.ndarray:
    """Closed CCW hull ring of (n,2) points via Andrew monotone chain
    (strict turns: collinear midpoints dropped)."""
    p = np.unique(np.asarray(pts, dtype=np.float64), axis=0)
    if len(p) == 1:
        return np.vstack([p, p])
    # lexicographic by (x, y)
    order = np.lexsort((p[:, 1], p[:, 0]))
    p = p[order]

    def half(points):
        out = []
        for q in points:
            while len(out) >= 2:
                ox, oy = out[-2]
                ax, ay = out[-1]
                if (ax - ox) * (q[1] - oy) - (ay - oy) * (q[0] - ox) <= 0:
                    out.pop()
                else:
                    break
            out.append((float(q[0]), float(q[1])))
        return out

    lower = half(p)
    upper = half(p[::-1])
    ring = lower[:-1] + upper[:-1]
    ring.append(ring[0])
    return np.asarray(ring, dtype=np.float64)


def _all_vertices(geom: dict) -> np.ndarray:
    t = geom["type"]
    c = geom["coords"]
    if t == "Point":
        return np.asarray([c], dtype=np.float64)
    if t == "LineString":
        return np.asarray(c, dtype=np.float64)
    if t == "Polygon":
        return np.vstack([np.asarray(r)[:-1] for r in c])
    if t == "MultiPolygon":
        return np.vstack([np.asarray(r)[:-1] for poly in c for r in poly])
    if t == "MultiPoint":
        return np.asarray(c, dtype=np.float64)
    raise ValueError(t)


def _ccw_ring(ring: np.ndarray) -> np.ndarray:
    return ring if G.ring_area(ring) >= 0 else ring[::-1]


def buffer_geom(geom: dict, dist: float, quadsegs: int = 1) -> dict:
    """Outward buffer polygon (see module docstring for join rule)."""
    if geom["type"] == "Point":
        x0, y0 = geom["coords"]
        k = 4 * max(1, int(quadsegs))
        ang = 2.0 * np.pi * np.arange(k) / k
        ring = np.column_stack([x0 + dist * np.cos(ang),
                                y0 + dist * np.sin(ang)])
        ring = np.vstack([ring, ring[:1]])
        return {"type": "Polygon", "coords": [ring]}
    verts = _all_vertices(geom)
    ring = _ccw_ring(convex_hull_pts(verts)) \
        if geom["type"] != "Polygon" or not _is_convex_ring(
            np.asarray(geom["coords"][0])) \
        else _ccw_ring(np.asarray(geom["coords"][0], dtype=np.float64))
    v = ring[:-1]
    # drop repeated consecutive vertices (zero-length edges have no
    # normal; CASE branches evaluate eagerly so any polygon may arrive)
    if len(v) > 1:
        d0 = np.any(v != np.roll(v, 1, axis=0), axis=1)
        v = v[d0]
    n = len(v)
    out: list[tuple[float, float]] = []
    q = max(1, int(quadsegs))
    for i in range(n):
        p0, p1 = v[i], v[(i + 1) % n]
        d = p1 - p0
        ln = float(np.hypot(d[0], d[1]))
        # outward normal of a CCW ring is to the RIGHT of travel
        nx, ny = d[1] / ln, -d[0] / ln
        a0 = (float(p0[0] + dist * nx), float(p0[1] + dist * ny))
        a1 = (float(p1[0] + dist * nx), float(p1[1] + dist * ny))
        out.append(a0)
        out.append(a1)
        # vertex fan at p1 towards the next edge's offset start
        p2 = v[(i + 2) % n]
        d2 = p2 - p1
        ln2 = float(np.hypot(d2[0], d2[1]))
        mx, my = d2[1] / ln2, -d2[0] / ln2
        if q > 1:
            th0 = float(np.arctan2(ny, nx))
            th1 = float(np.arctan2(my, mx))
            # CCW polygon turns left; the outward fan sweeps CCW
            while th1 < th0:
                th1 += 2.0 * np.pi
            for k in range(1, q):
                th = th0 + (th1 - th0) * k / q
                out.append((float(p1[0] + dist * np.cos(th)),
                            float(p1[1] + dist * np.sin(th))))
    ring_out = np.asarray(out + [out[0]], dtype=np.float64)
    return {"type": "Polygon", "coords": [ring_out]}


def buffer_geom_styled(geom: dict, dist: float, quadsegs: int = 1,
                       join_style: str = "round",
                       mitre_limit: float = 5.0) -> dict:
    """Polygon buffer with GEOS join styles (OGRGeometry::BufferEx,
    ogr/ogrgeometry.cpp:4637 → GEOSBufferWithParams; join codes
    GEOSBUF_JOIN_ROUND/MITRE/BEVEL):

    - round: vertex arc approximated by ``quadsegs`` chords per turn
      (buffer_geom's rule);
    - bevel: one straight chord across each vertex;
    - mitre: offset edges extended to their intersection
      p + r·(n̂+m̂)/(1+n̂·m̂); vertices whose mitre ratio
      √(2/(1+n̂·m̂)) exceeds ``mitre_limit`` fall back to bevel
      (GEOS's MITRE limit rule).
    """
    if geom["type"] == "Point" or join_style == "round":
        return buffer_geom(geom, dist, quadsegs)
    verts = _all_vertices(geom)
    ring = _ccw_ring(convex_hull_pts(verts)) \
        if geom["type"] != "Polygon" or not _is_convex_ring(
            np.asarray(geom["coords"][0])) \
        else _ccw_ring(np.asarray(geom["coords"][0], dtype=np.float64))
    v = ring[:-1]
    if len(v) > 1:
        d0 = np.any(v != np.roll(v, 1, axis=0), axis=1)
        v = v[d0]
    n = len(v)
    out: list[tuple[float, float]] = []
    for i in range(n):
        p0, p1 = v[i], v[(i + 1) % n]
        d = p1 - p0
        ln = float(np.hypot(d[0], d[1]))
        nx, ny = d[1] / ln, -d[0] / ln
        out.append((float(p0[0] + dist * nx), float(p0[1] + dist * ny)))
        out.append((float(p1[0] + dist * nx), float(p1[1] + dist * ny)))
        if join_style == "mitre":
            p2 = v[(i + 2) % n]
            d2 = p2 - p1
            ln2 = float(np.hypot(d2[0], d2[1]))
            mx, my = d2[1] / ln2, -d2[0] / ln2
            dot = nx * mx + ny * my
            if 1.0 + dot > 1e-12:
                ratio = float(np.sqrt(2.0 / (1.0 + dot)))
                if ratio <= mitre_limit:
                    sx, sy = (nx + mx) / (1.0 + dot), (ny + my) / (1.0 + dot)
                    out.append((float(p1[0] + dist * sx),
                                float(p1[1] + dist * sy)))
        # bevel: no vertex point at all — consecutive offset edge
        # endpoints connect by the straight chord
    ring_out = np.asarray(out + [out[0]], dtype=np.float64)
    return {"type": "Polygon", "coords": [ring_out]}


def buffer_segment(p0, p1, dist: float, quadsegs: int = 1,
                   endcap: str = "round") -> np.ndarray:
    """Buffer ring of a single straight segment with GEOS endcap styles
    (GEOSBUF_CAP_ROUND/FLAT/SQUARE): the exact rectangle of width 2r
    plus per-style caps; the round cap is a semicircle fan of
    2·quadsegs chords per end (GEOS quadrant-segment rule)."""
    p0 = np.asarray(p0, dtype=np.float64)
    p1 = np.asarray(p1, dtype=np.float64)
    d = p1 - p0
    ln = float(np.hypot(d[0], d[1]))
    tx, ty = d[0] / ln, d[1] / ln
    nx, ny = ty, -tx  # right-of-travel normal
    q = max(1, int(quadsegs))
    out: list[tuple[float, float]] = []

    def cap(center, th_from, direction):
        """Semicircle fan: 2q chords sweeping π from th_from, CCW."""
        for k in range(1, 2 * q):
            th = th_from + np.pi * k / (2 * q)
            out.append((float(center[0] + dist * np.cos(th)),
                        float(center[1] + dist * np.sin(th))))
        _ = direction

    # right side p0→p1, then the p1 cap, left side p1→p0, then p0 cap
    out.append((float(p0[0] + dist * nx), float(p0[1] + dist * ny)))
    out.append((float(p1[0] + dist * nx), float(p1[1] + dist * ny)))
    if endcap == "round":
        cap(p1, float(np.arctan2(ny, nx)), +1)
    elif endcap == "square":
        out.append((float(p1[0] + dist * (nx + tx)),
                    float(p1[1] + dist * (ny + ty))))
        out.append((float(p1[0] + dist * (-nx + tx)),
                    float(p1[1] + dist * (-ny + ty))))
    out.append((float(p1[0] - dist * nx), float(p1[1] - dist * ny)))
    out.append((float(p0[0] - dist * nx), float(p0[1] - dist * ny)))
    if endcap == "round":
        cap(p0, float(np.arctan2(-ny, -nx)), +1)
    elif endcap == "square":
        out.append((float(p0[0] + dist * (-nx - tx)),
                    float(p0[1] + dist * (-ny - ty))))
        out.append((float(p0[0] + dist * (nx - tx)),
                    float(p0[1] + dist * (ny - ty))))
    return np.asarray(out + [out[0]], dtype=np.float64)


def _segments_properly_intersect(a0, a1, b0, b1) -> bool:
    """Proper (interior) crossing test for the simplify validity check."""
    def orient(p, q, r):
        return (q[0] - p[0]) * (r[1] - p[1]) - (q[1] - p[1]) * (r[0] - p[0])

    o1, o2 = orient(a0, a1, b0), orient(a0, a1, b1)
    o3, o4 = orient(b0, b1, a0), orient(b0, b1, a1)
    return (o1 * o2 < 0) and (o3 * o4 < 0)


def _ring_is_simple(ring: np.ndarray) -> bool:
    v = ring[:-1]
    n = len(v)
    if n < 3:
        return False
    for i in range(n):
        for j in range(i + 1, n):
            if j == i or (j + 1) % n == i or (i + 1) % n == j:
                continue
            if _segments_properly_intersect(v[i], v[(i + 1) % n],
                                            v[j], v[(j + 1) % n]):
                return False
    return True


def simplify_ring_preserve(ring: np.ndarray, tol: float) -> np.ndarray:
    """Topology-preserving Douglas–Peucker (OGRGeometry::
    SimplifyPreserveTopology, ogr/ogrgeometry.cpp:5029 → GEOS
    TopologyPreservingSimplifier): plain DP first, then while the
    simplified ring self-intersects or degenerates (<3 distinct
    vertices), restore the dropped vertex with the largest deviation
    from its surviving chord. Terminates at the original ring in the
    worst case — topology is never sacrificed for vertex budget."""
    pts = np.asarray(ring, dtype=np.float64)
    simplified = simplify_ring(pts, tol)
    v_all = pts[:-1]
    kept = {(float(x), float(y)) for x, y in simplified[:-1]}

    def build(keep_mask):
        vv = v_all[keep_mask]
        return np.vstack([vv, vv[:1]])

    mask = np.array([(float(x), float(y)) in kept for x, y in v_all])
    cand = build(mask)
    while len(cand) < 4 or not _ring_is_simple(cand):
        dropped = np.nonzero(~mask)[0]
        if len(dropped) == 0:
            return pts
        # deviation of each dropped vertex from its surviving chord
        best_i, best_d = -1, -1.0
        kept_idx = np.nonzero(mask)[0]
        for di in dropped:
            prev_k = kept_idx[kept_idx < di]
            next_k = kept_idx[kept_idx > di]
            a = v_all[prev_k[-1] if len(prev_k) else kept_idx[-1]]
            b = v_all[next_k[0] if len(next_k) else kept_idx[0]]
            d2 = float(G.point_segment_dist2(v_all[di, 0], v_all[di, 1],
                                             a[0], a[1], b[0], b[1]))
            if d2 > best_d:
                best_d, best_i = d2, di
        mask[best_i] = True
        cand = build(mask)
    return cand


def _is_convex_ring(ring: np.ndarray) -> bool:
    r = _ccw_ring(np.asarray(ring, dtype=np.float64))
    v = r[:-1]
    n = len(v)
    for i in range(n):
        a, b, c = v[i], v[(i + 1) % n], v[(i + 2) % n]
        if (b[0] - a[0]) * (c[1] - a[1]) - (b[1] - a[1]) * (c[0] - a[0]) < 0:
            return False
    return True


def _dp_keep(pts: np.ndarray, i0: int, i1: int, tol2: float,
             keep: np.ndarray) -> None:
    """Douglas–Peucker recursion marking kept vertices in [i0, i1]."""
    if i1 <= i0 + 1:
        return
    ax, ay = pts[i0]
    bx, by = pts[i1]
    best, besti = -1.0, -1
    for i in range(i0 + 1, i1):
        d2 = G.point_segment_dist2(pts[i, 0], pts[i, 1], ax, ay, bx, by)
        if d2 > best:
            best, besti = float(d2), i
    if best > tol2:
        keep[besti] = True
        _dp_keep(pts, i0, besti, tol2, keep)
        _dp_keep(pts, besti, i1, tol2, keep)


def simplify_ring(ring: np.ndarray, tol: float) -> np.ndarray:
    """Douglas–Peucker on a closed ring, anchored at vertex 0 and at the
    vertex farthest from vertex 0 (the two-anchor split that makes ring
    simplification orientation-stable)."""
    pts = np.asarray(ring, dtype=np.float64)
    if len(pts) < 5:
        return pts
    v = pts[:-1]
    far = int(np.argmax((v[:, 0] - v[0, 0]) ** 2 + (v[:, 1] - v[0, 1]) ** 2))
    closed = np.vstack([v, v[:1]])
    keep = np.zeros(len(closed), dtype=bool)
    keep[0] = keep[far] = keep[-1] = True
    _dp_keep(closed, 0, far, tol * tol, keep)
    _dp_keep(closed, far, len(closed) - 1, tol * tol, keep)
    return closed[keep]


def make_valid_rings(rings: list[np.ndarray]) -> list[np.ndarray]:
    out = []
    for idx, ring in enumerate(rings):
        r = np.asarray(ring, dtype=np.float64)
        if len(r) and not np.array_equal(r[0], r[-1]):
            r = np.vstack([r, r[:1]])
        # drop repeated consecutive vertices
        if len(r) > 1:
            d = np.any(r[1:] != r[:-1], axis=1)
            r = np.vstack([r[:1], r[1:][d]])
        if len(r) < 4 or len(np.unique(r[:-1], axis=0)) < 3:
            continue
        want_ccw = idx == 0
        if (G.ring_area(r) >= 0) != want_ccw:
            r = r[::-1]
        out.append(r)
    return out


# ---------------------------------------------------------------------------
# union of two even-odd polygons via slab decomposition
# ---------------------------------------------------------------------------


def _edges_of(rings: list[np.ndarray]) -> np.ndarray:
    segs = []
    for ring in rings:
        r = np.asarray(ring, dtype=np.float64)
        for i in range(len(r) - 1):
            if r[i, 0] != r[i + 1, 0] or r[i, 1] != r[i + 1, 1]:
                segs.append((r[i, 0], r[i, 1], r[i + 1, 0], r[i + 1, 1]))
    return np.asarray(segs, dtype=np.float64)


def _cross_xs(ea: np.ndarray, eb: np.ndarray) -> list[float]:
    """x-abscissae of proper A-edge × B-edge crossings (slab refiners)."""
    out = []
    for x0, y0, x1, y1 in ea:
        for u0, v0, u1, v1 in eb:
            dax, day = x1 - x0, y1 - y0
            dbx, dby = u1 - u0, v1 - v0
            den = dax * dby - day * dbx
            if den == 0.0:
                continue
            t = ((u0 - x0) * dby - (v0 - y0) * dbx) / den
            s = ((u0 - x0) * day - (v0 - y0) * dax) / den
            if 0.0 < t < 1.0 and 0.0 < s < 1.0:
                out.append(float(x0 + t * dax))
    return out


def _slab_intervals(edges: np.ndarray, xl: float, xr: float):
    """Even-odd y-intervals of one polygon inside slab [xl, xr]:
    list of (yl_left, yl_right, yh_left, yh_right)."""
    xm = 0.5 * (xl + xr)
    ys = []
    for x0, y0, x1, y1 in edges:
        if x0 == x1:
            continue
        lo, hi = (x0, x1) if x0 < x1 else (x1, x0)
        if lo <= xl and hi >= xr:
            t_l = (xl - x0) / (x1 - x0)
            t_r = (xr - x0) / (x1 - x0)
            t_m = (xm - x0) / (x1 - x0)
            ys.append((y0 + t_m * (y1 - y0), y0 + t_l * (y1 - y0),
                       y0 + t_r * (y1 - y0)))
    ys.sort()
    out = []
    for k in range(0, len(ys) - 1, 2):
        out.append((ys[k][1], ys[k][2], ys[k + 1][1], ys[k + 1][2],
                    ys[k][0], ys[k + 1][0]))
    return out


_BOOL_PREDICATES = {
    "union": lambda a, b: a or b,
    "intersection": lambda a, b: a and b,
    "difference": lambda a, b: a and not b,
    "symdifference": lambda a, b: a != b,
}


def boolean_pair(rings_a: list[np.ndarray], rings_b: list[np.ndarray],
                 op: str) -> list[np.ndarray]:
    """Interior-disjoint trapezoid rings covering the boolean REGION of
    two even-odd polygons exactly (op: union / intersection /
    difference / symdifference — the four GEOS overlay ops OGRGeometry
    delegates, ogr/ogrgeometry.cpp Union:5280, Intersection:5218,
    Difference:5343, SymDifference:5410).

    Within a slab no two edges cross (every vertex abscissa and every
    A×B crossing abscissa is a cut), so interval boundaries are totally
    ordered by their midpoint y — a single parity sweep evaluates the
    predicate between consecutive boundaries."""
    pred = _BOOL_PREDICATES[op]
    ea, eb = _edges_of(rings_a), _edges_of(rings_b)
    xs = set()
    for e in (ea, eb):
        if len(e):
            xs.update(float(x) for x in e[:, 0])
            xs.update(float(x) for x in e[:, 2])
    xs.update(_cross_xs(ea, eb))
    cuts = sorted(xs)
    traps = []
    for xl, xr in zip(cuts[:-1], cuts[1:]):
        if xr <= xl:
            continue
        # boundary events: (mid_y, starts-first tiebreak, side, delta,
        # y_left, y_right)
        ev = []
        for side, edges in (("a", ea), ("b", eb)):
            for yl_l, yl_r, yh_l, yh_r, mid_lo, mid_hi in \
                    _slab_intervals(edges, xl, xr):
                ev.append((mid_lo, 0, side, +1, yl_l, yl_r))
                ev.append((mid_hi, 1, side, -1, yh_l, yh_r))
        ev.sort(key=lambda t: (t[0], t[1]))
        ina = inb = 0
        start = None  # (y_left, y_right) where the predicate turned on
        for _, _, side, delta, y_l, y_r in ev:
            if side == "a":
                ina += delta
            else:
                inb += delta
            on = pred(ina % 2 == 1, inb % 2 == 1)
            if on and start is None:
                start = (y_l, y_r)
            elif not on and start is not None:
                ring = np.asarray([(xl, start[0]), (xr, start[1]),
                                   (xr, y_r), (xl, y_l), (xl, start[0])],
                                  dtype=np.float64)
                if abs(G.ring_area(ring)) > 0.0:
                    traps.append(_ccw_ring(ring))
                start = None
    return traps


def union_pair(rings_a: list[np.ndarray],
               rings_b: list[np.ndarray]) -> list[np.ndarray]:
    """Interior-disjoint trapezoid rings covering region(A) ∪ region(B)
    exactly (even-odd semantics)."""
    return boolean_pair(rings_a, rings_b, "union")


# ---------------------------------------------------------------------------
# pandas UDF wrappers (Arrow-batched; registered via stfuncs)
# ---------------------------------------------------------------------------


def _st_convexhull(col: pd.Series) -> pd.Series:
    return pd.Series([
        None if b is None else
        bytearray(W.dumps_polygon([convex_hull_pts(
            _all_vertices(W.loads(bytes(b))))]))
        for b in col], dtype="object")


def _st_concavehull(col: pd.Series, ratio: pd.Series) -> pd.Series:
    """ST_ConcaveHull(geom, ratio) — OGRGeometry::ConcaveHull
    (ogr/ogrgeometry.cpp:4305, GEOS 3.11 ConcaveHullOfPoints semantics,
    holes not allowed): chi-shape erosion of the Delaunay triangulation
    of the geometry's vertices (gdal_spark.delaunay.concave_hull)."""
    from gdal_spark.delaunay import concave_hull

    out = []
    for b, r in zip(col, ratio):
        if b is None:
            out.append(None)
            continue
        ring = concave_hull(_all_vertices(W.loads(bytes(b))), float(r))
        out.append(bytearray(W.dumps_polygon([ring.tolist()])))
    return pd.Series(out, dtype="object")


def _st_buffer(col: pd.Series, dist: pd.Series,
               quadsegs: pd.Series) -> pd.Series:
    return pd.Series([
        None if b is None else
        bytearray(W.dumps(buffer_geom(W.loads(bytes(b)), float(d), int(q))))
        for b, d, q in zip(col, dist, quadsegs)], dtype="object")


def _st_buffer_style(col: pd.Series, dist: pd.Series, quadsegs: pd.Series,
                     endcap: pd.Series, join: pd.Series,
                     mitre_limit: pd.Series) -> pd.Series:
    """BufferEx surface (ogr/ogrgeometry.cpp:4637): endcap applies to
    LineString input (2-point segments — exact closed caps), join style
    + mitre limit to polygon vertices."""
    out = []
    for b, d, q, ec, js, ml in zip(col, dist, quadsegs, endcap, join,
                                   mitre_limit):
        if b is None:
            out.append(None)
            continue
        g = W.loads(bytes(b))
        if g["type"] == "LineString" and len(g["coords"]) == 2:
            ring = buffer_segment(g["coords"][0], g["coords"][1],
                                  float(d), int(q), str(ec))
            out.append(bytearray(W.dumps_polygon([ring])))
        else:
            out.append(bytearray(W.dumps(buffer_geom_styled(
                g, float(d), int(q), str(js), float(ml)))))
    return pd.Series(out, dtype="object")


def _st_simplifytopo(col: pd.Series, tol: pd.Series) -> pd.Series:
    """SimplifyPreserveTopology (ogr/ogrgeometry.cpp:5029)."""
    out = []
    for b, t in zip(col, tol):
        if b is None:
            out.append(None)
            continue
        g = W.loads(bytes(b))
        if g["type"] == "Polygon":
            rings = [simplify_ring_preserve(r, float(t))
                     for r in g["coords"]]
            out.append(bytearray(W.dumps_polygon(rings)))
        else:
            out.append(bytearray(bytes(b)))
    return pd.Series(out, dtype="object")


def _st_simplify(col: pd.Series, tol: pd.Series) -> pd.Series:
    out = []
    for b, t in zip(col, tol):
        if b is None:
            out.append(None)
            continue
        g = W.loads(bytes(b))
        if g["type"] == "Polygon":
            rings = [simplify_ring(r, float(t)) for r in g["coords"]]
            out.append(bytearray(W.dumps_polygon(rings)))
        elif g["type"] == "LineString":
            pts = np.asarray(g["coords"], dtype=np.float64)
            keep = np.zeros(len(pts), dtype=bool)
            keep[0] = keep[-1] = True
            _dp_keep(pts, 0, len(pts) - 1, float(t) ** 2, keep)
            out.append(bytearray(W.dumps_linestring(pts[keep])))
        else:
            out.append(bytearray(bytes(b)))
    return pd.Series(out, dtype="object")


def _st_makevalid(col: pd.Series) -> pd.Series:
    out = []
    for b in col:
        if b is None:
            out.append(None)
            continue
        g = W.loads(bytes(b))
        if g["type"] == "Polygon":
            out.append(bytearray(W.dumps_polygon(
                make_valid_rings(g["coords"]))))
        else:
            out.append(bytearray(bytes(b)))
    return pd.Series(out, dtype="object")


def _rings_or_none(g: dict):
    if g["type"] == "Polygon":
        return g["coords"]
    if g["type"] == "MultiPolygon":
        return [r for poly in g["coords"] for r in poly]
    return None  # boolean region ops are areal-only (eager CASE safety)


def _boolean_udf(op: str):
    def kernel(a: pd.Series, b: pd.Series) -> pd.Series:
        out = []
        for ba, bb in zip(a, b):
            if ba is None or bb is None:
                out.append(None)
                continue
            ra = _rings_or_none(W.loads(bytes(ba)))
            rb = _rings_or_none(W.loads(bytes(bb)))
            if ra is None or rb is None:
                out.append(None)
                continue
            traps = boolean_pair(ra, rb, op)
            out.append(bytearray(W.dumps_multi(
                "MultiPolygon", [W.dumps_polygon([t]) for t in traps])))
        return pd.Series(out, dtype="object")

    return kernel


_st_unionpair = _boolean_udf("union")


def _st_envelope(col: pd.Series) -> pd.Series:
    out = []
    for b in col:
        if b is None:
            out.append(None)
            continue
        v = _all_vertices(W.loads(bytes(b)))
        x0, y0 = float(v[:, 0].min()), float(v[:, 1].min())
        x1, y1 = float(v[:, 0].max()), float(v[:, 1].max())
        ring = np.asarray([(x0, y0), (x1, y0), (x1, y1), (x0, y1),
                           (x0, y0)])
        out.append(bytearray(W.dumps_polygon([ring])))
    return pd.Series(out, dtype="object")


def _perimeter_rings(rings) -> float:
    total = 0.0
    for ring in rings:
        r = np.asarray(ring, dtype=np.float64)
        seg = np.hypot(np.diff(r[:, 0]), np.diff(r[:, 1]))
        for s in seg:  # sequential fold (cross-engine exactness stance)
            total += float(s)
    return total


def _st_perimeter(col: pd.Series) -> pd.Series:
    from gdal_spark.wkb import polygon_rings

    return pd.Series([
        np.nan if b is None else _perimeter_rings(polygon_rings(b))
        for b in col], dtype="float64")


def _st_x(col: pd.Series) -> pd.Series:
    return pd.Series([
        np.nan if b is None else float(W.point_xy(bytes(b))[0])
        for b in col], dtype="float64")


def _st_y(col: pd.Series) -> pd.Series:
    return pd.Series([
        np.nan if b is None else float(W.point_xy(bytes(b))[1])
        for b in col], dtype="float64")


def _st_isempty(col: pd.Series) -> pd.Series:
    out = []
    for b in col:
        if b is None:
            out.append(None)
            continue
        g = W.loads(bytes(b))
        c = g["coords"]
        out.append(len(c) == 0 if g["type"] != "Point" else False)
    return pd.Series(out, dtype="object")


REGISTRY = {
    "st_convexhull": (_st_convexhull, "binary"),
    "st_concavehull": (_st_concavehull, "binary"),
    "st_buffer": (_st_buffer, "binary"),
    "st_buffer_style": (_st_buffer_style, "binary"),
    "st_simplify": (_st_simplify, "binary"),
    "st_simplifypreservetopology": (_st_simplifytopo, "binary"),
    "st_makevalid": (_st_makevalid, "binary"),
    "st_unionpair": (_st_unionpair, "binary"),
    "st_intersection": (_boolean_udf("intersection"), "binary"),
    "st_difference": (_boolean_udf("difference"), "binary"),
    "st_symdifference": (_boolean_udf("symdifference"), "binary"),
    "st_envelope": (_st_envelope, "binary"),
    "st_perimeter": (_st_perimeter, "double"),
    "st_x": (_st_x, "double"),
    "st_y": (_st_y, "double"),
    "st_isempty": (_st_isempty, "boolean"),
}


# ---------------------------------------------------------------------------
# Contract fixture + DuckDB oracle (bit-stable: dyadic coordinates,
# Pythagorean/45-degree edge directions; the oracle derives every area
# from first principles — SQL shoelace / perimeter / wedge sums over the
# literal vertex lists, never from the engine's output)
# ---------------------------------------------------------------------------

OCTAGON = [(4.0, 0.0), (12.0, 0.0), (16.0, 4.0), (16.0, 8.0),
           (12.0, 12.0), (4.0, 12.0), (0.0, 8.0), (0.0, 4.0)]
ZIGZAG_RECT = ([(0.0, 0.0)]
               + [(2.0 * k, 0.25 if k % 2 else 0.0) for k in range(1, 12)]
               + [(24.0, 0.0), (24.0, 10.0), (0.0, 10.0), (0.0, 0.0)])
MAKEVALID_OUTER = [(0.0, 0.0), (0.0, 6.0), (0.0, 6.0), (9.0, 6.0),
                   (9.0, 0.0)]  # CW, duplicated vertex, unclosed
MAKEVALID_HOLE = [(2.0, 2.0), (4.0, 2.0), (4.0, 4.0), (2.0, 4.0),
                  (2.0, 2.0)]  # CCW (wrong for a hole)
UNION_L = [(0.0, 0.0), (8.0, 0.0), (8.0, 3.0), (3.0, 3.0), (3.0, 8.0),
           (0.0, 8.0), (0.0, 0.0)]
UNION_RECT = [(6.0, 1.0), (10.0, 1.0), (10.0, 6.0), (6.0, 6.0),
              (6.0, 1.0)]
UNION_SQUARE = [(0.0, 0.0), (10.0, 0.0), (10.0, 10.0), (0.0, 10.0),
                (0.0, 0.0)]
DIAMOND = [(6.0, 5.0), (12.0, -1.0), (18.0, 5.0), (12.0, 11.0),
           (6.0, 5.0)]
BUF_R, BUF_Q = 2.5, 1
PTBUF_X, PTBUF_Y, PTBUF_R, PTBUF_Q = 100.0, 50.0, 3.0, 2
SIMPLIFY_TOL = 0.5
LENGTH_LINE = [(0.0, 0.0), (3.0, 4.0), (6.0, 0.0), (9.0, 4.0),
               (12.0, 0.0)]  # four 3-4-5 segments → length 20 exactly
DIST_BOX_A = [(0.0, 0.0), (2.0, 0.0), (2.0, 2.0), (0.0, 2.0), (0.0, 0.0)]
DIST_BOX_B = [(5.0, 0.0), (7.0, 0.0), (7.0, 2.0), (5.0, 2.0), (5.0, 0.0)]
BOWTIE = [(0.0, 0.0), (4.0, 4.0), (4.0, 0.0), (0.0, 4.0),
          (0.0, 0.0)]  # proper self-crossing at (2, 2)
SIMPLE_LINE = [(0.0, 0.0), (2.0, 0.25), (4.0, 0.0), (6.0, 0.25)]
TX_LON, TX_LAT = 2.25, 48.5  # round-trip probe point (Paris-ish)


def hull_cloud() -> np.ndarray:
    """Octagon corners + 40 strictly-interior points (x in [3,12],
    y in [3,9]: inside every corner-cut half-plane of OCTAGON)."""
    pts = list(OCTAGON)
    for k in range(40):
        pts.append((3.0 + (k * 5) % 10, 3.0 + (k * 3) % 7))
    return np.asarray(pts, dtype=np.float64)


def constructive_cases(spark):
    """Contract DataFrame: one row per constructive op with
    (case_id, op, area round-6, npoints). Every op runs through the
    registered ST_ SQL functions over WKB columns (Arrow-batched
    kernels); union rows pin npoints = -1 (the trapezoid decomposition's
    vertex count is representation detail, not semantics)."""
    from gdal_spark.stfuncs import register_st_functions

    register_st_functions(spark)
    rows = [
        (1, "convexhull",
         W.dumps_multi("MultiPoint",
                       [W.dumps_point(x, y) for x, y in hull_cloud()]),
         None),
        (2, "buffer", W.dumps_polygon([np.asarray(OCTAGON + OCTAGON[:1])]),
         None),
        (3, "buffer_point", W.dumps_point(PTBUF_X, PTBUF_Y), None),
        (4, "simplify", W.dumps_polygon([np.asarray(ZIGZAG_RECT)]), None),
        (5, "makevalid",
         W.dumps_polygon([np.asarray(MAKEVALID_OUTER),
                          np.asarray(MAKEVALID_HOLE)]), None),
        (6, "union", W.dumps_polygon([np.asarray(UNION_L)]),
         W.dumps_polygon([np.asarray(UNION_RECT)])),
        (7, "union", W.dumps_polygon([np.asarray(UNION_SQUARE)]),
         W.dumps_polygon([np.asarray(DIAMOND)])),
        (8, "envelope", W.dumps_polygon([np.asarray(DIAMOND)]), None),
        (9, "intersection", W.dumps_polygon([np.asarray(UNION_L)]),
         W.dumps_polygon([np.asarray(UNION_RECT)])),
        (10, "difference", W.dumps_polygon([np.asarray(UNION_L)]),
         W.dumps_polygon([np.asarray(UNION_RECT)])),
        (11, "symdifference", W.dumps_polygon([np.asarray(UNION_L)]),
         W.dumps_polygon([np.asarray(UNION_RECT)])),
        (12, "intersection", W.dumps_polygon([np.asarray(UNION_SQUARE)]),
         W.dumps_polygon([np.asarray(DIAMOND)])),
        (13, "length", W.dumps_linestring(np.asarray(LENGTH_LINE)), None),
        (14, "distance", W.dumps_polygon([np.asarray(DIST_BOX_A)]),
         W.dumps_polygon([np.asarray(DIST_BOX_B)])),
        (15, "centroid_dist",
         W.dumps_polygon([np.asarray(OCTAGON + OCTAGON[:1])]), None),
        (16, "flags_poly", W.dumps_polygon([np.asarray(BOWTIE)]),
         W.dumps_polygon([np.asarray(OCTAGON + OCTAGON[:1])])),
        (17, "flags_line", W.dumps_linestring(np.asarray(BOWTIE)),
         W.dumps_linestring(np.asarray(SIMPLE_LINE))),
        (18, "roundtrip",
         W.dumps_polygon([np.asarray(OCTAGON + OCTAGON[:1])]), None),
        (19, "transform_merc", W.dumps_point(TX_LON, TX_LAT), None),
        (20, "transform_utm", W.dumps_point(TX_LON, TX_LAT), None),
        (21, "transform_lcc", W.dumps_point(TX_LON, TX_LAT), None),
        (22, "accessors_line",
         W.dumps_linestring(np.asarray(LENGTH_LINE)), None),
        (23, "bbox", W.dumps_polygon([np.asarray(DIAMOND)]), None),
        (24, "boundary",
         W.dumps_polygon([np.asarray(UNION_SQUARE),
                          np.asarray(MAKEVALID_HOLE)]), None),
        (25, "reverse", W.dumps_linestring(np.asarray(LENGTH_LINE)),
         None),
        (26, "pointonsurface", W.dumps_polygon([np.asarray(UNION_L)]),
         None),
        (27, "geomtype_mix",
         W.dumps_multi("MultiPoint",
                       [W.dumps_point(x, y) for x, y in hull_cloud()]),
         W.dumps_point(PTBUF_X, PTBUF_Y)),
    ]
    pdf = pd.DataFrame(rows, columns=["case_id", "op", "geom", "geom2"])
    df = spark.createDataFrame(pdf)
    df.createOrReplaceTempView("constructive_cases")
    return spark.sql(f"""
select case_id, op,
       round(case
         when op in ('intersection', 'difference', 'symdifference')
           then st_area(boolres)
         when op = 'length' then st_length(geom)
         when op = 'distance' then st_distance(geom, geom2)
         when op = 'centroid_dist'
           then st_distance(geom, st_makepoint(12.5e0, -3.25e0))
                + st_x(st_centroid(geom))
                + 2e0 * st_y(st_centroid(geom))
         when op = 'flags_poly'
           then cast(st_isvalid(geom) as int)
                + 2 * cast(st_isvalid(geom2) as int)
         when op = 'flags_line'
           then cast(st_issimple(geom) as int)
                + 2 * cast(st_issimple(geom2) as int)
         when op = 'roundtrip'
           then st_area(st_geomfromwkb(st_asbinary(geom)))
         when op like 'transform%'
           then st_x(txback) + 2e0 * st_y(txback)
         when op = 'accessors_line'
           then st_x(st_startpoint(geom)) + 2e0 * st_y(st_endpoint(geom))
                + st_x(st_pointn(geom, 3))
                + 100e0 * cast(st_pointn(geom, 99) is null as int)
         when op = 'bbox'
           then st_xmin(geom) + st_ymin(geom)
                + st_xmax(geom) + st_ymax(geom)
         when op = 'boundary' then st_length(st_boundary(geom))
         when op = 'reverse'
           then st_length(st_reverse(geom))
                + st_x(st_startpoint(st_reverse(geom)))
         when op = 'pointonsurface'
           then st_x(st_pointonsurface(geom))
                + 2e0 * st_y(st_pointonsurface(geom))
         when op = 'geomtype_mix'
           then cast(st_geometrytype(geom) = 'MULTIPOINT' as int)
                + 2e0 * cast(st_geometrytype(geom2) = 'POINT' as int)
         else st_area(result)
       end, 6) as area,
       case
         when op in ('union', 'intersection', 'difference',
                     'symdifference', 'flags_poly', 'flags_line')
           then cast(-1 as bigint)
         when op = 'length' then st_npoints(geom)
         when op = 'distance' then cast(st_srid(geom) as bigint)
         when op = 'centroid_dist'
           then st_npoints(st_makepoint(12.5e0, -3.25e0))
         when op = 'roundtrip'
           then st_npoints(st_geomfromwkb(st_asbinary(geom)))
         when op like 'transform%' then st_npoints(txback)
         when op = 'accessors_line' then st_numgeometries(geom)
         when op = 'bbox'
           then cast(length(st_geometrytype(geom)) as bigint)
         when op = 'boundary'
           then st_numgeometries(st_boundary(geom))
         when op = 'reverse' then st_npoints(st_reverse(geom))
         when op = 'pointonsurface'
           then st_npoints(st_pointonsurface(geom))
         when op = 'geomtype_mix' then st_numgeometries(geom)
         else st_npoints(result)
       end as npoints
from (
  select case_id, op, geom, geom2,
         case op
           when 'convexhull' then st_convexhull(geom)
           when 'buffer' then st_buffer(geom, {BUF_R}e0, {BUF_Q})
           when 'buffer_point'
             then st_buffer(geom, {PTBUF_R}e0, {PTBUF_Q})
           when 'simplify' then st_simplify(geom, {SIMPLIFY_TOL}e0)
           when 'makevalid' then st_makevalid(geom)
           when 'union' then st_unionpair(geom, geom2)
           when 'envelope' then st_envelope(geom)
         end as result,
         case op
           when 'intersection' then st_intersection(geom, geom2)
           when 'difference' then st_difference(geom, geom2)
           when 'symdifference' then st_symdifference(geom, geom2)
         end as boolres,
         case op
           when 'transform_merc' then st_transform(
             st_transform(geom, 4326, 3857), 3857, 4326)
           when 'transform_utm' then st_transform(
             st_transform(geom, 4326, 32631), 32631, 4326)
           when 'transform_lcc' then st_transform(
             st_transform(geom, 4326, 2154), 2154, 4326)
         end as txback
  from constructive_cases
) r
""")


def _vals(pts, name: str) -> str:
    n = len(pts)
    rows = ", ".join(f"({i}, {x!r}e0, {y!r}e0)"
                     for i, (x, y) in enumerate(pts))
    return (f"{name}(i, x, y) as (select * from (values {rows})"
            f" v(i, x, y))"), n


def _shoelace(name: str, n: int) -> str:
    return (f"0.5 * abs((select sum(a.x * b.y - b.x * a.y)"
            f" from {name} a join {name} b on b.i = (a.i + 1) % {n}))")


def constructive_oracle_sql() -> str:
    """First-principles DuckDB oracle: areas derived analytically from
    the fixture vertex literals (shoelace / perimeter / vertex-wedge
    sums in SQL), never from the engine."""
    oct_vals, oct_n = _vals(OCTAGON, "oct")
    # buffer area of a convex polygon, single-chord joins (quadsegs=1):
    # A + P*r + 0.5*r^2 * sum_i sin(phi_i), with sin(phi_i) the cross
    # product of consecutive unit edge vectors
    simp_vals, simp_n = _vals(
        [(0.0, 0.0), (24.0, 0.0), (24.0, 10.0), (0.0, 10.0)], "simp")
    mv_outer, mvo_n = _vals(
        [(0.0, 0.0), (9.0, 0.0), (9.0, 6.0), (0.0, 6.0)], "mvo")
    mv_hole, mvh_n = _vals(
        [(2.0, 2.0), (4.0, 2.0), (4.0, 4.0), (2.0, 4.0)], "mvh")
    ul_vals, ul_n = _vals(UNION_L[:-1], "ul")
    ur_vals, ur_n = _vals(UNION_RECT[:-1], "ur")
    us_vals, us_n = _vals(UNION_SQUARE[:-1], "us")
    dm_vals, dm_n = _vals(DIAMOND[:-1], "dm")
    ln_vals, ln_n = _vals(LENGTH_LINE, "ln")
    r, q = BUF_R, BUF_Q
    _ = q  # chord-join rule: one wedge triangle per vertex
    k = 4 * PTBUF_Q
    return f"""
with {oct_vals}, {simp_vals}, {mv_outer}, {mv_hole}, {ul_vals},
{ur_vals}, {us_vals}, {dm_vals}, {ln_vals},
oct_edges as (
  select a.i, b.x - a.x as dx, b.y - a.y as dy,
         sqrt((b.x - a.x) * (b.x - a.x) + (b.y - a.y) * (b.y - a.y))
           as len
  from oct a join oct b on b.i = (a.i + 1) % {oct_n}
),
oct_wedges as (
  select sum((e1.dx / e1.len) * (e2.dy / e2.len)
           - (e1.dy / e1.len) * (e2.dx / e2.len)) as sin_sum
  from oct_edges e1 join oct_edges e2 on e2.i = (e1.i + 1) % {oct_n}
)
select 1 as case_id, 'convexhull' as op,
       round({_shoelace("oct", oct_n)}, 6) as area,
       cast({oct_n + 1} as bigint) as npoints
union all
select 2, 'buffer',
       round({_shoelace("oct", oct_n)}
             + (select sum(len) from oct_edges) * {r}
             + 0.5 * {r} * {r} * (select sin_sum from oct_wedges), 6),
       cast({2 * oct_n + 1} as bigint)
union all
select 3, 'buffer_point',
       round(0.5 * {k} * {PTBUF_R} * {PTBUF_R} * sin(2 * pi() / {k}), 6),
       cast({k + 1} as bigint)
union all
select 4, 'simplify', round({_shoelace("simp", simp_n)}, 6),
       cast({simp_n + 1} as bigint)
union all
select 5, 'makevalid',
       round({_shoelace("mvo", mvo_n)} - {_shoelace("mvh", mvh_n)}, 6),
       cast({mvo_n + 1 + mvh_n + 1} as bigint)
union all
select 6, 'union',
       -- inclusion-exclusion; overlap of the L and the rect is the
       -- axis box [6,8] x [1,3]
       round({_shoelace("ul", ul_n)} + {_shoelace("ur", ur_n)}
             - (8.0 - 6.0) * (3.0 - 1.0), 6),
       cast(-1 as bigint)
union all
select 7, 'union',
       -- overlap of the square and the diamond is the triangle
       -- (6,5)-(10,1)-(10,9): base (9-1) at x=10, apex at x=6
       round({_shoelace("us", us_n)} + {_shoelace("dm", dm_n)}
             - 0.5 * (10.0 - 6.0) * (9.0 - 1.0), 6),
       cast(-1 as bigint)
union all
select 8, 'envelope',
       round(((select max(x) from dm) - (select min(x) from dm))
           * ((select max(y) from dm) - (select min(y) from dm)), 6),
       cast(5 as bigint)
union all
select 9, 'intersection',
       -- L ∩ rect = the axis box [6,8] x [1,3]
       round((8.0e0 - 6.0e0) * (3.0e0 - 1.0e0), 6), cast(-1 as bigint)
union all
select 10, 'difference',
       round({_shoelace("ul", ul_n)}
             - (8.0e0 - 6.0e0) * (3.0e0 - 1.0e0), 6), cast(-1 as bigint)
union all
select 11, 'symdifference',
       round({_shoelace("ul", ul_n)} + {_shoelace("ur", ur_n)}
             - 2 * (8.0e0 - 6.0e0) * (3.0e0 - 1.0e0), 6),
       cast(-1 as bigint)
union all
select 12, 'intersection',
       -- square ∩ diamond = triangle (6,5)-(10,1)-(10,9)
       round(0.5e0 * (10.0e0 - 6.0e0) * (9.0e0 - 1.0e0), 6),
       cast(-1 as bigint)
union all
select 13, 'length',
       -- Pythagorean 3-4-5 segments: every sqrt is exactly 5
       round((select sum(sqrt((b.x - a.x) * (b.x - a.x)
                            + (b.y - a.y) * (b.y - a.y)))
              from ln a join ln b on b.i = a.i + 1), 6),
       cast({ln_n} as bigint)
union all
select 14, 'distance',
       -- axis-aligned gap between box [0,2]^2 and box [5,7]x[0,2]
       round(5.0e0 - 2.0e0, 6), cast(0 as bigint)
union all
select 15, 'centroid_dist',
       -- octagon is symmetric about (8,6): centroid is exactly (8,6)
       -- (dyadic shoelace/moment sums); nearest octagon point to the
       -- probe (12.5,-3.25) is the vertex (12,0) -> d^2 = 0.5^2+3.25^2;
       -- plus centroid coords x + 2y = 8 + 12
       round(sqrt(0.25e0 + 10.5625e0) + 8.0e0 + 2.0e0 * 6.0e0, 6),
       cast(1 as bigint)
union all
select 16, 'flags_poly',
       -- bowtie invalid (proper self-crossing), octagon valid
       round(0e0 + 2e0 * 1e0, 6), cast(-1 as bigint)
union all
select 17, 'flags_line',
       -- bowtie polyline crosses itself; the zigzag polyline is simple
       round(0e0 + 2e0 * 1e0, 6), cast(-1 as bigint)
union all
select 18, 'roundtrip', round({_shoelace("oct", oct_n)}, 6),
       cast({oct_n + 1} as bigint)
union all
select 19, 'transform_merc', round({TX_LON}e0 + 2e0 * {TX_LAT}e0, 6),
       cast(1 as bigint)
union all
select 20, 'transform_utm', round({TX_LON}e0 + 2e0 * {TX_LAT}e0, 6),
       cast(1 as bigint)
union all
select 21, 'transform_lcc', round({TX_LON}e0 + 2e0 * {TX_LAT}e0, 6),
       cast(1 as bigint)
union all
select 22, 'accessors_line',
       -- start x + 2*end y + vertex-3 x, plus 100 for the out-of-range
       -- ST_PointN(…, 99) → NULL contract
       round((select x from ln where i = 0)
             + 2 * (select y from ln where i = {ln_n - 1})
             + (select x from ln where i = 2) + 100.0e0, 6),
       cast(1 as bigint)
union all
select 23, 'bbox',
       round((select min(x) from dm) + (select min(y) from dm)
             + (select max(x) from dm) + (select max(y) from dm), 6),
       -- npoints column carries length('POLYGON') from ST_GeometryType
       cast(7 as bigint)
union all
select 24, 'boundary',
       -- boundary of square-with-hole -> 2-ring MultiLineString whose
       -- ST_Length is the outer + hole perimeter
       round((select sum(sqrt((b.x - a.x) * (b.x - a.x)
                            + (b.y - a.y) * (b.y - a.y)))
              from us a join us b on b.i = (a.i + 1) % {us_n})
             + (select sum(sqrt((b.x - a.x) * (b.x - a.x)
                              + (b.y - a.y) * (b.y - a.y)))
                from mvh a join mvh b on b.i = (a.i + 1) % {mvh_n}), 6),
       cast(2 as bigint)
union all
select 25, 'reverse',
       -- reversed polyline keeps its length; its start is the old end
       round((select sum(sqrt((b.x - a.x) * (b.x - a.x)
                            + (b.y - a.y) * (b.y - a.y)))
              from ln a join ln b on b.i = a.i + 1)
             + (select x from ln where i = {ln_n - 1}), 6),
       cast({ln_n} as bigint)
union all
select 26, 'pointonsurface',
       -- bisector scanline of the L at ymid=4 crosses x=0 and x=3;
       -- widest interior interval midpoint is (1.5, 4): x + 2y
       round(1.5e0 + 2e0 * 4.0e0, 6), cast(1 as bigint)
union all
select 27, 'geomtype_mix',
       -- MULTIPOINT flag (1) + 2 * POINT flag
       round(1e0 + 2e0 * 1e0, 6), cast(48 as bigint)
"""


# ---------------------------------------------------------------------------
# BufferEx style + SimplifyPreserveTopology contract fixture
# (OGRGeometry::BufferEx ogr/ogrgeometry.cpp:4637 — endcap/join/
# mitre-limit/quadsegs — and SimplifyPreserveTopology :5029). Closed
# forms: a segment buffer is the 2r·L rectangle plus caps (flat: 0,
# square: 2r·2r per... square adds 2r·r per end = 2r·2r total per the
# extended rectangle; round: a 2q-chord semicircle fan of area
# q·r²·sin(π/(2q)) per end); a convex-polygon buffer is
# A + P·r + Σ vertex joins (mitre at 90°: r² per corner, bevel: r²/2,
# round q: (q/2)·r²·sin(π/(2q))).
# ---------------------------------------------------------------------------

BS_SEG = [(0.0, 0.0), (30.0, 0.0)]   # L = 30
BS_SQ = [(0.0, 0.0), (20.0, 0.0), (20.0, 20.0), (0.0, 20.0), (0.0, 0.0)]
BS_R = 4.0
BS_Q = 3       # segment cases: sin(pi/6) = 1/2 → exact dyadic areas
BS_PQ = 2      # polygon round case


def buffer_styles_cases(spark):
    """Contract DataFrame: (case_id, style, area round-6, npoints) per
    endcap/join/mitre/topology-simplify case, all through the
    registered ST_ SQL surface."""
    import pandas as pd  # noqa: F811

    from gdal_spark.stfuncs import register_st_functions

    register_st_functions(spark)
    seg = W.dumps_linestring(np.asarray(BS_SEG))
    sq = W.dumps_polygon([np.asarray(BS_SQ)])
    rows = [
        (1, "seg_flat", seg), (2, "seg_square", seg), (3, "seg_round", seg),
        (4, "poly_mitre", sq), (5, "poly_bevel", sq),
        (6, "poly_mitre_limited", sq), (7, "poly_round", sq),
        (8, "simplify_topo", sq),
    ]
    pdf = pd.DataFrame(rows, columns=["case_id", "style", "geom"])
    spark.createDataFrame(pdf).createOrReplaceTempView(
        "buffer_styles_cases")
    r, q, pq = f"{BS_R}e0", BS_Q, BS_PQ
    return spark.sql(f"""
select case_id, style, round(st_area(res), 6) as area,
       st_npoints(res) as npoints
from (
  select case_id, style,
         case style
           when 'seg_flat'
             then st_buffer_style(geom, {r}, {q}, 'flat', 'round', 5.0e0)
           when 'seg_square'
             then st_buffer_style(geom, {r}, {q}, 'square', 'round', 5.0e0)
           when 'seg_round'
             then st_buffer_style(geom, {r}, {q}, 'round', 'round', 5.0e0)
           when 'poly_mitre'
             then st_buffer_style(geom, {r}, {pq}, 'round', 'mitre', 5.0e0)
           when 'poly_bevel'
             then st_buffer_style(geom, {r}, {pq}, 'round', 'bevel', 5.0e0)
           when 'poly_mitre_limited'
             then st_buffer_style(geom, {r}, {pq}, 'round', 'mitre', 1.2e0)
           when 'poly_round'
             then st_buffer_style(geom, {r}, {pq}, 'round', 'round', 5.0e0)
           when 'simplify_topo'
             then st_simplifypreservetopology(geom, 100.0e0)
         end as res
  from buffer_styles_cases
) t
""")


def buffer_styles_oracle_sql() -> str:
    """First-principles closed forms for every style case (see section
    comment): L = 30, a = 20, r = 4, segment q = 3 (sin(π/6) = 1/2),
    polygon q = 2 (sin(π/4) = √2/2). npoints counts the deterministic
    ring construction: 2 per edge + cap/fan/mitre vertices + the
    closing vertex."""
    L, a, r, q, pq = 30.0, 20.0, BS_R, BS_Q, BS_PQ
    cases = [
        # (id, style, area_sql, npoints)
        (1, "seg_flat", f"2*{r}*{L}", 5),
        (2, "seg_square", f"2*{r}*({L} + 2*{r})", 9),
        (3, "seg_round",
         f"2*{r}*{L} + 2*{q}*{r}*{r}*sin(pi()/(2*{q}))", 4 + 2*(2*q-1) + 1),
        (4, "poly_mitre", f"({a} + 2*{r})*({a} + 2*{r})", 13),
        (5, "poly_bevel", f"{a}*{a} + 4*{a}*{r} + 4*{r}*{r}/2", 9),
        (6, "poly_mitre_limited",
         f"{a}*{a} + 4*{a}*{r} + 4*{r}*{r}/2", 9),
        (7, "poly_round",
         f"{a}*{a} + 4*{a}*{r}"
         f" + 4*({pq}/2.0)*{r}*{r}*sin(pi()/(2*{pq}))", 8 + 4*(pq-1) + 1),
        # huge-tol DP degenerates the square; preserve restores the
        # max-deviation dropped vertex → the (0,0),(20,0),(20,20)
        # triangle, area a²/2, 4 ring points
        (8, "simplify_topo", f"{a}*{a}/2", 4),
    ]
    rows = ", ".join(
        f"({cid}, '{sty}', round(cast({expr} as double), 6), {np_})"
        for cid, sty, expr, np_ in cases)
    return (f"select case_id, style, area, cast(npoints as bigint)"
            f" as npoints from (values {rows})"
            f" v(case_id, style, area, npoints)")


# ---------------------------------------------------------------------------
# Segmentize (OGRSimpleCurve::segmentize, ogr/ogrlinestring.cpp:2628 —
# the ogr2ogr -segmentize option): insert evenly-spaced intermediate
# points so no segment exceeds dfMaxLength, with GDAL's exact epsilon
# rules (split when d² − m² > 1e-5·m²; n = floor(√(d²/m²) − 0.01)) and
# its direction canonicalization (the same line followed in either
# direction segmentizes to the same vertex set).
# ---------------------------------------------------------------------------


def segmentize_coords(pts: np.ndarray, max_length: float) -> np.ndarray:
    pts = np.asarray(pts, dtype=np.float64)
    if len(pts) < 2:
        return pts
    rev = (pts[0, 0] < pts[-1, 0]
           or (pts[0, 0] == pts[-1, 0] and pts[0, 1] < pts[-1, 1]))
    if rev:
        pts = pts[::-1]
    m2 = max_length * max_length
    out: list[tuple[float, float]] = []
    for i in range(len(pts)):
        out.append((float(pts[i, 0]), float(pts[i, 1])))
        if i == len(pts) - 1:
            break
        dx = pts[i + 1, 0] - pts[i, 0]
        dy = pts[i + 1, 1] - pts[i, 1]
        d2 = dx * dx + dy * dy
        if d2 - m2 > 1e-5 * m2:
            n = int(np.floor(np.sqrt(d2 / m2) - 1e-2))
            rx = dx / (n + 1.0)
            ry = dy / (n + 1.0)
            for j in range(1, n + 1):
                out.append((float(pts[i, 0] + rx * j),
                            float(pts[i, 1] + ry * j)))
    arr = np.asarray(out, dtype=np.float64)
    return arr[::-1] if rev else arr


def _st_segmentize(col: pd.Series, maxlen: pd.Series) -> pd.Series:
    out = []
    for b, m in zip(col, maxlen):
        if b is None:
            out.append(None)
            continue
        g = W.loads(bytes(b))
        if g["type"] == "LineString":
            out.append(bytearray(W.dumps_linestring(
                segmentize_coords(np.asarray(g["coords"]), float(m)))))
        elif g["type"] == "Polygon":
            rings = [segmentize_coords(np.asarray(r), float(m))
                     for r in g["coords"]]
            out.append(bytearray(W.dumps_polygon(rings)))
        else:
            out.append(bytearray(bytes(b)))
    return pd.Series(out, dtype="object")


# registered here (the REGISTRY literal is defined above this section)
REGISTRY["st_segmentize"] = (_st_segmentize, "binary")

SEGMENTIZE_CASES = [
    # (case_id, vertices, maxlen) — dyadic coords; closed ring as a
    # closed LineString so the accessor surface stays uniform
    (1, [(0.0, 0.0), (10.0, 0.0), (10.0, 7.0)], 3.0),
    (2, [(0.0, 0.0), (10.0, 0.0), (10.0, 7.0)], 10.0),
    (3, [(0.0, 0.0), (3.0, 4.0)], 1.0),
    (4, [(0.0, 0.0), (8.0, 0.0), (8.0, 8.0), (0.0, 8.0), (0.0, 0.0)],
     4.0),
    (5, [(2.0, 1.0), (2.0, 1.0 + 6.25)], 2.0),
]


def segmentize_cases(spark):
    """Contract DataFrame: per case the segmentized npoints, the exactly
    invariant length and a vertex fingerprint Σ(x + 2y) — all through
    the registered ST_ surface."""
    import pandas as pd  # noqa: F811

    from gdal_spark.stfuncs import register_st_functions

    register_st_functions(spark)
    rows = [(cid, W.dumps_linestring(np.asarray(pts)), ml)
            for cid, pts, ml in SEGMENTIZE_CASES]
    pdf = pd.DataFrame(rows, columns=["case_id", "geom", "maxlen"])
    spark.createDataFrame(pdf).createOrReplaceTempView("segmentize_cases")
    return spark.sql("""
select s.case_id,
       st_npoints(s.seg) as npoints,
       round(st_length(s.seg), 6) as length,
       round(sum(st_x(st_pointn(s.seg, i)) +
                 2.0e0 * st_y(st_pointn(s.seg, i))), 6) as fingerprint
from (
  select case_id, st_segmentize(geom, maxlen) as seg
  from segmentize_cases
) s
lateral view explode(sequence(1, st_npoints(s.seg))) t as i
group by s.case_id, s.seg
""")


def segmentize_oracle_sql() -> str:
    """Closed-form oracle: per edge n = floor(√(d²/m²) − 0.01) when
    d² − m² > 1e-5·m² else 0; npoints = Σ(1+n) + 1; length invariant;
    the intermediate fingerprint contribution per edge is exactly
    n·(x + 2y) + (dx + 2dy)·n/2 (arithmetic series)."""
    from gdal_spark.layer_algebra import _fmt

    edge_rows = []
    base_rows = []
    for cid, pts, ml in SEGMENTIZE_CASES:
        for i in range(len(pts) - 1):
            edge_rows.append(
                f"({cid}, {_fmt(pts[i][0])}, {_fmt(pts[i][1])},"
                f" {_fmt(pts[i + 1][0])}, {_fmt(pts[i + 1][1])},"
                f" {_fmt(ml)})")
        sb = sum(x + 2.0 * y for x, y in pts)
        base_rows.append(f"({cid}, {len(pts)}, {_fmt(sb)})")
    return f"""
with e(case_id, x0, y0, x1, y1, m) as (values {", ".join(edge_rows)}),
b(case_id, n_base, f_base) as (values {", ".join(base_rows)}),
d as (
  select case_id, x0, y0, x1, y1,
         (x1 - x0) * (x1 - x0) + (y1 - y0) * (y1 - y0) as d2,
         m * m as m2
  from e
),
n as (
  select case_id, x0, y0, x1, y1, d2,
         case when d2 - m2 > 1e-5 * m2
              then cast(floor(sqrt(d2 / m2) - 1e-2) as bigint)
              else 0 end as ni
  from d
),
agg as (
  select case_id,
         sum(ni) as n_inter,
         sum(sqrt(d2)) as len,
         sum(ni * (x0 + 2.0 * y0)
             + ((x1 - x0) + 2.0 * (y1 - y0)) * ni / 2.0) as f_inter
  from n group by case_id
)
select b.case_id,
       cast(b.n_base + agg.n_inter as int) as npoints,
       round(agg.len, 6) as length,
       round(b.f_base + agg.f_inter, 6) as fingerprint
from b join agg on agg.case_id = b.case_id
"""


# ---------------------------------------------------------------------------
# WRAPDATELINE (ogr2ogr -wrapdateline / OGRGeometryFactory::
# transformWithOptions, ogr/ogrgeometryfactory.cpp:4022): wrap points
# into (-180, 180], shift geometries living wholly in [180, 360] or
# [-360, -180] by ∓360, and SPLIT linestrings that jump the antimeridian
# (SplitLineStringAtDateline :2683 — faithful transcription incl. the
# swap/+360 normalization, the 180/-180 pass-through special cases and
# the duplicate-vertex guard). Polygons need the GEOS rectangle-clip
# branch in GDAL itself (:3070, #ifdef HAVE_GEOS) — like GDAL without
# GEOS, polygon input raises.
# ---------------------------------------------------------------------------


def _wrap_point_x(x: float) -> float:
    if x > 180.0:
        return float(np.fmod(x + 180.0, 360.0) - 180.0)
    if x < -180.0:
        return float(-(np.fmod(-x + 180.0, 360.0) - 180.0))
    return float(x)


def split_linestring_dateline(pts: np.ndarray, offset: float = 10.0,
                              x_off: float = 0.0) -> list[np.ndarray]:
    """SplitLineStringAtDateline transcription (2-D)."""
    left = 180.0 - offset
    right = -180.0 + offset
    diffspace = 360.0 - offset
    parts: list[list[tuple[float, float]]] = [[]]
    n = len(pts)
    i = 0
    while i < n:
        x = float(pts[i, 0]) + x_off
        if i > 0 and abs(x - (float(pts[i - 1, 0]) + x_off)) > diffspace:
            x1 = float(pts[i - 1, 0]) + x_off
            y1 = float(pts[i - 1, 1])
            x2 = float(pts[i, 0]) + x_off
            y2 = float(pts[i, 1])
            # pass-through special cases: an exact ±180 vertex between
            # two same-side neighbors is kept verbatim
            if (-180.0 < x1 < right and x2 == 180.0 and i + 1 < n
                    and -180.0 < float(pts[i + 1, 0]) + x_off < right):
                parts[-1].append((-180.0, float(pts[i, 1])))
                i += 1
                parts[-1].append((float(pts[i, 0]) + x_off,
                                  float(pts[i, 1])))
                i += 1
                continue
            if (left < x1 < 180.0 and x2 == -180.0 and i + 1 < n
                    and left < float(pts[i + 1, 0]) + x_off < 180.0):
                parts[-1].append((180.0, float(pts[i, 1])))
                i += 1
                parts[-1].append((float(pts[i, 0]) + x_off,
                                  float(pts[i, 1])))
                i += 1
                continue
            if x1 < right and x2 > left:
                x1, x2 = x2, x1
                y1, y2 = y2, y1
            if x1 > left and x2 < right:
                x2 += 360.0
            if x1 <= 180.0 <= x2 and x1 < x2:
                ratio = (180.0 - x1) / (x2 - x1)
                y = ratio * y2 + (1.0 - ratio) * y1
                newx = 180.0 if float(pts[i - 1, 0]) + x_off > left \
                    else -180.0
                if not parts[-1] or parts[-1][-1] != (newx, y):
                    parts[-1].append((newx, y))
                parts.append([(-newx, y)])
            else:
                parts.append([])
        parts[-1].append((x, float(pts[i, 1])))
        i += 1
    return [np.asarray(p, dtype=np.float64) for p in parts if len(p)]


def wrap_dateline_geom(geom: dict, offset: float = 10.0) -> dict:
    """transformWithOptions WRAPDATELINE=YES dispatch (:4036-4092)."""
    t = geom["type"]
    if t == "Point":
        x, y = geom["coords"]
        return {"type": "Point", "coords": (_wrap_point_x(float(x)),
                                            float(y))}
    if t == "MultiPoint":
        return {"type": "MultiPoint",
                "coords": [(_wrap_point_x(float(x)), float(y))
                           for x, y in geom["coords"]]}
    if t not in ("LineString", "MultiLineString"):
        raise NotImplementedError(
            "WRAPDATELINE polygon cut needs the GEOS rectangle-clip "
            "branch (ogrgeometryfactory.cpp:3070) — unsupported, like "
            "GDAL built without GEOS")
    lines = ([np.asarray(geom["coords"], dtype=np.float64)]
             if t == "LineString"
             else [np.asarray(c, dtype=np.float64)
                   for c in geom["coords"]])
    allx = np.concatenate([ln[:, 0] for ln in lines])
    minx, maxx = float(allx.min()), float(allx.max())
    if minx < -180.0 < maxx:
        # envelope straddling -180: GDAL routes this to the GEOS
        # rectangle-clip branch (ogrgeometryfactory.cpp:2999) and
        # errors without GEOS — mirror that, like the polygon path,
        # instead of silently approximating with the x_off heuristic
        raise NotImplementedError(
            "WRAPDATELINE linestring straddling -180 needs the GEOS "
            "rectangle-clip branch (ogrgeometryfactory.cpp:2999) — "
            "unsupported, like GDAL built without GEOS")
    if -360.0 <= minx and maxx <= -180.0:
        shifted = [ln + [360.0, 0.0] for ln in lines]
        return ({"type": "LineString", "coords": shifted[0]}
                if t == "LineString"
                else {"type": "MultiLineString", "coords": shifted})
    if 180.0 <= minx and maxx <= 360.0:
        shifted = [ln + [-360.0, 0.0] for ln in lines]
        return ({"type": "LineString", "coords": shifted[0]}
                if t == "LineString"
                else {"type": "MultiLineString", "coords": shifted})
    if not (0.0 < offset < 360.0):
        offset = 10.0
    out: list[np.ndarray] = []
    for ln in lines:
        # CutGeometryOnDateLineAndAddToMulti envelope + gap heuristics
        env_min = float(ln[:, 0].min())
        around_m180 = env_min < -180.0
        x_off = 360.0 if around_m180 else 0.0
        left = 180.0 - offset
        right = -180.0 + offset
        diffspace = 360.0 - offset
        big = False
        max_small = 0.0
        for i in range(1, len(ln)):
            xp = float(ln[i - 1, 0]) + x_off
            x = float(ln[i, 0]) + x_off
            d = abs(x - xp)
            if d > diffspace and ((x > left and xp < right)
                                  or (xp > left and x < right)):
                big = True
            elif d > max_small:
                max_small = d
        if big and max_small < offset:
            out.extend(split_linestring_dateline(ln, offset, x_off))
        else:
            out.append(ln)
    if t == "LineString" and len(out) == 1:
        return {"type": "LineString", "coords": out[0]}
    return {"type": "MultiLineString", "coords": out}


def _st_wrapdateline(col: pd.Series, offset: pd.Series) -> pd.Series:
    out = []
    for b, o in zip(col, offset):
        if b is None:
            out.append(None)
            continue
        g = wrap_dateline_geom(W.loads(bytes(b)), float(o))
        out.append(bytearray(W.dumps(g)))
    return pd.Series(out, dtype="object")


REGISTRY["st_wrapdateline"] = (_st_wrapdateline, "binary")

WRAPDATELINE_CASES = [
    # (case_id, geom dict, offset)
    (1, {"type": "LineString",
         "coords": [(-179.0, 3.0), (179.0, 5.0)]}, 10.0),
    (2, {"type": "LineString",
         "coords": [(182.0, 1.0), (185.0, 2.0)]}, 10.0),
    (3, {"type": "LineString",
         "coords": [(-185.0, 1.0), (-182.0, 2.0)]}, 10.0),
    (4, {"type": "MultiPoint",
         "coords": [(-179.0, 1.0), (179.0, 2.0), (-182.0, 3.0),
                    (182.0, 4.0)]}, 10.0),
    (5, {"type": "Point", "coords": (182.0, 4.0)}, 10.0),
    (6, {"type": "LineString",
         "coords": [(-10.0, 0.0), (10.0, 2.0)]}, 10.0),
    (7, {"type": "LineString",
         "coords": [(170.0, 0.0), (-170.0, 2.0)]}, 30.0),
]


def wrapdateline_cases(spark):
    """Contract DataFrame: (case_id, gtype, n_geoms, npoints) through
    the registered ST_ surface; exact coordinates pinned against the
    reference's autotest goldens in tests/test_constructive.py."""
    import pandas as pd  # noqa: F811

    from gdal_spark.stfuncs import register_st_functions

    register_st_functions(spark)
    rows = [(cid, W.dumps(g), off) for cid, g, off in WRAPDATELINE_CASES]
    pdf = pd.DataFrame(rows, columns=["case_id", "geom", "off"])
    spark.createDataFrame(pdf).createOrReplaceTempView(
        "wrapdateline_cases")
    return spark.sql("""
select case_id, st_geometrytype(w) as gtype,
       st_numgeometries(w) as n_geoms,
       st_npoints(w) as npoints
from (select case_id, st_wrapdateline(geom, off) as w
      from wrapdateline_cases) t
""")


def wrapdateline_oracle_sql() -> str:
    """Hand-derived expectations from the reference rules (split at the
    antimeridian interpolation, ±360 whole-geometry shifts, per-point
    wraps; autotest/ogr/ogr_geom.py wrapdateline goldens anchor the
    exact coordinates in unit tests)."""
    rows = [
        # (case_id, gtype, n_geoms, npoints)
        (1, "MULTILINESTRING", 2, 4),   # split at y = 4
        (2, "LINESTRING", 1, 2),        # -360 shift
        (3, "LINESTRING", 1, 2),        # +360 shift
        (4, "MULTIPOINT", 4, 4),        # per-point wrap
        (5, "POINT", 1, 1),
        (6, "LINESTRING", 1, 2),        # untouched, single-part unwrap
        (7, "MULTILINESTRING", 2, 4),   # offset=30 makes the gap split
    ]
    vals = ", ".join(f"({c}, '{t}', {g}, {p})" for c, t, g, p in rows)
    return (f"select * from (values {vals})"
            f" v(case_id, gtype, n_geoms, npoints)")


def explodecollections_cases(spark):
    """ogr2ogr -wrapdateline -explodecollections chain
    (apps/ogr2ogr_lib.cpp -explodecollections: one output feature per
    collection member, single-part inputs pass through): the
    WRAPDATELINE fixture outputs exploded via ST_GeometryN, per part
    the type, vertex count and a measure fingerprint (length for
    lines, x+2y for points)."""
    import pandas as pd  # noqa: F811

    from gdal_spark.stfuncs import register_st_functions

    register_st_functions(spark)
    rows = [(cid, W.dumps(g), off) for cid, g, off in WRAPDATELINE_CASES]
    pdf = pd.DataFrame(rows, columns=["case_id", "geom", "off"])
    spark.createDataFrame(pdf).createOrReplaceTempView(
        "explode_cases")
    # two typed branches (a CASE would evaluate the point accessors
    # eagerly on linestring parts — pandas-UDF CASE is not lazy)
    return spark.sql("""
with parts as (
  select case_id, i,
         case when st_geometrytype(w) like 'MULTI%'
              then st_geometryn(w, i) else w end as part
  from (select case_id, st_wrapdateline(geom, off) as w
        from explode_cases) t
  lateral view explode(sequence(1, st_numgeometries(w))) e as i
),
typed as (
  select case_id, i, part, st_geometrytype(part) as ptype,
         st_npoints(part) as npoints
  from parts
)
select case_id, i as part_idx, ptype, npoints,
       round(st_x(part) + 2.0e0 * st_y(part), 6) as measure
from typed where ptype = 'POINT'
union all
select case_id, i as part_idx, ptype, npoints,
       round(st_length(part), 6) as measure
from typed where ptype <> 'POINT'
""")


def explodecollections_oracle_sql() -> str:
    """Expected parts derived from the WRAPDATELINE fixture by the
    reference rules (independent arithmetic over the fixture coords)."""
    import math

    def wrapx(x):
        if x > 180.0:
            return math.fmod(x + 180.0, 360.0) - 180.0
        if x < -180.0:
            return -(math.fmod(-x + 180.0, 360.0) - 180.0)
        return x

    def seg(a, b):
        return math.hypot(b[0] - a[0], b[1] - a[1])

    rows = []

    def add(cid, idx, ptype, npoints, measure):
        rows.append(f"({cid}, {idx}, '{ptype}', {npoints},"
                    f" {round(measure, 6)!r}e0)")

    # case 1: split at y interpolated midway (dyadic ratio 1/2)
    add(1, 1, "LINESTRING", 2, seg((-179, 3), (-180, 4)))
    add(1, 2, "LINESTRING", 2, seg((180, 4), (179, 5)))
    # cases 2/3: whole-geometry ±360 shifts, lengths invariant
    add(2, 1, "LINESTRING", 2, seg((182, 1), (185, 2)))
    add(3, 1, "LINESTRING", 2, seg((-185, 1), (-182, 2)))
    # case 4: per-point wraps
    for i, (x, y) in enumerate([(-179.0, 1.0), (179.0, 2.0),
                                (-182.0, 3.0), (182.0, 4.0)], start=1):
        add(4, i, "POINT", 1, wrapx(x) + 2.0 * y)
    add(5, 1, "POINT", 1, wrapx(182.0) + 2.0 * 4.0)
    add(6, 1, "LINESTRING", 2, seg((-10, 0), (10, 2)))
    # case 7 (offset 30): split at y = 1 (midpoint of the 340° jump)
    add(7, 1, "LINESTRING", 2, seg((170, 0), (180, 1)))
    add(7, 2, "LINESTRING", 2, seg((-180, 1), (-170, 2)))
    return (f"select * from (values {', '.join(rows)})"
            f" v(case_id, part_idx, ptype, npoints, measure)")
