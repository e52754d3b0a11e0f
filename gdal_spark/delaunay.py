"""Linear (Delaunay) gridding: GDAL's `gdal_grid -a linear`.

Reference semantics (alg/gdalgrid.cpp:2459 GDALGridLinear): Delaunay-
triangulate the scatter points (GDALTriangulationCreateDelaunay,
alg/delaunay.c:107 — qhull there, pure-numpy Bowyer–Watson here since
scipy/qhull is absent in the sandbox), locate each pixel center's facet,
interpolate z = λ1·z1 + λ2·z2 + λ3·z3 from the barycentric coordinates
(alg/delaunay.c:377); a pixel outside the triangulation gets NODATA when
radius == 0 (alg/gdalgrid.cpp:2506-2512) — we emit inside-only rows.

Distribution shape: the triangulation is a **broadcast model structure**
built once from the scatter set (the reference holds the whole qhull
triangulation in memory per worker thread too, alg/gdalgridapi.h);
pixels are the distributed side. Candidates come from a cover-cell
equi-join — each triangle explodes to the coarse cells its bbox covers,
each pixel keys to its center's cell — then the exact barycentric
containment filter, then a min-facet-id tie-break on shared edges. The
plan is scan → equi-join → filter → groupBy: linear in pixels, never
pixel × triangle. At a 10^12-point scatter the scale path is per-cell
local triangulation (tile the plane, triangulate each tile + halo);
the fixture-scale broadcast path mirrors the reference exactly.

Bit-exactness stance: triangulation happens ONCE in numpy at
contract-build time and both engines receive the identical triangle
VALUES literals; the barycentric algebra is the same SQL text in both
dialects, so λ and the interpolated z are identical IEEE doubles.
"""

from __future__ import annotations

import numpy as np

from gdal_spark.cells import _lit

SPARK = "spark"
DUCKDB = "duckdb"

# fixture window (same neighborhood as gdal_spark.gridding)
LON0, LAT0 = -176.2, -61.2
STEP = 0.06
NX = NY = 40
N_SCATTER = 30


def scatter_points() -> np.ndarray:
    """Deterministic scatter fixture: N_SCATTER (x, y, z) rows from
    integer congruences, rounded to 6 decimals — identical literals in
    both engines, no cocircular quadruples at this rounding."""
    out = []
    for k in range(N_SCATTER):
        fx = ((k * 37 + 11) % 101) / 101.0 + ((k * 7) % 13) / 1300.0
        fy = ((k * 59 + 29) % 103) / 103.0 + ((k * 5) % 11) / 1100.0
        x = round(LON0 + fx * NX * STEP, 6)
        y = round(LAT0 + fy * NY * STEP, 6)
        z = float((k * 53 + 17) % 97)
        out.append((x, y, z))
    return np.asarray(out, dtype=np.float64)


def _circumcircle_contains(ax, ay, bx, by, cx, cy, px, py) -> bool:
    """Strict in-circumcircle predicate for CCW triangle (a, b, c)."""
    m = np.array([
        [ax - px, ay - py, (ax - px) ** 2 + (ay - py) ** 2],
        [bx - px, by - py, (bx - px) ** 2 + (by - py) ** 2],
        [cx - px, cy - py, (cx - px) ** 2 + (cy - py) ** 2],
    ], dtype=np.float64)
    return float(np.linalg.det(m)) > 0.0


def delaunay(points: np.ndarray) -> list[tuple[int, int, int]]:
    """Bowyer–Watson Delaunay triangulation (incremental insertion with
    a super-triangle). Deterministic: fixed insertion order, strict
    in-circle, CCW vertex order with index-rotation canonicalization.
    O(n²) worst case — the scatter side of gdal_grid is small by
    construction (the reference qhull-triangulates in memory too)."""
    pts = np.asarray(points, dtype=np.float64)[:, :2]
    n = len(pts)
    cx, cy = pts[:, 0].mean(), pts[:, 1].mean()
    span = 4.0 * max(np.ptp(pts[:, 0]), np.ptp(pts[:, 1]), 1e-9)
    sup = np.array([[cx - 20 * span, cy - span],
                    [cx + 20 * span, cy - span],
                    [cx, cy + 20 * span]])
    allp = np.vstack([pts, sup])
    s0, s1, s2 = n, n + 1, n + 2

    def ccw(t):
        a, b, c = (allp[i] for i in t)
        if (b[0] - a[0]) * (c[1] - a[1]) - (b[1] - a[1]) * (c[0] - a[0]) < 0:
            return (t[0], t[2], t[1])
        return t

    tris = [ccw((s0, s1, s2))]
    for p in range(n):
        px, py = allp[p]
        bad, good = [], []
        for t in tris:
            a, b, c = (allp[i] for i in t)
            if _circumcircle_contains(a[0], a[1], b[0], b[1],
                                      c[0], c[1], px, py):
                bad.append(t)
            else:
                good.append(t)
        edge_count: dict[tuple[int, int], int] = {}
        for t in bad:
            for e in ((t[0], t[1]), (t[1], t[2]), (t[2], t[0])):
                k = (min(e), max(e))
                edge_count[k] = edge_count.get(k, 0) + 1
        boundary = [e for e, cnt in edge_count.items() if cnt == 1]
        tris = good + [ccw((e[0], e[1], p)) for e in sorted(boundary)]
    out = []
    for t in tris:
        if s0 in t or s1 in t or s2 in t:
            continue
        # canonical rotation: smallest index first, orientation kept
        i = t.index(min(t))
        out.append((t[i], t[(i + 1) % 3], t[(i + 2) % 3]))
    return sorted(out)


def concave_hull(points: np.ndarray, ratio: float) -> np.ndarray:
    """Concave hull of a point set (OGRGeometry::ConcaveHull,
    ogr/ogrgeometry.cpp:4305 → GEOS 3.11 ConcaveHullOfPoints): the
    chi-shape erosion of the Delaunay triangulation. Border triangles
    whose border edge is longer than
    ``threshold = min_len + ratio · (max_len − min_len)`` (min/max over
    all triangulation edges) are removed longest-edge-first, provided
    the opposite vertex is not already on the border (regularity — the
    hull stays a simple polygon containing every input point).
    ratio=1 ⇒ the convex hull; smaller ratios hug the points tighter.
    Deterministic: heap ties break on vertex indices. Returns a closed
    CCW ring."""
    import heapq

    pts = np.unique(np.asarray(points, dtype=np.float64)[:, :2], axis=0)
    tris = delaunay(pts)
    if not tris:  # degenerate (<3 distinct or collinear) — closed chain
        return np.vstack([pts, pts[:1]]) if len(pts) else pts

    def elen(e):
        return float(np.hypot(*(pts[e[0]] - pts[e[1]])))

    edge_tris: dict[tuple[int, int], list[int]] = {}
    for ti, t in enumerate(tris):
        for a, b in ((t[0], t[1]), (t[1], t[2]), (t[2], t[0])):
            edge_tris.setdefault((min(a, b), max(a, b)), []).append(ti)
    lens = [elen(e) for e in edge_tris]
    threshold = min(lens) + float(ratio) * (max(lens) - min(lens))

    active = set(range(len(tris)))

    def is_boundary(e):
        return sum(1 for ti in edge_tris[e] if ti in active) == 1

    boundary = {e for e in edge_tris if is_boundary(e)}
    heap = [(-elen(e), e) for e in boundary if elen(e) > threshold]
    heapq.heapify(heap)
    while heap and len(active) > 1:
        _, e = heapq.heappop(heap)
        if e not in boundary:
            continue
        alive = [ti for ti in edge_tris[e] if ti in active]
        if len(alive) != 1:
            continue
        t = tris[alive[0]]
        c = next(v for v in t if v not in e)
        on_border = any(c in be for be in boundary)
        if on_border:
            continue  # removal would pinch the polygon
        active.discard(alive[0])
        boundary.discard(e)
        for a, b in ((t[0], t[1]), (t[1], t[2]), (t[2], t[0])):
            ne = (min(a, b), max(a, b))
            if ne == e:
                continue
            boundary.add(ne)
            if elen(ne) > threshold:
                heapq.heappush(heap, (-elen(ne), ne))

    # trace the boundary ring (each border vertex has exactly 2 edges)
    nbr: dict[int, list[int]] = {}
    for a, b in boundary:
        nbr.setdefault(a, []).append(b)
        nbr.setdefault(b, []).append(a)
    start = min(nbr)
    ring_idx = [start, min(nbr[start])]
    while ring_idx[-1] != start:
        prev, cur = ring_idx[-2], ring_idx[-1]
        nxt = [v for v in nbr[cur] if v != prev]
        ring_idx.append(nxt[0])
    ring = pts[ring_idx]
    area = 0.0
    for i in range(len(ring) - 1):
        area += ring[i, 0] * ring[i + 1, 1] - ring[i + 1, 0] * ring[i, 1]
    return ring if area >= 0 else ring[::-1]


def grid_linear_sql(engine: str) -> str:
    """Shared-text SQL: pixel grid ⋈ triangles via cover-cell equi-join,
    exact barycentric containment (λ ≥ 0), min-facet tie-break on shared
    edges, then z = λ1·z1 + λ2·z2 + λ3·z3 (alg/delaunay.c:377)."""
    pts = scatter_points()
    tris = delaunay(pts)
    cell = _lit(NX * STEP / 4.0)  # 4×4 coarse cells over the window
    rows = []
    for tid, (i1, i2, i3) in enumerate(tris):
        (x1, y1, z1), (x2, y2, z2), (x3, y3, z3) = pts[i1], pts[i2], pts[i3]
        rows.append(
            f"({tid}, {_lit(x1)}, {_lit(y1)}, {_lit(z1)},"
            f" {_lit(x2)}, {_lit(y2)}, {_lit(z2)},"
            f" {_lit(x3)}, {_lit(y3)}, {_lit(z3)})")
    values = ", ".join(rows)
    if engine == SPARK:
        grid = (f"select id div {NX} as i, id % {NX} as j"
                f" from range(0, {NX * NY})")
        tri_cells = (
            "select t.*, cx, cy from t"
            " lateral view explode(sequence("
            "   cast(floor(least(x1, x2, x3) / CELL) as bigint),"
            "   cast(floor(greatest(x1, x2, x3) / CELL) as bigint))) ex as cx"
            " lateral view explode(sequence("
            "   cast(floor(least(y1, y2, y3) / CELL) as bigint),"
            "   cast(floor(greatest(y1, y2, y3) / CELL) as bigint))) ey as cy"
        )
    else:
        grid = (f"select range // {NX} as i, range % {NX} as j"
                f" from range(0, {NX * NY})")
        # parallel unnests ZIP in DuckDB — nest two single-unnest
        # selects for the cover-cell cross product instead
        tri_cells = (
            "select q.*, unnest(range("
            "   cast(floor(least(y1, y2, y3) / CELL) as bigint),"
            "   cast(floor(greatest(y1, y2, y3) / CELL) as bigint) + 1))"
            "   as cy"
            " from (select t.*, unnest(range("
            "   cast(floor(least(x1, x2, x3) / CELL) as bigint),"
            "   cast(floor(greatest(x1, x2, x3) / CELL) as bigint) + 1))"
            "   as cx from t) q"
        )
    tri_cells = tri_cells.replace("CELL", cell)
    lon_c = f"({_lit(LON0)} + (i + 0.5e0) * {_lit(STEP)})"
    lat_c = f"({_lit(LAT0)} + (j + 0.5e0) * {_lit(STEP)})"
    det = "((y2 - y3) * (x1 - x3) + (x3 - x2) * (y1 - y3))"
    l1 = f"(((y2 - y3) * (gx - x3) + (x3 - x2) * (gy - y3)) / {det})"
    l2 = f"(((y3 - y1) * (gx - x3) + (x1 - x3) * (gy - y3)) / {det})"
    return f"""
with t(tid, x1, y1, z1, x2, y2, z2, x3, y3, z3) as (values {values}),
tc as ({tri_cells}),
g as (
  select i, j, {lon_c} as gx, {lat_c} as gy,
         cast(floor({lon_c} / {cell}) as bigint) as cx,
         cast(floor({lat_c} / {cell}) as bigint) as cy
  from ({grid}) g0
),
cand as (
  select g.i, g.j, g.gx, g.gy, tc.tid,
         {l1} as l1, {l2} as l2, (1e0 - {l1} - {l2}) as l3,
         z1, z2, z3
  from g join tc on g.cx = tc.cx and g.cy = tc.cy
  where {l1} >= 0e0 and {l2} >= 0e0 and (1e0 - {l1} - {l2}) >= 0e0
),
pick as (select i, j, min(tid) as tid from cand group by i, j)
select cand.i, cand.j, cand.tid,
       cand.l1 * z1 + cand.l2 * z2 + cand.l3 * z3 as z
from cand join pick on cand.i = pick.i and cand.j = pick.j
                    and cand.tid = pick.tid
"""


def grid_linear(spark, sf_dir: str):
    """Contract query: linear-interpolated fixture grid (inside-hull
    pixels only — radius=0 NODATA semantics, alg/gdalgrid.cpp:2506)."""
    _ = sf_dir  # fixture scatter (deterministic; see module docstring)
    return spark.sql(grid_linear_sql(SPARK))
