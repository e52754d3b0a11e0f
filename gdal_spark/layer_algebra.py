"""Layer algebra for polygon×polygon pairs (OGR Intersection/Union/
SymDifference/Erase — ogr/ogrsf_frmts/generic/ogrlayer.cpp:3345, 3763,
4300, 5806).

GDAL delegates pairwise polygon overlay to GEOS. This engine restates the
convex×convex case as pure relational algebra, which makes the overlay
**oracle-checkable bit-for-bit** (the DuckDB oracle runs the identical
SQL arithmetic):

The intersection of two convex polygons is convex, and its vertex set is
exactly {vertices of A inside B} ∪ {vertices of B inside A} ∪
{edge×edge intersection points}. So per candidate pair:

1. vertex-in-polygon: join verts(A)×edges(B), even-odd crossing parity
   (same expression as gdal_spark.geom.points_in_ring);
2. edge intersections: join edges(A)×edges(B), parametric segment
   intersection (strict interior t,u ∈ (0,1) — fixtures are in generic
   position);
3. per pair: collect the candidates into a **sorted array**, fold
   sequentially for the centroid, angle-sort around it, shoelace-fold for
   the area — every reduction is an ordered lambda fold, never an
   unordered SQL aggregate, so both engines produce identical doubles;
4. inclusion–exclusion turns the intersection area into the Union /
   SymDifference / Erase areas of the pair.

Pairs whose bboxes don't overlap are pruned relationally (the bbox
reject stage of ogrlayer.cpp:2253). Non-convex zones (star, hole) are
excluded from this operator — the numpy Sutherland–Hodgman path in
`clip_convex_np` handles the geometry-output variant and cross-checks
the area in tests.

Scale: verts/edges/pairs are small broadcast tables; at 10^12 scale the
pair list comes from a cell-prejoin of two big layers and the per-pair
candidate computation is the same equi-join + groupBy pattern.
"""

from __future__ import annotations

import numpy as np

from gdal_spark import geom as G
from gdal_spark.cells import _sum_fold_sql

SPARK = "spark"
DUCKDB = "duckdb"
SHIFT_DX, SHIFT_DY = 0.31, 0.17  # offset of the method layer


# ---------------------------------------------------------------------------
# numpy reference: Sutherland–Hodgman clip of any subject by a CONVEX clip
# ---------------------------------------------------------------------------


def clip_convex_np(subject: np.ndarray, clip: np.ndarray) -> np.ndarray:
    """Clip closed ring `subject` by closed CONVEX ring `clip` (CCW or CW
    handled). Returns closed result ring (possibly empty)."""
    # normalize clip to CCW so "inside" = left of each edge
    if G.ring_area(clip) < 0:
        clip = clip[::-1]
    out = subject[:-1].tolist()
    for i in range(len(clip) - 1):
        ax, ay = clip[i]
        bx, by = clip[i + 1]
        pts = out
        out = []
        n = len(pts)
        for j in range(n):
            cx, cy = pts[j]
            px, py = pts[j - 1]
            cin = (bx - ax) * (cy - ay) - (by - ay) * (cx - ax) >= 0
            pin = (bx - ax) * (py - ay) - (by - ay) * (px - ax) >= 0
            if cin != pin:
                dx, dy = cx - px, cy - py
                denom = (bx - ax) * dy - (by - ay) * dx
                t = ((by - ay) * (px - ax) - (bx - ax) * (py - ay)) / denom
                out.append((px + t * dx, py + t * dy))
            if cin:
                out.append((cx, cy))
        if not out:
            return np.empty((0, 2))
    return np.asarray(out + out[:1], dtype=np.float64)


# ---------------------------------------------------------------------------
# Shared-SQL builders (dialect-branching, identical arithmetic)
# ---------------------------------------------------------------------------


def _fmt(v: float) -> str:
    """Double literal for both dialects. The e0 suffix forces DOUBLE —
    Spark otherwise types a bare decimal literal as DECIMAL and silently
    truncates past ~11 fractional digits."""
    r = repr(float(v))
    return r if ("e" in r or "E" in r or "inf" in r or "nan" in r) \
        else r + "e0"


def shift_defs(defs: list[dict]) -> list[dict]:
    """Copy of a zone layer shifted by (SHIFT_DX, SHIFT_DY) (vertices
    re-rounded to 6 decimals so the literals stay short and exact)."""
    out = []
    for z in defs:
        rings = [np.round(r + np.array([SHIFT_DX, SHIFT_DY]), 6)
                 for r in z["rings"]]
        out.append({**z, "rings": rings})
    return out


def convex_layer_values_sql(defs_a: list[dict],
                            defs_b: list[dict]) -> dict[str, str]:
    """VALUES-table SQL snippets for an input layer A vs method layer B
    (OGR layer-algebra shape): verts/edges per layer + bbox-overlapping
    candidate pairs with polygon-area literals embedded."""

    def layer(defs, vname, ename):
        convex = [z for z in defs if _is_convex(z["rings"])]
        verts, edges = [], []
        for z in convex:
            ring = z["rings"][0]
            for i in range(len(ring) - 1):
                verts.append(f"({z['zone_id']}, {_fmt(ring[i, 0])},"
                             f" {_fmt(ring[i, 1])})")
                edges.append(
                    f"({z['zone_id']}, {_fmt(ring[i, 0])},"
                    f" {_fmt(ring[i, 1])}, {_fmt(ring[i + 1, 0])},"
                    f" {_fmt(ring[i + 1, 1])})")
        return convex, (
            "(values " + ", ".join(verts) + f") as {vname}(zone_id, x, y)",
            "(values " + ", ".join(edges)
            + f") as {ename}(zone_id, x0, y0, x1, y1)",
        )

    ca, (va, ea) = layer(defs_a, "va", "ea")
    cb, (vb, eb) = layer(defs_b, "vb", "eb")
    pairs = []
    for a in ca:
        for b in cb:
            bba = G.rings_bbox(a["rings"])
            bbb = G.rings_bbox(b["rings"])
            if bba[0] <= bbb[2] and bbb[0] <= bba[2] \
                    and bba[1] <= bbb[3] and bbb[1] <= bba[3]:
                pairs.append(
                    f"({a['zone_id']}, {b['zone_id']},"
                    f" {_fmt(G.polygon_area(a['rings']))},"
                    f" {_fmt(G.polygon_area(b['rings']))})")
    return {
        "verts_a": va, "edges_a": ea, "verts_b": vb, "edges_b": eb,
        "pairs": ("(values " + ", ".join(pairs)
                  + ") as pr(za, zb, area_a, area_b)"),
    }


def _is_convex(rings: list[np.ndarray]) -> bool:
    if len(rings) != 1:
        return False
    r = rings[0][:-1]
    n = len(r)
    sign = 0.0
    for i in range(n):
        p, q, s = r[i], r[(i + 1) % n], r[(i + 2) % n]
        cr = (q[0] - p[0]) * (s[1] - q[1]) - (q[1] - p[1]) * (s[0] - q[0])
        if cr != 0.0:
            if sign == 0.0:
                sign = np.sign(cr)
            elif np.sign(cr) != sign:
                return False
    return True


def overlay_areas_sql(defs_a: list[dict], defs_b: list[dict],
                      engine: str) -> str:
    """Full overlay query: one row per bbox-overlapping convex (A, B)
    pair with n_cand + intersection/union/symdifference/erase areas
    (0 when the polygons don't actually intersect)."""
    t = convex_layer_values_sql(defs_a, defs_b)
    if engine == SPARK:
        lst, srt, trn, elem = ("collect_list", "array_sort", "transform",
                               "element_at")
        idx_list = "sequence(1, n_cand)"
        pt_struct = "struct(x, y)"
        ang_struct = ("struct(atan2(p.y - cy, p.x - cx) as ang,"
                      " p.x as x, p.y as y)")
    else:
        lst, srt, trn, elem = ("list", "list_sort", "list_transform",
                               "list_extract")
        idx_list = "range(1, n_cand + 1)"
        pt_struct = "{'x': x, 'y': y}"
        ang_struct = ("{'ang': atan2(p.y - cy, p.x - cx),"
                      " 'x': p.x, 'y': p.y}")

    def fold_sum(list_expr: str) -> str:
        return _sum_fold_sql(list_expr, engine)

    # candidate points: A-verts in B ∪ B-verts in A ∪ edge crossings
    def vert_in(vtab: str, valias: str, etab: str, ealias: str,
                vside: str, eside: str) -> str:
        v, e = valias, ealias
        return f"""
select pr.za, pr.zb, {v}.x, {v}.y
from {t['pairs']}
join {t[vtab]} on {v}.zone_id = pr.{vside}
join {t[etab]} on {e}.zone_id = pr.{eside}
group by pr.za, pr.zb, {v}.x, {v}.y
having sum(case when (({e}.y0 > {v}.y) != ({e}.y1 > {v}.y))
             and {v}.x < ({e}.x1 - {e}.x0) * ({v}.y - {e}.y0)
                 / ({e}.y1 - {e}.y0) + {e}.x0
            then 1 else 0 end) % 2 = 1
"""

    cross = f"""
select pr.za, pr.zb,
       ea.x0 + ((eb.x1 - eb.x0) * (ea.y0 - eb.y0)
          - (eb.y1 - eb.y0) * (ea.x0 - eb.x0))
         / ((eb.y1 - eb.y0) * (ea.x1 - ea.x0)
          - (eb.x1 - eb.x0) * (ea.y1 - ea.y0)) * (ea.x1 - ea.x0) as x,
       ea.y0 + ((eb.x1 - eb.x0) * (ea.y0 - eb.y0)
          - (eb.y1 - eb.y0) * (ea.x0 - eb.x0))
         / ((eb.y1 - eb.y0) * (ea.x1 - ea.x0)
          - (eb.x1 - eb.x0) * (ea.y1 - ea.y0)) * (ea.y1 - ea.y0) as y
from {t['pairs']}
join {t['edges_a']} on ea.zone_id = pr.za
join {t['edges_b']} on eb.zone_id = pr.zb
where ((eb.y1 - eb.y0) * (ea.x1 - ea.x0)
     - (eb.x1 - eb.x0) * (ea.y1 - ea.y0)) <> 0
  and ((eb.x1 - eb.x0) * (ea.y0 - eb.y0)
     - (eb.y1 - eb.y0) * (ea.x0 - eb.x0))
    / ((eb.y1 - eb.y0) * (ea.x1 - ea.x0)
     - (eb.x1 - eb.x0) * (ea.y1 - ea.y0)) > 0
  and ((eb.x1 - eb.x0) * (ea.y0 - eb.y0)
     - (eb.y1 - eb.y0) * (ea.x0 - eb.x0))
    / ((eb.y1 - eb.y0) * (ea.x1 - ea.x0)
     - (eb.x1 - eb.x0) * (ea.y1 - ea.y0)) < 1
  and ((ea.x1 - ea.x0) * (ea.y0 - eb.y0)
     - (ea.y1 - ea.y0) * (ea.x0 - eb.x0))
    / ((eb.y1 - eb.y0) * (ea.x1 - ea.x0)
     - (eb.x1 - eb.x0) * (ea.y1 - ea.y0)) > 0
  and ((ea.x1 - ea.x0) * (ea.y0 - eb.y0)
     - (ea.y1 - ea.y0) * (ea.x0 - eb.x0))
    / ((eb.y1 - eb.y0) * (ea.x1 - ea.x0)
     - (eb.x1 - eb.x0) * (ea.y1 - ea.y0)) < 1
"""

    # per-pair ordered folds: centroid → angle sort → shoelace
    return f"""
with cand as (
  select distinct za, zb, x, y from (
    {vert_in('verts_a', 'va', 'edges_b', 'eb', 'za', 'zb')}
    union all
    {vert_in('verts_b', 'vb', 'edges_a', 'ea', 'zb', 'za')}
    union all
    {cross}
  ) u
),
packed as (
  select za, zb, {srt}({lst}({pt_struct})) as pts, count(*) as n_cand
  from cand group by za, zb
),
centered as (
  select za, zb, n_cand, pts,
         {fold_sum(f"{trn}(pts, p -> p.x)")} / n_cand as cx,
         {fold_sum(f"{trn}(pts, p -> p.y)")} / n_cand as cy
  from packed
),
ordered as (
  select za, zb, n_cand,
         {srt}({trn}(pts, p -> {ang_struct})) as opts
  from centered
),
areas as (
  select za, zb, n_cand,
         abs({fold_sum(f'''{trn}({idx_list},
             i -> {elem}(opts, cast(i as int)).x
                  * {elem}(opts, cast(i % n_cand + 1 as int)).y
                - {elem}(opts, cast(i % n_cand + 1 as int)).x
                  * {elem}(opts, cast(i as int)).y)''')}) / 2.0 as inter_area
  from ordered where n_cand >= 3
)
select pr.za as zone_a, pr.zb as zone_b,
       pr.area_a as area_a, pr.area_b as area_b,
       coalesce(a.n_cand, 0) as n_cand,
       coalesce(a.inter_area, 0.0) as inter_area,
       pr.area_a + pr.area_b - coalesce(a.inter_area, 0.0) as union_area,
       pr.area_a + pr.area_b - 2 * coalesce(a.inter_area, 0.0)
         as symdiff_area,
       pr.area_a - coalesce(a.inter_area, 0.0) as erase_a_area
from {t['pairs']}
left join areas a on a.za = pr.za and a.zb = pr.zb
"""


def overlay_areas(spark, defs_a: list[dict], defs_b: list[dict]):
    """Spark DataFrame of the overlay areas (runs the shared SQL)."""
    return spark.sql(overlay_areas_sql(defs_a, defs_b, SPARK))


# ---------------------------------------------------------------------------
# Identity / Update (ogrlayer.cpp:4730, :5148)
# ---------------------------------------------------------------------------


def disjoint_method_defs(defs: list[dict]) -> list[dict]:
    """Greedily keep method polygons whose bboxes are pairwise disjoint.
    GDAL's Identity/Update leftover is input − union(method); with a
    disjoint method layer the union area is the plain sum of pairwise
    intersections, which keeps the whole operator an ordered-fold SQL
    expression (bit-exact across engines)."""
    kept: list[dict] = []
    for z in defs:
        bb = G.rings_bbox(z["rings"])
        ok = True
        for k in kept:
            kb = G.rings_bbox(k["rings"])
            if bb[0] <= kb[2] and kb[0] <= bb[2] \
                    and bb[1] <= kb[3] and kb[1] <= bb[3]:
                ok = False
                break
        if ok:
            kept.append(z)
    return kept


def identity_update_sql(defs_a: list[dict], defs_b: list[dict],
                        engine: str) -> str:
    """Layer-algebra Identity (ogrlayer.cpp:4730) and Update (:5148) area
    accounting per input feature, over a pairwise-disjoint method layer:

    - Identity output = {A∩B pieces, with both attrs} ∪ {A − union(B),
      input attrs}: reported as n_pieces, pieces_area and remainder_area
      (pieces + remainder = area_a, asserted by the oracle compare).
    - Update output = method features + (input − union(method)): the
      input side is the same remainder_area; the untouched method side
      is trivially the method layer.

    The per-A reduction folds the zb-sorted intersection-area list
    sequentially, never an unordered SQL SUM of doubles."""
    base = overlay_areas_sql(defs_a, defs_b, engine)
    if engine == SPARK:
        packed = "array_sort(collect_list(struct(zone_b, inter_area)))"
        fold = ("aggregate(transform(arr, s -> s.inter_area),"
                " cast(0 as double), (s, v) -> s + v)")
    else:
        packed = "list_sort(list({'zone_b': zone_b, 'ia': inter_area}))"
        fold = ("list_reduce(list_concat([cast(0 as double)],"
                " list_transform(arr, s -> s.ia)), (s, v) -> s + v)")
    return f"""
with ov as ({base}),
areas_a as (
  select zone_a, max(area_a) as area_a,
         cast(sum(case when inter_area > 0 then 1 else 0 end)
              as bigint) as n_pieces,
         {packed} as arr
  from (select zone_a, zone_b, inter_area, area_a from ov) q
  group by zone_a
)
select zone_a, area_a, n_pieces,
       {fold} as pieces_area,
       area_a - {fold} as remainder_area
from areas_a
"""


def identity_update(spark, defs_a: list[dict], defs_b: list[dict]):
    return spark.sql(identity_update_sql(defs_a, defs_b, SPARK))
