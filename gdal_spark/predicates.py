"""Polygon×polygon spatial predicates over WKB — the GEOS predicate set.

Implements the reference's geometry predicate surface (ogr/ogrgeometry.cpp
Intersects:579, Equals:1251, Disjoint:5588, Touches:5661, Crosses:5734,
Within:5842, Contains:5915, Overlaps:5989; exercised by
autotest/ogr/ogr_sql_sqlite.py ST_ tests) without GEOS: every decision is
**exact integer arithmetic** on doubled microdegrees. Fixture coordinates
carry ≤6 decimals, so ``round(x·1e6)·2`` is lossless; orientation tests,
point-on-segment tests and the even-odd ray parity are int64 expressions
(|coord| ≤ 3.6e8 → cross products ≤ 5.2e17, no overflow), shared verbatim
between the pandas-UDF kernels and the DuckDB oracle SQL.

Decision basis per candidate pair (A, B):
- ``proper``   — some edge pair crosses in both segments' interiors;
- ``contact``  — some edge pair intersects at all (proper, endpoint-on-
                 segment, shared vertex, collinear overlap);
- probe classes — every ring vertex AND edge midpoint of A classified
  strictly-inside / on-boundary / strictly-outside of B (even-odd over
  all rings, so holes behave), and symmetrically. Midpoint probes decide
  the inscribed case (every vertex on the boundary, interior inside —
  e.g. a diamond inscribed in a square) that vertex probes alone miss.

Predicates (DE-9IM semantics for areas):
  interior_overlap = proper ∨ a_in>0 ∨ b_in>0 ∨ (a⊆b ∧ b⊆a)
  a⊆b   = ¬proper ∧ a_out = 0
  intersects = contact ∨ interior_overlap       disjoint = ¬intersects
  equals     = a⊆b ∧ b⊆a                         within(A,B) = a⊆b ∧ interior_overlap
  contains   = within(B,A)                       touches = intersects ∧ ¬interior_overlap
  overlaps   = interior_overlap ∧ ¬a⊆b ∧ ¬b⊆a    crosses(area,area) = false (dim rule);
  crosses(line,area) = line has points in B's interior and exterior.

Candidate pairs come from a cover-cell equi-join (the PIP-join prejoin
shape) — never a cross join — then a bbox-overlap filter ahead of the
exact kernel, mirroring OGRLayer::FilterGeometry's staged filter
(ogrlayer.cpp:2253-2325).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gdal_spark import geom as G
from gdal_spark import wkb as W

SPARK = "spark"
DUCKDB = "duckdb"

PREDICATE_COLS = ("intersects", "disjoint", "equals_", "within",
                  "contains", "touches", "overlaps")


# ---------------------------------------------------------------------------
# Exact integer primitives (doubled microdegrees)
# ---------------------------------------------------------------------------


def _rings_i2(rings) -> list[np.ndarray]:
    """Float rings (≤6 decimals) → int64 rings in doubled microdegrees."""
    return [np.rint(np.asarray(r, dtype=np.float64) * 1e6).astype(np.int64) * 2
            for r in rings]


def _orient(ox, oy, ax, ay, bx, by) -> int:
    return (ax - ox) * (by - oy) - (ay - oy) * (bx - ox)


def _on_seg(px, py, x0, y0, x1, y1) -> bool:
    if _orient(x0, y0, x1, y1, px, py) != 0:
        return False
    return (min(x0, x1) <= px <= max(x0, x1)
            and min(y0, y1) <= py <= max(y0, y1))


def _proper(ax0, ay0, ax1, ay1, bx0, by0, bx1, by1) -> bool:
    o1 = _orient(ax0, ay0, ax1, ay1, bx0, by0)
    o2 = _orient(ax0, ay0, ax1, ay1, bx1, by1)
    o3 = _orient(bx0, by0, bx1, by1, ax0, ay0)
    o4 = _orient(bx0, by0, bx1, by1, ax1, ay1)
    return ((o1 > 0) != (o2 > 0) and o1 != 0 and o2 != 0
            and (o3 > 0) != (o4 > 0) and o3 != 0 and o4 != 0)


def _edges(rings_i: list[np.ndarray]):
    for ring in rings_i:
        for i in range(len(ring) - 1):
            yield (int(ring[i, 0]), int(ring[i, 1]),
                   int(ring[i + 1, 0]), int(ring[i + 1, 1]))


def _probes(rings_i: list[np.ndarray]) -> set[tuple[int, int]]:
    """Ring vertices + edge midpoints (coords are even → midpoint exact)."""
    out: set[tuple[int, int]] = set()
    for x0, y0, x1, y1 in _edges(rings_i):
        out.add((x0, y0))
        out.add((x1, y1))
        out.add(((x0 + x1) // 2, (y0 + y1) // 2))
    return out


def _point_class(px: int, py: int, rings_i: list[np.ndarray]) -> int:
    """-1 strictly outside, 0 on boundary, 1 strictly inside (even-odd)."""
    cnt = 0
    for x0, y0, x1, y1 in _edges(rings_i):
        if _on_seg(px, py, x0, y0, x1, y1):
            return 0
        if (y0 > py) != (y1 > py):
            lhs = (px - x0) * (y1 - y0)
            rhs = (x1 - x0) * (py - y0)
            if (lhs < rhs) if y1 > y0 else (lhs > rhs):
                cnt += 1
    return 1 if cnt % 2 == 1 else -1


def pair_predicates(rings_a, rings_b) -> dict[str, bool]:
    """All seven area×area predicates for one polygon pair (float rings)."""
    ra = _rings_i2(rings_a)
    rb = _rings_i2(rings_b)
    ea = list(_edges(ra))
    eb = list(_edges(rb))
    proper = False
    contact = False
    for ax0, ay0, ax1, ay1 in ea:
        for bx0, by0, bx1, by1 in eb:
            if _proper(ax0, ay0, ax1, ay1, bx0, by0, bx1, by1):
                proper = True
                contact = True
            elif not contact and (
                    _on_seg(bx0, by0, ax0, ay0, ax1, ay1)
                    or _on_seg(bx1, by1, ax0, ay0, ax1, ay1)
                    or _on_seg(ax0, ay0, bx0, by0, bx1, by1)
                    or _on_seg(ax1, ay1, bx0, by0, bx1, by1)):
                contact = True
    a_in = a_out = 0
    for px, py in _probes(ra):
        c = _point_class(px, py, rb)
        a_in += c == 1
        a_out += c == -1
    b_in = b_out = 0
    for px, py in _probes(rb):
        c = _point_class(px, py, ra)
        b_in += c == 1
        b_out += c == -1
    a_sub_b = (not proper) and a_out == 0
    b_sub_a = (not proper) and b_out == 0
    interior = proper or a_in > 0 or b_in > 0 or (a_sub_b and b_sub_a)
    intersects = contact or interior
    return {
        "intersects": intersects,
        "disjoint": not intersects,
        "equals_": a_sub_b and b_sub_a,
        "within": a_sub_b and interior,
        "contains": b_sub_a and interior,
        "touches": intersects and not interior,
        "overlaps": interior and not a_sub_b and not b_sub_a,
    }


def line_crosses_polygon(line: np.ndarray, rings) -> bool:
    """ST_Crosses(LineString, Polygon): the line has points in the
    polygon's interior AND exterior (ogrgeometry.cpp:5734 dim rule for
    dim-1 × dim-2). Decision basis: segment×edge proper crossings plus
    vertex/midpoint probe classes."""
    li = np.rint(np.asarray(line, dtype=np.float64) * 1e6).astype(np.int64) * 2
    ri = _rings_i2(rings)
    has_in = has_out = False
    for i in range(len(li) - 1):
        x0, y0, x1, y1 = int(li[i, 0]), int(li[i, 1]), \
            int(li[i + 1, 0]), int(li[i + 1, 1])
        for ex0, ey0, ex1, ey1 in _edges(ri):
            if _proper(x0, y0, x1, y1, ex0, ey0, ex1, ey1):
                return True
        for px, py in ((x0, y0), (x1, y1),
                       ((x0 + x1) // 2, (y0 + y1) // 2)):
            c = _point_class(px, py, ri)
            has_in = has_in or c == 1
            has_out = has_out or c == -1
    return has_in and has_out


# ---------------------------------------------------------------------------
# Pandas-UDF kernels over WKB pairs (the ST_ function surface)
# ---------------------------------------------------------------------------


def _pair_kernel(name: str):
    def kern(a: pd.Series, b: pd.Series) -> pd.Series:
        out = []
        for ba, bb in zip(a, b):
            if ba is None or bb is None:
                out.append(None)
                continue
            out.append(pair_predicates(W.polygon_rings(ba),
                                       W.polygon_rings(bb))[name])
        return pd.Series(out, dtype="boolean")
    return kern


def _st_relate_flags(a: pd.Series, b: pd.Series) -> pd.DataFrame:
    rows = []
    for ba, bb in zip(a, b):
        rows.append(pair_predicates(W.polygon_rings(ba),
                                    W.polygon_rings(bb)))
    return pd.DataFrame(rows, columns=list(PREDICATE_COLS))


def _st_crosses(a: pd.Series, b: pd.Series) -> pd.Series:
    """crosses(line_or_polygon, polygon): line×area uses the interior/
    exterior rule; area×area is false by the DE-9IM dimension rule."""
    out = []
    for ba, bb in zip(a, b):
        ga = W.loads(bytes(ba))
        rb = W.polygon_rings(bb)
        if ga["type"] == "LineString":
            out.append(line_crosses_polygon(ga["coords"], rb))
        else:
            out.append(False)
    return pd.Series(out, dtype="boolean")


RELATE_SCHEMA = ", ".join(f"{c} boolean" for c in PREDICATE_COLS)

PREDICATE_UDFS = {
    f"st_{name.rstrip('_')}": (_pair_kernel(name), "boolean")
    for name in PREDICATE_COLS if name != "disjoint"
}
PREDICATE_UDFS["st_disjoint"] = (_pair_kernel("disjoint"), "boolean")
PREDICATE_UDFS["st_crosses"] = (_st_crosses, "boolean")


def register_predicates(spark: SparkSession) -> None:
    for name, (fn, rtype) in PREDICATE_UDFS.items():
        spark.udf.register(name, F.pandas_udf(fn, rtype))
    spark.udf.register("st_relate_flags",
                       F.pandas_udf(_st_relate_flags, RELATE_SCHEMA))


# ---------------------------------------------------------------------------
# Fixture layers: every predicate outcome represented
# ---------------------------------------------------------------------------


def _rect(x0, y0, x1, y1):
    return np.asarray([(x0, y0), (x1, y0), (x1, y1), (x0, y1), (x0, y0)],
                      dtype=np.float64)


def predicate_defs() -> tuple[list[dict], list[dict]]:
    """(layer_a, layer_b): polygon pairs covering overlap, disjoint-with-
    bbox-overlap, equals, strict within, inscribed-diamond within (all
    vertices on the boundary), point-in-hole disjoint, shared-edge touch,
    shared-vertex touch, and a non-convex star overlap."""
    from gdal_spark.zones import _octagon, _star

    a = [
        {"zone_id": 0, "rings": [_octagon(0.0, 0.0, 1.0)]},
        {"zone_id": 1, "rings": [_rect(10.0, 0.0, 12.0, 2.0)]},
        {"zone_id": 2, "rings": [_rect(20.0, 0.0, 22.0, 2.0)]},
        {"zone_id": 3, "rings": [_rect(30.0, 0.0, 36.0, 6.0)]},
        {"zone_id": 4, "rings": [_rect(40.0, 0.0, 46.0, 6.0),
                                 _rect(42.0, 2.0, 44.0, 4.0)]},
        {"zone_id": 5, "rings": [_star(50.0, 0.0, 2.0, 0.7)]},
        {"zone_id": 6, "rings": [_rect(60.0, 0.0, 62.0, 2.0)]},
    ]
    diamond = np.asarray([(11.0, 0.0), (12.0, 1.0), (11.0, 2.0),
                          (10.0, 1.0), (11.0, 0.0)], dtype=np.float64)
    b = [
        {"zone_id": 100, "rings": [_octagon(0.5, 0.3, 1.0)]},     # overlaps 0
        {"zone_id": 101, "rings": [_octagon(1.8, 1.8, 1.0)]},     # bbox-only 0
        {"zone_id": 102, "rings": [_rect(20.0, 0.0, 22.0, 2.0)]},  # equals 2
        {"zone_id": 103, "rings": [_rect(32.0, 2.0, 34.0, 4.0)]},  # within 3
        {"zone_id": 104, "rings": [_rect(42.5, 2.5, 43.5, 3.5)]},  # in hole 4
        {"zone_id": 105, "rings": [diamond]},                      # inscribed 1
        {"zone_id": 106, "rings": [_rect(62.0, 0.0, 64.0, 2.0)]},  # edge 6
        {"zone_id": 107, "rings": [_rect(22.0, 2.0, 24.0, 4.0)]},  # vertex 2
        {"zone_id": 108, "rings": [_rect(49.0, -0.5, 51.0, 0.5)]},  # star 5
    ]
    return a, b


COVER_Z = 5


def _cover_cells(rings) -> list[int]:
    from gdal_spark import cells

    minx, miny, maxx, maxy = G.rings_bbox(rings)
    tx0, ty1 = cells.tile_xy_np(np.asarray([minx]), np.asarray([miny]), COVER_Z)
    tx1, ty0 = cells.tile_xy_np(np.asarray([maxx]), np.asarray([maxy]), COVER_Z)
    out = []
    for tx in range(int(tx0[0]), int(tx1[0]) + 1):
        for ty in range(int(ty0[0]), int(ty1[0]) + 1):
            out.append((COVER_Z << 58) | (tx << 29) | ty)
    return out


def _layer_df(spark: SparkSession, defs: list[dict], prefix: str) -> DataFrame:
    rows = []
    for z in defs:
        bb = G.rings_bbox(z["rings"])
        rows.append((z["zone_id"],
                     bytearray(W.dumps_polygon([r.tolist()
                                                for r in z["rings"]])),
                     float(bb[0]), float(bb[1]), float(bb[2]), float(bb[3]),
                     _cover_cells(z["rings"])))
    df = spark.createDataFrame(
        rows, "zone_id int, wkb binary, minx double, miny double,"
              " maxx double, maxy double, cells array<long>")
    return df.select(*[F.col(c).alias(f"{prefix}{c}") for c in df.columns])


def predicate_pairs(spark: SparkSession) -> DataFrame:
    """Contract query: candidate pairs via cover-cell equi-join + bbox
    filter, then the exact predicate kernel per pair (one struct-returning
    UDF call evaluating all seven predicates)."""
    defs_a, defs_b = predicate_defs()
    register_predicates(spark)
    a = _layer_df(spark, defs_a, "a_").withColumn(
        "cell", F.explode("a_cells")).drop("a_cells")
    b = _layer_df(spark, defs_b, "b_").withColumn(
        "cell", F.explode("b_cells")).drop("b_cells")
    pairs = (
        a.join(b, "cell")
        .filter("a_minx <= b_maxx and b_minx <= a_maxx"
                " and a_miny <= b_maxy and b_miny <= a_maxy")
        .select("a_zone_id", "b_zone_id", "a_wkb", "b_wkb")
        .dropDuplicates(["a_zone_id", "b_zone_id"])
    )
    flags = pairs.withColumn(
        "r", F.expr("st_relate_flags(a_wkb, b_wkb)"))
    return flags.select(
        F.col("a_zone_id").alias("zone_a"), F.col("b_zone_id").alias("zone_b"),
        *[F.col(f"r.{c}").alias(c) for c in PREDICATE_COLS])


# ---------------------------------------------------------------------------
# DuckDB oracle: the same integer decisions in SQL
# ---------------------------------------------------------------------------


def _edges_values(defs: list[dict], alias: str, idc: str) -> str:
    vals = []
    for z in defs:
        for ring in _rings_i2(z["rings"]):
            for i in range(len(ring) - 1):
                # ::bigint — bare VALUES literals are INT32 in DuckDB and
                # the orientation cross products overflow
                vals.append(
                    f"({z['zone_id']}, {ring[i, 0]}::bigint,"
                    f" {ring[i, 1]}::bigint, {ring[i + 1, 0]}::bigint,"
                    f" {ring[i + 1, 1]}::bigint)")
    return (f"(values {', '.join(vals)})"
            f" as {alias}({idc}, x0, y0, x1, y1)")


def _bbox_values(defs: list[dict], alias: str, idc: str) -> str:
    vals = []
    for z in defs:
        bb = G.rings_bbox(z["rings"])
        mic = [int(round(v * 1e6)) * 2 for v in bb]
        vals.append(f"({z['zone_id']}, {mic[0]}::bigint, {mic[1]}::bigint,"
                    f" {mic[2]}::bigint, {mic[3]}::bigint)")
    return (f"(values {', '.join(vals)})"
            f" as {alias}({idc}, minx, miny, maxx, maxy)")


_ORIENT = ("(({ax1} - {ax0}) * ({py} - {ay0})"
           " - ({ay1} - {ay0}) * ({px} - {ax0}))")


def _on_seg_sql(px, py, x0, y0, x1, y1) -> str:
    o = _ORIENT.format(ax0=x0, ay0=y0, ax1=x1, ay1=y1, px=px, py=py)
    return (f"({o} = 0 and {px} >= least({x0}, {x1})"
            f" and {px} <= greatest({x0}, {x1})"
            f" and {py} >= least({y0}, {y1})"
            f" and {py} <= greatest({y0}, {y1}))")


def predicates_oracle_sql() -> str:
    defs_a, defs_b = predicate_defs()
    o1 = _ORIENT.format(ax0="ea.x0", ay0="ea.y0", ax1="ea.x1", ay1="ea.y1",
                        px="eb.x0", py="eb.y0")
    o2 = _ORIENT.format(ax0="ea.x0", ay0="ea.y0", ax1="ea.x1", ay1="ea.y1",
                        px="eb.x1", py="eb.y1")
    o3 = _ORIENT.format(ax0="eb.x0", ay0="eb.y0", ax1="eb.x1", ay1="eb.y1",
                        px="ea.x0", py="ea.y0")
    o4 = _ORIENT.format(ax0="eb.x0", ay0="eb.y0", ax1="eb.x1", ay1="eb.y1",
                        px="ea.x1", py="ea.y1")
    proper = (f"(sign({o1}) * sign({o2}) = -1"
              f" and sign({o3}) * sign({o4}) = -1)")
    contact = " or ".join([
        _on_seg_sql("eb.x0", "eb.y0", "ea.x0", "ea.y0", "ea.x1", "ea.y1"),
        _on_seg_sql("eb.x1", "eb.y1", "ea.x0", "ea.y0", "ea.x1", "ea.y1"),
        _on_seg_sql("ea.x0", "ea.y0", "eb.x0", "eb.y0", "eb.x1", "eb.y1"),
        _on_seg_sql("ea.x1", "ea.y1", "eb.x0", "eb.y0", "eb.x1", "eb.y1"),
    ])
    on_edge = _on_seg_sql("p.px", "p.py", "e.x0", "e.y0", "e.x1", "e.y1")
    parity_term = """
case when (e.y0 > p.py) != (e.y1 > p.py) then
  case when e.y1 > e.y0
    then case when (p.px - e.x0) * (e.y1 - e.y0)
                 < (e.x1 - e.x0) * (p.py - e.y0) then 1 else 0 end
    else case when (p.px - e.x0) * (e.y1 - e.y0)
                 > (e.x1 - e.x0) * (p.py - e.y0) then 1 else 0 end
  end else 0 end"""

    def probes_cte(src: str, idc: str) -> str:
        return f"""
select distinct {idc} as zid, px, py from (
  select {idc}, x0 as px, y0 as py from {src}
  union all
  select {idc}, x1, y1 from {src}
  union all
  select {idc}, (x0 + x1) // 2, (y0 + y1) // 2 from {src}
) u
"""

    return f"""
with cand as (
  select a.ida as za, b.idb as zb
  from {_bbox_values(defs_a, 'a', 'ida')}
  join {_bbox_values(defs_b, 'b', 'idb')}
    on a.minx <= b.maxx and b.minx <= a.maxx
   and a.miny <= b.maxy and b.miny <= a.maxy
),
ec as (
  select c.za, c.zb,
         bool_or({proper}) as proper,
         bool_or({proper} or {contact}) as contact
  from cand c
  join {_edges_values(defs_a, 'ea', 'ida')} on ea.ida = c.za
  join {_edges_values(defs_b, 'eb', 'idb')} on eb.idb = c.zb
  group by c.za, c.zb
),
pa as ({probes_cte(_edges_values(defs_a, 'pe', 'ida'), 'ida')}),
pb as ({probes_cte(_edges_values(defs_b, 'pe', 'idb'), 'idb')}),
ca as (
  select c.za, c.zb, p.px, p.py,
         bool_or({on_edge}) as on_b, (sum({parity_term}) % 2) = 1 as odd
  from cand c
  join pa p on p.zid = c.za
  join {_edges_values(defs_b, 'e', 'idb')} on e.idb = c.zb
  group by c.za, c.zb, p.px, p.py
),
cb as (
  select c.za, c.zb, p.px, p.py,
         bool_or({on_edge}) as on_b, (sum({parity_term}) % 2) = 1 as odd
  from cand c
  join pb p on p.zid = c.zb
  join {_edges_values(defs_a, 'e', 'ida')} on e.ida = c.za
  group by c.za, c.zb, p.px, p.py
),
agg_a as (
  select za, zb,
         cast(sum(case when not on_b and odd then 1 else 0 end) as bigint) as a_in,
         cast(sum(case when not on_b and not odd then 1 else 0 end) as bigint) as a_out
  from ca group by za, zb
),
agg_b as (
  select za, zb,
         cast(sum(case when not on_b and odd then 1 else 0 end) as bigint) as b_in,
         cast(sum(case when not on_b and not odd then 1 else 0 end) as bigint) as b_out
  from cb group by za, zb
),
flags as (
  select ec.za, ec.zb, ec.proper, ec.contact, a.a_in, a.a_out, b.b_in, b.b_out,
         (not ec.proper and a.a_out = 0) as a_sub_b,
         (not ec.proper and b.b_out = 0) as b_sub_a
  from ec join agg_a a on a.za = ec.za and a.zb = ec.zb
          join agg_b b on b.za = ec.za and b.zb = ec.zb
),
derived as (
  select za, zb, proper, contact, a_sub_b, b_sub_a,
         (proper or a_in > 0 or b_in > 0 or (a_sub_b and b_sub_a)) as interior
  from flags
)
select za as zone_a, zb as zone_b,
       (contact or interior) as intersects,
       not (contact or interior) as disjoint,
       (a_sub_b and b_sub_a) as equals_,
       (a_sub_b and interior) as within,
       (b_sub_a and interior) as contains,
       ((contact or interior) and not interior) as touches,
       (interior and not a_sub_b and not b_sub_a) as overlaps
from derived
"""
