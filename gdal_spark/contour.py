"""Stitched contour polylines (alg/contour.cpp GDALContourGenerate).

GDAL's contour writer walks marching-squares segments and merges them
into polylines per level (alg/contour.cpp:393 segment merge,
alg/marching_squares/). The distributed restatement:

1. **per-tile segment generation** — each 2×2 cell with a non-trivial
   marching-squares case emits its iso-segment(s) as a pair of GLOBAL
   edge-crossing node ids (the crossing on pixel edge (x,y)→(x+1,y) is
   node ``2·(y·W+x)``, on (x,y)→(x,y+1) node ``2·(y·W+x)+1``). Both
   cells adjacent to a crossing derive the same id, so tile seams need
   no coordinate matching — stitching is connected components on the
   node graph. Saddle cells (cases 5/10) use the fixed pairing
   (L–T, B–R)/(L–B, T–R); GDAL disambiguates saddles with the cell-mean
   rule, a documented convention difference.
2. **local union-find** — inside the tile kernel, segments merge into
   local parts (label = min node id); only seam-node links (O(tile
   perimeter)) leave the tile.
3. **global merge** — the same ``propagate_labels`` pointer-jump loop as
   polygonize, over the (small) local-part graph.
4. **per-line output** — component id (min node id), segment count,
   closed flag (a contour line is open iff it ends on the raster
   boundary — every interior node has degree exactly 2), and length from
   exactly-interpolated crossings, folded in sorted-segment order so the
   DuckDB oracle reproduces it bit-for-bit.

Thresholds are dyadic non-integers (x.5 over an integer DEM) so no
crossing degenerates onto a pixel corner (GDAL fudges such levels —
contour.cpp applies an epsilon shift; dyadic levels make the fudge
unnecessary AND keep (t − a)/(b − a) exactly representable inputs).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gdal_spark.raster import (TILE_PX, dem_elev_np, dem_elev_sql,
                               halo_exchange, ms_case_index)

# marching-squares case table: case idx (8·TL + 4·TR + 2·BR + 1·BL,
# bit set = pixel above level) → iso-segments as edge-code pairs.
# Edge codes: 0=T (top), 1=B (bottom), 2=L (left), 3=R (right).
CASES: dict[int, list[tuple[int, int]]] = {
    1: [(2, 1)], 2: [(1, 3)], 3: [(2, 3)], 4: [(0, 3)],
    5: [(2, 0), (1, 3)], 6: [(0, 1)], 7: [(2, 0)], 8: [(2, 0)],
    9: [(0, 1)], 10: [(2, 1), (0, 3)], 11: [(0, 3)], 12: [(2, 3)],
    13: [(1, 3)], 14: [(2, 1)],
}

CONTOUR_LINES_PX = 128
LEVELS = (52.5, 105.5)
# Below this many cross-tile merge edges the component merge is a driver
# union-find; above it, the distributed pointer-jump loop (see
# _labeled_segments for the sizing).
DRIVER_MERGE_MAX = 200_000

_SEG_SCHEMA = ("li int, na long, nb long, lroot long, kind int, "
               "v double, b int")


def _node_coords(n: np.ndarray, w: int,
                 thr: float) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(cx, cy, boundary) of crossing nodes — ELEMENTWISE IEEE ops in the
    same order as the oracle's SQL text (`_node_xy`), so per-node coords
    are bit-identical; only the SUM over segments is order-sensitive and
    that stays an ordered fold on both engines."""
    pix = n >> 1
    isv = (n & 1).astype(bool)
    py = pix // w
    px = pix % w

    a = dem_elev_np(px, py).astype(np.float64)
    bh = dem_elev_np(px + 1, py).astype(np.float64)
    bv = dem_elev_np(px, py + 1).astype(np.float64)
    with np.errstate(divide="ignore", invalid="ignore"):
        frac_h = np.where(bh != a, (thr - a) / (bh - a), 0.0)
        frac_v = np.where(bv != a, (thr - a) / (bv - a), 0.0)
    cx = np.where(isv, px.astype(np.float64), px.astype(np.float64) + frac_h)
    cy = np.where(isv, py.astype(np.float64) + frac_v, py.astype(np.float64))
    bnd = np.where(isv, (px == 0) | (px == w - 1),
                   (py == 0) | (py == w - 1))
    return cx, cy, bnd


def _edge_nodes(code: int, cx: np.ndarray, cy: np.ndarray,
                w: int) -> np.ndarray:
    """Global node id of edge `code` of cells with top-left (cx, cy)."""
    if code == 0:                       # top: horizontal at (cx, cy)
        return 2 * (cy * w + cx)
    if code == 1:                       # bottom: horizontal at (cx, cy+1)
        return 2 * ((cy + 1) * w + cx)
    if code == 2:                       # left: vertical at (cx, cy)
        return 2 * (cy * w + cx) + 1
    return 2 * (cy * w + cx + 1) + 1    # right: vertical at (cx+1, cy)


def _find(parent: dict[int, int], x: int) -> int:
    """Union-find root of ``x`` (path halving); roots are min labels."""
    while parent.setdefault(x, x) != x:
        parent[x] = parent[parent[x]]
        x = parent[x]
    return x


def _union(parent: dict[int, int], a: int, b: int) -> None:
    ra, rb = _find(parent, a), _find(parent, b)
    if ra != rb:
        parent[max(ra, rb)] = min(ra, rb)


def contour_segments(tiles: DataFrame, raster_px: int) -> DataFrame:
    """Per-level iso-segments with tile-local component labels (a
    halo_exchange kernel).

    Output rows (kind 0 = segment, kind 1 = seam link):
      kind 0: (li, na, nb, lroot)   — one marching-squares segment
      kind 1: (li, node, -1, lroot) — a seam-crossing node's local label

    ``lroot`` is globally namespaced per level: li·SPAN + min node id of
    the tile-local part.
    """
    t = TILE_PX
    w = raster_px
    span = 2 * w * w
    levels = list(LEVELS)

    def kernel(win: np.ndarray, gx: np.ndarray,
               gy: np.ndarray) -> pd.DataFrame:
        out_li, out_na, out_nb, out_lr, out_kind = [], [], [], [], []
        out_v, out_b = [], []
        for li, thr in enumerate(levels):
            idx = ms_case_index(win, thr)
            valid = (gx < w - 1) & (gy < w - 1) & (idx != 0) & (idx != 15)
            nas, nbs = [], []
            for case, pairs in CASES.items():
                m = valid & (idx == case)
                if not m.any():
                    continue
                cx, cy = gx[m], gy[m]
                for ea, eb in pairs:
                    nas.append(_edge_nodes(ea, cx, cy, w))
                    nbs.append(_edge_nodes(eb, cx, cy, w))
            if not nas:
                continue
            na = np.concatenate(nas)
            nb = np.concatenate(nbs)
            # local union-find (root = min node id of the part)
            parent: dict[int, int] = {}
            for a, b in zip(na.tolist(), nb.tolist()):
                _union(parent, a, b)
            off = li * span
            cxa, cya, bnda = _node_coords(na, w, thr)
            cxb, cyb, bndb = _node_coords(nb, w, thr)
            dx = cxb - cxa
            dy = cyb - cya
            vs = np.sqrt(dx * dx + dy * dy)
            bs = (bnda | bndb).astype(np.int64)
            for j, (a, b) in enumerate(zip(na.tolist(), nb.tolist())):
                out_li.append(li)
                out_na.append(a)
                out_nb.append(b)
                out_lr.append(off + _find(parent, a))
                out_kind.append(0)
                out_v.append(float(vs[j]))
                out_b.append(int(bs[j]))
            # seam links: a crossing whose two adjacent cells live in
            # different tiles (horizontal edge on a tile row seam,
            # vertical edge on a tile column seam)
            for node in set(na.tolist()) | set(nb.tolist()):
                pix, isv = node >> 1, node & 1
                py, px = divmod(pix, w)
                seam = (py % t == 0 and py > 0) if isv == 0 \
                    else (px % t == 0 and px > 0)
                if seam:
                    out_li.append(li)
                    out_na.append(node)
                    out_nb.append(-1)
                    out_lr.append(off + _find(parent, node))
                    out_kind.append(1)
                    out_v.append(0.0)
                    out_b.append(0)
        return pd.DataFrame({"li": out_li, "na": out_na, "nb": out_nb,
                             "lroot": out_lr, "kind": out_kind,
                             "v": out_v, "b": out_b})

    return halo_exchange(tiles, raster_px, kernel, _SEG_SCHEMA)


# ---------------------------------------------------------------------------
# shared Spark/DuckDB expression text (bit-exact cross-engine compares)
# ---------------------------------------------------------------------------


def _idiv(a: str, b) -> str:
    return f"(({a}) // ({b}))"


def _thr_expr() -> str:
    arms = " ".join(f"when {li} then {thr!r}e0"
                    for li, thr in enumerate(LEVELS))
    return f"(case li {arms} end)"


def _node_xy(node: str, w: int, t_expr: str) -> tuple[str, str, str]:
    """(cx, cy, boundary-flag) DuckDB exprs for crossing node column
    `node`."""
    pix = _idiv(node, 2)
    isv = f"(({node}) % 2)"
    py = _idiv(pix, w)
    px = f"(({pix}) % {w})"

    def e(xx: str, yy: str) -> str:
        return (f"cast((({xx}) * ({xx}) * 5 + ({yy}) * ({yy}) * 3"
                f" + ({xx}) * ({yy})) % 211 as double)")

    frac_h = f"(({t_expr} - {e(px, py)}) / ({e(f'({px} + 1)', py)} - {e(px, py)}))"
    frac_v = f"(({t_expr} - {e(px, py)}) / ({e(px, f'({py} + 1)')} - {e(px, py)}))"
    cx = (f"(case when {isv} = 0 then cast({px} as double) + {frac_h}"
          f" else cast({px} as double) end)")
    cy = (f"(case when {isv} = 0 then cast({py} as double)"
          f" else cast({py} as double) + {frac_v} end)")
    bnd = (f"(case when {isv} = 0"
           f" then (case when {py} = 0 or {py} = {w - 1} then 1 else 0 end)"
           f" else (case when {px} = 0 or {px} = {w - 1} then 1 else 0 end)"
           f" end)")
    return cx, cy, bnd


def _seg_exprs(w: int) -> tuple[str, str]:
    """(length, boundary) DuckDB exprs over segment columns (li, na, nb)."""
    t_expr = _thr_expr()
    cxa, cya, ba = _node_xy("na", w, t_expr)
    cxb, cyb, bb = _node_xy("nb", w, t_expr)
    dx = f"({cxb} - {cxa})"
    dy = f"({cyb} - {cya})"
    v = f"sqrt({dx} * {dx} + {dy} * {dy})"
    b = f"(case when {ba} = 1 or {bb} = 1 then 1 else 0 end)"
    return v, b


def _labeled_segments(tiles: DataFrame, raster_px: int) -> DataFrame:
    """Globally-labeled iso-segments: (li, comp, na, nb, v, b) — the
    shared front half of contour_lines / contour_linestrings."""
    from gdal_spark.polygonize import propagate_labels

    mixed = contour_segments(tiles, raster_px).cache()
    segs = mixed.filter("kind = 0").drop("kind")
    links = mixed.filter("kind = 1").select(
        "li", F.col("na").alias("node"), "lroot")
    a = links.select("li", "node", F.col("lroot").alias("la"))
    b = links.select("li", "node", F.col("lroot").alias("lb"))
    edges = (a.join(b, ["li", "node"]).filter("la < lb")
             .select("la", "lb").distinct())
    # merge the edge-incident subgraph only — the cross-tile merge graph
    # is O(seam crossings), far smaller than the part count; parts
    # untouched by any seam keep their local label (coalesce). Below
    # DRIVER_MERGE_MAX edges the merge is a driver union-find (a seam
    # chain of k crossings costs k pointer hops, not k join rounds); the
    # distributed pointer-jump loop is the large-scale path — the same
    # two-regime split GDAL's contour writer applies per chunk.
    # 200k sized in bytes: an edge row is two int64 labels
    # (~16 B + ~40 B Row overhead collected), so the driver copy tops
    # out ≈ 11 MB plus a dict of ≤ 400k int keys (~30 MB) — well under
    # one task's memory; at 200k+ seam crossings the O(log d)
    # pointer-jump rounds amortize and the distributed path wins anyway.
    n_edges = edges.count()
    if n_edges <= DRIVER_MERGE_MAX:
        parent: dict[int, int] = {}
        for la_, lb_ in edges.collect():
            _union(parent, la_, lb_)
        rows = [(l, _find(parent, l)) for l in parent]
        sub = tiles.sparkSession.createDataFrame(
            rows or [(int(-1), int(-1))], "lbl long, comp long")
    else:
        en = (edges.select(F.col("la").alias("lbl"))
              .unionByName(edges.select(F.col("lb").alias("lbl")))
              .distinct())
        sub = propagate_labels(en, edges)
    labeled = (segs.join(sub, segs.lroot == sub.lbl, "left")
               .withColumn("comp", F.coalesce("comp", "lroot"))
               .drop("lbl"))
    return labeled.select("li", "comp", "na", "nb", "v", "b")


def contour_lines(tiles: DataFrame,
                  raster_px: int = CONTOUR_LINES_PX) -> DataFrame:
    """Stitched contour polylines: one row per connected line per level.

    (level, comp = min crossing-node id, n_segments, closed, len_sum)
    """
    per_seg = _labeled_segments(tiles, raster_px)
    agg = per_seg.groupBy("li", "comp").agg(
        F.expr("collect_list(struct(na, nb, v))").alias("arr"),
        F.count(F.lit(1)).alias("n_segments"),
        F.expr("min(least(na, nb))").alias("comp_id"),
        F.max("b").alias("_bmax"))
    t_expr = _thr_expr()
    return agg.selectExpr(
        f"{t_expr} as level",
        "comp_id as comp",
        "n_segments",
        "cast(case when _bmax = 0 then 1 else 0 end as int) as closed",
        "round(aggregate(transform(array_sort(arr), s -> s.v),"
        " cast(0 as double), (s, x) -> s + x), 6) as len_sum",
    )


def _nid_sql(code: str, w: int) -> str:
    """Global crossing-node id (_edge_nodes) of edge ``code`` of the cell
    with top-left (x, y)."""
    return (f"(case {code} when 0 then 2 * (y * {w} + x)"
            f" when 1 then 2 * ((y + 1) * {w} + x)"
            f" when 2 then 2 * (y * {w} + x) + 1"
            f" else 2 * (y * {w} + x + 1) + 1 end)")


def _segment_graph_ctes(w: int) -> str:
    """The DuckDB CTEs both contour oracles start from: the levels ``lv``,
    the case table ``m``, per-cell case indices ``c``, the iso-segments
    ``s2`` (li, na, nb), their node set and symmetric edges, and the
    recursive min-label propagation ``lbl`` (li, node, l)."""
    lv_rows = ", ".join(f"({li}, {thr!r}e0)"
                        for li, thr in enumerate(LEVELS))
    m_rows = ", ".join(f"({ci}, {ea}, {eb})"
                       for ci, pairs in CASES.items()
                       for ea, eb in pairs)
    elev = dem_elev_sql
    return f"""with recursive
lv(li, t) as (select * from (values {lv_rows}) v(li, t)),
m(ci, ea, eb) as (select * from (values {m_rows}) v(ci, ea, eb)),
g as (
  select a.range as x, b.range as y
  from range(0, {w - 1}) a cross join range(0, {w - 1}) b
),
c as (
  select li, t, x, y,
         8 * (case when {elev("x", "y")} > t then 1 else 0 end)
       + 4 * (case when {elev("(x + 1)", "y")} > t then 1 else 0 end)
       + 2 * (case when {elev("(x + 1)", "(y + 1)")} > t then 1 else 0 end)
       + 1 * (case when {elev("x", "(y + 1)")} > t then 1 else 0 end) as ci
  from g cross join lv
),
s2 as (
  select c.li, {_nid_sql("m.ea", w)} as na, {_nid_sql("m.eb", w)} as nb
  from c join m on m.ci = c.ci
),
nodes as (
  select distinct li, na as node from s2
  union select distinct li, nb from s2
),
esym as (
  select li, na as u, nb as v from s2
  union select li, nb, na from s2
),
lbl(li, node, l) as (
  select li, node, node from nodes
  union
  select es.li, es.v, lbl.l
  from lbl join esym es on es.li = lbl.li and es.u = lbl.node
  where lbl.l < es.v
),"""


def contour_lines_oracle_sql() -> str:
    """DuckDB ground truth: the same marching-squares case table as a
    VALUES relation, flat recursive-CTE min-label components over the
    crossing-node graph, and the identical sorted-fold length sum."""
    w = CONTOUR_LINES_PX
    t_expr = _thr_expr()
    v, bnd = _seg_exprs(w)

    return f"""
{_segment_graph_ctes(w)}
fin as (select li, node, min(l) as comp from lbl group by li, node),
sb as (
  select s2.li as li, f.comp as comp, s2.na as na, s2.nb as nb
  from s2 join fin f on f.li = s2.li and f.node = s2.na
),
sv as (select li, comp, na, nb, {v} as v, {bnd} as b from sb)
select {t_expr} as level,
       min(least(na, nb)) as comp,
       count(*) as n_segments,
       cast(case when max(b) = 0 then 1 else 0 end as int) as closed,
       round(list_reduce(list_concat([cast(0 as double)],
               list_transform(list_sort(list({{'na': na, 'nb': nb, 'v': v}})),
                              s -> s.v)),
             (s, x) -> s + x), 6) as len_sum
from sv
group by li, comp
"""


# ---------------------------------------------------------------------------
# LineString geometry output (alg/contour.cpp:393 — GDAL's contour
# writer emits ordered-vertex linestrings, not line statistics).
# ---------------------------------------------------------------------------

_LS_SCHEMA = ("li int, comp long, n_points int, closed int, "
              "len_sum double, geom string, wkb binary")


def _micro(c: np.ndarray) -> np.ndarray:
    """Integer micro-units: floor(c·1e6 + 0.5) — the same expression
    text the oracle uses, so the serialized vertex string is identical
    across engines (per-node coords are already bit-identical)."""
    return np.floor(c * 1000000.0 + 0.5).astype(np.int64)


def contour_linestrings(tiles: DataFrame,
                        raster_px: int = CONTOUR_LINES_PX) -> DataFrame:
    """Stitched contour LINESTRINGS: one row per connected line per
    level with ordered-vertex geometry (the real GDALContourGenerate
    output shape, alg/contour.cpp:393 + alg/marching_squares/).

    Canonical vertex order (both engines): an open line starts at its
    smaller boundary endpoint; a closed ring starts at its minimum node,
    steps first to that node's smaller neighbor, and repeats the start
    as final vertex. Interior nodes have degree exactly 2, so the walk
    is deterministic.

    Columns: level, comp, n_points, closed, len_sum (ordered fold as
    contour_lines), geom (ordered 'x y' vertex pairs in integer
    micro-pixel units — the oracle-hashable serialization; DuckDB
    cannot assemble IEEE754 bytes, so raw WKB stays engine-side), wkb
    (little-endian LineString WKB over the exact double coords — the
    API output, round-tripped in tests/test_contour.py).

    Scale note: one group per contour line; the kernel is O(line
    length), the same per-feature bound as GDAL's writer.
    """
    import struct

    per_seg = _labeled_segments(tiles, raster_px)
    w = raster_px
    levels = list(LEVELS)

    def trace(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        li, comp = int(key[0]), int(key[1])
        thr = levels[li]
        na = pdf["na"].to_numpy(np.int64)
        nb = pdf["nb"].to_numpy(np.int64)
        vs = pdf["v"].to_numpy(np.float64)
        adj: dict[int, list[int]] = {}
        for a, b in zip(na.tolist(), nb.tolist()):
            adj.setdefault(a, []).append(b)
            adj.setdefault(b, []).append(a)
        ends = sorted(n for n, nbrs in adj.items() if len(nbrs) == 1)
        closed = 0 if ends else 1
        if ends:
            start = ends[0]
            second = adj[start][0]
        else:
            start = min(adj)
            second = min(adj[start])
        path = [start, second]
        prev, cur = start, second
        while True:
            if closed and cur == start:
                break
            nxt = [n for n in adj[cur] if n != prev]
            if not nxt:
                break
            prev, cur = cur, nxt[0]
            path.append(cur)
        nodes = np.asarray(path, dtype=np.int64)
        cx, cy, _ = _node_coords(nodes, w, thr)
        mx, my = _micro(cx), _micro(cy)
        geom = ",".join(f"{x} {y}" for x, y in zip(mx.tolist(),
                                                   my.tolist()))
        wkb = struct.pack("<BII", 1, 2, len(path))
        wkb += np.column_stack([cx, cy]).astype("<f8").tobytes()
        # ordered fold over (na, nb, v)-sorted segments — same
        # association as contour_lines' aggregate(array_sort(...))
        len_sum = 0.0
        for _, _, v in sorted(zip(na.tolist(), nb.tolist(), vs.tolist())):
            len_sum = len_sum + v
        return pd.DataFrame({
            "li": [li], "comp": [comp], "n_points": [len(path)],
            "closed": [closed], "len_sum": [round(len_sum, 6)],
            "geom": [geom], "wkb": [wkb],
        })

    out = per_seg.groupBy("li", "comp").applyInPandas(trace, _LS_SCHEMA)
    t_expr = _thr_expr()
    return out.selectExpr(
        f"{t_expr} as level",
        # canonical component id: min crossing node (comp labels are
        # namespaced per level; strip the level offset like contour_lines)
        f"comp % {2 * w * w} as comp",
        "n_points", "closed", "len_sum", "geom", "wkb")


def contour_linestrings_oracle_sql() -> str:
    """DuckDB ground truth for contour_linestrings (minus the WKB
    column): components via the flat min-label CTE, then a recursive
    deterministic path walk — seeded at the canonical start, stepping
    to the only non-previous neighbor — serialized with the identical
    micro-unit expression text."""
    w = CONTOUR_LINES_PX
    t_expr = _thr_expr()
    v, bnd = _seg_exprs(w)
    cxw, cyw, _b = _node_xy("cur", w, "t")

    return f"""
{_segment_graph_ctes(w)}
fin as materialized (select li, node, min(l) as comp
                     from lbl group by li, node),
-- materialized: DuckDB inlines plain CTEs, so the recursive walk would
-- otherwise re-run the whole lbl label propagation on every iteration
ec as materialized (
  select e.li, f.comp, e.u, e.v
  from esym e join fin f on f.li = e.li and f.node = e.u
),
deg as (select li, comp, u, count(*) as d from ec group by 1, 2, 3),
starts as (
  select li, comp,
         coalesce(min(u) filter (where d = 1), min(u)) as start,
         cast(max(case when d = 1 then 0 else 1 end) as int)
           = cast(1 as int)
           and min(d) = 2 as is_closed
  from deg group by li, comp
),
seconds as materialized (
  select s.li, s.comp, s.start, s.is_closed, min(ec.v) as second
  from starts s join ec on ec.li = s.li and ec.comp = s.comp
   and ec.u = s.start
  group by 1, 2, 3, 4
),
walk(li, comp, start, prev, cur, step) as (
  select li, comp, start, start, second, 1 from seconds
  union all
  select wk.li, wk.comp, wk.start, wk.cur, e.v, wk.step + 1
  from walk wk join ec e
    on e.li = wk.li and e.comp = wk.comp and e.u = wk.cur
  where e.v <> wk.prev and wk.cur <> wk.start
),
verts as (
  select li, comp, start, cur, step from walk
  union all
  select li, comp, start, start as cur, 0 as step from seconds
),
vx as (
  select vr.li, vr.comp, vr.step,
         cast(floor({cxw} * 1000000.0 + 0.5) as bigint) as px,
         cast(floor({cyw} * 1000000.0 + 0.5) as bigint) as py
  from verts vr join lv on lv.li = vr.li
),
geo as (
  select li, comp, count(*) as n_points,
         string_agg(px || ' ' || py, ',' order by step) as geom
  from vx group by li, comp
),
sb as (
  select s2.li as li, f.comp as comp, s2.na as na, s2.nb as nb
  from s2 join fin f on f.li = s2.li and f.node = s2.na
),
sv as (select li, comp, na, nb, {v} as v, {bnd} as b from sb),
st as (
  select li, comp,
         cast(case when max(b) = 0 then 1 else 0 end as int) as closed,
         round(list_reduce(list_concat([cast(0 as double)],
                 list_transform(list_sort(list({{'na': na, 'nb': nb,
                                                 'v': v}})),
                                s -> s.v)),
               (s, x) -> s + x), 6) as len_sum
  from sv group by li, comp
)
select {t_expr.replace("case li", "case st.li")} as level,
       st.comp as comp,
       cast(geo.n_points as int) as n_points, st.closed, st.len_sum,
       geo.geom as geom
from st join geo on geo.li = st.li and geo.comp = st.comp
"""
