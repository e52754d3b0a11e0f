"""Polygonize: raster → vector connected components (alg/polygonize.cpp).

GDAL's polygonize sweeps the raster two rows at a time, merging runs of
equal-valued pixels into polygons (alg/polygonize_polygonizer.cpp). The
distributed restatement splits the work the way the north star requires:

1. **per-tile labeling** — inside each tile an iterative min-label
   propagation over the occupancy mask (4-connected) assigns every pixel
   the minimum global pixel id of its tile-local component (vectorized
   numpy; no Python per pixel);
2. **border adjacency** — tiles emit their border pixels' labels; an
   equi-join on neighboring pixel coordinates yields the cross-tile
   component edges (the only data that leaves a tile: O(perimeter));
3. **label propagation join loop** — iterated min-label join+groupBy
   until fixpoint (≤ component diameter in tiles; the standard
   distributed CC pattern) produces the global component label = the
   minimum pixel id of the whole component;
4. **summary aggregation** — per-component pixel counts and bbox.

This mirrors the structure of GDAL's algorithm (per-chunk polygonization,
then merging features that touch chunk borders) while every cross-tile
step is a DataFrame join, never driver-side state.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gdal_spark.raster import TILE_PX


def _label_tile(mask: np.ndarray, pid: np.ndarray) -> np.ndarray:
    """4-connected min-label propagation within one tile. Returns labels
    (-1 where empty)."""
    lbl = np.where(mask, pid, np.int64(2**62))
    while True:
        prev = lbl
        m = lbl
        m = np.minimum(m, np.pad(lbl[1:, :], ((0, 1), (0, 0)),
                                 constant_values=2**62))
        m = np.minimum(m, np.pad(lbl[:-1, :], ((1, 0), (0, 0)),
                                 constant_values=2**62))
        m = np.minimum(m, np.pad(lbl[:, 1:], ((0, 0), (0, 1)),
                                 constant_values=2**62))
        m = np.minimum(m, np.pad(lbl[:, :-1], ((0, 0), (1, 0)),
                                 constant_values=2**62))
        lbl = np.where(mask, m, np.int64(2**62))
        if np.array_equal(lbl, prev):
            break
    return np.where(mask, lbl, -1)


_NEIGH4 = ((1, 0), (-1, 0), (0, 1), (0, -1))
_NEIGH8 = _NEIGH4 + ((1, 1), (1, -1), (-1, 1), (-1, -1))


def _label_tile_values(vals: np.ndarray, pid: np.ndarray,
                       connect8: bool = False) -> np.ndarray:
    """Min-label propagation where components are runs of EQUAL-VALUED
    pixels — the actual GDALPolygonize semantics (alg/polygonize.cpp:73
    merges runs of equal pixels; the nonzero-mask variant below is its
    binary special case). ``connect8`` adds the diagonal adjacency
    (GDALPolygonize 8CONNECTED=8, alg/polygonize.cpp:87). Every pixel
    belongs to a component."""
    inf = np.int64(2 ** 62)
    lbl = pid.copy()

    def shifted(a: np.ndarray, dy: int, dx: int, fill) -> np.ndarray:
        out = np.full_like(a, fill)
        ys_d = slice(max(dy, 0), a.shape[0] + min(dy, 0))
        ys_s = slice(max(-dy, 0), a.shape[0] + min(-dy, 0))
        xs_d = slice(max(dx, 0), a.shape[1] + min(dx, 0))
        xs_s = slice(max(-dx, 0), a.shape[1] + min(-dx, 0))
        out[ys_d, xs_d] = a[ys_s, xs_s]
        return out

    neigh = _NEIGH8 if connect8 else _NEIGH4
    while True:
        prev = lbl
        m = lbl
        for dy, dx in neigh:
            nl = shifted(lbl, dy, dx, inf)
            nv = shifted(vals, dy, dx, np.int64(-2 ** 62))
            m = np.minimum(m, np.where(nv == vals, nl, inf))
        lbl = m
        if np.array_equal(lbl, prev):
            break
    return lbl


def tile_components_values(tiles: DataFrame, grid_w: int,
                           dtype: str = "int64", connect8: bool = False
                           ) -> tuple[DataFrame, DataFrame]:
    """Per-tile equal-valued labeling pass (value-aware polygonize).

    Returns (parts, borders): parts — (lbl, value, n_pixels, bbox) per
    tile-local equal-valued component; borders — (gx, gy, lbl, value)
    for every tile-border pixel."""
    np_dtype = np.dtype(dtype)
    t = TILE_PX

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_parts = []
            out_borders = []
            for _, row in pdf.iterrows():
                buf = np.frombuffer(row["data"], dtype=np_dtype) \
                    .reshape(t, t).astype(np.int64)
                ty0 = int(row["ty"]) * t
                tx0 = int(row["tx"]) * t
                gy, gx = np.mgrid[0:t, 0:t]
                gx = gx + tx0
                gy = gy + ty0
                pid = gy * np.int64(grid_w) + gx
                lbl = _label_tile_values(buf, pid, connect8)
                flat_l = lbl.ravel()
                flat_v = buf.ravel()
                flat_x = gx.ravel()
                flat_y = gy.ravel()
                uniq, idx, inv = np.unique(flat_l, return_index=True,
                                           return_inverse=True)
                n = len(uniq)
                cnt = np.bincount(inv, minlength=n)
                mnx = np.full(n, np.iinfo(np.int64).max, dtype=np.int64)
                mny = mnx.copy()
                mxx = np.full(n, np.iinfo(np.int64).min, dtype=np.int64)
                mxy = mxx.copy()
                np.minimum.at(mnx, inv, flat_x)
                np.minimum.at(mny, inv, flat_y)
                np.maximum.at(mxx, inv, flat_x)
                np.maximum.at(mxy, inv, flat_y)
                out_parts.extend(zip(uniq.tolist(),
                                     flat_v[idx].tolist(), cnt.tolist(),
                                     mnx.tolist(), mny.tolist(),
                                     mxx.tolist(), mxy.tolist()))
                edge = np.zeros((t, t), dtype=bool)
                edge[0, :] = edge[-1, :] = True
                edge[:, 0] = edge[:, -1] = True
                ey, ex = np.nonzero(edge)
                out_borders.extend(zip(gx[ey, ex].tolist(),
                                       gy[ey, ex].tolist(),
                                       lbl[ey, ex].tolist(),
                                       buf[ey, ex].tolist()))
            yield pd.DataFrame(
                [p + (0,) for p in out_parts]
                + [(b[2], b[3], 0, b[0], b[1], 0, 0, 1)
                   for b in out_borders],
                columns=["lbl", "value", "n_pixels", "min_gx", "min_gy",
                         "max_gx", "max_gy", "is_border"])

    mixed = tiles.mapInPandas(
        run, "lbl long, value long, n_pixels long, min_gx long,"
             " min_gy long, max_gx long, max_gy long, is_border int"
    ).cache()
    parts = mixed.filter("is_border = 0").drop("is_border")
    borders = mixed.filter("is_border = 1").select(
        F.col("min_gx").alias("gx"), F.col("min_gy").alias("gy"),
        "lbl", "value")
    return parts, borders


def cross_tile_edges_values(borders: DataFrame,
                            tile_px: int = TILE_PX,
                            connect8: bool = False) -> DataFrame:
    """(la, lb) label pairs for adjacent EQUAL-VALUED pixels in
    different tiles (4-adjacency; ``connect8`` adds the two downward
    diagonals — a cross-tile diagonal neighbor is always in the border
    ring of both tiles, so the border table suffices)."""
    a = borders.select(F.col("gx").alias("ax"), F.col("gy").alias("ay"),
                       F.col("lbl").alias("la"),
                       F.col("value").alias("va"))
    b = borders.select(F.col("gx").alias("bx"), F.col("gy").alias("by"),
                       F.col("lbl").alias("lb"),
                       F.col("value").alias("vb"))
    right = a.join(b, (F.col("bx") == F.col("ax") + 1)
                   & (F.col("by") == F.col("ay"))
                   & (F.expr(f"ax % {tile_px}") == tile_px - 1))
    down = a.join(b, (F.col("by") == F.col("ay") + 1)
                  & (F.col("bx") == F.col("ax"))
                  & (F.expr(f"ay % {tile_px}") == tile_px - 1))
    parts = [right.select("la", "lb", "va", "vb"),
             down.select("la", "lb", "va", "vb")]
    if connect8:
        t1 = tile_px - 1
        dr = a.join(b, (F.col("bx") == F.col("ax") + 1)
                    & (F.col("by") == F.col("ay") + 1)
                    & ((F.expr(f"ax % {tile_px}") == t1)
                       | (F.expr(f"ay % {tile_px}") == t1)))
        dl = a.join(b, (F.col("bx") == F.col("ax") - 1)
                    & (F.col("by") == F.col("ay") + 1)
                    & ((F.expr(f"ax % {tile_px}") == 0)
                       | (F.expr(f"ay % {tile_px}") == t1)))
        parts += [dr.select("la", "lb", "va", "vb"),
                  dl.select("la", "lb", "va", "vb")]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return (out.filter("la <> lb and va = vb")
            .select("la", "lb").distinct())


def polygonize_by_value(tiles: DataFrame, grid_w: int,
                        dtype: str = "int64",
                        connect8: bool = False) -> DataFrame:
    """Full value-aware polygonize: (comp, value, n_pixels, bbox) per
    connected component of EQUAL-VALUED pixels — 4-connected by default,
    diagonal adjacency with ``connect8`` (GDALPolygonize 8CONNECTED=8,
    alg/polygonize.cpp:87); comp = min global pixel id of the component
    (GDALPolygonize over the band values — the iso-band polygon output
    of gdal_contour -p composes as this over a band-classified
    raster)."""
    parts, borders = tile_components_values(tiles, grid_w, dtype,
                                            connect8)
    labels = propagate_labels(
        parts, cross_tile_edges_values(borders, connect8=connect8))
    return (
        parts.join(labels, "lbl")
        .groupBy("comp").agg(
            F.min("value").alias("value"),
            F.sum("n_pixels").alias("n_pixels"),
            F.min("min_gx").alias("min_gx"),
            F.min("min_gy").alias("min_gy"),
            F.max("max_gx").alias("max_gx"),
            F.max("max_gy").alias("max_gy"))
    )


def polygonize_values_oracle_sql(raster_px: int, band_np,
                                 connect8: bool = False) -> str:
    """Ground truth for the value-aware polygonize: an INDEPENDENT
    single-machine BFS over the closed-form banded DEM grid (no tiling,
    no label propagation — plain flood fill), computed at oracle-build
    time and emitted as a VALUES table. (A DuckDB 1.0 recursive CTE
    floods every reachable smaller label — O(Σ nᵢ²) rows, measured
    ~190 s at 128² — so the BFS literal table is the honest fast
    oracle; DuckDB ≥1.3's USING KEY would fix the CTE.)
    ``band_np(gx, gy) -> int array`` maps pixel coords to band values.
    """
    from collections import deque

    w = raster_px
    gy, gx = np.mgrid[0:w, 0:w]
    band = np.asarray(band_np(gx, gy), dtype=np.int64)
    comp = np.full((w, w), -1, dtype=np.int64)
    rows = []
    for sy in range(w):
        for sx in range(w):
            if comp[sy, sx] >= 0:
                continue
            v = band[sy, sx]
            cid = sy * w + sx  # BFS from raster-scan order ⇒ min pid
            q = deque([(sy, sx)])
            comp[sy, sx] = cid
            n = 0
            mnx = mxx = sx
            mny = mxy = sy
            while q:
                y, x = q.popleft()
                n += 1
                mnx, mxx = min(mnx, x), max(mxx, x)
                mny, mxy = min(mny, y), max(mxy, y)
                neigh = ((y + 1, x), (y - 1, x), (y, x + 1), (y, x - 1))
                if connect8:
                    neigh += ((y + 1, x + 1), (y + 1, x - 1),
                              (y - 1, x + 1), (y - 1, x - 1))
                for yy, xx in neigh:
                    if 0 <= yy < w and 0 <= xx < w \
                            and comp[yy, xx] < 0 and band[yy, xx] == v:
                        comp[yy, xx] = cid
                        q.append((yy, xx))
            rows.append(f"({cid}, {int(v)}, {n}, {mnx}, {mny},"
                        f" {mxx}, {mxy})")
    return (f"select * from (values {', '.join(rows)})"
            f" t(comp, value, n_pixels, min_gx, min_gy, max_gx, max_gy)")


def tile_components(tiles: DataFrame, grid_w: int,
                    dtype: str = "int64") -> tuple[DataFrame, DataFrame]:
    """Per-tile labeling pass.

    Returns (parts, borders):
    parts   — (lbl, n_pixels, min_gx, min_gy, max_gx, max_gy) per
              tile-local component (lbl = min global pid in the tile part)
    borders — (gx, gy, lbl) for occupied tile-border pixels
    """
    np_dtype = np.dtype(dtype)
    t = TILE_PX

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_parts = []
            out_borders = []
            for _, row in pdf.iterrows():
                buf = np.frombuffer(row["data"], dtype=np_dtype).reshape(t, t)
                mask = buf != 0
                if not mask.any():
                    continue
                ty0 = int(row["ty"]) * t
                tx0 = int(row["tx"]) * t
                gy, gx = np.mgrid[0:t, 0:t]
                gx = gx + tx0
                gy = gy + ty0
                pid = gy * np.int64(grid_w) + gx
                lbl = _label_tile(mask, pid)
                flat_l = lbl[mask]
                flat_x = gx[mask]
                flat_y = gy[mask]
                # vectorized per-component stats: unique labels +
                # scatter-min/max (no Python loop over components)
                uniq, inv = np.unique(flat_l, return_inverse=True)
                n = len(uniq)
                cnt = np.bincount(inv, minlength=n)
                mnx = np.full(n, np.iinfo(np.int64).max, dtype=np.int64)
                mny = mnx.copy()
                mxx = np.full(n, np.iinfo(np.int64).min, dtype=np.int64)
                mxy = mxx.copy()
                np.minimum.at(mnx, inv, flat_x)
                np.minimum.at(mny, inv, flat_y)
                np.maximum.at(mxx, inv, flat_x)
                np.maximum.at(mxy, inv, flat_y)
                out_parts.extend(zip(uniq.tolist(), cnt.tolist(),
                                     mnx.tolist(), mny.tolist(),
                                     mxx.tolist(), mxy.tolist()))
                edge = mask.copy()
                edge[1:-1, 1:-1] = False
                ey, ex = np.nonzero(edge)
                out_borders.extend(zip(gx[ey, ex].tolist(),
                                       gy[ey, ex].tolist(),
                                       lbl[ey, ex].tolist(),
                                       np.ones(len(ey), np.int64).tolist()))
            yield pd.DataFrame(
                [p + (0,) for p in out_parts] + [
                    (b[2], 0, b[0], b[1], 0, 0, 1) for b in out_borders],
                columns=["lbl", "n_pixels", "min_gx", "min_gy",
                         "max_gx", "max_gy", "is_border"],
            )

    mixed = tiles.mapInPandas(
        run, "lbl long, n_pixels long, min_gx long, min_gy long, "
             "max_gx long, max_gy long, is_border int").cache()
    parts = mixed.filter("is_border = 0").drop("is_border")
    borders = mixed.filter("is_border = 1").select(
        F.col("min_gx").alias("gx"), F.col("min_gy").alias("gy"), "lbl")
    return parts, borders


def cross_tile_edges(borders: DataFrame, tile_px: int = TILE_PX) -> DataFrame:
    """(la, lb) label pairs for 4-adjacent occupied pixels in *different*
    tiles (same-tile adjacency is already merged)."""
    a = borders.select(F.col("gx").alias("ax"), F.col("gy").alias("ay"),
                       F.col("lbl").alias("la"))
    b = borders.select(F.col("gx").alias("bx"), F.col("gy").alias("by"),
                       F.col("lbl").alias("lb"))
    right = a.join(b, (F.col("bx") == F.col("ax") + 1)
                   & (F.col("by") == F.col("ay"))
                   & (F.expr(f"ax % {tile_px}") == tile_px - 1))
    down = a.join(b, (F.col("by") == F.col("ay") + 1)
                  & (F.col("bx") == F.col("ax"))
                  & (F.expr(f"ay % {tile_px}") == tile_px - 1))
    return (right.select("la", "lb").unionByName(down.select("la", "lb"))
            .filter("la <> lb").distinct())


def propagate_labels(parts: DataFrame, edges: DataFrame,
                     max_iter: int = 50) -> DataFrame:
    """Distributed min-label propagation to fixpoint: (lbl, comp).

    Each round takes the min over graph neighbors AND path-halves
    (comp ← comp[comp], a pointer jump): plain neighbor propagation
    advances one hop per round (a k-pixel chain costs k rounds), the
    jump makes convergence O(log diameter) — the standard large-star
    contraction trick for distributed connected components."""
    # localCheckpoint (eager) instead of cache(): the loop's frames are
    # re-referenced several times per round (stepped feeds its own jump
    # join) and grow lineage each round — checkpointing truncates the
    # plan AND materializes, so a round costs one bounded job instead of
    # replaying all earlier rounds (measured 18.6 s -> 6.2 s warm on the
    # dedup-cluster graph). Standard practice for iterative algorithms;
    # on a cluster, reliable checkpointing is the fault-tolerant variant.
    labels = parts.select("lbl").distinct() \
        .withColumn("comp", F.col("lbl")).localCheckpoint(eager=True)
    sym = edges.unionByName(
        edges.select(F.col("lb").alias("la"), F.col("la").alias("lb"))
    ).distinct().localCheckpoint(eager=True)
    for _ in range(max_iter):
        neigh = (
            sym.join(labels.withColumnRenamed("lbl", "lb")
                     .withColumnRenamed("comp", "nc"), "lb")
            .groupBy("la").agg(F.min("nc").alias("nmin"))
            .withColumnRenamed("la", "lbl")
        )
        stepped = (
            labels.join(neigh, "lbl", "left")
            .select("lbl", F.col("comp").alias("_old"),
                    F.least("comp", F.coalesce("nmin", "comp"))
                    .alias("mid"))
        )
        # pointer jump: follow mid one more level (mid is itself a lbl)
        jump = stepped.select(F.col("lbl").alias("_jl"),
                              F.col("mid").alias("_jc"))
        # _old rides along so convergence is a scan of the checkpointed
        # frame, not an extra labels⋈new_labels shuffle job per round
        updated = (
            stepped.join(jump, stepped.mid == jump._jl, "left")
            .select("lbl", "_old",
                    F.least("mid", F.coalesce("_jc", "mid")).alias("comp"))
            .localCheckpoint(eager=True)
        )
        changed = updated.filter("comp < _old").count()
        labels = updated.select("lbl", "comp")
        if changed == 0:
            break
    return labels


def polygonize_summary(tiles: DataFrame, grid_w: int,
                       dtype: str = "int64") -> DataFrame:
    """Full polygonize: (comp, n_pixels, min_gx, min_gy, max_gx, max_gy)
    per 4-connected component of the nonzero mask; comp = min global
    pixel id (gy*grid_w + gx) of the component."""
    parts, borders = tile_components(tiles, grid_w, dtype)
    labels = propagate_labels(parts, cross_tile_edges(borders))
    return (
        parts.join(labels, "lbl")
        .groupBy("comp").agg(
            F.sum("n_pixels").alias("n_pixels"),
            F.min("min_gx").alias("min_gx"), F.min("min_gy").alias("min_gy"),
            F.max("max_gx").alias("max_gx"), F.max("max_gy").alias("max_gy"))
    )


def sieve_pixels(px: DataFrame, grid_w: int,
                 min_pixels: int = 2, connect8: bool = False) -> DataFrame:
    """Sieve filter (alg/gdalsievefilter.cpp:178): drop pixels whose
    4-connected occupancy component is smaller than ``min_pixels``.
    (GDAL merges small polygons into their largest neighbour; on a
    sparse occupancy raster removal ≡ merging into the zero background —
    the binary-mask case.)

    Works directly on sparse pixel rows (gx, gy, cnt): adjacency is a
    coordinate self-join, labels propagate by the same distributed
    min-label loop as polygonize. At dense-raster scale the tiled
    two-level labeling in `polygonize_summary` supplies the labels
    instead; the filter step is identical.
    """
    labeled = label_pixels(px, grid_w, connect8)
    sizes = labeled.groupBy("comp").agg(F.count(F.lit(1)).alias("_n"))
    keep = sizes.filter(F.col("_n") >= min_pixels).select("comp")
    return (
        labeled.join(keep, "comp", "left_semi")
        .select("gx", "gy", "cnt")
    )


def label_pixels(px: DataFrame, grid_w: int,
                 connect8: bool = False) -> DataFrame:
    """(gx, gy, …) pixel rows → + ``comp`` (component id = min pixel
    id; 4-connected, diagonals with ``connect8`` — gdal_sieve -8 /
    GDALSieveFilter 8CONNECTED). Adjacency is per-direction equi-joins
    unioned, never one OR-join: an OR between the neighbor conditions
    defeats equi-key extraction and Spark plans a
    BroadcastNestedLoopJoin over all pixel pairs (the same split
    cross_tile_edges uses)."""
    pix = px.withColumn("pid", F.expr(f"gy * {grid_w} + gx"))
    a = pix.select(F.col("pid").alias("la"), "gx", "gy")
    b = pix.select(F.col("pid").alias("lb"),
                   F.col("gx").alias("bx"), F.col("gy").alias("by"))
    right = a.join(b, (F.col("bx") == F.col("gx") + 1)
                   & (F.col("by") == F.col("gy")))
    down = a.join(b, (F.col("bx") == F.col("gx"))
                  & (F.col("by") == F.col("gy") + 1))
    edges = right.select("la", "lb").unionByName(down.select("la", "lb"))
    if connect8:
        dr = a.join(b, (F.col("bx") == F.col("gx") + 1)
                    & (F.col("by") == F.col("gy") + 1))
        dl = a.join(b, (F.col("bx") == F.col("gx") - 1)
                    & (F.col("by") == F.col("gy") + 1))
        edges = edges.unionByName(dr.select("la", "lb")) \
            .unionByName(dl.select("la", "lb"))
    labels = propagate_labels(pix.select(F.col("pid").alias("lbl")), edges)
    return pix.join(labels, pix.pid == labels.lbl).drop("lbl", "pid")


def sieve_checksum_oracle_sql(points_sql: str, z: int, min_pixels: int = 2,
                              tile_px_log2: int = 6,
                              connect8: bool = False) -> str:
    """DuckDB ground truth: recursive-CTE components over the occupancy
    graph, then the GDAL checksum of the sieved count raster per tile."""
    from gdal_spark.raster import CHECKSUM_PRIMES, gpixel_exprs

    gxe, gye = gpixel_exprs("lon", "lat", z)
    grid_w = 1 << (z + tile_px_log2)
    t = 1 << tile_px_log2
    primes = ", ".join(str(p) for p in CHECKSUM_PRIMES)
    diag = ("or (b.gx = a.gx + 1 and b.gy = a.gy + 1)"
            " or (b.gx = a.gx - 1 and b.gy = a.gy + 1)"
            if connect8 else "")
    return f"""
with recursive px as (
  select gx, gy, cnt, gy * {grid_w} + gx as pid from (
    select {gxe} as gx, {gye} as gy, count(*) as cnt
    from ({points_sql}) p group by 1, 2
  ) d
),
e as (
  select a.pid as u, b.pid as v from px a join px b
    on (b.gx = a.gx + 1 and b.gy = a.gy) or (b.gx = a.gx and b.gy = a.gy + 1)
       {diag}
),
esym as (select u, v from e union select v, u from e),
lbl(pid, l) as (
  select pid, pid from px
  union
  select es.v, lbl.l from lbl join esym es on es.u = lbl.pid
    where lbl.l < es.v
),
final as (select pid, min(l) as comp from lbl group by pid),
sizes as (select comp, count(*) as n from final group by comp),
kept as (
  select px.* from px
  join final on final.pid = px.pid
  join sizes on sizes.comp = final.comp
  where sizes.n >= {min_pixels}
)
select {z} as z, gx // {t} as tx, gy // {t} as ty,
       cast(sum(cnt % ([{primes}])[(((gy % {t}) * {t} + (gx % {t})) % 11) + 1])
         % 65536 as bigint) as checksum,
       count(*) as n_nonzero
from kept group by 1, 2, 3
"""


def polygonize_oracle_sql(points_sql: str, z: int, tile_px_log2: int = 6) -> str:
    """DuckDB recursive-CTE ground truth: min-label propagation over the
    occupied-pixel adjacency graph of the z-zoom point burn."""
    from gdal_spark.raster import gpixel_exprs

    gxe, gye = gpixel_exprs("lon", "lat", z)
    grid_w = 1 << (z + tile_px_log2)
    return f"""
with recursive px as (
  select gx, gy, gy * {grid_w} + gx as pid from (
    select distinct {gxe} as gx, {gye} as gy from ({points_sql}) p
  ) d
),
e as (
  select a.pid as u, b.pid as v from px a join px b
    on (b.gx = a.gx + 1 and b.gy = a.gy) or (b.gx = a.gx and b.gy = a.gy + 1)
),
esym as (select u, v from e union select v, u from e),
lbl(pid, l) as (
  select pid, pid from px
  union
  select es.v, lbl.l from lbl join esym es on es.u = lbl.pid
    where lbl.l < es.v
),
final as (select pid, min(l) as comp from lbl group by pid)
select f.comp, count(*) as n_pixels,
       min(px.gx) as min_gx, min(px.gy) as min_gy,
       max(px.gx) as max_gx, max(px.gy) as max_gy
from final f join px on px.pid = f.pid
group by f.comp
"""


# ---------------------------------------------------------------------------
# Ring extraction (the polygon-geometry output of GDALPolygonize —
# alg/polygonize_polygonizer.cpp RPolygon arc collection): per component
# the boundary decomposes into closed rings (1 outer + holes). Ring COUNT
# is pure combinatorics — Euler characteristic of the pixel complex:
# χ = V − E + F over distinct corners/sides/pixels, and
# n_rings = 2 − χ for a connected region — computable as DISTINCT-count
# aggregates in both engines (exact, scales relationally). Ring GEOMETRY
# is traced per component in a grouped pandas kernel (GDAL's polygonizer
# is likewise sequential per polygon).
# ---------------------------------------------------------------------------


def polygonize_rings_summary(labeled: DataFrame, grid_w: int) -> DataFrame:
    """(gx, gy, comp) → per component: pixel/corner/side counts, boundary
    edge count, Euler ring count."""
    w1 = grid_w + 1
    corners = labeled.select(
        "comp",
        F.explode(F.expr(
            f"array((gy) * {w1} + gx, (gy) * {w1} + gx + 1,"
            f" (gy + 1) * {w1} + gx, (gy + 1) * {w1} + gx + 1)"))
        .alias("cid"))
    sides = labeled.select(
        "comp",
        F.explode(F.expr(
            f"array(2 * (gy * {w1} + gx), 2 * ((gy + 1) * {w1} + gx),"
            f" 2 * (gy * {w1} + gx) + 1, 2 * (gy * {w1} + gx + 1) + 1)"))
        .alias("sid"))
    v = corners.groupBy("comp").agg(
        F.countDistinct("cid").alias("n_corners"))
    side_mult = sides.groupBy("comp", "sid").agg(
        F.count(F.lit(1)).alias("m"))
    e = side_mult.groupBy("comp").agg(
        F.count(F.lit(1)).alias("n_sides"),
        F.sum(F.when(F.col("m") == 1, 1).otherwise(0))
        .alias("n_boundary_edges"))
    f_ = labeled.groupBy("comp").agg(F.count(F.lit(1)).alias("n_pixels"))
    return (
        f_.join(v, "comp").join(e, "comp")
        .withColumn("n_rings", F.expr(
            "2 - (n_corners - n_sides + n_pixels)"))
        .select("comp", "n_pixels", "n_corners", "n_sides",
                "n_boundary_edges", "n_rings")
    )


def rings_oracle_sql(points_sql: str, z: int, tile_px_log2: int = 6) -> str:
    """DuckDB ground truth: recursive-CTE components + the identical
    corner/side DISTINCT counts."""
    from gdal_spark.raster import gpixel_exprs

    gxe, gye = gpixel_exprs("lon", "lat", z)
    grid_w = 1 << (z + tile_px_log2)
    w1 = grid_w + 1
    return f"""
with recursive px as (
  select gx, gy, gy * {grid_w} + gx as pid from (
    select distinct {gxe} as gx, {gye} as gy from ({points_sql}) p
  ) d
),
e as (
  select a.pid as u, b.pid as v from px a join px b
    on (b.gx = a.gx + 1 and b.gy = a.gy) or (b.gx = a.gx and b.gy = a.gy + 1)
),
esym as (select u, v from e union select v, u from e),
lbl(pid, l) as (
  select pid, pid from px
  union
  select es.v, lbl.l from lbl join esym es on es.u = lbl.pid
    where lbl.l < es.v
),
final as (select pid, min(l) as comp from lbl group by pid),
lab as (select f.comp, px.gx, px.gy from final f join px on px.pid = f.pid),
cor as (
  select comp, (gy) * {w1} + gx as cid from lab
  union all select comp, (gy) * {w1} + gx + 1 from lab
  union all select comp, (gy + 1) * {w1} + gx from lab
  union all select comp, (gy + 1) * {w1} + gx + 1 from lab
),
sid as (
  select comp, 2 * (gy * {w1} + gx) as sid from lab
  union all select comp, 2 * ((gy + 1) * {w1} + gx) from lab
  union all select comp, 2 * (gy * {w1} + gx) + 1 from lab
  union all select comp, 2 * (gy * {w1} + gx + 1) + 1 from lab
),
vs as (select comp, count(distinct cid) as n_corners from cor group by comp),
sm as (select comp, sid, count(*) as m from sid group by comp, sid),
es2 as (
  select comp, count(*) as n_sides,
         cast(sum(case when m = 1 then 1 else 0 end) as bigint)
           as n_boundary_edges
  from sm group by comp
),
fs as (select comp, count(*) as n_pixels from lab group by comp)
select fs.comp, fs.n_pixels, vs.n_corners, es2.n_sides,
       es2.n_boundary_edges,
       2 - (vs.n_corners - es2.n_sides + fs.n_pixels) as n_rings
from fs join vs on vs.comp = fs.comp join es2 on es2.comp = fs.comp
"""


def trace_component_rings(pixels: set[tuple[int, int]]) -> list[list[tuple]]:
    """Boundary rings of one pixel set: directed boundary edges with the
    interior kept on a fixed side, cycles closed with a tightest-turn
    policy at degree-4 corners. Returns rings as vertex lists (closed)."""
    out_edges: dict[tuple[int, int], list[tuple[int, int]]] = {}

    def add(a, b):
        out_edges.setdefault(a, []).append(b)

    for (x, y) in pixels:
        if (x, y - 1) not in pixels:
            add((x, y), (x + 1, y))
        if (x + 1, y) not in pixels:
            add((x + 1, y), (x + 1, y + 1))
        if (x, y + 1) not in pixels:
            add((x + 1, y + 1), (x, y + 1))
        if (x - 1, y) not in pixels:
            add((x, y + 1), (x, y))
    rings = []
    while out_edges:
        start = min(out_edges)
        cur = start
        prev_dir = None
        ring = [cur]
        while True:
            cands = out_edges[cur]
            if len(cands) == 1 or prev_dir is None:
                nxt = cands[0]
            else:
                # tightest right turn relative to the incoming direction
                def turn(nd):
                    dx, dy = nd[0] - cur[0], nd[1] - cur[1]
                    px_, py_ = prev_dir
                    cross = px_ * dy - py_ * dx
                    dot = px_ * dx + py_ * dy
                    # order: right (cross>0 in y-down), straight, left
                    return (0 if cross > 0 else (1 if dot > 0 else 2))
                nxt = min(cands, key=turn)
            cands.remove(nxt)
            if not cands:
                del out_edges[cur]
            prev_dir = (nxt[0] - cur[0], nxt[1] - cur[1])
            ring.append(nxt)
            cur = nxt
            if cur == start:
                break
        rings.append(ring)
    return rings


def polygonize_ring_features(labeled: DataFrame) -> DataFrame:
    """Per component: traced boundary rings as Polygon WKB (outer ring =
    largest |area|, the rest holes) — the feature-geometry surface."""
    import numpy as np

    from gdal_spark import geom as G
    from gdal_spark import wkb as W

    def per_comp(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        pix = set(zip(pdf["gx"].astype(int), pdf["gy"].astype(int)))
        rings = trace_component_rings(pix)
        arrs = [np.asarray(r, dtype=np.float64) for r in rings]
        arrs.sort(key=lambda a: -abs(G.ring_area(a)))
        return pd.DataFrame({
            "comp": [int(key[0])],
            "n_rings": [len(arrs)],
            "geom": [bytearray(W.dumps_polygon([a.tolist() for a in arrs]))],
        })

    return labeled.groupBy("comp").applyInPandas(
        per_comp, "comp long, n_rings long, geom binary")


def near_pixels(tiles: DataFrame, threshold: float,
                dtype: str = "int64") -> DataFrame:
    """(gx, gy) rows of pixels with value <= threshold — the sparse
    near-black mask. Only mask pixels ever leave the decode kernel, so
    at corpus scale the downstream component work is linear in the
    collar size, not the raster size."""
    np_dtype = np.dtype(dtype)
    t = TILE_PX

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            outs = []
            for _, row in pdf.iterrows():
                buf = np.frombuffer(row["data"], dtype=np_dtype) \
                    .reshape(t, t)
                yy, xx = np.nonzero(buf <= threshold)
                if len(xx):
                    outs.append(pd.DataFrame({
                        "gx": xx.astype(np.int64) + int(row["tx"]) * t,
                        "gy": yy.astype(np.int64) + int(row["ty"]) * t}))
            yield (pd.concat(outs) if outs
                   else pd.DataFrame({"gx": [], "gy": []}, dtype=np.int64))

    return tiles.mapInPandas(run, "gx long, gy long")


def nearblack_collar(px: DataFrame, grid_w: int,
                     raster_px: int) -> DataFrame:
    """nearblack (apps/nearblack_lib.cpp): the collar = near-black mask
    pixels whose 4-connected component touches the raster border —
    these are set to the target color; interior near-black lakes
    survive. Reuses the distributed min-label components machinery
    (label_pixels / propagate_labels), so the semantics are the
    edge-connected flood GDAL's two-pass scanline approximates."""
    labeled = label_pixels(px, grid_w)
    w1 = raster_px - 1
    border_comps = (
        labeled.filter(f"gx = 0 or gy = 0 or gx = {w1} or gy = {w1}")
        .select("comp").distinct())
    return (labeled.join(border_comps, "comp", "left_semi")
            .select("gx", "gy"))


def nearblack_oracle_sql(raster_px: int, value_sql: str,
                         threshold: int) -> str:
    """DuckDB ground truth: BFS-from-border over the near-black
    adjacency graph (recursive CTE with set semantics — converges in
    collar-thickness iterations), independent of the engine's
    min-label + pointer-jumping formulation."""
    w = raster_px
    return f"""
with recursive px as (
  select gx, gy, gy * {w} + gx as pid from (
    select a.range as gx, b.range as gy
    from range(0, {w}) a cross join range(0, {w}) b) g
  where ({value_sql}) <= {threshold}
),
e as (
  select a.pid as u, b.pid as v from px a join px b
    on (b.gx = a.gx + 1 and b.gy = a.gy)
    or (b.gx = a.gx and b.gy = a.gy + 1)
),
esym as (select u, v from e union select v, u from e),
reach(pid) as (
  select pid from px
  where gx = 0 or gy = 0 or gx = {w - 1} or gy = {w - 1}
  union
  select es.v from reach join esym es on es.u = reach.pid
)
select px.gx as gx, px.gy as gy from px join reach using (pid)
"""
