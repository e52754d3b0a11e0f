"""Exact viewshed — GDAL's Wang et al. (2000) DP, faithfully
(alg/viewshed/viewshed_executor.cpp).

Semantics mirrored exactly (OutputMode::Normal, CellMode::Edge — the
defaults; no curvature adjustment, curvCoeff = 0):

- heights normalize to the observer: h ← dem − (dem[oy, ox] + obs_z)
- the observer line sweeps outward with the collinear rule
  Z(d) = H(d−1)·d/(d−1) (CalcHeightLine, :35)
- every other line processes outward from the observer column; the
  diagonal uses CalcHeightLine on the diagonal previous cell, other
  cells use CalcHeightEdge (:55) on the previous line's cells per the
  Edge mode dispatch (doEdge, :72-74)
- a cell is visible iff h + target_height ≥ Z; its OBSERVABLE height
  max(h, Z) propagates (setOutput, :157)
- lines above and below the observer both chain from the observer
  line's post-update observable heights

Scale stance: one viewshed's DP is inherently a sequential wavefront —
GDAL itself runs it single-machine per observer, window-bounded by
-md/maxDistance. The distributed axis is OBSERVERS: `viewshed_exact`
gathers each observer's -md tile window via explode(window tile ids) →
equi-join on (tx, ty) — never observers × all tiles — and runs the DP
per observer group in parallel (the cumulative-viewshed shape of
alg/viewshed/cumulative.cpp — a grid of observers — is exactly this
plan). One observer group holds O(md²) pixels regardless of raster
size. The pure-Catalyst sampled-ray approximation in raster.py remains
the single-raster scale path.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gdal_spark.raster import TILE_PX, decode_tile

OBS_Z = 0.0  # observer height above the DEM
TARGET_HEIGHT = 0.0  # target height above the DEM


def wang_viewshed_np(dem: np.ndarray, ox: int, oy: int,
                     obs_z: float = OBS_Z) -> np.ndarray:
    """Line-sweep transcription of ViewshedExecutor (uint8 visibility)."""
    h = np.asarray(dem, dtype=np.float64)
    ny, nx = h.shape
    z_obs = h[oy, ox] + obs_z
    vis = np.zeros((ny, nx), dtype=np.uint8)

    def process_first_line() -> np.ndarray:
        line = h[oy].copy() - z_obs
        vis[oy, ox] = 1
        # left (adjacent cell: dfZ = its own value → always visible
        # for target_height ≥ 0, setOutput(:157) semantics)
        if ox - 1 >= 0:
            vis[oy, ox - 1] = 1
            for x in range(ox - 2, -1, -1):
                d = ox - x
                z = line[x + 1] * d / (d - 1)
                vis[oy, x] = 1 if line[x] + TARGET_HEIGHT >= z else 0
                line[x] = max(line[x], z)
        # right
        if ox + 1 < nx:
            vis[oy, ox + 1] = 1
            for x in range(ox + 2, nx):
                d = x - ox
                z = line[x - 1] * d / (d - 1)
                vis[oy, x] = 1 if line[x] + TARGET_HEIGHT >= z else 0
                line[x] = max(line[x], z)
        return line

    def edge(i: int, j: int, za: float, zb: float) -> float:
        return (za * i + zb * (j - i)) / (j - 1)

    def process_line(y: int, last: np.ndarray) -> np.ndarray:
        dy = abs(y - oy)
        line = h[y].copy() - z_obs
        # observer column
        if dy == 1:
            z = line[ox]
        else:
            z = last[ox] * dy / (dy - 1)
        vis[y, ox] = 1 if line[ox] + TARGET_HEIGHT >= z else 0
        line[ox] = max(line[ox], z)
        # left sweep
        for x in range(ox - 1, -1, -1):
            dx = ox - x
            if dx == dy:
                z = line[x] if dx == 1 else last[x + 1] * dx / (dx - 1)
            elif dx >= dy:
                z = edge(dy, dx, last[x + 1], line[x + 1])
            else:
                z = edge(dx, dy, last[x + 1], last[x])
            vis[y, x] = 1 if line[x] + TARGET_HEIGHT >= z else 0
            line[x] = max(line[x], z)
        # right sweep
        for x in range(ox + 1, nx):
            dx = x - ox
            if dx == dy:
                z = line[x] if dx == 1 else last[x - 1] * dx / (dx - 1)
            elif dx >= dy:
                z = edge(dy, dx, last[x - 1], line[x - 1])
            else:
                z = edge(dx, dy, last[x - 1], last[x])
            vis[y, x] = 1 if line[x] + TARGET_HEIGHT >= z else 0
            line[x] = max(line[x], z)
        return line

    first = process_first_line()
    last = first
    for y in range(oy + 1, ny):
        last = process_line(y, last)
    last = first
    for y in range(oy - 1, -1, -1):
        last = process_line(y, last)
    return vis


def wang_viewshed_memo(dem: np.ndarray, ox: int, oy: int) -> np.ndarray:
    """INDEPENDENT oracle implementation: the same Wang/Edge spec as a
    memoized cell recursion (observable height H(x, y) defined from the
    geometric rules directly), no line sweeps, no in-place updates —
    the structural cross-check for the engine kernel."""
    h = np.asarray(dem, dtype=np.float64)
    ny, nx = h.shape
    z_obs = h[oy, ox] + OBS_Z
    g = h - z_obs
    H: dict[tuple[int, int], float] = {}

    def obs_h(x: int, y: int) -> float:
        if (x, y) in H:
            return H[(x, y)]
        dx, dy = abs(x - ox), abs(y - oy)
        sx = 1 if x >= ox else -1
        sy = 1 if y >= oy else -1
        if dx == 0 and dy == 0:
            z = g[y, x]
        elif dy == 0:
            z = g[y, x] if dx == 1 else \
                obs_h(x - sx, y) * dx / (dx - 1)
        elif dx == 0:
            z = g[y, x] if dy == 1 else \
                obs_h(x, y - sy) * dy / (dy - 1)
        elif dx == dy:
            z = g[y, x] if dx == 1 else \
                obs_h(x - sx, y - sy) * dx / (dx - 1)
        elif dx > dy:
            za = obs_h(x - sx, y - sy)
            zb = obs_h(x - sx, y)
            z = (za * dy + zb * (dx - dy)) / (dx - 1)
        else:
            za = obs_h(x - sx, y - sy)
            zb = obs_h(x, y - sy)
            z = (za * dx + zb * (dy - dx)) / (dy - 1)
        out = z if (dx, dy) == (0, 0) else max(g[y, x], z)
        H[(x, y)] = out
        return out

    import sys

    old = sys.getrecursionlimit()
    sys.setrecursionlimit(max(old, 4 * (nx + ny) + 100))
    vis = np.zeros((ny, nx), dtype=np.uint8)
    try:
        for y in range(ny):
            for x in range(nx):
                dx, dy = abs(x - ox), abs(y - oy)
                if (dx, dy) == (0, 0):
                    vis[y, x] = 1
                    continue
                obs_h(x, y)  # fill memo up to this cell
                # recompute the REQUIRED height Z (pre-max) for the
                # visibility test
                sx = 1 if x >= ox else -1
                sy = 1 if y >= oy else -1
                if dy == 0:
                    z = g[y, x] if dx == 1 else \
                        H[(x - sx, y)] * dx / (dx - 1)
                elif dx == 0:
                    z = g[y, x] if dy == 1 else \
                        H[(x, y - sy)] * dy / (dy - 1)
                elif dx == dy:
                    z = g[y, x] if dx == 1 else \
                        H[(x - sx, y - sy)] * dx / (dx - 1)
                elif dx > dy:
                    z = (H[(x - sx, y - sy)] * dy
                         + H[(x - sx, y)] * (dx - dy)) / (dx - 1)
                else:
                    z = (H[(x - sx, y - sy)] * dx
                         + H[(x, y - sy)] * (dy - dx)) / (dy - 1)
                vis[y, x] = 1 if g[y, x] + TARGET_HEIGHT >= z else 0
    finally:
        sys.setrecursionlimit(old)
    return vis


def viewshed_exact(tiles: DataFrame, observers: DataFrame,
                   raster_px: int,
                   max_distance_px: int | None = None) -> DataFrame:
    """Distributed exact viewshed: one Wang DP per OBSERVER, observers
    in parallel (the cumulative-viewshed plan, alg/viewshed/
    cumulative.cpp). Each observer gathers ONLY the tiles of its
    max-distance window (GDAL -md, alg/viewshed/viewshed.cpp options:
    the output extent is the observer box clipped to the raster) via an
    explode(window tile ids) → **equi-join on (tx, ty)** — never
    observers × all tiles, so one observer group holds
    O(window²) pixels, not the raster. ``max_distance_px=None`` means
    an unbounded window (GDAL's default), which still plans as the same
    equi-join. The Wang DP is window-exact: every cell's recursion only
    touches cells strictly between it and the observer, so cells inside
    the window have identical visibility to a full-raster run.

    Output: per observer the visible-cell count inside the window and
    an exact integer fingerprint Σ pid (global pixel ids) over visible
    cells."""
    t = TILE_PX
    w = raster_px
    md = int(max_distance_px) if max_distance_px is not None else w
    obs = (observers
           .withColumn("px0", F.greatest(F.lit(0), F.col("ox") - md))
           .withColumn("px1", F.least(F.lit(w - 1), F.col("ox") + md))
           .withColumn("py0", F.greatest(F.lit(0), F.col("oy") - md))
           .withColumn("py1", F.least(F.lit(w - 1), F.col("oy") + md)))
    obs_tiles = (obs
                 .withColumn("tx", F.explode(F.sequence(
                     (F.col("px0") / t).cast("int"),
                     (F.col("px1") / t).cast("int"))))
                 .withColumn("ty", F.explode(F.sequence(
                     (F.col("py0") / t).cast("int"),
                     (F.col("py1") / t).cast("int")))))
    chunks = (obs_tiles
              .join(tiles.select("tx", "ty", "data"), ["tx", "ty"])
              .groupBy("obs_id", "ox", "oy", "px0", "px1", "py0", "py1")
              .agg(F.collect_list(F.struct("tx", "ty", "data"))
                   .alias("tl")))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for (obs_id, ox, oy, px0, px1, py0, py1, tl) in zip(
                    pdf["obs_id"], pdf["ox"], pdf["oy"], pdf["px0"],
                    pdf["px1"], pdf["py0"], pdf["py1"], pdf["tl"]):
                px0, px1 = int(px0), int(px1)
                py0, py1 = int(py0), int(py1)
                twx0, twy0 = px0 // t, py0 // t
                ntx = px1 // t - twx0 + 1
                nty = py1 // t - twy0 + 1
                buf = np.zeros((nty * t, ntx * t), dtype=np.float64)
                for row in tl:
                    b = decode_tile(row["data"])
                    y0 = (int(row["ty"]) - twy0) * t
                    x0 = (int(row["tx"]) - twx0) * t
                    buf[y0:y0 + t, x0:x0 + t] = b
                dem = buf[py0 - twy0 * t:py1 + 1 - twy0 * t,
                          px0 - twx0 * t:px1 + 1 - twx0 * t]
                vis = wang_viewshed_np(dem, int(ox) - px0, int(oy) - py0)
                ys, xs = np.nonzero(vis)
                pid = ((ys.astype(np.int64) + py0) * w
                       + (xs.astype(np.int64) + px0))
                yield pd.DataFrame({
                    "obs_id": [int(obs_id)],
                    "n_visible": [int(vis.sum())],
                    "fingerprint": [int(pid.sum())],
                })

    return chunks.mapInPandas(
        run, "obs_id long, n_visible long, fingerprint long")


def viewshed_exact_oracle_sql(raster_px: int,
                              observers: list[tuple[int, int, int]],
                              elev_np,
                              max_distance_px: int | None = None) -> str:
    """Oracle VALUES table from the independent memoized recursion over
    the closed-form DEM (``elev_np(gx, gy) -> array``), windowed to the
    same -md observer box as the engine."""
    w = raster_px
    md = int(max_distance_px) if max_distance_px is not None else w
    gy, gx = np.mgrid[0:w, 0:w]
    dem = np.asarray(elev_np(gx, gy), dtype=np.float64)
    rows = []
    for obs_id, ox, oy in observers:
        px0, px1 = max(0, ox - md), min(w - 1, ox + md)
        py0, py1 = max(0, oy - md), min(w - 1, oy + md)
        win = dem[py0:py1 + 1, px0:px1 + 1]
        vis = wang_viewshed_memo(win, ox - px0, oy - py0)
        ys, xs = np.nonzero(vis)
        pid = (ys.astype(np.int64) + py0) * w + (xs.astype(np.int64) + px0)
        rows.append(f"({obs_id}, {int(vis.sum())}, {int(pid.sum())})")
    return (f"select * from (values {', '.join(rows)})"
            f" v(obs_id, n_visible, fingerprint)")
