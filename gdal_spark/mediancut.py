"""rgb2pct / pct2rgb — GDAL median-cut color quantization.

Replicates GDALComputeMedianCutPCT (alg/gdalmediancut.cpp:130, after
Heckbert 1982 via libtiff's tiffmedian.c) and the nearest-color
assignment step of GDALDitherRGB2PCT (alg/gdaldither.cpp) as used by
swig/python/gdal-utils rgb2pct.py:

- pixels quantize to 5 bits/channel (nBits=5, nCLevels=32) and build a
  32x32x32 histogram;
- one box spans the occupied RGB extent; boxes split until nColors
  exist: always the box with the LARGEST total among boxes with any
  extent, along its longest axis (R wins ties over G over B), at the
  median index i = first index where the axis-marginal cumsum reaches
  total/2 (at least min+1); both halves shrink to their occupied
  extent;
- palette entry per box = ((min + max) << 3) / 2 per channel (integer
  division, the reference's midpoint rule);
- assignment = nearest palette entry by squared RGB distance, FIRST
  minimal index on ties (gdaldither.cpp FindNearestColor's strict-<
  scan) — the no-diffusion mapping (gdal_translate -expand / pct2rgb
  round-trip semantics). The reference's DEFAULT Floyd-Steinberg
  error-diffusion assignment lives in gdal_spark.dither: serial within
  one image, parallel across images (per-image applyInPandas kernel),
  exact gdaldither.cpp arithmetic including the 5-bit cube lookup and
  C-truncation nError/6.

Scale shape: the histogram is a groupBy over AT MOST 32^3 = 32,768
keys (map-side combined — the shuffle is bounded by the color cube,
not the pixel count); the box fold is bounded driver work (<= 256
splits over <= 32k bins); the assignment is per-pixel Catalyst
arithmetic against a <= 256-entry palette literal shared textually
with the DuckDB oracle. pct2rgb is a palette array lookup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

N_BITS = 5
SHIFT = 8 - N_BITS


def histogram_rgb5(pixels: DataFrame) -> list[tuple[int, int, int, int]]:
    """Distributed 5-bit RGB histogram: [(r5, g5, b5, count)]. The
    result is bounded by 32^3 rows regardless of pixel count."""
    rows = (pixels
            .selectExpr(f"cast(r as int) div {1 << SHIFT} as r5",
                        f"cast(g as int) div {1 << SHIFT} as g5",
                        f"cast(b as int) div {1 << SHIFT} as b5")
            .groupBy("r5", "g5", "b5").count().collect())
    return [(r["r5"], r["g5"], r["b5"], r["count"]) for r in rows]


class _Box:
    __slots__ = ("rmin", "rmax", "gmin", "gmax", "bmin", "bmax", "total")

    def __init__(self, rmin, rmax, gmin, gmax, bmin, bmax, total):
        self.rmin, self.rmax = rmin, rmax
        self.gmin, self.gmax = gmin, gmax
        self.bmin, self.bmax = bmin, bmax
        self.total = total


def _shrink(box: _Box, hist: dict) -> None:
    """shrinkbox (gdalmediancut.cpp:1079): contract to occupied bins."""
    keys = [k for k in hist
            if box.rmin <= k[0] <= box.rmax
            and box.gmin <= k[1] <= box.gmax
            and box.bmin <= k[2] <= box.bmax and hist[k] > 0]
    if not keys:
        return
    box.rmin = min(k[0] for k in keys)
    box.rmax = max(k[0] for k in keys)
    box.gmin = min(k[1] for k in keys)
    box.gmax = max(k[1] for k in keys)
    box.bmin = min(k[2] for k in keys)
    box.bmax = max(k[2] for k in keys)


def median_cut_boxes(hist_rows: list[tuple[int, int, int, int]],
                     n_colors: int) -> list[_Box]:
    """The box-splitting fold (gdalmediancut.cpp splitbox/largest_box),
    driver-side and bounded by the 32^3 color cube."""
    hist = {(r, g, b): c for r, g, b, c in hist_rows}
    keys = list(hist)
    box = _Box(min(k[0] for k in keys), max(k[0] for k in keys),
               min(k[1] for k in keys), max(k[1] for k in keys),
               min(k[2] for k in keys), max(k[2] for k in keys),
               sum(hist.values()))
    used = [box]
    free = n_colors - 1
    while free > 0:
        # largest_box: max total among boxes with any extent; list
        # order is newest-first in the reference (new boxes push to the
        # head) — ties by total resolve to the FIRST in list order, so
        # mirror the insertion order exactly
        candidates = [b for b in used
                      if b.rmax > b.rmin or b.gmax > b.gmin
                      or b.bmax > b.bmin]
        if not candidates:
            break
        ptr = max(candidates, key=lambda b: b.total)
        # reference scans the linked list and replaces only on strictly
        # greater total, so the FIRST max wins; python max does the same
        dr = ptr.rmax - ptr.rmin
        dg = ptr.gmax - ptr.gmin
        db = ptr.bmax - ptr.bmin
        if dr >= dg and dr >= db:
            axis, first, last = 0, ptr.rmin, ptr.rmax
        elif dg >= db:
            axis, first, last = 1, ptr.gmin, ptr.gmax
        else:
            axis, first, last = 2, ptr.bmin, ptr.bmax
        marg = [0] * (last - first + 1)
        for (r, g, b), c in hist.items():
            if (ptr.rmin <= r <= ptr.rmax and ptr.gmin <= g <= ptr.gmax
                    and ptr.bmin <= b <= ptr.bmax):
                marg[(r, g, b)[axis] - first] += c
        # median index: first i with cumsum >= total/2 (integer half),
        # at least first+1 (gdalmediancut.cpp:983-994)
        half = ptr.total // 2
        s = 0
        i = first
        while i <= last:
            s += marg[i - first]
            if s >= half:
                break
            i += 1
        if i > last:
            i = last
        if i == first:
            i += 1
        new_cb = _Box(ptr.rmin, ptr.rmax, ptr.gmin, ptr.gmax,
                      ptr.bmin, ptr.bmax, sum(marg[: i - first]))
        ptr.total = ptr.total - new_cb.total
        if axis == 0:
            new_cb.rmax, ptr.rmin = i - 1, i
        elif axis == 1:
            new_cb.gmax, ptr.gmin = i - 1, i
        else:
            new_cb.bmax, ptr.bmin = i - 1, i
        _shrink(new_cb, hist)
        _shrink(ptr, hist)
        used.insert(0, new_cb)  # reference pushes the new box to head
        free -= 1
    return used


def palette_from_boxes(boxes: list[_Box]) -> list[tuple[int, int, int]]:
    """Box midpoints: ((min + max) << 3) / 2 per channel (integer)."""
    return [((((b.rmin + b.rmax) << SHIFT) // 2),
             (((b.gmin + b.gmax) << SHIFT) // 2),
             (((b.bmin + b.bmax) << SHIFT) // 2)) for b in boxes]


def compute_median_cut_pct(pixels: DataFrame,
                           n_colors: int) -> list[tuple[int, int, int]]:
    """GDALComputeMedianCutPCT: distributed histogram + driver fold."""
    return palette_from_boxes(
        median_cut_boxes(histogram_rgb5(pixels), n_colors))


def nearest_index_sql(palette: list[tuple[int, int, int]],
                      r: str = "r", g: str = "g", b: str = "b",
                      dialect: str = "spark") -> str:
    """Shared SQL: index of the nearest palette entry (squared RGB
    distance, first minimal index — gdaldither.cpp FindNearestColor).
    Computed as a distance array + position of its minimum; both
    engines' *_position return the FIRST occurrence (1-based), minus 1
    for the reference's 0-based index."""
    entries = ", ".join(f"array({pr}, {pg}, {pb})" if dialect == "spark"
                        else f"[{pr}, {pg}, {pb}]"
                        for pr, pg, pb in palette)
    if dialect == "spark":
        arr = f"array({entries})"
        dists = (f"transform({arr}, p -> ({r} - p[0]) * ({r} - p[0])"
                 f" + ({g} - p[1]) * ({g} - p[1])"
                 f" + ({b} - p[2]) * ({b} - p[2]))")
        return (f"(array_position(({dists}),"
                f" array_min({dists})) - 1)")
    arr = f"[{entries}]"
    dists = (f"list_transform({arr}, p -> ({r} - p[1]) * ({r} - p[1])"
             f" + ({g} - p[2]) * ({g} - p[2])"
             f" + ({b} - p[3]) * ({b} - p[3]))")
    return f"(list_position({dists}, list_min({dists})) - 1)"


def pct_assign(pixels: DataFrame,
               palette: list[tuple[int, int, int]]) -> DataFrame:
    """Per-pixel palette index (adds ``idx``): the distributable
    assignment of GDALDitherRGB2PCT without error diffusion."""
    return pixels.withColumn(
        "idx", F.expr(nearest_index_sql(palette)).cast("int"))
