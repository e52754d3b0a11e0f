"""Tiled raster engine: rasterize, checksum, overviews, sampling, focal ops.

The raster data model is GDAL's blocked-band model re-expressed as rows
(SURVEY §1.2): one DataFrame row per tile —
``(z, tx, ty, band, gt: array<double>[6], data: binary)`` where ``data``
is a ``tile_px × tile_px`` numpy buffer and ``gt`` the 6-coefficient
affine geotransform (gcore/gdal_priv.h:728 semantics, WebMercator
meters). As a GDAL band holds one GDALDataType, every tile buffer holds
one pixel type, ``TILE_DTYPE`` (int64): operators take no dtype
argument. Pixel addressing matches `gdal raster tile`'s WebMercatorQuad
(apps/gdalalg_raster_tile.cpp:274): global pixel (gx, gy) at zoom z is
the cell of zoom z + log2(tile_px); tile = (gx >> log2(tile_px), ...).

Operators:
- rasterize_points  — point burn (gdal_rasterize -burn/MERGE_ALG=ADD,
  alg/gdalrasterize.cpp:861 semantics for points): pixel assignment is
  pure Catalyst math; buffers assemble per tile in applyInPandas.
- checksum          — GDALChecksumImage arithmetic
  (alg/gdalchecksum.cpp:56-216): sum(value % primes[i % 11]) & 0xffff
  over row-major window pixels, primes {7,11,13,17,19,23,29,31,37,41,43}.
- overview_sum      — z → z-1 pyramid level by 2×2 SUM reduction
  (gcore/overview.cpp chunk-resampler semantics, SUM variant): a
  groupBy(parent tile) over 4 children.
- sample_at_points  — InterpolateAtPoint nearest
  (gcore/gdalrasterband.cpp:9963): the points' pixels are fetched through
  gather_pixels (one buffer decode per tile), then left-joined back to
  the queries (0 where no tile or no valid coordinate).
- resampling, one core per direction (gdalwarp -r, alg/gdalwarpkernel.cpp):
  dst→src taps — sample_interp / warp_interp with ``kernel`` ∈
  INTERP_KERNELS (bilinear, cubic, cubicspline, lanczos) and the nearest
  warps, all fetching values through gather_pixels; src→dst areas —
  _area_partials behind warp_average (mean/sum/rms), warp_mode,
  warp_minmax and warp_quantile.
- halo_exchange — the 3×3 focal pattern of gdaldem (apps/gdaldem_lib.cpp):
  every tile ships its buffer to its own and its 8 neighbors' assembly
  groups, each group zero-fills a (TILE_PX+2)² window and hands it to a
  kernel — the Horn/ZT gradient (halo_gradient, :767-785), TRI/TPI/
  roughness and the marching-squares contour cells.
- tile codec — decode_tile / decode_pixels / encode_tile / tile_row, next
  to TILE_SCHEMA: no other module reads or writes the ``data`` layout.

Scale: pixel→tile assignment and all aggregations are Catalyst;
buffers only exist inside Arrow batches, one tile per row (a 10^12-page
burn at z=12 is ~16M tile rows — partitioned by (tx, ty) range with AQE
handling hot city tiles). Python touches data only in vectorized numpy
kernels over whole tiles.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from gdal_spark.cells import _lit, _sum_fold_sql, tile_x_sql, tile_y_sql

CHECKSUM_PRIMES = np.array([7, 11, 13, 17, 19, 23, 29, 31, 37, 41, 43],
                           dtype=np.int64)
TILE_PX = 64
TILE_PX_LOG2 = 6
EARTH_CIRCUM_M = 2.0 * math.pi * 6378137.0

TILE_SCHEMA = ("z int, tx long, ty long, band int, gt array<double>, "
               "data binary")
TILE_COLUMNS = ["z", "tx", "ty", "band", "gt", "data"]
TILE_DTYPE = np.int64


def decode_pixels(data: bytes) -> np.ndarray:
    """A ``data`` buffer as a flat read-only TILE_DTYPE view (no copy),
    for the reductions that take a buffer of any length."""
    return np.frombuffer(data, dtype=TILE_DTYPE)


def decode_tile(data: bytes) -> np.ndarray:
    """A tile's ``data`` as a read-only TILE_PX × TILE_PX view (no copy)."""
    return decode_pixels(data).reshape(TILE_PX, TILE_PX)


def encode_tile(buf: np.ndarray) -> bytes:
    """The ``data`` bytes of a pixel array, cast to TILE_DTYPE."""
    return np.asarray(buf, dtype=TILE_DTYPE).tobytes()


def tile_row(z: int, tx: int, ty: int, band: int, buf: np.ndarray) -> tuple:
    """One TILE_SCHEMA row (columns TILE_COLUMNS): the tile key, its
    geotransform and the encoded ``buf``."""
    return z, tx, ty, band, tile_geotransform(tx, ty, z), encode_tile(buf)


def gpixel_exprs(z: int) -> tuple[str, str]:
    """Global pixel indices of the ``lon``/``lat`` columns at zoom z with
    TILE_PX-px tiles — the cell formula evaluated at zoom
    z + TILE_PX_LOG2 (floor-consistent with the tile index:
    tx == gx >> TILE_PX_LOG2)."""
    pz = z + TILE_PX_LOG2
    return tile_x_sql("lon", pz), tile_y_sql("lat", pz)


def pixel_counts(points: DataFrame, z: int) -> DataFrame:
    """Burn points: (gx, gy, cnt) — MERGE_ALG=ADD with burn value 1
    (alg/gdalrasterize.cpp:779-817). One shuffle keyed by pixel. Points
    with an invalid coordinate (NULL pixel) burn nothing."""
    gxe, gye = gpixel_exprs(z)
    return (
        points.withColumns({"gx": F.expr(gxe), "gy": F.expr(gye)})
        .filter("gx is not null and gy is not null")
        .groupBy("gx", "gy").agg(F.count(F.lit(1)).alias("cnt"))
    )


def tile_geotransform(tx: int, ty: int, z: int) -> list[float]:
    """WebMercator affine geotransform of a tile
    (gcore/gdal_misc.cpp:3297 apply semantics)."""
    n = 1 << z
    res = EARTH_CIRCUM_M / (n * TILE_PX)
    origin_x = -EARTH_CIRCUM_M / 2.0 + tx * TILE_PX * res
    origin_y = EARTH_CIRCUM_M / 2.0 - ty * TILE_PX * res
    return [origin_x, res, 0.0, origin_y, 0.0, -res]


def tiles_from_pixel_counts(px: DataFrame, z: int) -> DataFrame:
    """(gx, gy, cnt) → tile rows with assembled numpy buffers."""
    tile_px = TILE_PX

    def assemble(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        tx, ty = int(key[0]), int(key[1])
        buf = np.zeros((tile_px, tile_px), dtype=TILE_DTYPE)
        py = (pdf["gy"].to_numpy() - ty * tile_px).astype(np.int64)
        pxx = (pdf["gx"].to_numpy() - tx * tile_px).astype(np.int64)
        buf[py, pxx] = pdf["cnt"].to_numpy()
        return pd.DataFrame([tile_row(z, tx, ty, 1, buf)],
                            columns=TILE_COLUMNS)

    keyed = px.withColumns({"_tx": F.expr(f"gx div {tile_px}"),
                            "_ty": F.expr(f"gy div {tile_px}")})
    return keyed.groupBy("_tx", "_ty").applyInPandas(assemble, TILE_SCHEMA)


def rasterize_points(points: DataFrame, z: int) -> DataFrame:
    return tiles_from_pixel_counts(pixel_counts(points, z), z)


def checksum_np(buf: np.ndarray) -> int:
    """GDALChecksumImage over one full tile window
    (alg/gdalchecksum.cpp:212-216 arithmetic, vectorized)."""
    flat = buf.ravel().astype(np.int64)
    primes = CHECKSUM_PRIMES[np.arange(flat.size) % 11]
    return int(np.sum(flat % primes) % 65536)


def tile_checksums(tiles: DataFrame) -> DataFrame:
    """(z, tx, ty) → checksum + nonzero-pixel count, via mapInPandas."""

    def per_tile(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            sums = []
            nnz = []
            for raw in pdf["data"]:
                buf = decode_pixels(raw)
                sums.append(checksum_np(buf))
                nnz.append(int(np.count_nonzero(buf)))
            yield pd.DataFrame({
                "z": pdf["z"], "tx": pdf["tx"], "ty": pdf["ty"],
                "checksum": pd.Series(sums, dtype="int64"),
                "n_nonzero": pd.Series(nnz, dtype="int64"),
            })

    return tiles.mapInPandas(
        per_tile, "z int, tx long, ty long, checksum long, n_nonzero long")


def compare_tile_bands(golden: DataFrame, new: DataFrame) -> DataFrame:
    """gdalcompare golden-vs-new band report (swig/python/gdal-utils/
    osgeo_utils/gdalcompare.py:127-214 compare_band /
    compare_image_pixels:79-122): per band, both GDALChecksumImage
    checksums, the count of differing pixels and the maximum absolute
    pixel difference, and found_diff = 1 when the checksums disagree
    (the reference increments once per mismatching band checksum and
    only then walks pixels; we always report the pixel stats — a
    deterministic superset, 0/0 for identical bands).

    Distributed shape: the two tile tables are COGROUPED on
    (band, tx, ty) — Spark's two-dataset keyed meet — so each tile
    pair lands on one executor together; per-tile partials (raw
    checksum sum, diff count, max |diff|) are the only rows entering
    the final per-band aggregation. At 100 TB each pixel payload
    crosses exactly one exchange (its own co-partitioning shuffle)
    and the band rollup moves O(tiles) 5-int rows."""

    def per_pair(key: tuple, gpdf: pd.DataFrame,
                 npdf: pd.DataFrame) -> pd.DataFrame:
        band = int(key[0])
        if len(gpdf) > 1 or len(npdf) > 1:
            raise ValueError(
                f"duplicate tile rows for (band, tx, ty) = {tuple(key)}: "
                f"{len(gpdf)} golden, {len(npdf)} new")
        gbuf = (decode_pixels(gpdf["data"].iloc[0]).astype(np.int64)
                if len(gpdf) else None)
        nbuf = (decode_pixels(npdf["data"].iloc[0]).astype(np.int64)
                if len(npdf) else None)
        primes = CHECKSUM_PRIMES[np.arange(
            (gbuf if gbuf is not None else nbuf).size) % 11]
        cks_g = int(np.sum(gbuf % primes)) if gbuf is not None else 0
        cks_n = int(np.sum(nbuf % primes)) if nbuf is not None else 0
        if gbuf is not None and nbuf is not None:
            d = np.abs(gbuf - nbuf)
            n_diff, max_diff = int(np.count_nonzero(d)), int(d.max())
        else:  # tile present on one side only: every pixel differs
            buf = gbuf if gbuf is not None else nbuf
            n_diff, max_diff = buf.size, int(np.abs(buf).max())
        return pd.DataFrame({
            "band": [band], "cks_g": [cks_g], "cks_n": [cks_n],
            "n_diff": [n_diff], "max_diff": [max_diff]})

    partials = golden.groupBy("band", "tx", "ty").cogroup(
        new.groupBy("band", "tx", "ty")
    ).applyInPandas(
        per_pair,
        "band int, cks_g long, cks_n long, n_diff long, max_diff long")
    agg = partials.groupBy("band").agg(
        (F.sum("cks_g") % 65536).alias("golden_checksum"),
        (F.sum("cks_n") % 65536).alias("new_checksum"),
        F.sum("n_diff").alias("pixels_differing"),
        F.max("max_diff").alias("max_pixel_difference"))
    return agg.select(
        "band", "golden_checksum", "new_checksum",
        F.when(F.col("golden_checksum") != F.col("new_checksum"),
               F.lit(1)).otherwise(F.lit(0)).cast("long").alias("found_diff"),
        "pixels_differing", "max_pixel_difference",
    ).orderBy("band")


def projwin_to_srcwin(gt: list[float], ulx: float, uly: float,
                      lrx: float, lry: float) -> tuple[int, int, int, int]:
    """gdal_translate -projwin → integer pixel window, exactly the
    reference's align-to-input-pixels rounding
    (apps/gdal_translate_lib.cpp ~:3502 projwin handling):
    off = floor(world_off + 0.001); ULX snaps to the pixel edge;
    size = ceil(span - 0.001). Returns (gx0, gx1, gy0, gy1),
    upper bounds exclusive."""
    xoff = math.floor((ulx - gt[0]) / gt[1] + 0.001)
    yoff = math.floor((uly - gt[3]) / gt[5] + 0.001)
    sulx = xoff * gt[1] + gt[0]
    suly = yoff * gt[5] + gt[3]
    xsize = math.ceil((lrx - sulx) / gt[1] - 0.001)
    ysize = math.ceil((lry - suly) / gt[5] - 0.001)
    return xoff, xoff + xsize, yoff, yoff + ysize


def checksum_oracle_sql(points_sql: str, z: int,
                        value_expr: str = "cnt",
                        px_where: str = "true",
                        px_remap: str | None = None) -> str:
    """DuckDB SQL reproducing rasterize→checksum exactly: pixel counts by
    the shared cell formula, per-pixel value % primes[(py*64+px) % 11],
    summed mod 65536 per tile (zero pixels contribute 0).
    ``value_expr`` maps the raw count to the burned value (identity for
    plain counts; a CASE ladder for reclassify map algebra);
    ``px_remap`` optionally re-addresses the filtered pixels (a SELECT
    over ``px0`` producing gx, gy, cnt — e.g. -outsize decimation)."""
    gxe, gye = gpixel_exprs(z)
    primes = ", ".join(str(p) for p in CHECKSUM_PRIMES)
    t = TILE_PX
    remap = px_remap or "select * from px0"
    return f"""
with px_all as (
  select gx, gy, count(*) as cnt
  from (select {gxe} as gx, {gye} as gy from ({points_sql}) p)
  where gx is not null and gy is not null group by 1, 2
),
px0 as (select * from px_all where {px_where}),
px as ({remap})
select {z} as z, gx // {t} as tx, gy // {t} as ty,
       cast(sum(({value_expr})
           % ([{primes}])[(((gy % {t}) * {t} + (gx % {t})) % 11) + 1])
         % 65536 as bigint) as checksum,
       cast(sum(case when ({value_expr}) > 0 then 1 else 0 end) as bigint)
         as n_nonzero
from px group by 1, 2, 3
"""


def overview_sum(tiles: DataFrame, resampler: str = "sum") -> DataFrame:
    """One pyramid level up: 4 child tiles → 1 parent tile, 2×2
    reduction (overview.cpp chunk-reduce pattern). Resamplers:
    'sum' (mass-preserving) or 'average' (GDAL's default overview
    resampler — integer average rounded half-up, the GDALCopyWords
    +0.5-floor convention). groupBy(parent) — partial aggregation is the
    tile buffer itself."""
    tile_px = TILE_PX
    if resampler not in ("sum", "average", "mode", "rms"):
        raise ValueError(resampler)

    def reduce_children(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        ptx, pty = int(key[0]), int(key[1])
        z = int(pdf["z"].iloc[0]) - 1
        out = np.zeros((tile_px, tile_px), dtype=TILE_DTYPE)
        for tx, ty, buf in zip(pdf["tx"], pdf["ty"], pdf["data"]):
            child = decode_tile(buf)
            if resampler in ("mode", "rms"):
                # blocks[..., k] in window scan order (dy, dx):
                # (0,0) (0,1) (1,0) (1,1)
                blocks = child.reshape(tile_px // 2, 2, tile_px // 2, 2) \
                              .transpose(0, 2, 1, 3) \
                              .reshape(tile_px // 2, tile_px // 2, 4)
                if resampler == "mode":
                    half = _mode4(blocks)
                else:
                    sq = (blocks.astype(np.float64) ** 2).sum(axis=-1)
                    half = np.floor(np.sqrt(sq / 4.0) + 0.5) \
                             .astype(np.int64)
            else:
                half = child.reshape(tile_px // 2, 2, tile_px // 2, 2) \
                            .sum(axis=(1, 3))
                if resampler == "average":
                    half = (half + 2) // 4
            oy = (int(ty) % 2) * (tile_px // 2)
            ox = (int(tx) % 2) * (tile_px // 2)
            out[oy:oy + tile_px // 2, ox:ox + tile_px // 2] = half
        return pd.DataFrame([tile_row(z, ptx, pty, 1, out)],
                            columns=TILE_COLUMNS)

    keyed = tiles.withColumns({"_ptx": F.expr("tx div 2"),
                               "_pty": F.expr("ty div 2")})
    return keyed.groupBy("_ptx", "_pty").applyInPandas(
        reduce_children, TILE_SCHEMA)


def _mode4(blocks: np.ndarray) -> np.ndarray:
    """Mode of the 4 window values with GDAL's tie rule: the overview
    Mode kernel keeps the FIRST value (window scan order) whose count is
    maximal (overview.cpp mode resampler uses a strict > while scanning,
    so earlier values win ties)."""
    cnt = np.zeros(blocks.shape, dtype=np.int64)
    for k in range(4):
        cnt[..., k] = sum(
            (blocks[..., k] == blocks[..., j]).astype(np.int64)
            for j in range(4))
    best = blocks[..., 0].astype(np.int64)
    bestc = cnt[..., 0]
    for k in range(1, 4):
        take = cnt[..., k] > bestc
        best = np.where(take, blocks[..., k], best)
        bestc = np.maximum(bestc, cnt[..., k])
    return best


def _parent_pixels_cte(points_sql: str, z_child: int) -> str:
    """DuckDB CTE: z-1 parent pixels with the 4 child values laid out in
    window scan order (c00 c10 c01 c11 = (dy,dx) 00 01 10 11); absent
    children are 0 — matching the zero-filled tile buffers."""
    gxe, gye = gpixel_exprs(z_child)
    return f"""
px as (
  select {gxe} as gx, {gye} as gy, count(*) as cnt
  from ({points_sql}) p group by 1, 2
),
par as (
  select gx // 2 as pgx, gy // 2 as pgy,
         max(case when gx % 2 = 0 and gy % 2 = 0 then cnt else 0 end) as c00,
         max(case when gx % 2 = 1 and gy % 2 = 0 then cnt else 0 end) as c10,
         max(case when gx % 2 = 0 and gy % 2 = 1 then cnt else 0 end) as c01,
         max(case when gx % 2 = 1 and gy % 2 = 1 then cnt else 0 end) as c11
  from px group by 1, 2
)"""


_MODE4_SQL = """(case
  when (case when c00 = c00 then 1 else 0 end) + (case when c00 = c10 then 1 else 0 end)
     + (case when c00 = c01 then 1 else 0 end) + (case when c00 = c11 then 1 else 0 end)
    >= (case when c10 = c00 then 1 else 0 end) + (case when c10 = c10 then 1 else 0 end)
     + (case when c10 = c01 then 1 else 0 end) + (case when c10 = c11 then 1 else 0 end)
   and (case when c00 = c00 then 1 else 0 end) + (case when c00 = c10 then 1 else 0 end)
     + (case when c00 = c01 then 1 else 0 end) + (case when c00 = c11 then 1 else 0 end)
    >= (case when c01 = c00 then 1 else 0 end) + (case when c01 = c10 then 1 else 0 end)
     + (case when c01 = c01 then 1 else 0 end) + (case when c01 = c11 then 1 else 0 end)
   and (case when c00 = c00 then 1 else 0 end) + (case when c00 = c10 then 1 else 0 end)
     + (case when c00 = c01 then 1 else 0 end) + (case when c00 = c11 then 1 else 0 end)
    >= (case when c11 = c00 then 1 else 0 end) + (case when c11 = c10 then 1 else 0 end)
     + (case when c11 = c01 then 1 else 0 end) + (case when c11 = c11 then 1 else 0 end)
  then c00
  when (case when c10 = c00 then 1 else 0 end) + (case when c10 = c10 then 1 else 0 end)
     + (case when c10 = c01 then 1 else 0 end) + (case when c10 = c11 then 1 else 0 end)
    >= (case when c01 = c00 then 1 else 0 end) + (case when c01 = c10 then 1 else 0 end)
     + (case when c01 = c01 then 1 else 0 end) + (case when c01 = c11 then 1 else 0 end)
   and (case when c10 = c00 then 1 else 0 end) + (case when c10 = c10 then 1 else 0 end)
     + (case when c10 = c01 then 1 else 0 end) + (case when c10 = c11 then 1 else 0 end)
    >= (case when c11 = c00 then 1 else 0 end) + (case when c11 = c10 then 1 else 0 end)
     + (case when c11 = c01 then 1 else 0 end) + (case when c11 = c11 then 1 else 0 end)
  then c10
  when (case when c01 = c00 then 1 else 0 end) + (case when c01 = c10 then 1 else 0 end)
     + (case when c01 = c01 then 1 else 0 end) + (case when c01 = c11 then 1 else 0 end)
    >= (case when c11 = c00 then 1 else 0 end) + (case when c11 = c10 then 1 else 0 end)
     + (case when c11 = c01 then 1 else 0 end) + (case when c11 = c11 then 1 else 0 end)
  then c01
  else c11 end)"""

_RMS4_SQL = ("cast(floor(sqrt((c00*c00 + c10*c10 + c01*c01 + c11*c11)"
             " / 4.0) + 0.5) as bigint)")


def overview_checksum_oracle_sql(points_sql: str, z_child: int,
                                 resampler: str) -> str:
    """DuckDB oracle for the Mode/RMS overview checksum: rebuild z-1
    pixels from the 4 z-level children, apply the kernel, checksum per
    parent tile (zero-valued pixels contribute 0)."""
    value = {"mode": _MODE4_SQL, "rms": _RMS4_SQL}[resampler]
    primes = ", ".join(str(p) for p in CHECKSUM_PRIMES)
    t = TILE_PX
    return f"""
with {_parent_pixels_cte(points_sql, z_child)}
select {z_child - 1} as z, pgx // {t} as tx, pgy // {t} as ty,
       cast(sum(({value})
           % ([{primes}])[(((pgy % {t}) * {t} + (pgx % {t})) % 11) + 1])
         % 65536 as bigint) as checksum,
       cast(sum(case when ({value}) > 0 then 1 else 0 end) as bigint)
         as n_nonzero
from par group by 1, 2, 3
"""


def raster_stats(tiles: DataFrame) -> DataFrame:
    """GDALRasterBand::ComputeStatistics restated as partial+final:
    per-tile numpy partials (count/min/max/sum/sum-of-squares — integer,
    exact) reduced globally, mean/stddev derived by a fixed SQL
    expression shared with the oracle. Pixels of unmaterialized tiles
    are outside the band (sparse-raster semantics)."""

    def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for raw in pdf["data"]:
                buf = decode_pixels(raw).astype(np.int64)
                rows.append((buf.size, int(buf.min()), int(buf.max()),
                             int(buf.sum()), int((buf * buf).sum())))
            yield pd.DataFrame(rows, columns=["n", "mn", "mx", "s", "sq"])

    p = tiles.mapInPandas(
        partials, "n long, mn long, mx long, s long, sq long")
    agg = p.agg(F.sum("n").alias("n_pixels"), F.min("mn").alias("min_val"),
                F.max("mx").alias("max_val"), F.sum("s").alias("sum_val"),
                F.sum("sq").alias("sum_sq"))
    return agg.selectExpr(
        "n_pixels", "min_val", "max_val", "sum_val",
        "sum_val / n_pixels as mean_val",
        "sqrt(sum_sq / n_pixels - (sum_val / n_pixels)"
        " * (sum_val / n_pixels)) as stddev_val")


def raster_stats_oracle_sql(points_sql: str, z: int) -> str:
    """Oracle: a tile's pixel census from the nonzero-pixel counts —
    every materialized tile holds TILE_PX² pixels, zeros implicit."""
    gxe, gye = gpixel_exprs(z)
    t2 = TILE_PX * TILE_PX
    return f"""
with px as (
  select {gxe} as gx, {gye} as gy, count(*) as cnt
  from ({points_sql}) p group by 1, 2
),
tiles as (
  select gx // {TILE_PX} as tx, gy // {TILE_PX} as ty,
         count(*) as n_nonzero, min(cnt) as mn, max(cnt) as mx,
         sum(cnt) as s, sum(cnt * cnt) as sq
  from px group by 1, 2
),
g as (
  select cast(count(*) * {t2} as bigint) as n_pixels,
         cast(case when sum(n_nonzero) < count(*) * {t2}
              then 0 else min(mn) end as bigint) as min_val,
         cast(max(mx) as bigint) as max_val,
         cast(sum(s) as bigint) as sum_val,
         cast(sum(sq) as bigint) as sum_sq
  from tiles
)
select n_pixels, min_val, max_val, sum_val,
       sum_val / n_pixels as mean_val,
       sqrt(sum_sq / n_pixels - (sum_val / n_pixels)
        * (sum_val / n_pixels)) as stddev_val
from g
"""


HIST_BUCKETS = 10


def histogram(tiles: DataFrame, n_buckets: int = HIST_BUCKETS) -> DataFrame:
    """GDALRasterBand::GetHistogram with integer buckets [0, n_buckets):
    values ≥ n_buckets clamp into the last bucket (bIncludeOutOfRange).
    Per-tile numpy bincount partials → one keyed reduction."""

    def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            acc = np.zeros(n_buckets, dtype=np.int64)
            for raw in pdf["data"]:
                buf = decode_pixels(raw).astype(np.int64)
                acc += np.bincount(np.minimum(buf, n_buckets - 1),
                                   minlength=n_buckets)
            yield pd.DataFrame({"bucket": np.arange(n_buckets),
                                "n": acc})

    p = tiles.mapInPandas(partials, "bucket long, n long")
    return (p.groupBy("bucket").agg(F.sum("n").alias("n_pixels"))
            .filter("n_pixels > 0"))


def histogram_oracle_sql(points_sql: str, z: int) -> str:
    gxe, gye = gpixel_exprs(z)
    t2 = TILE_PX * TILE_PX
    return f"""
with px as (
  select {gxe} as gx, {gye} as gy, count(*) as cnt
  from ({points_sql}) p group by 1, 2
),
nz as (
  select least(cnt, {HIST_BUCKETS - 1}) as bucket, count(*) as n
  from px group by 1
),
zeros as (
  select 0 as bucket,
         (select count(distinct (gx // {TILE_PX}, gy // {TILE_PX}))
          from px) * {t2} - (select count(*) from px) as n
)
select bucket, cast(sum(n) as bigint) as n_pixels
from (select * from nz union all select * from zeros) u
group by bucket having sum(n) > 0
"""


def gather_pixels(pixels: DataFrame, tiles: DataFrame, raster_px: int,
                  keys: list[str]) -> DataFrame:
    """The value fetch of every dst→src resampler: rows (*keys, gx, gy)
    addressing source pixels → (*keys, value). Pixels outside the
    raster are dropped (nodata-skip semantics); the rest group per
    source tile BEFORE the payload join, so each tile buffer crosses the
    shuffle and the Arrow bridge exactly once (GDALWarpOperation's chunk
    queue, alg/gdalwarpoperation.cpp:1099 — a chunk, not a pixel, is the
    unit of work) instead of being replicated per pixel."""
    t = TILE_PX
    chunks = (
        pixels.filter(f"gx >= 0 and gx < {raster_px}"
                      f" and gy >= 0 and gy < {raster_px}")
        .withColumn("tx", F.expr(f"gx div {t}"))
        .withColumn("ty", F.expr(f"gy div {t}"))
        .groupBy("tx", "ty")
        .agg(F.collect_list(F.struct(*keys, "gx", "gy")).alias("px"))
        .join(tiles.select("tx", "ty", "data"), ["tx", "ty"])
    )

    def gather(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for raw, px, tx, ty in zip(pdf["data"], pdf["px"],
                                       pdf["tx"], pdf["ty"]):
                buf = decode_tile(raw)
                p = pd.DataFrame(list(px))
                ly = p["gy"].to_numpy(np.int64) - int(ty) * t
                lx = p["gx"].to_numpy(np.int64) - int(tx) * t
                out = {k: p[k].astype("int64") for k in keys}
                out["value"] = buf[ly, lx].astype(np.int64)
                yield pd.DataFrame(out)

    schema = ", ".join(f"{k} long" for k in keys) + ", value long"
    return chunks.mapInPandas(gather, schema)


def _bilinear_sum_sql(v: "list[list[str]]", fx: str, fy: str) -> str:
    """Bilinear 4-term weighted sum (alg/gdal_interpolateatpoint.cpp
    bilinear path), term order pinned."""
    return (f"{v[0][0]} * (1e0 - {fx}) * (1e0 - {fy}) + {v[0][1]} * {fx}"
            f" * (1e0 - {fy}) + {v[1][0]} * (1e0 - {fx}) * {fy}"
            f" + {v[1][1]} * {fx} * {fy}")


def _cubic_weights_sql(f: str) -> list[str]:
    """Catmull-Rom / cubic-convolution weights (a = -0.5 — the GDAL
    GRIORA_Cubic kernel, alg/gdal_interpolateatpoint.cpp) for the 4 taps
    around fraction ``f``; expression text shared by engine and oracle."""
    return [
        f"(((-0.5e0 * {f} + 1.0e0) * {f} - 0.5e0) * {f})",
        f"((1.5e0 * {f} - 2.5e0) * {f} * {f} + 1.0e0)",
        f"(((-1.5e0 * {f} + 2.0e0) * {f} + 0.5e0) * {f})",
        f"((0.5e0 * {f} - 0.5e0) * {f} * {f})",
    ]


def _bspline_weights_sql(f: str) -> list[str]:
    """Cubic B-spline (B3) weights — the GDAL GRA_CubicSpline kernel
    (GWKBSpline, alg/gdalwarpkernel.cpp): taps at distances 1+f, f,
    1−f, 2−f through B3(t) = (4 − 6t² + 3|t|³)/6 for |t| ≤ 1 and
    (2 − |t|)³/6 for 1 < |t| ≤ 2. Partition of unity (Σw = 1), so no
    normalization step; smoothing, not interpolating (B3(0) = 2/3)."""
    g = f"(1.0e0 - {f})"
    return [
        f"({g} * {g} * {g} / 6.0e0)",
        f"((4.0e0 - 6.0e0 * {f} * {f} + 3.0e0 * {f} * {f} * {f})"
        f" / 6.0e0)",
        f"((4.0e0 - 6.0e0 * {g} * {g} + 3.0e0 * {g} * {g} * {g})"
        f" / 6.0e0)",
        f"({f} * {f} * {f} / 6.0e0)",
    ]


def _cubic_sum_sql(wfn):
    """Separable 4×4 tap sum over the weight polynomial ``wfn``:
    horizontal pass then vertical, term order pinned. ``v[ky][kx]`` are
    the 16 tap-value expressions."""
    def wsum(v: "list[list[str]]", fx: str, fy: str) -> str:
        wx = wfn(fx)
        wy = wfn(fy)
        rows = [
            "(" + " + ".join(f"{v[ky][kx]} * {wx[kx]}" for kx in range(4))
            + ")"
            for ky in range(4)
        ]
        return " + ".join(f"{rows[ky]} * {wy[ky]}" for ky in range(4))

    return wsum


LANCZOS_R = 3


def _lanczos_weight_sql(d: str) -> str:
    """Windowed sinc weight, shared text: 3·sin(πd)·sin(πd/3)/(π²d²),
    1 at d=0, 0 at |d| ≥ 3 (the radius). The d≈0 case guards the 0/0."""
    return (f"case when abs({d}) < 1e-12 then 1.0"
            f" when abs({d}) >= {float(LANCZOS_R)!r} then 0.0"
            f" else {float(LANCZOS_R)!r} * sin(pi() * ({d}))"
            f" * sin(pi() * ({d}) / {float(LANCZOS_R)!r})"
            f" / (pi() * pi() * ({d}) * ({d})) end")


def _lanczos_sum_sql(v: "list[list[str]]", fx: str, fy: str) -> str:
    """GWKLanczosSinc radius 3 (alg/gdalwarpkernel.cpp): separable 6×6
    windowed-sinc sum normalized by the weight sums (the
    truncated-window renormalization GDAL applies), term order pinned:
    Σ_ky Σ_kx v·wx·wy / (Σwx · Σwy)."""
    wx = [_lanczos_weight_sql(f"({fx}) - {float(kx - 2)!r}")
          for kx in range(6)]
    wy = [_lanczos_weight_sql(f"({fy}) - {float(ky - 2)!r}")
          for ky in range(6)]
    rows = [
        "(" + " + ".join(f"{v[ky][kx]} * ({wx[kx]})" for kx in range(6))
        + ")"
        for ky in range(6)
    ]
    num = " + ".join(f"{rows[ky]} * ({wy[ky]})" for ky in range(6))
    sx = "(" + " + ".join(f"({w})" for w in wx) + ")"
    sy = "(" + " + ".join(f"({w})" for w in wy) + ")"
    return f"({num}) / ({sx} * {sy})"


# gdalwarp -r name → (taps per axis n, weighted-sum SQL over the n×n tap
# values v[ky][kx] and the fractions fx, fy — text shared with the oracle)
INTERP_KERNELS = {
    "bilinear": (2, _bilinear_sum_sql),
    "cubic": (4, _cubic_sum_sql(_cubic_weights_sql)),
    "cubicspline": (4, _cubic_sum_sql(_bspline_weights_sql)),
    "lanczos": (6, _lanczos_sum_sql),
}


def _tap_window(kernel: str, raster_px: int) -> tuple[int, str, int]:
    """(n, in-raster predicate on the window anchor x0/y0, tap offset
    of kx = 0): the n×n window spans x0 − n/2 + 1 … x0 + n/2."""
    n = INTERP_KERNELS[kernel][0]
    r = n // 2
    inside = (f"x0 >= {r - 1} and x0 + {r} < {raster_px}"
              f" and y0 >= {r - 1} and y0 + {r} < {raster_px}")
    return n, inside, 1 - r


def sample_interp(tiles: DataFrame, queries: DataFrame, raster_px: int,
                  kernel: str) -> DataFrame:
    """InterpolateAtPoint with a tap kernel (gcore/gdalrasterband.cpp:9963,
    alg/gdal_interpolateatpoint.cpp; gdalwarp's GWKBilinear / GWKCubic /
    GWKBSpline / GWKLanczosSinc): ``kernel`` ∈ INTERP_KERNELS. Queries
    carry fractional PIXEL coordinates (qid, qx, qy); GDAL convention:
    pixel centers at integer+0.5, x0 = floor(qx - 0.5),
    fx = qx - 0.5 - x0. The tap window is Catalyst arithmetic, the
    values come through gather_pixels, and the weighted sum is the
    kernel's fixed expression (textually shared with the oracle).
    Queries whose window leaves the raster are dropped (the kernel's
    edge-skip)."""
    n, inside, o = _tap_window(kernel, raster_px)
    taps = ", ".join(
        f"struct({ky * n + kx} as k, x0 + {kx + o} as gx,"
        f" y0 + {ky + o} as gy)"
        for ky in range(n) for kx in range(n))
    nb = (
        queries
        .selectExpr("qid", "cast(floor(qx - 0.5e0) as bigint) as x0",
                    "cast(floor(qy - 0.5e0) as bigint) as y0")
        .filter(inside)
        .selectExpr("qid", f"explode(array({taps})) as nb")
        .selectExpr("qid", "nb.k as k", "nb.gx as gx", "nb.gy as gy")
    )
    wsum = (
        gather_pixels(nb, tiles, raster_px, ["qid", "k"])
        .groupBy("qid").pivot("k", list(range(n * n))).sum("value")
        .withColumnsRenamed({str(k): f"v{k}" for k in range(n * n)})
        .join(queries.selectExpr(
            "qid", "qx - 0.5e0 - cast(floor(qx - 0.5e0) as bigint) as fx",
            "qy - 0.5e0 - cast(floor(qy - 0.5e0) as bigint) as fy"), "qid")
    )
    v = [[f"v{ky * n + kx}" for kx in range(n)] for ky in range(n)]
    return wsum.selectExpr(
        "qid", INTERP_KERNELS[kernel][1](v, "fx", "fy") + " as value")


def interp_dem_oracle_sql(queries_sql: str, raster_px: int,
                          kernel: str) -> str:
    """Oracle of sample_interp over the synthetic DEM: the closed form
    evaluated at the n×n taps, identical window predicate and
    weight/sum expression text."""
    n, inside, o = _tap_window(kernel, raster_px)
    v = [[dem_elev_sql(f"x0 + {kx + o}", f"y0 + {ky + o}")
          for kx in range(n)] for ky in range(n)]
    return f"""
with q as ({queries_sql}),
n as (
  select qid,
         cast(floor(qx - 0.5e0) as bigint) as x0,
         cast(floor(qy - 0.5e0) as bigint) as y0,
         qx - 0.5e0 - cast(floor(qx - 0.5e0) as bigint) as fx,
         qy - 0.5e0 - cast(floor(qy - 0.5e0) as bigint) as fy
  from q
)
select qid, {INTERP_KERNELS[kernel][1](v, "fx", "fy")} as value
from n
where {inside}
"""


def sample_at_points(tiles: DataFrame, points: DataFrame,
                     z: int) -> DataFrame:
    """Nearest-neighbour raster sampling at world coordinates
    (InterpolateAtPoint nearest, gcore/gdalrasterband.cpp:9963): points
    (qid, lon, lat) → (qid, value), one row per query. The pixel fetch is
    gather_pixels (one buffer decode per tile); a point over an
    unmaterialized tile or with a NULL, NaN or out-of-range coordinate
    samples 0 (sparse raster semantics)."""
    gxe, gye = gpixel_exprs(z)
    px = points.selectExpr("qid", f"{gxe} as gx", f"{gye} as gy")
    vals = gather_pixels(px, tiles, TILE_PX << z, ["qid"])
    return points.select("qid").join(vals, "qid", "left").selectExpr(
        "cast(qid as bigint) as qid", "coalesce(value, 0) as value")


# ---------------------------------------------------------------------------
# Focal ops: halo exchange + Horn gradient (gdaldem 3×3 pattern)
# ---------------------------------------------------------------------------


def halo_exchange(tiles: DataFrame, raster_px: int, kernel,
                  schema: str) -> DataFrame:
    """The 1-px halo exchange of every 3×3 focal op (gdaldem's
    neighbourhood window, apps/gdaldem_lib.cpp; the contour cells): each
    tile is shipped to the 9 assembly groups that need any of its pixels,
    and each group zero-fills a (TILE_PX+2)² window around its tile —
    pixels outside the raster or of an unmaterialized tile read 0. Then
    ``kernel(win, gx, gy)`` gets the window and the global pixel indices
    of the group tile's own pixels (``win[1:-1, 1:-1]``) and returns the
    group's output rows, typed by ``schema``."""
    t = TILE_PX
    n_tiles = raster_px // t

    shifted = tiles.select(
        "tx", "ty", "data",
        F.explode(F.expr(
            "transform(sequence(0, 8),"
            " k -> struct(tx + k % 3 - 1 as htx, ty + k div 3 - 1 as hty))"
        )).alias("h"),
    ).select(F.col("h.htx").alias("htx"), F.col("h.hty").alias("hty"),
             "tx", "ty", "data") \
     .filter(f"htx >= 0 and htx < {n_tiles} and hty >= 0 and hty < {n_tiles}")

    def assemble(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        htx, hty = int(key[0]), int(key[1])
        win = np.zeros((t + 2, t + 2), dtype=np.int64)
        for tx, ty, raw in zip(pdf["tx"], pdf["ty"], pdf["data"]):
            dy = (int(ty) - hty) * t
            dx = (int(tx) - htx) * t
            ys = slice(max(0, 1 + dy), min(t + 2, 1 + dy + t))
            xs = slice(max(0, 1 + dx), min(t + 2, 1 + dx + t))
            win[ys, xs] = decode_tile(raw)[
                ys.start - (1 + dy):ys.stop - (1 + dy),
                xs.start - (1 + dx):xs.stop - (1 + dx)]
        gy, gx = np.mgrid[0:t, 0:t]
        return kernel(win, gx + htx * t, gy + hty * t)

    return shifted.groupBy("htx", "hty").applyInPandas(assemble, schema)


def _interior(gx: np.ndarray, gy: np.ndarray, raster_px: int) -> np.ndarray:
    """Mask of the pixels with a full 3×3 window inside the raster."""
    return (gx > 0) & (gx < raster_px - 1) & (gy > 0) & (gy < raster_px - 1)


def halo_gradient(tiles: DataFrame, raster_px: int,
                  alg: str = "horn") -> DataFrame:
    """3×3 gradient over a tiled integer raster (halo_exchange kernel):
    the integer numerators of every interior pixel.
    ``alg='horn'`` (apps/gdaldem_lib.cpp:767-772):

        num_x = (w0 + 2·w3 + w6) − (w2 + 2·w5 + w8)
        num_y = (w6 + 2·w7 + w8) − (w0 + 2·w1 + w2)

    ``alg='zt'`` (Zevenbergen–Thorne, gdaldem -alg ZevenbergenThorne,
    Gradient<…, ZEVENBERGEN_THORNE> :777-785): num_x = w3 − w5,
    num_y = w7 − w1 (the /2 scale lives in the consumer, like Horn's /8).
    Raster-edge pixels are skipped (gdaldem default: no edge values unless
    -compute_edges). Output: one row per interior pixel.
    """

    def kernel(w: np.ndarray, gx: np.ndarray,
               gy: np.ndarray) -> pd.DataFrame:
        if alg == "zt":
            num_x = w[1:-1, :-2] - w[1:-1, 2:]
            num_y = w[2:, 1:-1] - w[:-2, 1:-1]
        else:
            num_x = ((w[:-2, :-2] + 2 * w[1:-1, :-2] + w[2:, :-2])
                     - (w[:-2, 2:] + 2 * w[1:-1, 2:] + w[2:, 2:]))
            num_y = ((w[2:, :-2] + 2 * w[2:, 1:-1] + w[2:, 2:])
                     - (w[:-2, :-2] + 2 * w[:-2, 1:-1] + w[:-2, 2:]))
        interior = _interior(gx, gy, raster_px)
        return pd.DataFrame({
            "gx": gx[interior], "gy": gy[interior],
            "num_x": num_x[interior], "num_y": num_y[interior],
        })

    return halo_exchange(tiles, raster_px, kernel,
                         "gx long, gy long, num_x long, num_y long")


def halo_tri_tpi_roughness(tiles: DataFrame, raster_px: int) -> DataFrame:
    """The remaining gdaldem 3×3 terrain kernels (apps/gdaldem_lib.cpp —
    TRI Wilson, TPI, roughness) over halo_exchange, integer-scaled so
    both engines compare exactly:

        tri8  = Σ |center − neighbor|      (Wilson TRI × 8)
        tpi8  = 8·center − Σ neighbors     (TPI × 8)
        rough = max(window) − min(window)
    """

    def kernel(w: np.ndarray, gx: np.ndarray,
               gy: np.ndarray) -> pd.DataFrame:
        c = w[1:-1, 1:-1]
        nbs = [w[:-2, :-2], w[:-2, 1:-1], w[:-2, 2:],
               w[1:-1, :-2], w[1:-1, 2:],
               w[2:, :-2], w[2:, 1:-1], w[2:, 2:]]
        tri8 = sum(np.abs(c - n) for n in nbs)
        tpi8 = 8 * c - sum(nbs)
        all9 = np.stack(nbs + [c])
        rough = all9.max(axis=0) - all9.min(axis=0)
        interior = _interior(gx, gy, raster_px)
        return pd.DataFrame({
            "gx": gx[interior], "gy": gy[interior],
            "tri8": tri8[interior], "tpi8": tpi8[interior],
            "rough": rough[interior],
        })

    return halo_exchange(tiles, raster_px, kernel,
                         "gx long, gy long, tri8 long, tpi8 long, rough long")


def tri_tpi_roughness_oracle_sql(raster_px: int) -> str:
    """Oracle: the 9 closed-form DEM elevations per interior pixel with
    the identical integer kernels."""
    e = dem_elev_sql
    nbs = [e(f"gx{sx:+d}", f"gy{sy:+d}")
           for sy in (-1, 0, 1) for sx in (-1, 0, 1)
           if not (sx == 0 and sy == 0)]
    c = e("gx", "gy")
    tri8 = " + ".join(f"abs({c} - {n})" for n in nbs)
    tpi8 = f"8 * {c} - (" + " + ".join(nbs) + ")"
    allv = ", ".join(nbs + [c])
    hi = raster_px - 1
    return f"""
with g as (
  select a.range as gx, b.range as gy
  from range(1, {hi}) a cross join range(1, {hi}) b
)
select gx, gy,
       cast({tri8} as bigint) as tri8,
       cast({tpi8} as bigint) as tpi8,
       cast(greatest({allv}) - least({allv}) as bigint) as rough
from g
"""


# color-relief ramp (gdaldem color-relief, apps/gdaldem_lib.cpp
# GDALColorReliefGetColor): elevation stops → RGB, linear interpolation
COLOR_RAMP = [
    (0, (0, 0, 128)),
    (50, (0, 128, 0)),
    (100, (240, 230, 140)),
    (150, (139, 69, 19)),
    (210, (255, 255, 255)),
]


def color_relief(tiles: DataFrame, window_tx: int,
                 window_ty: int) -> DataFrame:
    """gdaldem color-relief: per-pixel piecewise-linear RGB from the
    elevation ramp, round-half-up to integer channels. Output: the
    pixels of one window tile (per-tile numpy kernel, expression order
    pinned to the oracle's CASE ladder)."""
    t = TILE_PX
    sel = tiles.filter(f"tx = {window_tx} and ty = {window_ty}")

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for raw, tx, ty in zip(pdf["data"], pdf["tx"], pdf["ty"]):
                e = decode_tile(raw).astype(np.float64)
                chans = []
                for ci in range(3):
                    out = np.full(e.shape, float(COLOR_RAMP[-1][1][ci]))
                    for (e0, c0), (e1, c1) in zip(COLOR_RAMP,
                                                  COLOR_RAMP[1:]):
                        seg = (e >= e0) & (e < e1)
                        tt = (e - e0) / (e1 - e0)
                        out = np.where(
                            seg,
                            np.floor(c0[ci] + (c1[ci] - c0[ci]) * tt
                                     + 0.5),
                            out)
                    chans.append(out.astype(np.int64))
                gy, gx = np.mgrid[0:t, 0:t]
                yield pd.DataFrame({
                    "gx": (gx + int(tx) * t).ravel(),
                    "gy": (gy + int(ty) * t).ravel(),
                    "r": chans[0].ravel(), "g": chans[1].ravel(),
                    "b": chans[2].ravel(),
                })

    return sel.mapInPandas(
        kernel, "gx long, gy long, r long, g long, b long")


def color_relief_oracle_sql(window_tx: int, window_ty: int) -> str:
    t = TILE_PX

    def chan(ci: int) -> str:
        cases = []
        for (e0, c0), (e1, c1) in zip(COLOR_RAMP, COLOR_RAMP[1:]):
            interp = (f"floor({c0[ci]} + ({c1[ci]} - {c0[ci]})"
                      f" * ((e - {e0}) / ({e1} - {e0})) + 0.5)")
            cases.append(f"when e >= {e0} and e < {e1} then {interp}")
        return ("cast(case " + " ".join(cases)
                + f" else {COLOR_RAMP[-1][1][ci]} end as bigint)")

    return f"""
with g as (
  select {window_tx * t} + a.range as gx, {window_ty * t} + b.range as gy
  from range(0, {t}) a cross join range(0, {t}) b
),
m as (select gx, gy, cast({DEM_ELEV_SQL} as double) as e from g)
select gx, gy, {chan(0)} as r, {chan(1)} as g, {chan(2)} as b
from m
"""


DEM_ELEV_SQL = "((gx * gx * 5 + gy * gy * 3 + gx * gy) % 211)"


def dem_elev_np(gx, gy):
    """DEM_ELEV_SQL in numpy: the synthetic DEM's elevation at (gx, gy)."""
    return (gx * gx * 5 + gy * gy * 3 + gx * gy) % 211


def dem_elev_sql(x: str, y: str) -> str:
    """DEM_ELEV_SQL at the pixel (x, y) — SQL expressions of gx, gy."""
    return DEM_ELEV_SQL.replace("gx", f"({x})").replace("gy", f"({y})")


def synth_band_tiles(spark, formula_np, raster_px: int,
                     band: int) -> DataFrame:
    """Tile rows (z 0) of one band of a synthetic raster_px² raster with
    the closed-form value ``formula_np(gx, gy)`` — the builder of every
    synthetic fixture; the oracles evaluate the same closed form in SQL
    without tiles."""
    n_tiles = raster_px // TILE_PX
    keys = spark.range(n_tiles * n_tiles).select(
        (F.col("id") % n_tiles).alias("_tx"),
        (F.col("id") / n_tiles).cast("long").alias("_ty"))

    def build(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        tx, ty = int(key[0]), int(key[1])
        gy, gx = np.mgrid[0:TILE_PX, 0:TILE_PX]
        vals = formula_np(gx + tx * TILE_PX, gy + ty * TILE_PX)
        return pd.DataFrame([tile_row(0, tx, ty, band, vals)],
                            columns=TILE_COLUMNS)

    return keys.groupBy("_tx", "_ty").applyInPandas(build, TILE_SCHEMA)


def synth_dem_tiles(spark, raster_px: int = 256) -> DataFrame:
    """Deterministic synthetic DEM, elevation dem_elev_np(gx, gy) =
    (gx·gx·5 + gy·gy·3 + gx·gy) % 211 — closed-form, so the oracle can
    evaluate any neighbor without tiles."""
    return synth_band_tiles(spark, dem_elev_np, raster_px, 1)


OVERLAY_VAL_SQL = "((gx * 7 + gy * gy * 11 + 13) % 199)"


def collar_val_sql(raster_px: int) -> str:
    """Closed-form value of the nearblack fixture raster: a wavy
    near-black collar (border distance < a deterministic 3..8 wobble),
    two interior near-black lakes that must SURVIVE trimming (they are
    dark but not border-connected), and a bright interior (≥ 8)
    elsewhere. Dark values cycle 0..4 so the nearblack threshold (7)
    separates exactly dark vs bright."""
    w1 = raster_px - 1
    return (f"(case when least(gx, gy, {w1} - gx, {w1} - gy)"
            f" < 3 + (gx * 7 + gy * 5) % 6"
            f" or (gx between 40 and 47 and gy between 40 and 47)"
            f" or (gx between 100 and 105 and gy between 90 and 96)"
            f" then (gx + gy) % 5"
            f" else 8 + {DEM_ELEV_SQL} end)")


def synth_collar_tiles(spark, raster_px: int) -> DataFrame:
    """Tile rows of the nearblack fixture (see collar_val_sql — the
    numpy formula here is its transcription)."""
    w1 = raster_px - 1

    def collar(gx, gy):
        bd = np.minimum(np.minimum(gx, gy), np.minimum(w1 - gx, w1 - gy))
        dark = (bd < 3 + (gx * 7 + gy * 5) % 6) \
            | ((gx >= 40) & (gx <= 47) & (gy >= 40) & (gy <= 47)) \
            | ((gx >= 100) & (gx <= 105) & (gy >= 90) & (gy <= 96))
        return np.where(dark, (gx + gy) % 5, 8 + dem_elev_np(gx, gy))

    return synth_band_tiles(spark, collar, raster_px, 1)


def synth_overlay_tiles(spark, raster_px: int,
                        window: tuple[int, int, int, int]) -> DataFrame:
    """Second mosaic source: value = OVERLAY_VAL_SQL inside ``window``
    (x0, x1, y0, y1), 0 (= nodata) outside — the closed form lets the
    oracle evaluate it without tiles; in-window zeros exercise the
    nodata fall-through organically."""
    x0, x1, y0, y1 = window

    def overlay(gx, gy):
        inside = (gx >= x0) & (gx < x1) & (gy >= y0) & (gy < y1)
        return np.where(inside, (gx * 7 + gy * gy * 11 + 13) % 199, 0)

    return synth_band_tiles(spark, overlay, raster_px, 1)


MOSAIC_NODATA = 0


def mosaic_tiles(tiles_a: DataFrame, tiles_b: DataFrame) -> DataFrame:
    """gdal_merge / gdal raster mosaic compositing
    (swig/python/gdal-utils gdal_merge.py semantics; new CLI
    apps/gdalalg_raster_mosaic.cpp): the LATER source paints over the
    earlier except where it is MOSAIC_NODATA. One full-outer equi-join on the
    tile key + a per-tile numpy where() — compositing never shuffles
    pixels, only tile rows."""
    a = tiles_a.select("z", "tx", "ty", "band",
                       F.col("data").alias("data_a"))
    b = tiles_b.select("z", "tx", "ty", "band",
                       F.col("data").alias("data_b"))
    j = a.join(b, ["z", "tx", "ty", "band"], "full_outer")
    t = TILE_PX

    def composite(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for _, r in pdf.iterrows():
                buf_a = (decode_tile(r["data_a"]) if r["data_a"] is not None
                         else np.full((t, t), MOSAIC_NODATA,
                                      dtype=TILE_DTYPE))
                buf_b = (decode_tile(r["data_b"]) if r["data_b"] is not None
                         else np.full((t, t), MOSAIC_NODATA,
                                      dtype=TILE_DTYPE))
                buf = np.where(buf_b != MOSAIC_NODATA, buf_b, buf_a)
                out.append(tile_row(int(r["z"]), int(r["tx"]), int(r["ty"]),
                                    int(r["band"]), buf))
            yield pd.DataFrame(out, columns=TILE_COLUMNS)

    return j.mapInPandas(composite, TILE_SCHEMA)


def dem_checksum_oracle_sql(raster_px: int, value_expr: str) -> str:
    """GDALChecksumImage per tile over a GENERATED pixel grid with a
    closed-form ``value_expr`` (the DEM-family analog of
    checksum_oracle_sql, which counts burned points)."""
    primes = ", ".join(str(p) for p in CHECKSUM_PRIMES)
    t = TILE_PX
    return f"""
with px as (
  select gx, gy, {value_expr} as v
  from (select a.range as gx, b.range as gy
        from range(0, {raster_px}) a cross join range(0, {raster_px}) b) g
)
select 0 as z, gx // {t} as tx, gy // {t} as ty,
       cast(sum(v % ([{primes}])[(((gy % {t}) * {t} + (gx % {t})) % 11) + 1])
         % 65536 as bigint) as checksum,
       cast(sum(case when v > 0 then 1 else 0 end) as bigint) as n_nonzero
from px group by 2, 3
"""


def map_algebra(tiles: DataFrame, kernel) -> DataFrame:
    """Raster map algebra: apply a numpy pixel function to every tile
    buffer (GDAL pixel functions, frmts/vrt/pixelfunctions.cpp:2762 —
    sum/diff/reclassify/…; Python pixel-function precedent
    vrtderivedrasterband.cpp:413). ``kernel(buf) -> buf`` runs once per
    tile inside the Arrow batch — never per pixel in Python."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pdf.copy()
            out["data"] = [encode_tile(kernel(decode_tile(raw)))
                           for raw in pdf["data"]]
            yield out

    return tiles.mapInPandas(run, TILE_SCHEMA)


def reclassify_kernel(bounds: list[int]):
    """RECLASSIFY pixel function (frmts/vrt/vrtreclassifier.cpp):
    value → class index by threshold bounds (class i ⟺ v >= bounds[i])."""
    arr = np.asarray(bounds, dtype=np.int64)

    def kernel(buf: np.ndarray) -> np.ndarray:
        return np.searchsorted(arr, buf, side="right")

    return kernel


DEM_CELLSIZE = 30.0  # ground size of a DEM pixel (gdaldem -s 1 units)
HS_AZIMUTH_DEG = 315.0  # gdaldem hillshade -az default
HS_ALTITUDE_DEG = 45.0  # gdaldem hillshade -alt default


def hillshade_np(num_x: np.ndarray, num_y: np.ndarray) -> np.ndarray:
    """Horn hillshade (z factor 1) from the integer gradient numerators
    (apps/gdaldem_lib.cpp:812-835): x = num_x/(8·DEM_CELLSIZE),
    cang = sin(alt)·cos(slope) + cos(alt)·sin(slope)·cos(az − aspect),
    scaled to 1..255 (0 reserved for nodata), values < 0 clamped to 1."""
    x = np.asarray(num_x, dtype=np.float64) / (8.0 * DEM_CELLSIZE)
    y = np.asarray(num_y, dtype=np.float64) / (8.0 * DEM_CELLSIZE)
    slope = np.arctan(np.sqrt(x * x + y * y))
    aspect = np.arctan2(y, -x)
    az = math.radians(360.0 - HS_AZIMUTH_DEG + 90.0)
    alt = math.radians(HS_ALTITUDE_DEG)
    cang = (math.sin(alt) * np.cos(slope)
            + math.cos(alt) * np.sin(slope) * np.cos(az - aspect))
    return np.where(cang <= 0.0, 1.0,
                    1.0 + np.round(254.0 * cang)).astype(np.int64)


# Precomputed double constants for HS_AZIMUTH_DEG / HS_ALTITUDE_DEG,
# emitted as exact repr literals so Spark SQL and DuckDB parse the
# identical double — radians()/degrees() argument-reduction order
# differs between engines in the last ulp.
_HS_AZ_RAD = repr(math.radians(360.0 - HS_AZIMUTH_DEG + 90.0))
_HS_SIN_ALT = repr(math.sin(math.radians(HS_ALTITUDE_DEG)))
_HS_COS_ALT = repr(math.cos(math.radians(HS_ALTITUDE_DEG)))
_DEG_PER_RAD = repr(math.degrees(1.0))


def hillshade_aspect_sql(rel: str) -> str:
    """One SQL text (valid in Spark SQL and DuckDB) computing gdaldem
    hillshade (Horn, az 315 / alt 45 / z 1 — apps/gdaldem_lib.cpp:812-835)
    and compass aspect over a relation ``rel(gx, gy, num_x, num_y)`` of
    integer Horn numerators.

    Hillshade is the byte ramp 1..255 (cang ≤ 0 clamps to 1); aspect is
    round(degrees(atan2(y, −x))) normalized to [0, 360), with flat cells
    (both numerators zero) emitted as −1 (gdaldem's nodata). Both outputs
    are integers, so the value-hash compare survives last-ulp
    transcendental differences between the engines' libm implementations.
    """
    div = repr(8.0 * DEM_CELLSIZE)
    return f"""
with hb as (
  select gx, gy, num_x, num_y,
         cast(num_x as double) / {div}e0 as hx,
         cast(num_y as double) / {div}e0 as hy
  from {rel}
),
ha as (
  select gx, gy, num_x, num_y,
         atan(sqrt(hx * hx + hy * hy)) as slope,
         atan2(hy, -hx) as aspect,
         atan2(hy, -hx) * {_DEG_PER_RAD}e0 as adeg
  from hb
),
hc as (
  select gx, gy, num_x, num_y, adeg,
         {_HS_SIN_ALT}e0 * cos(slope)
           + {_HS_COS_ALT}e0 * sin(slope) * cos({_HS_AZ_RAD}e0 - aspect)
           as cang
  from ha
)
select gx, gy,
       cast(case when cang <= 0.0e0 then 1
                 else 1 + round(254.0e0 * cang) end as bigint)
         as hillshade,
       cast(case when num_x = 0 and num_y = 0 then -1
                 else round(case when adeg < 0.0e0 then adeg + 360.0e0
                                 else adeg end) end as bigint)
         as aspect_deg
from hc
"""


def ms_case_index(win: np.ndarray, level: float) -> np.ndarray:
    """Marching-squares case index (alg/marching_squares/) of the 2×2
    cells whose top-left pixel is a tile pixel of the halo window ``win``:
    8·tl + 4·tr + 2·br + 1·bl, a bit set where the pixel is above
    ``level``."""
    above = win > level
    return (8 * above[1:-1, 1:-1] + 4 * above[1:-1, 2:]
            + 2 * above[2:, 2:] + 1 * above[2:, 1:-1])


def contour_cells(tiles: DataFrame, raster_px: int,
                  threshold: float) -> DataFrame:
    """Marching-squares cell classification (alg/contour.cpp,
    alg/marching_squares/): per 2×2 pixel block with top-left (gx, gy),
    the 4-bit case index

        idx = 8·[e(gx,gy)>t] + 4·[e(gx+1,gy)>t]
            + 2·[e(gx+1,gy+1)>t] + 1·[e(gx,gy+1)>t]

    Emits the non-trivial cells (idx ∉ {0,15}) with their iso-segment
    count (saddle cases 5/10 carry two segments). Cross-tile blocks are
    handled by the same halo_exchange as the focal ops — the border
    stitch that makes distributed contouring exact.
    """

    def kernel(win: np.ndarray, gx: np.ndarray,
               gy: np.ndarray) -> pd.DataFrame:
        idx = ms_case_index(win, threshold)
        valid = (gx < raster_px - 1) & (gy < raster_px - 1) \
            & (idx != 0) & (idx != 15)
        nseg = np.where((idx == 5) | (idx == 10), 2, 1)
        return pd.DataFrame({
            "gx": gx[valid], "gy": gy[valid],
            "ms_case": idx[valid].astype(np.int64),
            "n_segments": nseg[valid].astype(np.int64),
        })

    return halo_exchange(tiles, raster_px, kernel,
                         "gx long, gy long, ms_case long, n_segments long")


# ---------------------------------------------------------------------------
# Viewshed (alg/viewshed/) — sampled-ray variant over the synthetic DEM
# ---------------------------------------------------------------------------


def viewshed_sql(engine: str, vx: int, vy: int, radius: int,
                 obs_height: int = 3) -> str:
    """Line-of-sight visibility grid around a viewpoint: a target pixel
    is visible iff no sampled ray pixel blocks it. GDAL's viewshed uses
    Wang et al.'s plane-sweep (alg/viewshed/); this variant samples the
    straight ray at every Chebyshev step with round-half-up pixel
    snapping — the same visibility semantics, restated as an explode +
    groupBy so blocking is an order-free integer-product comparison
    ((elev_s − eye)·n ≥ (elev_t − eye)·s avoids division entirely and is
    bit-exact in both engines)."""
    col = "id" if engine == "spark" else "range"
    grid = (f"select a.{col} - {radius} as dx, b.{col} - {radius} as dy"
            f" from range(0, {2 * radius + 1}) a"
            f" cross join range(0, {2 * radius + 1}) b")
    step_src = f"""
  select gx, gy, n, a.{col} as s
  from (select * from g where n >= 2) gg
  cross join range(1, {radius + 1}) a
  where a.{col} < n
"""
    eye = f"(({DEM_ELEV_SQL.replace('gx', str(vx)).replace('gy', str(vy))}) + {obs_height})"
    sx = f"({vx} + cast(floor(s * (gx - {vx}) / cast(n as double) + 0.5e0) as bigint))"
    sy = f"({vy} + cast(floor(s * (gy - {vy}) / cast(n as double) + 0.5e0) as bigint))"
    elev_s = DEM_ELEV_SQL.replace("gx", sx).replace("gy", sy)
    elev_t = DEM_ELEV_SQL
    return f"""
with g as (
  select {vx} + dx as gx, {vy} + dy as gy,
         greatest(abs(dx), abs(dy)) as n
  from ({grid}) d
  where not (dx = 0 and dy = 0)
),
steps as ({step_src}),
blocked as (
  select gx, gy,
         max(case when (({elev_s}) - {eye}) * n
                  >= (({elev_t}) - {eye}) * s
             then 1 else 0 end) as is_blocked
  from steps group by gx, gy
)
select g.gx, g.gy, g.n as cheb_dist,
       coalesce(b.is_blocked, 0) = 0 as visible
from g left join blocked b on b.gx = g.gx and b.gy = g.gy
"""


# ---------------------------------------------------------------------------
# Pansharpen (alg/gdalpansharpen.cpp — Brovey weighted ratio)
# ---------------------------------------------------------------------------

MS_BAND_SQL = {
    "r": "((gx * 7 + gy * 3) % 97 + 1)",
    "g": "((gx * 5 + gy * 11) % 89 + 1)",
    "b": "((gx * 3 + gy * 13) % 83 + 1)",
}
PAN_SQL = ("(((gx * 7 + gy * 3) % 97 + 1) + ((gx * 5 + gy * 11) % 89 + 1)"
           " + ((gx * 3 + gy * 13) % 83 + 1) + ((gx + gy) % 7))")
PAN_PX = 256  # edge of the synthetic MS and pan rasters


def pansharpen_brovey(spark, window_tx: int, window_ty: int) -> DataFrame:
    """Brovey pansharpening (alg/gdalpansharpen.cpp weighted-ratio path):
    3 synthetic MS bands + 1 pan band as tile tables, equi-joined on
    (tx, ty) — a co-partitioned multi-band join, never a pixel shuffle —
    with the per-tile numpy kernel out_i = ms_i · pan / (w·Σ ms). Output:
    the pixels of one window tile."""
    t = TILE_PX

    def _ms(coef_x, coef_y, mod):
        return lambda gx, gy: (gx * coef_x + gy * coef_y) % mod + 1

    r = synth_band_tiles(spark, _ms(7, 3, 97), PAN_PX, band=1)
    g = synth_band_tiles(spark, _ms(5, 11, 89), PAN_PX, band=2)
    b = synth_band_tiles(spark, _ms(3, 13, 83), PAN_PX, band=3)

    def _pan(gx, gy):
        return ((gx * 7 + gy * 3) % 97 + 1) + ((gx * 5 + gy * 11) % 89 + 1) \
            + ((gx * 3 + gy * 13) % 83 + 1) + ((gx + gy) % 7)

    pan = synth_band_tiles(spark, _pan, PAN_PX, band=0)
    joined = (
        r.selectExpr("tx", "ty", "data as dr")
        .join(g.selectExpr("tx", "ty", "data as dg"), ["tx", "ty"])
        .join(b.selectExpr("tx", "ty", "data as db"), ["tx", "ty"])
        .join(pan.selectExpr("tx", "ty", "data as dp"), ["tx", "ty"])
        .filter(f"tx = {window_tx} and ty = {window_ty}")
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for tx, ty, dr, dg, db_, dp in zip(
                    pdf["tx"], pdf["ty"], pdf["dr"], pdf["dg"],
                    pdf["db"], pdf["dp"]):
                mr, mg, mb, mp = (decode_tile(d) for d in (dr, dg, db_, dp))
                # expression order pinned to the SQL oracle:
                # out = ms * (pan / (ms_r + ms_g + ms_b))
                ratio = mp.astype(np.float64) / (mr + mg + mb)
                gy, gx = np.mgrid[0:t, 0:t]
                yield pd.DataFrame({
                    "gx": (gx + int(tx) * t).ravel(),
                    "gy": (gy + int(ty) * t).ravel(),
                    "out_r": (mr * ratio).ravel(),
                    "out_g": (mg * ratio).ravel(),
                    "out_b": (mb * ratio).ravel(),
                })

    return joined.mapInPandas(
        kernel, "gx long, gy long, out_r double, out_g double, out_b double")


def pansharpen_oracle_sql(window_tx: int, window_ty: int) -> str:
    t = TILE_PX
    r, g, b = MS_BAND_SQL["r"], MS_BAND_SQL["g"], MS_BAND_SQL["b"]
    ratio = f"(cast({PAN_SQL} as double) / ({r} + {g} + {b}))"
    return f"""
with g as (
  select {window_tx * t} + a.range as gx, {window_ty * t} + b.range as gy
  from range(0, {t}) a cross join range(0, {t}) b
)
select gx, gy,
       {r} * {ratio} as out_r,
       {g} * {ratio} as out_g,
       {b} * {ratio} as out_b
from g
"""


# ---------------------------------------------------------------------------
# FillNodata (alg/rasterfill.cpp:394 GDALFillNodata)
# ---------------------------------------------------------------------------


FILL_MAX_CHEB = 2  # donor search radius (Chebyshev pixels)


def fillnodata_sql(points_sql: str, z: int, engine: str) -> str:
    """IDW nodata fill of the z-level count raster: every zero-valued
    pixel of a materialized tile with ≥1 valid pixel within Chebyshev
    distance FILL_MAX_CHEB receives the inverse-distance-squared weighted
    mean of those donors.

    Deliberate divergence from GDALFillNodata's four-directional
    scanline search (alg/rasterfill.cpp:394): the window-IDW variant is
    order-free and purely relational — the same fill values regardless
    of partitioning. The per-pixel reduction folds the offset-sorted
    donor list sequentially for cross-engine exactness."""
    gxe, gye = gpixel_exprs(z)
    t = TILE_PX
    offs = ", ".join(
        f"({ox}, {oy})"
        for ox in range(-FILL_MAX_CHEB, FILL_MAX_CHEB + 1)
        for oy in range(-FILL_MAX_CHEB, FILL_MAX_CHEB + 1)
        if not (ox == 0 and oy == 0))
    if engine == "spark":
        def idiv(col: str) -> str:
            return f"{col} div {t}"

        lst, srt, trn = "collect_list", "array_sort", "transform"
        mk = ("struct(ox, oy, cast(cnt as double) as v,"
              " cast(ox * ox + oy * oy as double) as d2)")
    else:
        def idiv(col: str) -> str:
            return f"{col} // {t}"

        lst, srt, trn = "list", "list_sort", "list_transform"
        mk = ("{'ox': ox, 'oy': oy, 'v': cast(cnt as double),"
              " 'd2': cast(ox * ox + oy * oy as double)}")
    num, den = (_sum_fold_sql(f"{trn}(arr, a -> {term})", engine)
                for term in ("a.v / a.d2", "1.0e0 / a.d2"))
    return f"""
with px as (
  select {gxe} as gx, {gye} as gy, count(*) as cnt
  from ({points_sql}) p group by 1, 2
),
tl as (select distinct {idiv('gx')} as tx, {idiv('gy')} as ty from px),
off as (select * from (values {offs}) as o(ox, oy)),
cand as (
  select distinct p.gx + o.ox as gx, p.gy + o.oy as gy
  from px p cross join off o
),
nodata as (
  select c.gx, c.gy from cand c
  where not exists (select 1 from px p
                    where p.gx = c.gx and p.gy = c.gy)
    and exists (select 1 from tl t
                where t.tx = {idiv('c.gx')} and t.ty = {idiv('c.gy')})
),
don as (
  select n.gx, n.gy, o.ox, o.oy, p.cnt
  from nodata n cross join off o
  join px p on p.gx = n.gx + o.ox and p.gy = n.gy + o.oy
),
packed as (
  select gx, gy, count(*) as n_donors, {srt}({lst}({mk})) as arr
  from don group by gx, gy
)
select gx, gy, n_donors,
       {num}
     / {den} as fill_value
from packed
"""


# ---------------------------------------------------------------------------
# Warp: reproject/resample between affine grids (gdalwarp semantics)
# ---------------------------------------------------------------------------


def warp_pixel_sql(dst_gt: list[float],
                   src_gt: list[float]) -> tuple[str, str]:
    """Shared SQL: destination pixel (di, dj) → source pixel (sgx, sgy)
    by composing the dst geotransform (pixel center → world,
    gcore/gdal_misc.cpp:3297 GDALApplyGeoTransform) with the inverted
    src geotransform (:3371 GDALInvGeoTransform) and nearest rounding
    (floor — GDALRasterIO nearest convention)."""
    qx, qy = warp_fractional_sql(dst_gt, src_gt)
    return f"cast(floor({qx}) as bigint)", f"cast(floor({qy}) as bigint)"


def dst_grid(spark, dst_px: int, px_per_task: int = 65536) -> DataFrame:
    """The (di, dj) pixel grid of a dst_px² warp destination: ~64k pixel
    rows per task of affine arithmetic (the cross-CRS warp passes 8k
    because each row carries an unrolled inverse-projection chain),
    floor 8 tasks for parallelism on small test grids, cap 2048 so a
    continent-scale grid doesn't explode the task count."""
    n_parts = max(8, min(2048, (dst_px * dst_px + px_per_task - 1)
                         // px_per_task))
    return spark.range(dst_px * dst_px, numPartitions=n_parts).selectExpr(
        f"id % {dst_px} as di", f"cast(id / {dst_px} as bigint) as dj")


def dst_grid_sql(dst_px: int) -> str:
    """DuckDB twin of dst_grid: the (di, dj) relation."""
    return (f"(select a.range as di, b.range as dj"
            f" from range(0, {dst_px}) a cross join range(0, {dst_px}) b)")


def warp_fractional_sql(dst_gt: list[float],
                        src_gt: list[float]) -> tuple[str, str]:
    """Continuous dst pixel (di, dj) → fractional source pixel coords
    (no rounding — the tap-kernel input, alg/gdalwarpkernel.cpp
    GWKBilinear path)."""
    wx = f"({_lit(dst_gt[0])} + (di + 0.5) * {_lit(dst_gt[1])})"
    wy = f"({_lit(dst_gt[3])} + (dj + 0.5) * {_lit(dst_gt[5])})"
    qx = f"(({wx} - {_lit(src_gt[0])}) / {_lit(src_gt[1])})"
    qy = f"(({wy} - {_lit(src_gt[3])}) / {_lit(src_gt[5])})"
    return qx, qy


def warp_queries_sql(dst_gt: list[float], src_gt: list[float],
                     dst_px: int) -> str:
    """DuckDB twin of warp_interp's query grid: (qid, qx, qy) per dst
    pixel, for interp_dem_oracle_sql."""
    qx_e, qy_e = warp_fractional_sql(dst_gt, src_gt)
    return (f"select dj * {dst_px} + di as qid, {qx_e} as qx, {qy_e} as qy"
            f" from {dst_grid_sql(dst_px)} g")


def warp_interp(tiles: DataFrame, src_gt: list[float], raster_px: int,
                dst_gt: list[float], dst_px: int, kernel: str) -> DataFrame:
    """gdalwarp -r bilinear / cubic / cubicspline / lanczos: the dst pixel
    grid → fractional src pixel coords (Catalyst arithmetic) →
    sample_interp with that tap kernel. Output (qid = dj·dst_px + di,
    value); dst pixels whose tap window leaves the source are dropped
    (the kernel's edge-skip)."""
    qx_e, qy_e = warp_fractional_sql(dst_gt, src_gt)
    queries = dst_grid(tiles.sparkSession, dst_px).selectExpr(
        f"dj * {dst_px} + di as qid", f"{qx_e} as qx", f"{qy_e} as qy")
    return sample_interp(tiles, queries, raster_px, kernel)


def _area_partials(tiles: DataFrame, src_gt: list[float],
                   dst_gt: list[float], dst_px: int, part: str,
                   src_nodata: int | None = None) -> DataFrame:
    """The src→dst assignment of every area resampler (gdalwarp -r
    average/sum/rms/mode/min/max/med/q1/q3, GWKAverageOrMode): each SRC
    pixel center is assigned to the dst pixel containing it, and
    ``src_nodata`` masks source pixels (gdalwarp -srcnodata, the
    pabSuccess path). Canonical partial+final shape: a per-tile numpy
    kernel emits integer partials — one pass over each tile buffer, no
    pixel rows ever shuffled — and one keyed reduction combines them. At
    100 TB the shuffle carries only dst-pixel partials (≤ dst_px² rows
    per tile).

    ``part``: 'sum' → (di, dj, s = Σv, c); 'sumsq' → (di, dj, s = Σv², c);
    'count' → (di, dj, v, c), one row per distinct value per dst pixel."""
    t = TILE_PX

    def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for raw, tx, ty in zip(pdf["data"], pdf["tx"], pdf["ty"]):
                buf = decode_tile(raw)
                gy, gx = np.mgrid[0:t, 0:t]
                gx = gx + int(tx) * t
                gy = gy + int(ty) * t
                wx = src_gt[0] + (gx + 0.5) * src_gt[1]
                wy = src_gt[3] + (gy + 0.5) * src_gt[5]
                di = np.floor((wx - dst_gt[0]) / dst_gt[1]).astype(np.int64)
                dj = np.floor((wy - dst_gt[3]) / dst_gt[5]).astype(np.int64)
                keep = ((di >= 0) & (di < dst_px)
                        & (dj >= 0) & (dj < dst_px))
                if src_nodata is not None:
                    keep &= buf != src_nodata
                if not keep.any():
                    continue
                key = dj[keep] * dst_px + di[keep]
                vals = buf[keep].astype(np.int64)
                if part == "count":
                    uniq, cnts = np.unique(np.stack([key, vals], axis=1),
                                           axis=0, return_counts=True)
                    key, cols = uniq[:, 0], {"v": uniq[:, 1]}
                else:
                    key, inv, cnts = np.unique(key, return_inverse=True,
                                               return_counts=True)
                    # int64 scatter-add, not float bincount weights:
                    # float64 mantissas silently truncate sums past 2^53
                    # (sums of squares once values exceed ~2^26), which
                    # int64 pixels can reach
                    s = np.zeros(len(key), dtype=np.int64)
                    np.add.at(s, inv, vals * vals if part == "sumsq"
                              else vals)
                    cols = {"s": s}
                yield pd.DataFrame({"di": key % dst_px, "dj": key // dst_px,
                                    **cols, "c": cnts.astype(np.int64)})

    if part == "count":
        return (tiles.mapInPandas(partials, "di long, dj long, v long, c long")
                .groupBy("di", "dj", "v").agg(F.sum("c").alias("c")))
    return (tiles.mapInPandas(partials, "di long, dj long, s long, c long")
            .groupBy("di", "dj")
            .agg(F.sum("s").alias("s"), F.sum("c").alias("c")))


# warp_average's per-dst-pixel final expression over the (s, c) partials
_AREA_FINAL = {
    "mean": "cast(s as double) / c",          # gdalwarp -r average
    "sum": "cast(s as double)",               # gdalwarp -r sum
    "rms": "sqrt(cast(s as double) / c)",     # gdalwarp -r rms
}


def warp_average(tiles: DataFrame, src_gt: list[float], raster_px: int,
                 dst_gt: list[float], dst_px: int,
                 src_nodata: int | None = None,
                 stat: str = "mean") -> DataFrame:
    """Area-resampled warp onto a coarser grid (gdalwarp -r average,
    GWKAverageOrMode): per dst pixel the ``stat`` of the src pixels whose
    centers fall in it — 'mean'; 'sum' (gdalwarp -r sum, GDAL >= 3.1,
    GWKSumPreserving's center-assignment simplification: coverage
    weights are 1 per contributing pixel in this tiling model); 'rms'
    (gdalwarp -r rms, sqrt(mean(v²))). A dst pixel whose every
    contributor is ``src_nodata`` emits no row (≡ dstnodata in the
    sparse representation). Output (di, dj, n_src, value)."""
    return _area_partials(
        tiles, src_gt, dst_gt, dst_px, "sumsq" if stat == "rms" else "sum",
        src_nodata).selectExpr("di", "dj", "c as n_src",
                               f"{_AREA_FINAL[stat]} as value")


def warp_mode(tiles: DataFrame, src_gt: list[float], raster_px: int,
              dst_gt: list[float], dst_px: int) -> DataFrame:
    """Mode-resampled warp (gdalwarp -r mode, GWKAverageOrMode
    alg/gdalwarpkernel.cpp): per dst pixel the most frequent value of
    the src pixels whose centers fall in it, ties broken by the SMALLEST
    value (deterministic — the reference's tie order is scan order,
    unstable under parallel chunking). The shuffle carries one row per
    distinct value per dst pixel per tile, never pixel rows."""
    counts = _area_partials(tiles, src_gt, dst_gt, dst_px, "count")
    w = Window.partitionBy("di", "dj").orderBy(F.desc("c"), F.asc("v"))
    return (counts.withColumn("_rn", F.row_number().over(w))
            .filter("_rn = 1")
            .selectExpr("di", "dj", "v as value", "c as n_mode"))


def warp_minmax(tiles: DataFrame, src_gt: list[float], raster_px: int,
                dst_gt: list[float], dst_px: int,
                op: str = "min") -> DataFrame:
    """Min/max-resampled warp (gdalwarp -r min / -r max, GWKAOM_Imin/
    Imax alg/gdalwarpkernel.cpp:6595-6613): per dst pixel the extreme of
    the src pixels whose centers fall in it — exact integer partials,
    one keyed reduction."""
    counts = _area_partials(tiles, src_gt, dst_gt, dst_px, "count")
    agg = F.min("v") if op == "min" else F.max("v")
    return (counts.groupBy("di", "dj")
            .agg(agg.alias("value"), F.sum("c").alias("n_src"))
            .select("di", "dj", "n_src", "value"))


def warp_quantile(tiles: DataFrame, src_gt: list[float], raster_px: int,
                  dst_gt: list[float], dst_px: int,
                  quant: float = 0.5) -> DataFrame:
    """Quantile-resampled warp (gdalwarp -r med/q1/q3, GWKAOM_Quant):
    GDAL picks the ascending-sorted contributing value at index
    ceil(quant·n − 1) (0-based, no interpolation —
    alg/gdalwarpkernel.cpp:7605). Computed exactly from the value-count
    histogram: a running count locates the value whose cumulative
    interval covers the index — the shuffle stays one row per distinct
    value per dst pixel, never a per-pixel value list."""
    counts = _area_partials(tiles, src_gt, dst_gt, dst_px, "count")
    w_n = Window.partitionBy("di", "dj")
    w_cum = (Window.partitionBy("di", "dj").orderBy("v")
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    q = repr(float(quant))
    return (counts
            .withColumn("n", F.sum("c").over(w_n))
            .withColumn("cum", F.sum("c").over(w_cum))
            .withColumn("qidx",
                        F.expr(f"cast(ceil({q} * n - 1) as bigint)"))
            .filter("cum - c <= qidx and cum >= qidx + 1")
            .selectExpr("di", "dj", "n as n_src", "v as value"))


def _src_pixels_cte(dst_gt: list[float], src_gt: list[float], dst_px: int,
                    raster_px: int, src_nodata: int | None = None) -> str:
    """DuckDB twin of _area_partials' assignment over the closed-form
    DEM: CTE ``m(di, dj, v)``, one row per unmasked src pixel whose
    center falls inside the dst grid."""
    wx = f"({_lit(src_gt[0])} + (gx + 0.5) * {_lit(src_gt[1])})"
    wy = f"({_lit(src_gt[3])} + (gy + 0.5) * {_lit(src_gt[5])})"
    di = f"cast(floor(({wx} - {_lit(dst_gt[0])}) / {_lit(dst_gt[1])}) as bigint)"
    dj = f"cast(floor(({wy} - {_lit(dst_gt[3])}) / {_lit(dst_gt[5])}) as bigint)"
    nd = "" if src_nodata is None else f" and v <> {int(src_nodata)}"
    return f"""
with s as (
  select a.range as gx, b.range as gy
  from range(0, {raster_px}) a cross join range(0, {raster_px}) b
),
m as (
  select * from (select {di} as di, {dj} as dj, {DEM_ELEV_SQL} as v from s)
  where di >= 0 and di < {dst_px} and dj >= 0 and dj < {dst_px}{nd}
)"""


def warp_average_oracle_sql(dst_gt: list[float], src_gt: list[float],
                            dst_px: int, raster_px: int,
                            src_nodata: int | None = None,
                            stat: str = "mean") -> str:
    """Oracle of warp_average: identical dst assignment, the ``stat``
    expression over integer sums."""
    value = {
        "mean": "cast(sum(v) as double) / count(*)",
        "sum": "cast(sum(v) as double)",
        "rms": "sqrt(cast(sum(cast(v as bigint) * cast(v as bigint))"
               " as double) / count(*))",
    }[stat]
    return f"""{_src_pixels_cte(dst_gt, src_gt, dst_px, raster_px, src_nodata)}
select di, dj, cast(count(*) as bigint) as n_src, {value} as value
from m group by di, dj
"""


def warp_order_stats_oracle_sql(dst_gt: list[float], src_gt: list[float],
                                dst_px: int, raster_px: int,
                                methods: list[tuple[str, str]]) -> str:
    """Oracle of the value-count resamplers (warp_mode / warp_minmax /
    warp_quantile): identical dst assignment; mode via count-desc/
    value-asc row_number, quantiles via the identical ceil(q·n − 1)
    index rule over the per-pixel value counts. ``methods`` is a list
    of (label, op) with op ∈ {'mode', 'min', 'max'} or a quantile
    literal like '0.5'; output (method, di, dj, n_src, value), n_src the
    winning count for mode."""
    base = f"""{_src_pixels_cte(dst_gt, src_gt, dst_px, raster_px)},
c as (select di, dj, v, count(*) as c from m group by 1, 2, 3),
r as (
  select di, dj, v, c,
         sum(c) over (partition by di, dj) as n,
         sum(c) over (partition by di, dj order by v
                      rows unbounded preceding) as cum,
         row_number() over (partition by di, dj
                            order by c desc, v asc) as rn
  from c
)
"""
    parts = []
    for label, op in methods:
        if op == "mode":
            parts.append(
                f"select '{label}' as method, di, dj,"
                f" cast(c as bigint) as n_src, v as value from r"
                f" where rn = 1")
        elif op in ("min", "max"):
            parts.append(
                f"select '{label}' as method, di, dj,"
                f" cast(sum(c) as bigint) as n_src, {op}(v) as value"
                f" from c group by di, dj")
        else:
            parts.append(
                f"select '{label}' as method, di, dj,"
                f" cast(n as bigint) as n_src, v as value from r"
                f" where cum - c <= cast(ceil({op} * n - 1) as bigint)"
                f" and cum >= cast(ceil({op} * n - 1) as bigint) + 1")
    return base + "\nunion all\n".join(parts)


def warp_nearest(tiles: DataFrame, src_gt: list[float], raster_px: int,
                 dst_gt: list[float], dst_px: int) -> DataFrame:
    """Nearest-neighbour warp of a tiled raster onto a new affine grid
    (the chunked lifecycle of GDALWarpOperation, alg/gdalwarpoperation.cpp
    restated: dst chunk == partition of dst pixels; the dst→src
    coordinate path is Catalyst arithmetic; only the buffer gather is a
    numpy kernel). Out-of-source-bounds dst pixels are dropped
    (nodata-skip semantics). Output: (di, dj, value)."""
    sgx_e, sgy_e = warp_pixel_sql(dst_gt, src_gt)
    dst = dst_grid(tiles.sparkSession, dst_px).selectExpr(
        "di", "dj", f"{sgx_e} as gx", f"{sgy_e} as gy")
    return gather_pixels(dst, tiles, raster_px, ["di", "dj"])


def gather_dem_oracle_sql(rel: str, raster_px: int,
                          elev_sql: str = DEM_ELEV_SQL) -> str:
    """Oracle twin of a nearest warp's gather_pixels over a closed-form
    raster: ``rel(di, dj, gx, gy)`` → (di, dj, value), out-of-raster
    source pixels dropped."""
    return (f"select di, dj, {elev_sql} as value from {rel}"
            f" where gx >= 0 and gx < {raster_px}"
            f" and gy >= 0 and gy < {raster_px}")


# ---------------------------------------------------------------------------
# Cross-CRS warp (gdalwarp -t_srs semantics): dst pixel → dst-CRS world →
# src-CRS world → src pixel — the composed transformer chain of
# alg/gdaltransformer.cpp:342 (GDALGenImgProjTransformer), with the
# projection step a staged shared-SQL pipeline (gdal_spark.crs), so the
# whole coordinate path is Catalyst arithmetic and bit-identical to the
# DuckDB oracle. The payload gather is the same chunk-per-tile plan as
# warp_nearest (one buffer crossing per tile).
# ---------------------------------------------------------------------------


def warp_nearest_crs(tiles: DataFrame, src_gt: list[float], raster_px: int,
                     dst_gt: list[float], dst_px: int,
                     src_epsg: int, dst_epsg: int = 4326) -> DataFrame:
    """Nearest warp between any two registered EPSG grids (gdalwarp
    -t_srs, the composed transformer chain of alg/gdaltransformer.cpp:342):
    dst pixel centers → dst-CRS world (affine) → inverse-projected to
    lon/lat (gdal_spark.crs epsg_inv_stages — fixed-point loops unrolled
    so the leg stays pure Catalyst) → forward-projected to the source
    CRS → source pixel (inverted affine) → chunk gather."""
    from gdal_spark.crs import (apply_sql_stages, epsg_fwd_stages,
                                epsg_inv_stages)

    dx_e = f"({_lit(dst_gt[0])} + (di + 0.5) * {_lit(dst_gt[1])})"
    dy_e = f"({_lit(dst_gt[3])} + (dj + 0.5) * {_lit(dst_gt[5])})"
    dst = dst_grid(tiles.sparkSession, dst_px, px_per_task=8192) \
        .selectExpr("di", "dj", f"{dx_e} as dwx", f"{dy_e} as dwy")
    dst = apply_sql_stages(dst, epsg_inv_stages(dst_epsg, "dwx", "dwy",
                                                ok_col="inv_ok"))
    dst = apply_sql_stages(dst, epsg_fwd_stages(src_epsg, "wx", "wy"))
    # pushdown barrier: predicate pushdown + CollapseProject would
    # substitute the unrolled fixed-point stages into the filter
    # condition level by level — exponential expression blowup (measured
    # 69 s for a 160² LCC dst grid, 0.3 s with the barrier). A lazy
    # localCheckpoint turns the staged-projection subplan into a
    # LogicalRDD scan, which no optimizer rule rewrites through — a
    # structural barrier rather than the previous F.rand(42)
    # nondeterminism trick, which silently breaks if a future optimizer
    # pushes through nondeterministic projects. The dst grid holds only
    # (di, dj, coords) — O(dst_px²) small rows — so the checkpointed
    # partitions are a fraction of the warp output itself.
    dst = dst.localCheckpoint(eager=False)
    dst = dst.filter("inv_ok and ok").selectExpr(
        "di", "dj",
        f"cast(floor((wx - {_lit(src_gt[0])}) / {_lit(src_gt[1])}) as bigint)"
        f" as gx",
        f"cast(floor((wy - {_lit(src_gt[3])}) / {_lit(src_gt[5])}) as bigint)"
        f" as gy")
    return gather_pixels(dst, tiles, raster_px, ["di", "dj"])


def warp_nearest_crs_oracle_sql(src_gt: list[float], raster_px: int,
                                dst_gt: list[float], dst_px: int,
                                src_epsg: int, dst_epsg: int = 4326) -> str:
    """Oracle: identical dst→dst-CRS⁻¹→lon/lat→src-CRS→src-pixel chain
    over a range grid, closed-form DEM values."""
    from gdal_spark.crs import (epsg_fwd_stages, epsg_inv_stages,
                                stages_to_duckdb_sql)

    dx_e = f"({_lit(dst_gt[0])} + (di + 0.5) * {_lit(dst_gt[1])})"
    dy_e = f"({_lit(dst_gt[3])} + (dj + 0.5) * {_lit(dst_gt[5])})"
    base = f"""
select di, dj, {dx_e} as dwx, {dy_e} as dwy
from {dst_grid_sql(dst_px)} g
"""
    stages = (epsg_inv_stages(dst_epsg, "dwx", "dwy", ok_col="inv_ok")
              + epsg_fwd_stages(src_epsg, "wx", "wy"))
    proj = stages_to_duckdb_sql(
        base, stages, ["di", "dj", "wx", "wy", "inv_ok", "ok"])
    # materialized: DuckDB's filter pushdown would otherwise substitute
    # the unrolled fixed-point stages into the ok-filter (the same
    # exponential expression blowup the Spark side pins with its
    # localCheckpoint barrier)
    return f"""
with q as materialized ({proj}),
s as (
  select di, dj,
         cast(floor((wx - {_lit(src_gt[0])}) / {_lit(src_gt[1])}) as bigint)
           as gx,
         cast(floor((wy - {_lit(src_gt[3])}) / {_lit(src_gt[5])}) as bigint)
           as gy
  from q where inv_ok and ok
)
{gather_dem_oracle_sql("s", raster_px)}
"""


# ---------------------------------------------------------------------------
# Approximating transformer (GDALApproxTransformer,
# alg/gdaltransformer.cpp:3503 GDALApproxTransform; gdalwarp -et, default
# tolerance 0.125 src px — apps/gdalwarp_lib.cpp dfErrorThreshold): GDAL
# transforms scanline endpoints+midpoint exactly and linearly
# interpolates the rest when the midpoint error is within tolerance,
# subdividing otherwise. The Spark-first re-expression is a 2D control
# lattice: only (dst_px/block+1)² lattice corners + (dst_px/block)² cell
# midpoints go through the full unrolled inverse+forward projection
# chain (the trig-bound leg); each cell whose midpoint bilinear-
# interpolation error is within tolerance evaluates its block² pixels as
# a 4-tap bilerp of the corner mappings (pure multiply-add Catalyst —
# memcpy-bound, not trig-bound); cells exceeding tolerance fall back to
# exact per-pixel transforms, like GDAL's subdivision bottoming out.
# Pixels are generated by EXPLODING the cells frame, so the pixel volume
# never shuffles — the only shuffled frames are the control lattice
# (1/block² of the pixels) and the standard per-tile chunk gather.
# ---------------------------------------------------------------------------


def _bilerp_sql(c00: str, c10: str, c01: str, c11: str,
                u: str, v: str) -> str:
    """4-corner bilinear interpolation, one shared text so Spark and the
    DuckDB oracle evaluate the identical IEEE expression tree."""
    return (f"((1.0e0 - {u}) * (1.0e0 - {v}) * {c00}"
            f" + ({u}) * (1.0e0 - {v}) * {c10}"
            f" + (1.0e0 - {u}) * ({v}) * {c01}"
            f" + ({u}) * ({v}) * {c11})")


def _approx_ok_sql(tol_px: float) -> str:
    """Cell acceptance: all 4 corners + midpoint transformed OK and the
    midpoint's bilerp estimate within tol (GDAL's back-to-back error
    check, gdaltransformer.cpp GDALApproxTransformInternal)."""
    mx = _bilerp_sql("c00x", "c10x", "c01x", "c11x", "0.5e0", "0.5e0")
    my = _bilerp_sql("c00y", "c10y", "c01y", "c11y", "0.5e0", "0.5e0")
    return (f"(ok00 and ok10 and ok01 and ok11 and mok"
            f" and abs({mx} - msx) <= {_lit(tol_px)}"
            f" and abs({my} - msy) <= {_lit(tol_px)})")


APPROX_BLOCK = 16  # control-lattice cell edge in dst pixels


def _approx_uv_sql() -> tuple[str, str]:
    b = _lit(float(APPROX_BLOCK))
    u = f"((di + 0.5e0 - ci * {APPROX_BLOCK}) / {b})"
    v = f"((dj + 0.5e0 - cj * {APPROX_BLOCK}) / {b})"
    return u, v


def warp_nearest_crs_approx(tiles: DataFrame, src_gt: list[float],
                            raster_px: int, dst_gt: list[float],
                            dst_px: int, src_epsg: int,
                            dst_epsg: int = 4326,
                            tol_px: float = 0.125) -> DataFrame:
    """Cross-CRS nearest warp through the approximating transformer (see
    block comment above). ``tol_px`` is gdalwarp -et in SOURCE pixels;
    APPROX_BLOCK the lattice cell edge in dst pixels (GDAL's scanline
    subdivision granularity analogue)."""
    from gdal_spark.crs import (apply_sql_stages, epsg_fwd_stages,
                                epsg_inv_stages)

    spark = tiles.sparkSession
    ncell = (dst_px + APPROX_BLOCK - 1) // APPROX_BLOCK
    n_nodes = (ncell + 1) * (ncell + 1)
    n_mids = ncell * ncell
    stages = (epsg_inv_stages(dst_epsg, "dwx", "dwy", ok_col="inv_ok")
              + epsg_fwd_stages(src_epsg, "wx", "wy"))
    half = _lit(APPROX_BLOCK / 2.0)
    # one staged-projection pass over nodes ∪ midpoints — the ONLY rows
    # that pay the unrolled trig chain besides the fallback pixels
    ctl = (
        spark.range(n_nodes + n_mids,
                    numPartitions=max(8, min(2048,
                                             (n_nodes + n_mids) // 8192
                                             + 1)))
        .selectExpr(
            f"case when id < {n_nodes} then 0 else 1 end as kind",
            f"case when id < {n_nodes} then id % {ncell + 1}"
            f" else (id - {n_nodes}) % {ncell} end as ki",
            f"case when id < {n_nodes} then id div {ncell + 1}"
            f" else (id - {n_nodes}) div {ncell} end as kj")
        .selectExpr(
            "kind", "ki", "kj",
            f"{_lit(dst_gt[0])} + (ki * {APPROX_BLOCK} + kind * {half})"
            f" * {_lit(dst_gt[1])} as dwx",
            f"{_lit(dst_gt[3])} + (kj * {APPROX_BLOCK} + kind * {half})"
            f" * {_lit(dst_gt[5])} as dwy")
    )
    ctl = apply_sql_stages(ctl, stages).selectExpr(
        "kind", "ki", "kj",
        f"(wx - {_lit(src_gt[0])}) / {_lit(src_gt[1])} as sxf",
        f"(wy - {_lit(src_gt[3])}) / {_lit(src_gt[5])} as syf",
        "inv_ok and ok as cok")
    # structural pushdown barrier — same unrolled-stage blowup the exact
    # path pins (see warp_nearest_crs); the lattice is tiny
    ctl = ctl.localCheckpoint(eager=False)
    nodes = ctl.filter("kind = 0")
    mids = ctl.filter("kind = 1").selectExpr(
        "ki as ci", "kj as cj", "sxf as msx", "syf as msy", "cok as mok")

    def corner(i_off: int, j_off: int, tag: str) -> DataFrame:
        return nodes.selectExpr(
            f"ki - {i_off} as ci", f"kj - {j_off} as cj",
            f"sxf as c{tag}x", f"syf as c{tag}y", f"cok as ok{tag}")

    cells = (
        mids.join(corner(0, 0, "00"), ["ci", "cj"])
        .join(corner(1, 0, "10"), ["ci", "cj"])
        .join(corner(0, 1, "01"), ["ci", "cj"])
        .join(corner(1, 1, "11"), ["ci", "cj"])
        .withColumn("approx_ok", F.expr(_approx_ok_sql(tol_px)))
    )
    px = (
        cells.selectExpr(
            "ci", "cj", "approx_ok",
            "c00x", "c10x", "c01x", "c11x",
            "c00y", "c10y", "c01y", "c11y",
            f"explode(sequence(0, {APPROX_BLOCK * APPROX_BLOCK - 1})) as o")
        .selectExpr("*", f"ci * {APPROX_BLOCK} + o % {APPROX_BLOCK} as di",
                    f"cj * {APPROX_BLOCK} + o div {APPROX_BLOCK} as dj")
        .filter(f"di < {dst_px} and dj < {dst_px}")
    )
    u, v = _approx_uv_sql()
    apx = px.filter("approx_ok").selectExpr(
        "di", "dj",
        f"{_bilerp_sql('c00x', 'c10x', 'c01x', 'c11x', u, v)} as sxf",
        f"{_bilerp_sql('c00y', 'c10y', 'c01y', 'c11y', u, v)} as syf")
    ex = px.filter("not approx_ok").selectExpr(
        "di", "dj",
        f"{_lit(dst_gt[0])} + (di + 0.5e0) * {_lit(dst_gt[1])} as dwx",
        f"{_lit(dst_gt[3])} + (dj + 0.5e0) * {_lit(dst_gt[5])} as dwy")
    ex = apply_sql_stages(ex, stages)
    ex = ex.localCheckpoint(eager=False)
    ex = ex.filter("inv_ok and ok").selectExpr(
        "di", "dj",
        f"(wx - {_lit(src_gt[0])}) / {_lit(src_gt[1])} as sxf",
        f"(wy - {_lit(src_gt[3])}) / {_lit(src_gt[5])} as syf")
    dst = apx.unionByName(ex).selectExpr(
        "di", "dj", "cast(floor(sxf) as bigint) as gx",
        "cast(floor(syf) as bigint) as gy")
    return gather_pixels(dst, tiles, raster_px, ["di", "dj"])


def warp_nearest_crs_approx_oracle_sql(src_gt: list[float],
                                       raster_px: int,
                                       dst_gt: list[float], dst_px: int,
                                       src_epsg: int,
                                       dst_epsg: int = 4326,
                                       tol_px: float = 0.125) -> str:
    """Oracle: the identical lattice/bilerp/fallback arithmetic in
    DuckDB (shared expression text for every float op), closed-form DEM
    values."""
    from gdal_spark.crs import (epsg_fwd_stages, epsg_inv_stages,
                                stages_to_duckdb_sql)

    ncell = (dst_px + APPROX_BLOCK - 1) // APPROX_BLOCK
    n_nodes = (ncell + 1) * (ncell + 1)
    stages = (epsg_inv_stages(dst_epsg, "dwx", "dwy", ok_col="inv_ok")
              + epsg_fwd_stages(src_epsg, "wx", "wy"))
    half = _lit(APPROX_BLOCK / 2.0)
    ctl_base = f"""
select kind, ki, kj,
       {_lit(dst_gt[0])} + (ki * {APPROX_BLOCK} + kind * {half})
         * {_lit(dst_gt[1])} as dwx,
       {_lit(dst_gt[3])} + (kj * {APPROX_BLOCK} + kind * {half})
         * {_lit(dst_gt[5])} as dwy
from (select case when g.range < {n_nodes} then 0 else 1 end as kind,
             case when g.range < {n_nodes} then g.range % {ncell + 1}
                  else (g.range - {n_nodes}) % {ncell} end as ki,
             case when g.range < {n_nodes} then g.range // {ncell + 1}
                  else (g.range - {n_nodes}) // {ncell} end as kj
      from range(0, {n_nodes + ncell * ncell}) g) b
"""
    ctl_proj = stages_to_duckdb_sql(
        ctl_base, stages, ["kind", "ki", "kj", "wx", "wy",
                           "inv_ok", "ok"])
    u, v = _approx_uv_sql()
    ex_base = f"""
select di, dj,
       {_lit(dst_gt[0])} + (di + 0.5e0) * {_lit(dst_gt[1])} as dwx,
       {_lit(dst_gt[3])} + (dj + 0.5e0) * {_lit(dst_gt[5])} as dwy
from px where not approx_ok
"""
    ex_proj = stages_to_duckdb_sql(
        ex_base, stages, ["di", "dj", "wx", "wy", "inv_ok", "ok"])
    return f"""
with ctl0 as materialized ({ctl_proj}),
ctl as (
  select kind, ki, kj,
         (wx - {_lit(src_gt[0])}) / {_lit(src_gt[1])} as sxf,
         (wy - {_lit(src_gt[3])}) / {_lit(src_gt[5])} as syf,
         inv_ok and ok as cok
  from ctl0
),
cells as (
  select m.ci, m.cj, m.msx, m.msy, m.mok,
         c00.sxf as c00x, c00.syf as c00y, c00.cok as ok00,
         c10.sxf as c10x, c10.syf as c10y, c10.cok as ok10,
         c01.sxf as c01x, c01.syf as c01y, c01.cok as ok01,
         c11.sxf as c11x, c11.syf as c11y, c11.cok as ok11
  from (select ki as ci, kj as cj, sxf as msx, syf as msy, cok as mok
        from ctl where kind = 1) m
  join (select * from ctl where kind = 0) c00
    on c00.ki = m.ci and c00.kj = m.cj
  join (select * from ctl where kind = 0) c10
    on c10.ki = m.ci + 1 and c10.kj = m.cj
  join (select * from ctl where kind = 0) c01
    on c01.ki = m.ci and c01.kj = m.cj + 1
  join (select * from ctl where kind = 0) c11
    on c11.ki = m.ci + 1 and c11.kj = m.cj + 1
),
cellsf as (select *, {_approx_ok_sql(tol_px)} as approx_ok from cells),
px as materialized (
  select * from (
    select c.*, c.ci * {APPROX_BLOCK} + o.range % {APPROX_BLOCK} as di,
           c.cj * {APPROX_BLOCK} + o.range // {APPROX_BLOCK} as dj
    from cellsf c cross join range(0, {APPROX_BLOCK * APPROX_BLOCK}) o
  ) q where di < {dst_px} and dj < {dst_px}
),
apx as (
  select di, dj,
         {_bilerp_sql('c00x', 'c10x', 'c01x', 'c11x', u, v)} as sxf,
         {_bilerp_sql('c00y', 'c10y', 'c01y', 'c11y', u, v)} as syf
  from px where approx_ok
),
expx0 as materialized ({ex_proj}),
expx as (
  select di, dj,
         (wx - {_lit(src_gt[0])}) / {_lit(src_gt[1])} as sxf,
         (wy - {_lit(src_gt[3])}) / {_lit(src_gt[5])} as syf
  from expx0 where inv_ok and ok
),
s as (
  select di, dj, cast(floor(sxf) as bigint) as gx,
         cast(floor(syf) as bigint) as gy
  from (select * from apx union all select * from expx) un
)
{gather_dem_oracle_sql("s", raster_px)}
"""


# ---------------------------------------------------------------------------
# gdaldem hillshade -combined and -multidirectional
# (apps/gdaldem_lib.cpp GDALHillshadeCombinedAlg:1106 and
# GDALHillshadeMultiDirectionalAlg:1193, USGS OF 92-422 weights).
# Constants folded exactly as GDALCreateHillshade*Data does (z = 1,
# alt = 45, az = 315, Horn z_factor 1/8); GDAL's SSE rsqrt
# approximation is replaced by exact division (a deterministic
# refinement — the non-SSE reference build divides exactly too).
# ---------------------------------------------------------------------------

_HSV_SIN_ALT = repr(math.sin(math.radians(45.0)))
_HSV_K1 = repr(math.cos(math.radians(315.0))
               * math.cos(math.radians(45.0)) / 8.0)
_HSV_K2 = repr(math.sin(math.radians(315.0))
               * math.cos(math.radians(45.0)) / 8.0)
_HSV_INV_SQ_HALF_PI = repr(1.0 / ((math.pi / 2.0) ** 2))
_HSV_S127 = repr(127.0 * math.sin(math.radians(45.0)))
_HSV_CAZ127 = repr(127.0 * math.cos(math.radians(225.0))
                   * math.cos(math.radians(45.0)) / 8.0)
_HSV_CA127 = repr(127.0 * math.cos(math.radians(45.0)) / 8.0)
_HSV_FLAT = repr(1.0 + 254.0 * math.sin(math.radians(45.0)))


def hillshade_variants_sql(rel: str) -> str:
    """One SQL text (Spark SQL ≡ DuckDB) computing the combined and
    multidirectional hillshades over ``rel(gx, gy, num_x, num_y)`` of
    integer Horn numerators (north-up raster: the GDAL kernels divide
    num_y by the NEGATIVE ns resolution, hence hy = −num_y/DEM_CELLSIZE).
    Outputs round to integers so the hash compare survives last-ulp
    libm differences."""
    c = repr(float(DEM_CELLSIZE))
    return f"""
with hv as (
  select gx, gy,
         cast(num_x as double) / {c}e0 as hx,
         -cast(num_y as double) / {c}e0 as hy
  from {rel}
),
hs as (
  select gx, gy, hx, hy,
         (hx * hx + hy * hy) / 64.0e0 as slope_sq,
         hx * hx + hy * hy as ss
  from hv
),
hc as (
  select gx, gy, hx, hy, slope_sq, ss,
         acos(greatest(-1.0e0, least(1.0e0,
           ({_HSV_SIN_ALT}e0 - (hy * {_HSV_K1}e0 - hx * {_HSV_K2}e0))
             / sqrt(1.0e0 + slope_sq)))) as acang
  from hs
),
hm as (
  select gx, gy, ss, slope_sq,
         1.0e0 - acang * atan(sqrt(slope_sq))
           * {_HSV_INV_SQ_HALF_PI}e0 as comb_raw,
         greatest(0.0e0, {_HSV_S127}e0 + (hx - hy) * {_HSV_CAZ127}e0)
           as v225,
         greatest(0.0e0, {_HSV_S127}e0 - hx * {_HSV_CA127}e0) as v270,
         greatest(0.0e0, {_HSV_S127}e0 + (hx + hy) * {_HSV_CAZ127}e0)
           as v315,
         greatest(0.0e0, {_HSV_S127}e0 - hy * {_HSV_CA127}e0) as v360,
         0.5e0 * (hx * hx + hy * hy) - hx * hy as w225,
         hx * hx as w270,
         hy * hy as w360
  from hc
)
select gx, gy,
       cast(round(case when comb_raw <= 0.0e0 then 1.0e0
                       else 1.0e0 + 254.0e0 * comb_raw end)
            as bigint) as combined,
       cast(round(case when ss = 0.0e0 then {_HSV_FLAT}e0
                       else 1.0e0 + ((w225 * v225 + w270 * v270
                                      + (ss - w225) * v315 + w360 * v360)
                                     / ss)
                            / sqrt(1.0e0 + slope_sq) end)
            as bigint) as multidir
from hm
"""


def slope_formats_sql(rel: str) -> str:
    """gdaldem slope in both formats and both gradient algorithms
    (apps/gdaldem_lib.cpp GDALSlopeHornAlg:1293 /
    GDALSlopeZevenbergenThorneAlg:1311; -p percent, -alg
    ZevenbergenThorne): one SQL text over a relation
    ``rel(gx, gy, num_x, num_y, zt_x, zt_y)`` of integer Horn and ZT
    numerators. deg = atan(√key / k)·180/π, pct = 100·√key / k with
    k = 8 (Horn) or 2 (ZT); round(…, 6) so the hash compare survives
    last-ulp libm differences."""
    c = repr(float(DEM_CELLSIZE))
    hk = f"(cast(num_x as double) * num_x + cast(num_y as double) * num_y)" \
         f" / ({c}e0 * {c}e0)"
    zk = f"(cast(zt_x as double) * zt_x + cast(zt_y as double) * zt_y)" \
         f" / ({c}e0 * {c}e0)"
    return f"""
select gx, gy,
       round(atan(sqrt({hk}) / 8.0e0) * {_DEG_PER_RAD}e0, 6)
         as slope_horn_deg,
       round(100.0e0 * sqrt({hk}) / 8.0e0, 6) as slope_horn_pct,
       round(atan(sqrt({zk}) / 2.0e0) * {_DEG_PER_RAD}e0, 6)
         as slope_zt_deg,
       round(100.0e0 * sqrt({zk}) / 2.0e0, 6) as slope_zt_pct
from {rel}
"""


# ---------------------------------------------------------------------------
# gdalenhance -equalize (apps/gdalenhance.cpp)
# ---------------------------------------------------------------------------


EQ_BUCKETS = 256  # GDALGetDefaultHistogram's bucket count


def equalize_params(vmin: float, vmax: float) -> tuple[float, float]:
    """GDALGetDefaultHistogram's non-Byte bucket frame
    (gcore/gdalrasterband.cpp:4896-4900): min/max from statistics,
    expanded by half a bucket — transcribed with the identical double
    operations so both engines' literals match the C++ values
    bit-for-bit. Returns (lo, scale): bucket/bin index is
    floor((v - lo) * scale), the shared expression of BOTH
    GetHistogram (gdalrasterband.cpp:4432) and gdalenhance's
    EnhancerCallback (apps/gdalenhance.cpp:503-528 — truncation and
    floor agree for the in-range positives)."""
    half = (vmax - vmin) / (2 * (EQ_BUCKETS - 1))
    lo = vmin - half
    hi = vmax + half
    scale = EQ_BUCKETS / (hi - lo)
    return lo, scale


def equalize_map_sql(hist_sql: str, engine: str, vmin: float,
                     vmax: float) -> str:
    """value → equalized-byte map (gdalenhance ComputeEqualizationLUTs,
    apps/gdalenhance.cpp:370-461): bucket the value histogram into the
    256 default-histogram bins, zero the extreme bins (":=0" of
    nodata/extremes, line 405-406), build the half-bucket-offset
    cumulative histogram ``cum[i] = prefix + h[i]/2`` (line 419-423,
    integer division), then ``LUT[i] = clamp(cum[i]*256/total)``
    (line 446-452, all integer) — every step exact integer SQL over a
    256-row table, shared verbatim between engines except the
    spine/int-div spellings.

    ``hist_sql`` must yield (value, n_pixels) — the ONE data pass; at
    100 TB that is per-tile bincount partials and a keyed reduction,
    everything here is a 256-row table."""
    lo, scale = equalize_params(vmin, vmax)
    last = EQ_BUCKETS - 1
    if engine == "spark":
        spine = f"select explode(sequence(0, {last})) as b"
        idiv = " div "
    else:
        spine = f"select unnest(range(0, {EQ_BUCKETS})) as b"
        idiv = " // "
    bin_expr = (f"least(greatest(cast(floor((cast(value as double)"
                f" - cast({lo!r} as double)) * cast({scale!r} as double))"
                f" as int), 0), {last})")
    return f"""
with vh as ({hist_sql}),
bh as (
  select {bin_expr} as b, cast(sum(n_pixels) as bigint) as h
  from vh group by 1),
spine as ({spine}),
hz as (
  select s.b,
         case when s.b in (0, {last}) then cast(0 as bigint)
              else coalesce(bh.h, 0) end as h
  from spine s left join bh on bh.b = s.b),
cum as (
  select b,
         cast(coalesce(sum(h) over (order by b rows between unbounded
             preceding and 1 preceding), 0) + h{idiv}2 as bigint) as c,
         greatest(cast(sum(h) over () as bigint), 1) as tot
  from hz),
lut as (
  select b,
         least(greatest((c * {EQ_BUCKETS}){idiv}tot, cast(0 as bigint)),
               {last}) as lv
  from cum)
select vh.value, cast(lut.lv as bigint) as out_val
from vh join lut on lut.b = {bin_expr}
"""


def equalize_tile_checksums(tiles: DataFrame,
                            value_map: dict[int, int]) -> DataFrame:
    """Apply the equalization LUT per tile and checksum the Byte
    output — gdalenhance's EnhancerCallback applied per block, with
    the LUT computed once up front exactly as the reference does
    (ComputeEqualizationLUTs runs on the driver; the per-block
    callback only indexes it). ``value_map`` is the bounded
    value→byte table (≤ value universe, 211 here) — a broadcast
    literal, the same two-pass shape as gdal_translate -scale."""
    lut = np.zeros(max(value_map) + 1, dtype=np.int64)
    for v, o in value_map.items():
        lut[v] = o

    def per_tile(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            txs, tys, sums, outs = [], [], [], []
            for tx, ty, raw in zip(pdf["tx"], pdf["ty"], pdf["data"]):
                buf = decode_pixels(raw).astype(np.int64)
                out = lut[buf]
                txs.append(int(tx))
                tys.append(int(ty))
                sums.append(checksum_np(out))
                outs.append(int(out.sum()))
            yield pd.DataFrame({"tx": txs, "ty": tys,
                                "checksum_val": sums, "sum_out": outs})

    return tiles.mapInPandas(
        per_tile, "tx long, ty long, checksum_val long, sum_out long")
