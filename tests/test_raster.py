"""Raster engine: rasterize, checksum, overview, sampling, focal, polygonize.

Style per SURVEY §5: independent numpy/pure-Python oracles (the raster
reference uses golden checksums, alg/gdalchecksum.cpp, as THE oracle).
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from gdal_spark.pages import points_from_documents
from gdal_spark.polygonize import polygonize_summary
from gdal_spark.raster import (TILE_PX, checksum_np, halo_gradient,
                               overview_sum, rasterize_points,
                               sample_at_points, synth_dem_tiles,
                               tile_checksums)

SF = "/root/testdata/sf0.001"
Z = 5


@pytest.fixture(scope="module")
def pts(spark):
    return points_from_documents(spark, SF).cache()


@pytest.fixture(scope="module")
def tiles(pts):
    return rasterize_points(pts, Z).cache()


def test_checksum_formula_reference_arithmetic():
    # hand-computed: pixels [5, 300, 0, 7] at window positions 0..3
    # primes cycle 7,11,13,17 → 5%7 + 300%11 + 0%13 + 7%17 = 5+3+0+7 = 15
    buf = np.array([5, 300, 0, 7], dtype=np.int64)
    assert checksum_np(buf) == 15
    # mod-65536 wrap
    big = np.full(4096, 1_000_003, dtype=np.int64)
    assert 0 <= checksum_np(big) < 65536


def test_rasterize_conserves_points(pts, tiles):
    n_pts = pts.count()
    total = tile_checksums(tiles)  # forces assembly
    assert total.count() > 0
    # sum of all pixel values == number of burned points (MERGE_ALG=ADD)
    import pandas as pd  # noqa: F401

    sums = tiles.toPandas()["data"].map(
        lambda b: int(np.frombuffer(b, dtype=np.int64).sum())).sum()
    assert sums == n_pts


def test_overview_preserves_mass_and_grid(tiles, pts):
    parents = overview_sum(tiles).toPandas()
    child_total = tiles.toPandas()["data"].map(
        lambda b: int(np.frombuffer(b, dtype=np.int64).sum())).sum()
    parent_total = parents["data"].map(
        lambda b: int(np.frombuffer(b, dtype=np.int64).sum())).sum()
    assert parent_total == child_total
    assert (parents["z"] == Z - 1).all()



def test_overview_kernels_declare_grouped_map_type(pts):
    """The applyInPandas kernels are fully annotated, so Spark infers the
    grouped-map eval type instead of warning that it cannot."""
    import warnings

    with warnings.catch_warnings():
        warnings.filterwarnings("error", "Cannot infer the eval type",
                                UserWarning)
        assert overview_sum(rasterize_points(pts, Z)).count() > 0

def test_sample_at_points_hits_own_pixel(pts, tiles):
    qs = pts.limit(25).select(F.col("doc_id").alias("qid"), "lon", "lat")
    vals = sample_at_points(tiles, qs, Z).collect()
    assert len(vals) == 25
    # every query point was itself burned → its pixel count >= 1
    assert all(r["value"] >= 1 for r in vals)


def test_halo_gradient_matches_whole_raster_numpy(spark):
    px = 128
    tiles = synth_dem_tiles(spark, px)
    got = halo_gradient(tiles, px).toPandas().set_index(["gy", "gx"])
    gy, gx = np.mgrid[0:px, 0:px]
    elev = (gx * gx * 5 + gy * gy * 3 + gx * gy) % 211
    w = elev
    num_x = ((w[:-2, :-2] + 2 * w[1:-1, :-2] + w[2:, :-2])
             - (w[:-2, 2:] + 2 * w[1:-1, 2:] + w[2:, 2:]))
    num_y = ((w[2:, :-2] + 2 * w[2:, 1:-1] + w[2:, 2:])
             - (w[:-2, :-2] + 2 * w[:-2, 1:-1] + w[:-2, 2:]))
    assert len(got) == (px - 2) * (px - 2)
    # spot-check pixels spanning tile borders (TILE_PX=64 → border at 63/64)
    for y, x in [(1, 1), (63, 63), (64, 63), (63, 64), (64, 64), (100, 20),
                 (126, 126)]:
        r = got.loc[(y, x)]
        assert r["num_x"] == num_x[y - 1, x - 1], (y, x)
        assert r["num_y"] == num_y[y - 1, x - 1], (y, x)


def test_warp_nearest_matches_direct_numpy(spark):
    from gdal_spark.raster import tile_geotransform, warp_nearest

    px = 128
    tiles = synth_dem_tiles(spark, px)
    src_gt = tile_geotransform(0, 0, 0)
    dst_gt = [src_gt[0] + 3.2 * src_gt[1], src_gt[1] * 0.73, 0.0,
              src_gt[3] - 5.1 * abs(src_gt[5]), 0.0, src_gt[5] * 0.73]
    got = {(r["di"], r["dj"]): r["value"] for r in
           warp_nearest(tiles, src_gt, px, dst_gt, 60).collect()}
    gy, gx = np.mgrid[0:px, 0:px]
    elev = (gx * gx * 5 + gy * gy * 3 + gx * gy) % 211
    import math
    n_checked = 0
    for dj in range(60):
        for di in range(60):
            wx = dst_gt[0] + (di + 0.5) * dst_gt[1]
            wy = dst_gt[3] + (dj + 0.5) * dst_gt[5]
            sgx = math.floor((wx - src_gt[0]) / src_gt[1])
            sgy = math.floor((wy - src_gt[3]) / src_gt[5])
            if 0 <= sgx < px and 0 <= sgy < px:
                assert got[(di, dj)] == elev[sgy, sgx], (di, dj)
                n_checked += 1
            else:
                assert (di, dj) not in got
    assert n_checked == len(got) > 1000


def _bfs_components(pixels: set) -> list[dict]:
    seen = set()
    comps = []
    for p in sorted(pixels):
        if p in seen:
            continue
        stack = [p]
        seen.add(p)
        comp = []
        while stack:
            x, y = stack.pop()
            comp.append((x, y))
            for nx, ny in ((x + 1, y), (x - 1, y), (x, y + 1), (x, y - 1)):
                if (nx, ny) in pixels and (nx, ny) not in seen:
                    seen.add((nx, ny))
                    stack.append((nx, ny))
        comps.append(comp)
    return comps


def test_polygonize_matches_bfs(pts, tiles):
    grid_w = 1 << (Z + 6)
    got = {r["comp"]: r for r in
           polygonize_summary(tiles, grid_w).collect()}
    from gdal_spark.raster import gpixel_exprs

    gxe, gye = gpixel_exprs("lon", "lat", Z)
    pix = {(r["gx"], r["gy"]) for r in
           pts.selectExpr(f"{gxe} as gx", f"{gye} as gy").collect()}
    comps = _bfs_components(pix)
    assert len(got) == len(comps)
    for comp in comps:
        label = min(y * grid_w + x for x, y in comp)
        r = got[label]
        assert r["n_pixels"] == len(comp)
        assert r["min_gx"] == min(x for x, _ in comp)
        assert r["max_gy"] == max(y for _, y in comp)


def test_mode4_tie_rule_first_wins():
    """overview.cpp Mode kernel: ties keep the first value in window
    scan order (strict > while scanning)."""
    import numpy as np

    from gdal_spark.raster import _mode4

    blocks = np.array([
        [[5, 5, 0, 0]],   # tie 2-2 → first value (5) wins
        [[0, 5, 5, 5]],   # clear mode 5
        [[7, 0, 0, 7]],   # tie 2-2 → 7 (scan position 0)
        [[1, 2, 3, 4]],   # all distinct → first value
        [[0, 0, 0, 9]],   # clear mode 0
    ])
    assert _mode4(blocks).ravel().tolist() == [5, 5, 7, 1, 0]


def test_raster_stats_matches_numpy(spark):
    """ComputeStatistics: partial+final reduction equals whole-band
    numpy stats over the materialized tiles."""
    import numpy as np

    from gdal_spark.pages import points_from_documents
    from gdal_spark.raster import raster_stats, rasterize_points

    pts = points_from_documents(spark, "/root/testdata/sf0.001")
    tiles = rasterize_points(pts, 5)
    got = raster_stats(tiles).collect()[0]
    bufs = [np.frombuffer(r["data"], dtype=np.int64)
            for r in tiles.collect()]
    allpx = np.concatenate(bufs)
    assert got["n_pixels"] == allpx.size
    assert got["min_val"] == int(allpx.min())
    assert got["max_val"] == int(allpx.max())
    assert got["sum_val"] == int(allpx.sum())
    assert abs(got["mean_val"] - allpx.mean()) < 1e-12
    assert abs(got["stddev_val"] - allpx.std()) < 1e-9


def test_bilinear_interpolation_exact_cases(spark):
    """Bilinear at exact pixel centers returns the pixel value; at the
    midpoint of 4 pixels returns their plain mean."""
    import numpy as np
    import pandas as pd

    from gdal_spark.raster import sample_bilinear, synth_dem_tiles

    def elev(gx, gy):
        return (gx * gx * 5 + gy * gy * 3 + gx * gy) % 211

    tiles = synth_dem_tiles(spark, 256)
    q = spark.createDataFrame(pd.DataFrame({
        "qid": [1, 2, 3],
        "qx": [10.5, 20.0, 100.5],
        "qy": [12.5, 30.0, 99.5],
    }))
    got = {r["qid"]: r["value"]
           for r in sample_bilinear(tiles, q, 256).collect()}
    # qid 1: pixel center (10, 12)
    assert got[1] == elev(10, 12)
    # qid 2: midpoint of pixels (19..20, 29..30) → mean of 4
    mean4 = (elev(19, 29) + elev(20, 29) + elev(19, 30) + elev(20, 30)) / 4.0
    assert abs(got[2] - mean4) < 1e-12
    assert got[3] == elev(100, 99)


def test_warp_bilinear_matches_direct_numpy(spark):
    """Bilinear warp agrees with a direct numpy bilinear resample of the
    closed-form DEM."""
    import numpy as np

    from gdal_spark.queries.raster import (_DST_GT, _DST_PX, _SRC_GT,
                                           q_warp_bilinear)

    rows = q_warp_bilinear(spark, "unused").collect()
    got = {r["qid"]: r["value"] for r in rows
           if r["method"] == "bilinear"}
    got_cubic = {r["qid"]: r["value"] for r in rows
                 if r["method"] == "cubic"}
    assert len(got) > 30000 and len(got_cubic) > 30000

    def elev(gx, gy):
        return (gx * gx * 5 + gy * gy * 3 + gx * gy) % 211

    rng = np.random.RandomState(7)
    for qid in rng.choice(sorted(got), 50, replace=False):
        di, dj = int(qid) % _DST_PX, int(qid) // _DST_PX
        wx = _DST_GT[0] + (di + 0.5) * _DST_GT[1]
        wy = _DST_GT[3] + (dj + 0.5) * _DST_GT[5]
        qx = (wx - _SRC_GT[0]) / _SRC_GT[1]
        qy = (wy - _SRC_GT[3]) / _SRC_GT[5]
        x0, y0 = int(np.floor(qx - 0.5)), int(np.floor(qy - 0.5))
        fx, fy = qx - 0.5 - x0, qy - 0.5 - y0
        want = (elev(x0, y0) * (1 - fx) * (1 - fy)
                + elev(x0 + 1, y0) * fx * (1 - fy)
                + elev(x0, y0 + 1) * (1 - fx) * fy
                + elev(x0 + 1, y0 + 1) * fx * fy)
        assert abs(got[qid] - want) < 1e-9
        # cubic: direct separable Catmull-Rom convolution of the DEM
        if qid not in got_cubic:
            continue

        def cm(f, v0, v1, v2, v3):
            return (v1 + 0.5 * f * (v2 - v0 + f * (
                2 * v0 - 5 * v1 + 4 * v2 - v3 + f * (
                    3 * (v1 - v2) + v3 - v0))))

        rowsv = [cm(fx, *(elev(x0 + kx - 1, y0 + ky - 1)
                          for kx in range(4))) for ky in range(4)]
        assert abs(got_cubic[qid] - cm(fy, *rowsv)) < 1e-6


def test_fillnodata_basic_properties(spark):
    """Filled pixels are true nodata (not burned), have >= 1 donor and a
    fill value inside the donor value range."""
    import duckdb

    from gdal_spark.queries.raster import q_fillnodata

    res = q_fillnodata(spark, "/root/testdata/sf0.001").toPandas()
    assert len(res) > 100
    assert (res["n_donors"] >= 1).all()
    assert (res["fill_value"] > 0).all()
    # no filled pixel may be a burned pixel
    from gdal_spark.pages import points_from_documents
    from gdal_spark.raster import pixel_counts
    px = pixel_counts(
        points_from_documents(spark, "/root/testdata/sf0.001"), 5
    ).toPandas()
    burned = set(zip(px["gx"], px["gy"]))
    assert not any((g, y) in burned for g, y in zip(res["gx"], res["gy"]))


def test_viewshed_ring1_and_brute_force(spark):
    """Chebyshev-ring-1 neighbors are always visible (no intermediate
    samples); sampled pixels agree with a direct python ray walk."""
    import numpy as np

    from gdal_spark.queries.raster import _VIEW, q_viewshed

    vx, vy, radius, h = _VIEW
    res = q_viewshed(spark, "unused").toPandas()
    assert len(res) == (2 * radius + 1) ** 2 - 1

    def elev(gx, gy):
        return (gx * gx * 5 + gy * gy * 3 + gx * gy) % 211

    eye = elev(vx, vy) + h
    ring1 = res[res["cheb_dist"] == 1]
    assert ring1["visible"].all() and len(ring1) == 8

    rng = np.random.RandomState(3)
    for _, r in res.sample(60, random_state=3).iterrows():
        gx, gy, n = int(r["gx"]), int(r["gy"]), int(r["cheb_dist"])
        blocked = False
        for s in range(1, n):
            sx = vx + int(np.floor(s * (gx - vx) / n + 0.5))
            sy = vy + int(np.floor(s * (gy - vy) / n + 0.5))
            if (elev(sx, sy) - eye) * n >= (elev(gx, gy) - eye) * s:
                blocked = True
                break
        assert bool(r["visible"]) == (not blocked), (gx, gy)


def test_pansharpen_preserves_pan_intensity(spark):
    """Brovey invariant: out_r + out_g + out_b == pan for every pixel
    (the weighted ratio redistributes, never creates, intensity)."""
    from gdal_spark.queries.raster import q_pansharpen

    res = q_pansharpen(spark, "unused").toPandas()
    assert len(res) == 64 * 64

    def pan(gx, gy):
        return ((gx * 7 + gy * 3) % 97 + 1) + ((gx * 5 + gy * 11) % 89 + 1) \
            + ((gx * 3 + gy * 13) % 83 + 1) + ((gx + gy) % 7)

    s = res["out_r"] + res["out_g"] + res["out_b"]
    want = [pan(g, y) for g, y in zip(res["gx"], res["gy"])]
    assert (abs(s - want) < 1e-9).all()


def test_cubic_interpolation_properties(spark):
    """Cubic at exact pixel centers reproduces the pixel value (the
    Catmull-Rom kernel interpolates); a fractional probe matches a
    direct numpy evaluation."""
    import numpy as np
    import pandas as pd

    from gdal_spark.raster import sample_cubic, synth_dem_tiles

    def elev(gx, gy):
        return (gx * gx * 5 + gy * gy * 3 + gx * gy) % 211

    tiles = synth_dem_tiles(spark, 256)
    q = spark.createDataFrame(pd.DataFrame({
        "qid": [1, 2],
        "qx": [50.5, 80.25],
        "qy": [60.5, 90.75],
    }))
    got = {r["qid"]: r["value"]
           for r in sample_cubic(tiles, q, 256).collect()}
    assert abs(got[1] - elev(50, 60)) < 1e-9

    def w(f):
        return np.array([
            ((-0.5 * f + 1.0) * f - 0.5) * f,
            (1.5 * f - 2.5) * f * f + 1.0,
            ((-1.5 * f + 2.0) * f + 0.5) * f,
            (0.5 * f - 0.5) * f * f,
        ])

    x1, y1 = int(np.floor(80.25 - 0.5)), int(np.floor(90.75 - 0.5))
    fx, fy = 80.25 - 0.5 - x1, 90.75 - 0.5 - y1
    vals = np.array([[elev(x1 + kx - 1, y1 + ky - 1) for kx in range(4)]
                     for ky in range(4)])
    want = float(w(fy) @ (vals @ w(fx)))
    assert abs(got[2] - want) < 1e-9


def test_warp_average_mass_conservation(spark):
    """Average warp: sum(value * n_src) over dst pixels equals the sum of
    all covered src pixels; full coverage when the dst grid contains the
    src extent."""
    import numpy as np

    from gdal_spark.queries.raster import (_AVG_DST_GT, _AVG_DST_PX,
                                           _SRC_GT, q_warp_average)

    res = q_warp_average(spark, "unused").toPandas()
    assert res["n_src"].sum() <= 256 * 256
    # reconstruct integer sums and compare against direct numpy
    gy, gx = np.mgrid[0:256, 0:256]
    elev = (gx * gx * 5 + gy * gy * 3 + gx * gy) % 211
    wx = _SRC_GT[0] + (gx + 0.5) * _SRC_GT[1]
    wy = _SRC_GT[3] + (gy + 0.5) * _SRC_GT[5]
    di = np.floor((wx - _AVG_DST_GT[0]) / _AVG_DST_GT[1]).astype(int)
    dj = np.floor((wy - _AVG_DST_GT[3]) / _AVG_DST_GT[5]).astype(int)
    keep = (di >= 0) & (di < _AVG_DST_PX) & (dj >= 0) & (dj < _AVG_DST_PX)
    assert res["n_src"].sum() == int(keep.sum())
    got_total = (res["value"] * res["n_src"]).sum()
    assert abs(got_total - elev[keep].sum()) < 1e-6


def test_tri_tpi_roughness_direct(spark):
    """Integer focal kernels match a direct numpy evaluation on sampled
    interior pixels."""
    import numpy as np

    from gdal_spark.queries.raster import q_dem_tri_tpi_roughness

    res = q_dem_tri_tpi_roughness(spark, "unused").toPandas()
    assert len(res) == 254 * 254

    def elev(gx, gy):
        return (gx * gx * 5 + gy * gy * 3 + gx * gy) % 211

    for _, r in res.sample(40, random_state=5).iterrows():
        gx, gy = int(r["gx"]), int(r["gy"])
        c = elev(gx, gy)
        nbs = [elev(gx + sx, gy + sy)
               for sy in (-1, 0, 1) for sx in (-1, 0, 1)
               if not (sx == 0 and sy == 0)]
        assert r["tri8"] == sum(abs(c - n) for n in nbs)
        assert r["tpi8"] == 8 * c - sum(nbs)
        assert r["rough"] == max(nbs + [c]) - min(nbs + [c])


def test_color_relief_ramp_endpoints(spark):
    """Channels stay in [0, 255]; pixels at exact stop elevations get
    the stop color."""
    from gdal_spark.queries.raster import q_color_relief
    from gdal_spark.raster import COLOR_RAMP

    res = q_color_relief(spark, "unused").toPandas()
    assert len(res) == 64 * 64
    for c in ("r", "g", "b"):
        assert (res[c] >= 0).all() and (res[c] <= 255).all()

    def elev(gx, gy):
        return (gx * gx * 5 + gy * gy * 3 + gx * gy) % 211

    stops = dict(COLOR_RAMP)
    hits = 0
    for _, r in res.iterrows():
        e = elev(int(r["gx"]), int(r["gy"]))
        if e in stops:
            assert (r["r"], r["g"], r["b"]) == stops[e]
            hits += 1
    assert hits > 0


def test_hillshade_aspect_matches_numpy_and_oracle(spark, ddb):
    """dem_hillshade_aspect: Spark SQL trig over the halo gradient equals
    (a) the numpy hillshade_np kernel and (b) the DuckDB oracle SQL."""
    from gdal_spark.queries.raster import _dem_slope_oracle, q_dem_hillshade
    from gdal_spark.raster import hillshade_aspect_sql, hillshade_np
    from tests.conftest import compare_frames

    res = q_dem_hillshade(spark, "unused")
    n = compare_frames(res, ddb,
                       hillshade_aspect_sql(f"({_dem_slope_oracle()})"))
    assert n == 254 * 254  # interior pixels of the 256² DEM

    got = res.toPandas().set_index(["gy", "gx"])
    px = 256
    gy, gx = np.mgrid[0:px, 0:px]
    elev = (gx * gx * 5 + gy * gy * 3 + gx * gy) % 211
    w = elev
    num_x = ((w[:-2, :-2] + 2 * w[1:-1, :-2] + w[2:, :-2])
             - (w[:-2, 2:] + 2 * w[1:-1, 2:] + w[2:, 2:]))
    num_y = ((w[2:, :-2] + 2 * w[2:, 1:-1] + w[2:, 2:])
             - (w[:-2, :-2] + 2 * w[:-2, 1:-1] + w[:-2, 2:]))
    hs = hillshade_np(num_x.ravel(), num_y.ravel(), cellsize=30.0)
    for y, x in [(1, 1), (63, 64), (64, 64), (128, 7), (254, 254)]:
        assert got.loc[(y, x)]["hillshade"] == hs[
            (y - 1) * (px - 2) + (x - 1)], (y, x)
    flat = got[got["aspect_deg"] == -1]
    nonflat = got[got["aspect_deg"] >= 0]
    assert (nonflat["aspect_deg"] <= 360).all()
    assert len(flat) + len(nonflat) == len(got)


def test_rasterize_polygons_semantics(spark):
    """Polygon burn invariants: ALL_TOUCHED covers at least the
    center-inside set; the ADD and REPLACE variants diverge exactly where
    zones overlap (zone 12 is a shifted copy of zone 0); every burned
    count is positive somewhere."""
    import pandas as pd

    from gdal_spark.rasterize_poly import rasterize_polygons
    from gdal_spark.zones import zone_defs

    out = rasterize_polygons(spark, zone_defs()).toPandas()
    assert (out["n_touched"] >= out["n_burned"]).all()
    assert out["n_burned"].sum() > 100
    # overlap region: at least one tile where ADD != REPLACE checksum
    assert (out["cs_add"] != out["cs_replace"]).any()
    # checksums are 16-bit
    for c in ("cs_replace", "cs_add", "cs_all_touched"):
        assert out[c].between(0, 65535).all()


def test_rasterize_single_aligned_square(spark):
    """A polygon aligned to whole pixels burns exactly its interior pixel
    count (center rule) and its closed pixel neighborhood with
    ALL_TOUCHED."""
    import numpy as np

    from gdal_spark import rasterize_poly as RP

    # a square spanning exactly 4x4 pixels, pixel-grid aligned, away from
    # tile borders: pick gx range [100, 104) x gy [100, 104)
    x_lo = RP.X0 + 100 * RP.RES
    x_hi = RP.X0 + 104 * RP.RES
    y_hi = RP.Y0 - 100 * RP.RES
    y_lo = RP.Y0 - 104 * RP.RES
    # express corners in lon/lat via the exact inverse of the forward SQL
    import math
    A = 6378137.0

    def inv(mx, my):
        return (math.degrees(mx / A),
                math.degrees(2.0 * math.atan(math.exp(my / A)) - math.pi / 2))

    lon0, lat0 = inv(x_lo, y_lo)
    lon1, lat1 = inv(x_hi, y_hi)
    ring = np.asarray([(lon0, lat0), (lon1, lat0), (lon1, lat1),
                       (lon0, lat1), (lon0, lat0)], dtype=np.float64)
    defs = [{"zone_id": 0, "eas_id": 7, "rings": [ring]}]
    out = RP.rasterize_polygons(spark, defs).toPandas()
    burned = int(out["n_burned"].sum())
    touched = int(out["n_touched"].sum())
    # centers of the 4x4 block are inside (up to a half-open boundary
    # column/row if the inverse round-trip lands a hair off)
    assert 9 <= burned <= 25
    assert touched >= burned and touched <= 49


def test_polygonize_ring_tracer_matches_euler(spark):
    """Traced boundary rings agree with the Euler ring count for every
    fixture component, and ring areas reconcile: |outer| − Σ|holes| =
    n_pixels (pixel units)."""
    import numpy as np

    from gdal_spark import geom as G
    from gdal_spark import wkb as W
    from gdal_spark.pages import points_from_documents
    from gdal_spark.polygonize import (label_pixels,
                                       polygonize_ring_features,
                                       polygonize_rings_summary)
    from gdal_spark.queries.raster import RASTER_Z
    from gdal_spark.raster import pixel_counts

    pts = points_from_documents(spark, "/root/testdata/sf0.01")
    grid_w = 1 << (RASTER_Z + 6)
    labeled = label_pixels(pixel_counts(pts, RASTER_Z), grid_w).cache()
    summary = polygonize_rings_summary(labeled, grid_w).toPandas() \
        .set_index("comp")
    feats = polygonize_ring_features(labeled).toPandas()
    assert len(feats) == len(summary) > 100
    n_with_holes = 0
    for _, r in feats.iterrows():
        want = summary.loc[r["comp"]]
        assert r["n_rings"] == want["n_rings"], r["comp"]
        g = W.loads(bytes(r["geom"]))
        areas = [abs(G.ring_area(np.asarray(ring))) for ring in g["coords"]]
        net = areas[0] - sum(areas[1:])
        assert net == want["n_pixels"], r["comp"]
        if r["n_rings"] > 1:
            n_with_holes += 1
    # synthetic hotspots are dense enough that some components have holes
    assert (summary["n_rings"] >= 1).all()


def test_trace_component_rings_unit():
    from gdal_spark.polygonize import trace_component_rings

    # single pixel: one 4-edge ring
    rings = trace_component_rings({(0, 0)})
    assert len(rings) == 1 and len(rings[0]) == 5
    # 3x3 block with center hole: outer + hole ring
    pix = {(x, y) for x in range(3) for y in range(3)} - {(1, 1)}
    rings = trace_component_rings(pix)
    assert len(rings) == 2
    lens = sorted(len(r) for r in rings)
    assert lens == [5, 13]


def test_warp_cutline_mask_matches_numpy(spark):
    """Cutline-masked warp ≡ full warp filtered by an independent numpy
    even-odd point-in-polygon test of each dst pixel center."""
    from gdal_spark.queries.raster import (_CUTLINE, _DST_GT, _DST_PX,
                                           _SRC_GT, DEM_PX, q_warp_cutline)
    from gdal_spark.raster import synth_dem_tiles, warp_nearest

    full = {(r["di"], r["dj"]): r["value"]
            for r in warp_nearest(synth_dem_tiles(spark, DEM_PX), _SRC_GT,
                                  DEM_PX, _DST_GT, _DST_PX).collect()}
    cut = {(r["di"], r["dj"]): r["value"]
           for r in q_warp_cutline(spark, SF).collect()}

    poly = np.asarray(_CUTLINE + _CUTLINE[:1], dtype=np.float64)

    def inside(x, y):
        c = 0
        for k in range(len(poly) - 1):
            (x0, y0), (x1, y1) = poly[k], poly[k + 1]
            if (y0 > y) != (y1 > y) and x < (x1 - x0) * (y - y0) \
                    / (y1 - y0) + x0:
                c += 1
        return c % 2 == 1

    gt0, gt1, gt3, gt5 = _DST_GT[0], _DST_GT[1], _DST_GT[3], _DST_GT[5]
    expect = {
        (di, dj): v for (di, dj), v in full.items()
        if inside(gt0 + (di + 0.5) * gt1, gt3 + (dj + 0.5) * gt5)
    }
    assert cut == expect
    assert 0 < len(cut) < len(full)  # the cutline really masks something


def test_projwin_to_srcwin_rounding():
    """GDAL's align-to-input-pixels rounding: off floors with +0.001
    slack, size ceils with -0.001 slack (gdal_translate_lib.cpp)."""
    from gdal_spark.raster import projwin_to_srcwin

    gt = [100.0, 10.0, 0.0, 500.0, 0.0, -10.0]
    # exact pixel-edge window -> exact pixel indices
    assert projwin_to_srcwin(gt, 120.0, 480.0, 160.0, 440.0) \
        == (2, 6, 2, 6)
    # tiny epsilon beyond an edge snaps back to it (the 0.001 slack)
    assert projwin_to_srcwin(gt, 120.0 - 1e-3, 480.0 + 1e-3,
                             160.0 + 1e-3, 440.0 - 1e-3) == (2, 6, 2, 6)
    # mid-pixel bounds: off floors, size covers the partial pixel
    assert projwin_to_srcwin(gt, 125.0, 475.0, 156.0, 443.0) \
        == (2, 6, 2, 6)


def test_polygonize_by_value_matches_bfs(spark):
    """Value-aware polygonize (equal-valued 4-connected components —
    the actual GDALPolygonize semantics) agrees with an independent
    whole-grid BFS on a banded 2x2-tile DEM."""
    import duckdb

    from gdal_spark.queries.raster import (_contour_polygons_oracle,
                                           q_contour_polygons)

    got = q_contour_polygons(spark, "unused").toPandas()
    want = duckdb.connect().execute(_contour_polygons_oracle()).df()
    cols = ["comp", "value", "n_pixels", "min_gx", "min_gy",
            "max_gx", "max_gy"]
    a = got[cols].sort_values("comp").reset_index(drop=True)
    b = want[cols].sort_values("comp").reset_index(drop=True)
    assert a.shape == b.shape and len(a) > 1000
    for c in cols:
        assert (a[c].astype("int64") == b[c].astype("int64")).all()
    # bands partition the full grid
    from gdal_spark.contour import CONTOUR_LINES_PX
    assert a["n_pixels"].sum() == CONTOUR_LINES_PX ** 2


def test_warp_mode_and_rms_direct(spark):
    """Mode warp picks the most frequent src value (ties to the
    smallest); RMS warp equals sqrt(mean(v^2)) — both checked against a
    direct numpy aggregation of the closed-form DEM."""
    import math

    from gdal_spark.queries.raster import (_AVG_DST_GT, _AVG_DST_PX,
                                           _SRC_GT)
    from gdal_spark.raster import synth_dem_tiles, warp_mode, warp_rms

    px = 128
    tiles = synth_dem_tiles(spark, px)
    gy, gx = np.mgrid[0:px, 0:px]
    elev = (gx * gx * 5 + gy * gy * 3 + gx * gy) % 211
    wx = _SRC_GT[0] + (gx + 0.5) * _SRC_GT[1]
    wy = _SRC_GT[3] + (gy + 0.5) * _SRC_GT[5]
    di = np.floor((wx - _AVG_DST_GT[0]) / _AVG_DST_GT[1]).astype(int)
    dj = np.floor((wy - _AVG_DST_GT[3]) / _AVG_DST_GT[5]).astype(int)
    keep = (di >= 0) & (di < _AVG_DST_PX) & (dj >= 0) & (dj < _AVG_DST_PX)

    want_mode, want_rms = {}, {}
    for d_i, d_j, v in zip(di[keep], dj[keep], elev[keep]):
        want_mode.setdefault((d_i, d_j), []).append(int(v))
    for k, vs in want_mode.items():
        counts = {}
        for v in vs:
            counts[v] = counts.get(v, 0) + 1
        best = min(counts, key=lambda v: (-counts[v], v))
        want_rms[k] = math.sqrt(sum(v * v for v in vs) / len(vs))
        want_mode[k] = best

    got_m = {(r["di"], r["dj"]): r["value"] for r in
             warp_mode(tiles, _SRC_GT, px, _AVG_DST_GT,
                       _AVG_DST_PX).collect()}
    got_r = {(r["di"], r["dj"]): r["value"] for r in
             warp_rms(tiles, _SRC_GT, px, _AVG_DST_GT,
                      _AVG_DST_PX).collect()}
    assert set(got_m) == set(want_mode) and len(got_m) > 100
    for k in want_mode:
        assert got_m[k] == want_mode[k], k
        assert abs(got_r[k] - want_rms[k]) < 1e-9, k


def test_lanczos_interpolating_and_normalized(spark):
    """The lanczos sampler is interpolating (a query at an exact pixel
    center returns that pixel's value: all non-center weights vanish at
    integer distances) and normalized (value is a convex-ish combination
    — bounded by the 6×6 window's min/max within ~ the kernel's
    overshoot, and exactly v for a constant window)."""
    import numpy as np
    import pandas as pd

    from gdal_spark.queries.raster import DEM_PX
    from gdal_spark.raster import sample_lanczos, synth_dem_tiles

    tiles = synth_dem_tiles(spark, DEM_PX)
    # pixel-center queries: qx = gx + 0.5
    centers = [(17, 23), (100, 40), (200, 200), (63, 64)]
    q = spark.createDataFrame(pd.DataFrame({
        "qid": range(len(centers)),
        "qx": [x + 0.5 for x, _ in centers],
        "qy": [y + 0.5 for _, y in centers]}))
    got = sample_lanczos(tiles, q, DEM_PX).toPandas() \
        .set_index("qid").sort_index()
    for qid, (x, y) in enumerate(centers):
        want = float((x * x * 5 + y * y * 3 + x * y) % 211)
        assert abs(got.loc[qid, "value"] - want) < 1e-9, (x, y)
    # fractional query: bounded by window extremes with lanczos
    # overshoot slack (windowed sinc has negative lobes)
    q2 = spark.createDataFrame(pd.DataFrame(
        {"qid": [0], "qx": [50.37], "qy": [80.61]}))
    v = sample_lanczos(tiles, q2, DEM_PX).toPandas()["value"][0]
    gy, gx = np.mgrid[78:84, 47:54]
    w = (gx * gx * 5 + gy * gy * 3 + gx * gy) % 211
    lo, hi = w.min(), w.max()
    span = hi - lo
    assert lo - 0.3 * span <= v <= hi + 0.3 * span


def test_polygonize_8connected_merges_diagonals(spark):
    """8CONNECTED=8 semantics: on the same banded raster the 8-connected
    labeling produces no more components than 4-connected, covers the
    same pixels, and strictly merges at least one corner-touching pair
    on this fixture."""
    from gdal_spark.queries.raster import (q_contour_polygons,
                                           q_polygonize_components8)

    a4 = q_contour_polygons(spark, "x").toPandas()
    a8 = q_polygonize_components8(spark, "x").toPandas()
    assert a4["n_pixels"].sum() == a8["n_pixels"].sum()
    assert len(a8) < len(a4)
    # every 8-component is a union of 4-components: per band, pixel
    # totals agree
    s4 = a4.groupby("value")["n_pixels"].sum()
    s8 = a8.groupby("value")["n_pixels"].sum()
    assert s4.equals(s8)


def test_exact_viewshed_implementations_agree():
    """The line-sweep engine kernel and the memoized-recursion oracle
    implement the same Wang/Edge spec through different structures:
    they must agree cell-for-cell on random terrain, flat plains are
    fully visible, and a wall shadows the cells behind it."""
    import numpy as np

    from gdal_spark.viewshed_exact import (wang_viewshed_memo,
                                           wang_viewshed_np)

    rng = np.random.RandomState(3)
    for _ in range(5):
        n = 40
        dem = rng.randint(0, 80, (n, n)).astype(float)
        ox, oy = rng.randint(3, n - 3, 2)
        a = wang_viewshed_np(dem, ox, oy)
        b = wang_viewshed_memo(dem, ox, oy)
        assert np.array_equal(a, b)
    flat = np.zeros((24, 24))
    assert wang_viewshed_np(flat, 12, 12).all()
    wall = np.zeros((24, 24))
    wall[:, 16] = 40.0
    v = wang_viewshed_np(wall, 8, 12)
    assert v[12, 16] == 1 and v[12, 20] == 0
    # observer height lifts the eye over the wall
    v2 = wang_viewshed_np(wall, 8, 12, obs_z=200.0)
    assert v2[12, 20] == 1


def test_hillshade_variants_match_reference_transcription(spark):
    """The shared-SQL combined/multidirectional hillshades agree with a
    direct scalar transcription of GDALHillshadeCombinedAlg /
    GDALHillshadeMultiDirectionalAlg (apps/gdaldem_lib.cpp:1106/:1193)
    evaluated per 3x3 window over the synthetic DEM."""
    import math

    import numpy as np

    from gdal_spark.queries.raster import DEM_PX, q_dem_hillshade_variants

    got = q_dem_hillshade_variants(spark, "x").toPandas() \
        .set_index(["gy", "gx"]).sort_index()
    w = DEM_PX
    gy, gx = np.mgrid[0:w, 0:w]
    dem = ((gx * gx * 5 + gy * gy * 3 + gx * gy) % 211).astype(float)
    c = 30.0
    alt = math.radians(45.0)
    az = math.radians(315.0)
    sin_alt, cos_alt = math.sin(alt), math.cos(alt)
    inv_sq_half_pi = 1.0 / ((math.pi / 2.0) ** 2)
    rng = np.random.RandomState(8)
    for _ in range(60):
        x0 = rng.randint(1, w - 1)
        y0 = rng.randint(1, w - 1)
        win = dem[y0 - 1:y0 + 2, x0 - 1:x0 + 2].ravel()
        x = ((win[0] + 2 * win[3] + win[6])
             - (win[2] + 2 * win[5] + win[8])) / c
        y = ((win[6] + 2 * win[7] + win[8])
             - (win[0] + 2 * win[1] + win[2])) / (-c)
        zf = 1.0 / 8.0
        slope = (x * x + y * y) * zf * zf
        arg = (sin_alt - (y * math.cos(az) * cos_alt * zf
                          - x * math.sin(az) * cos_alt * zf)) \
            / math.sqrt(1 + slope)
        cang = math.acos(max(-1.0, min(1.0, arg)))
        cang = 1 - cang * math.atan(math.sqrt(slope)) * inv_sq_half_pi
        comb = 1.0 if cang <= 0 else 1.0 + 254.0 * cang
        xx, yy = x * x, y * y
        s = xx + yy
        if s == 0:
            multi = 1.0 + 254.0 * sin_alt
        else:
            s127 = 127.0 * sin_alt
            caz = 127.0 * math.cos(math.radians(225.0)) * cos_alt * zf
            ca = 127.0 * cos_alt * zf
            v225 = max(0.0, s127 + (x - y) * caz)
            v270 = max(0.0, s127 - x * ca)
            v315 = max(0.0, s127 + (x + y) * caz)
            v360 = max(0.0, s127 - y * ca)
            w225 = 0.5 * s - x * y
            multi = 1.0 + ((w225 * v225 + xx * v270
                            + (s - w225) * v315 + yy * v360) / s) \
                / math.sqrt(1 + zf * zf * s)
        row = got.loc[(y0, x0)]
        assert row["combined"] == round(comb), (x0, y0)
        assert row["multidir"] == round(multi), (x0, y0)


def test_slope_formats_reference_relations(spark):
    """Slope-format invariants straight from the reference formulas:
    pct = 100·tan(deg) for both algorithms (the two formats are the
    same quantity), and the ZT stencil equals Horn on a plane (exact
    for linear ramps) while differing on curved terrain."""
    import numpy as np

    from gdal_spark.queries.raster import q_dem_slope_formats

    df = q_dem_slope_formats(spark, "x").toPandas()
    assert len(df) > 0
    for alg in ("horn", "zt"):
        deg = np.radians(df[f"slope_{alg}_deg"].to_numpy())
        pct = df[f"slope_{alg}_pct"].to_numpy()
        assert np.abs(100.0 * np.tan(deg) - pct).max() < 1e-3
    # the high-frequency synthetic DEM makes the stencils disagree
    assert (df["slope_horn_deg"] != df["slope_zt_deg"]).any()


class TestWarpApprox:
    """GDALApproxTransformer analogue (warp_nearest_crs_approx)."""

    def _fixture(self, spark):
        from gdal_spark.queries.raster import (DEM_PX, _CRS_SRC_GT,
                                               _WEBM_DST_GT, _WEBM_DST_PX,
                                               synth_dem_tiles)

        return (synth_dem_tiles(spark, DEM_PX), _CRS_SRC_GT, DEM_PX,
                _WEBM_DST_GT, _WEBM_DST_PX)

    def test_tiny_tolerance_falls_back_to_exact_everywhere(self, spark):
        """tol below the lattice error floor rejects EVERY cell → the
        exact-fallback branch must reproduce warp_nearest_crs exactly."""
        from gdal_spark.raster import (warp_nearest_crs,
                                       warp_nearest_crs_approx)

        tiles, sgt, px, dgt, dpx = self._fixture(spark)
        a = warp_nearest_crs_approx(tiles, sgt, px, dgt, dpx,
                                    src_epsg=2154, dst_epsg=3857,
                                    tol_px=1e-7).toPandas() \
            .sort_values(["di", "dj"]).reset_index(drop=True)
        e = warp_nearest_crs(tiles, sgt, px, dgt, dpx, src_epsg=2154,
                             dst_epsg=3857).toPandas() \
            .sort_values(["di", "dj"]).reset_index(drop=True)
        assert a.equals(e)

    def test_default_tolerance_divergence_bounded(self, spark):
        """At GDAL's default -et 0.125 every cell approximates; the
        result may differ from exact only where sub-tolerance mapping
        error flips a floor() at a pixel boundary — tiny fraction, same
        row set."""
        import pandas as pd

        from gdal_spark.raster import (warp_nearest_crs,
                                       warp_nearest_crs_approx)

        tiles, sgt, px, dgt, dpx = self._fixture(spark)
        a = warp_nearest_crs_approx(tiles, sgt, px, dgt, dpx,
                                    src_epsg=2154,
                                    dst_epsg=3857).toPandas()
        e = warp_nearest_crs(tiles, sgt, px, dgt, dpx, src_epsg=2154,
                             dst_epsg=3857).toPandas()
        assert len(a) == len(e)
        m = a.merge(e, on=["di", "dj"], suffixes=("_a", "_e"))
        assert len(m) == len(a)  # identical pixel coverage
        frac = (m["value_a"] != m["value_e"]).mean()
        assert frac < 0.01, frac  # measured 84/19509 ≈ 0.4%

    def test_mixed_tolerance_matches_oracle(self, spark):
        """A tolerance inside the fixture's midpoint-error band splits
        cells between accept and exact-fallback; both engines share the
        branch decision so the oracle match is exact."""
        import duckdb

        from gdal_spark.queries.raster import _APPROX_ET_TIGHT
        from gdal_spark.raster import (warp_nearest_crs_approx,
                                       warp_nearest_crs_approx_oracle_sql)

        tiles, sgt, px, dgt, dpx = self._fixture(spark)
        a = warp_nearest_crs_approx(tiles, sgt, px, dgt, dpx,
                                    src_epsg=2154, dst_epsg=3857,
                                    tol_px=_APPROX_ET_TIGHT).toPandas() \
            .sort_values(["di", "dj"]).reset_index(drop=True)
        sql = warp_nearest_crs_approx_oracle_sql(
            sgt, px, dgt, dpx, 2154, 3857, tol_px=_APPROX_ET_TIGHT)
        o = duckdb.connect().execute(sql).df() \
            .sort_values(["di", "dj"]).reset_index(drop=True)
        # assert the mix is genuine: some cells accepted, some rejected
        probe = (sql.split("px as materialized")[0]
                 + "m as (select count(*) filter (approx_ok) a, count(*) n"
                   " from cellsf) select * from m")
        na, n = duckdb.connect().execute(probe).fetchall()[0]
        assert 0 < na < n, (na, n)
        assert a.astype("int64").equals(o.astype("int64"))


def test_bspline_weights_partition_of_unity_and_smoothing(spark):
    """GWKBSpline kernel invariants: Σw = 1 at any fraction (so a
    constant field warps to itself), B3(0) = 2/3 (smoothing, not
    interpolating), and weights match the closed-form B3 basis."""
    import numpy as np

    from gdal_spark.raster import _bspline_weights_sql

    def b3(t):
        t = abs(t)
        if t <= 1:
            return (4 - 6 * t * t + 3 * t ** 3) / 6
        if t <= 2:
            return (2 - t) ** 3 / 6
        return 0.0

    for f in [0.0, 0.1, 0.25, 0.5, 0.75, 0.9]:
        exprs = _bspline_weights_sql(repr(float(f)))
        got = [spark.sql(f"select {e} as w").collect()[0]["w"]
               for e in exprs]
        want = [b3(1 + f), b3(f), b3(1 - f), b3(2 - f)]
        assert np.allclose(got, want, atol=1e-15), f
        assert abs(sum(got) - 1.0) < 1e-12, f
    assert abs(b3(0.0) - 2.0 / 3.0) < 1e-15


def test_raster_percentiles_match_numpy(spark):
    """Inverted-CDF percentiles over the DEM histogram equal
    numpy.percentile with the 'inverted_cdf' method on the raw pixel
    values."""
    import numpy as np

    from gdal_spark.queries.raster import DEM_PX, q_raster_percentiles

    row = q_raster_percentiles(spark, "/root/testdata/sf0.001").collect()[0]
    gy, gx = np.mgrid[0:DEM_PX, 0:DEM_PX]
    vals = (gx * gx * 5 + gy * gy * 3 + gx * gy) % 211
    for p in (1, 5, 25, 50, 75, 95, 99):
        want = int(np.percentile(vals.ravel(), p,
                                 method="inverted_cdf"))
        assert getattr(row, f"p{p:02d}") == want, p


def test_color_merge_matches_reference_transcription(spark):
    """The HSV value-replacement matches an independent double-
    precision transcription of the reference's rgb_to_hs / hsv_to_rgb
    (apps/gdalalg_raster_color_merge.cpp, hsv_merge.py lineage),
    including the maxc==b-before-maxc==g tie order and the +0.5
    truncating byte cast."""
    import numpy as np

    from gdal_spark.queries.raster import _CM_PX, q_raster_color_merge

    def merge(r, g, b, v):
        maxc, minc = max(r, g, b), min(r, g, b)
        mm = maxc - minc
        s = mm / max(1, maxc)
        denom = 1.0 if mm == 0 else 6.0 * mm
        if maxc == b:
            h = 4 / 6 + (r - g) / denom
        elif maxc == g:
            h = 2 / 6 + (b - r) / denom
        else:
            h = (g - b) / denom
            if h < 0:
                h += 1.0
        i = int(6.0 * h)
        f = 6.0 * h - i
        p = int(v * (1.0 - s) + 0.5)
        q = int(v * (1.0 - s * f) + 0.5)
        t = int(v * (1.0 - s * (1.0 - f)) + 0.5)
        r2 = [v, q, p, p, t, v][min(i, 5)]
        g2 = [t, v, v, q, p, p][min(i, 5)]
        b2 = [p, p, t, v, v, q][min(i, 5)]
        return r2, g2, b2

    want = {}
    for gy in range(_CM_PX):
        rs = gs = bs = 0
        for gx in range(_CM_PX):
            r = (gx * 3 + gy * 5) % 256
            g = (gx * 7 + gy * 11 + 37) % 256
            b = (gx * 13 + gy * 17 + 101) % 256
            v = (gx * gx * 5 + gy * gy * 3 + gx * gy) % 256
            r2, g2, b2 = merge(r, g, b, v)
            rs, gs, bs = rs + r2, gs + g2, bs + b2
        want[gy] = (rs, gs, bs)
    out = {r.gy: (r.r_sum, r.g_sum, r.b_sum)
           for r in q_raster_color_merge(spark, "unused").collect()}
    assert out == want
    _ = np


def test_equalize_matches_reference_transcription(spark):
    """gdalenhance -equalize pinned against an independent Python
    transcription of the reference's exact loops: GetDefaultHistogram's
    expanded bounds (gdalrasterband.cpp:4896-4900), GetHistogram's
    floor((v-min)*scale) bucketing (4432), ComputeEqualizationLUTs'
    zeroed extremes / half-bucket CDF / integer LUT
    (gdalenhance.cpp:405-452), and EnhancerCallback's float32 read +
    truncating bin + LUT indexing (503-528)."""
    import numpy as np

    from gdal_spark.queries.raster import DEM_PX, q_raster_equalize
    from gdal_spark.raster import CHECKSUM_PRIMES

    got = {(r.tx, r.ty): (r.checksum_val, r.sum_out)
           for r in q_raster_equalize(spark, "unused").collect()}

    # ---- independent transcription of the C++ ----
    gy, gx = np.mgrid[0:DEM_PX, 0:DEM_PX]
    elev = (gx * gx * 5 + gy * gy * 3 + gx * gy) % 211
    n_buckets = 256
    vmin, vmax = 0.0, 210.0
    half = (vmax - vmin) / (2 * (n_buckets - 1))
    lo, hi = vmin - half, vmax + half
    scale = n_buckets / (hi - lo)
    hist = np.zeros(n_buckets, dtype=np.int64)
    for v in elev.ravel():
        idx = np.floor((float(v) - lo) * scale)
        idx = 0 if idx < 0 else (n_buckets - 1 if idx >= n_buckets
                                 else int(idx))
        hist[idx] += 1
    hist[0] = 0
    hist[n_buckets - 1] = 0
    cum = np.zeros(n_buckets, dtype=np.int64)
    total = 0
    for i in range(n_buckets):
        cum[i] = total + hist[i] // 2
        total += hist[i]
    lut = np.clip(cum * n_buckets // max(total, 1), 0, n_buckets - 1)
    # EnhancerCallback: read as float32, dfBin=(v-lo)*scale, trunc+clamp
    src = elev.astype(np.float32).astype(np.float64)
    dfbin = (src - lo) * scale
    ibin = np.where(~(dfbin > 0), 0,
                    np.where(~(dfbin < n_buckets - 1), n_buckets - 1,
                             dfbin.astype(np.int64)))
    out = lut[ibin].astype(np.uint8)

    expected = {}
    for tx in range(DEM_PX // 64):
        for ty in range(DEM_PX // 64):
            tile = out[ty * 64:(ty + 1) * 64, tx * 64:(tx + 1) * 64]
            flat = tile.ravel().astype(np.int64)
            primes = CHECKSUM_PRIMES[np.arange(flat.size) % 11]
            expected[(tx, ty)] = (int(np.sum(flat % primes) % 65536),
                                  int(flat.sum()))
    assert got == expected
    # the equalization must actually stretch: full byte range used
    assert out.min() == 0 and out.max() == 255
