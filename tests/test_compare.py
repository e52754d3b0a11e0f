"""gdalcompare golden-diff parity (swig/python/gdal-utils/osgeo_utils/
gdalcompare.py compare_band:127 / compare_image_pixels:79).

The pin below is an INDEPENDENT full-grid numpy transcription of the
reference's per-band loop (diff count, max |golden-new|, checksum rule)
— it shares no code with the per-tile builder or the oracle SQL."""

import numpy as np
import pandas as pd
import pytest

from gdal_spark.raster import CHECKSUM_PRIMES, compare_tile_bands


def _full_grid(px=256):
    gy, gx = np.mgrid[0:px, 0:px]
    return gx.astype(np.int64), gy.astype(np.int64)


def _bands(px=256):
    gx, gy = _full_grid(px)
    g = {1: (gx * gx * 5 + gy * gy * 3 + gx * gy) % 211,
         2: (gx * 7 + gy * gy * 11 + 13) % 199,
         3: (gx * 3 + gy * 5) % 251}
    n = {1: g[1],
         2: g[2] + np.where((gx * 13 + gy * 7) % 997 == 0,
                            1 + (gx + gy) % 5, 0),
         3: g[3] + np.where((gx == gy) & (gx % 37 == 0), 100, 0)}
    return g, n


def _checksum(band_vals):
    # GDALChecksumImage per 64-px tile position (alg/gdalchecksum.cpp
    # arithmetic), summed over the whole band mod 65536 — the repo's
    # whole-band convention (pos = (gy%64)*64 + (gx%64)).
    px = band_vals.shape[0]
    gy, gx = np.mgrid[0:px, 0:px]
    pos = (gy % 64) * 64 + (gx % 64)
    pr = CHECKSUM_PRIMES[pos % 11]
    return int((band_vals % pr).sum() % 65536)


def test_compare_matches_reference_loop(spark):
    from gdal_spark.queries.raster import _synth_compare_tiles

    out = compare_tile_bands(_synth_compare_tiles(spark, "golden"),
                             _synth_compare_tiles(spark, "new"))
    rows = {r.band: r for r in out.collect()}
    g, n = _bands()
    assert sorted(rows) == [1, 2, 3]
    for b in (1, 2, 3):
        d = np.abs(g[b] - n[b])
        cg, cn = _checksum(g[b]), _checksum(n[b])
        r = rows[b]
        assert (r.golden_checksum, r.new_checksum) == (cg, cn)
        assert r.found_diff == (1 if cg != cn else 0)
        assert r.pixels_differing == int(np.count_nonzero(d))
        assert r.max_pixel_difference == int(d.max())
    # the fixture must exercise every reference lane
    assert rows[1].found_diff == 0 and rows[1].pixels_differing == 0
    assert rows[2].found_diff == 1 and 0 < rows[2].pixels_differing < 100
    assert rows[3].found_diff == 1 and rows[3].max_pixel_difference == 100


def test_compare_one_sided_tile(spark):
    # a tile present in only one dataset: every pixel of it differs
    # (the reference would report a size mismatch up front; the
    # distributed compare degrades per-tile instead of aborting)
    buf = np.arange(9, dtype=np.int64)
    row = {"z": 0, "tx": 0, "ty": 0, "band": 1,
           "gt": [0.0] * 6, "data": buf.tobytes()}
    schema = ("z int, tx long, ty long, band int, gt array<double>, "
              "data binary")
    golden = spark.createDataFrame(pd.DataFrame([row]), schema=schema)
    empty = spark.createDataFrame(pd.DataFrame([], columns=list(row)),
                                  schema=schema)
    r = compare_tile_bands(golden, empty).collect()[0]
    assert r.pixels_differing == 9
    assert r.max_pixel_difference == 8
    assert r.found_diff == 1


def test_compare_rejects_duplicate_tile_rows(spark):
    # two golden rows for one (band, tx, ty) would make the per-pair
    # kernel read only the first; it must fail instead of undercounting
    buf = np.arange(9, dtype=np.int64)
    row = {"z": 0, "tx": 0, "ty": 0, "band": 1,
           "gt": [0.0] * 6, "data": buf.tobytes()}
    schema = ("z int, tx long, ty long, band int, gt array<double>, "
              "data binary")
    golden = spark.createDataFrame(pd.DataFrame([row, row]), schema=schema)
    new = spark.createDataFrame(pd.DataFrame([row]), schema=schema)
    with pytest.raises(Exception, match="duplicate tile rows"):
        compare_tile_bands(golden, new).collect()
