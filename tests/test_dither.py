"""Floyd–Steinberg dithering (gdal_spark.dither) vs the reference
semantics of GDALDitherRGB2PCT (alg/gdaldither.cpp)."""

from __future__ import annotations

import numpy as np
import pytest

from gdal_spark.dither import build_colormap_5bit, dither_image


def _scalar_dither(rgb, palette):
    """Straight scalar transcription of the reference loop (the
    independent twin of dither_image; mirrors the oracle builder in
    gdal_spark.queries.raster but local to the test)."""
    h, w = len(rgb), len(rgb[0])

    def clamp(v):
        return 0 if v < 0 else (255 if v > 255 else v)

    def trunc6(e):
        return -((-e) // 6) if e < 0 else e // 6

    def nearest(r, g, b):
        rr = ((r >> 3) * 255) // 31
        gg = ((g >> 3) * 255) // 31
        bb = ((b >> 3) * 255) // 31
        best, besti = 768, 0
        for i, (pr, pg, pb) in enumerate(palette):
            d = abs(rr - pr) + abs(gg - pg) + abs(bb - pb)
            if d < best:
                best, besti = d, i
        return besti

    out = [[0] * w for _ in range(h)]
    err = [[0, 0, 0] for _ in range(w + 2)]
    for y in range(h):
        line = [tuple(clamp(rgb[y][x][c] + err[x + 1][c])
                      for c in range(3)) for x in range(w)]
        err = [[0, 0, 0] for _ in range(w + 2)]
        last = [0, 0, 0]
        for x in range(w):
            v = [clamp(line[x][c] + last[c]) for c in range(3)]
            idx = nearest(*v)
            out[y][x] = idx
            for c in range(3):
                e = v[c] - palette[idx][c]
                s = trunc6(e)
                err[x][c] += s
                err[x + 2][c] = s
                err[x + 1][c] += e - 5 * s
                last[c] = 2 * s
    return out


def test_colormap_cell_reps_and_first_min_tie():
    """The cube maps each cell to the palette entry nearest the cell
    REPRESENTATIVE (i*255)//31 by L1, first index winning ties."""
    # two identical entries: ties must resolve to index 0
    pal = [(100, 100, 100), (100, 100, 100), (0, 0, 0)]
    cmap = build_colormap_5bit(pal)
    # cell (12,12,12) rep = (98,98,98): L1 6 to both identical entries
    # -> the FIRST (index 0) must win
    assert cmap[12 + (12 << 5) + (12 << 10)] == 0
    # cell (0,0,0) rep = (0,0,0): exact hit on entry 2
    assert cmap[0] == 2
    # cell (31,31,31) rep = (255,255,255): L1 to (100,..)=465 < to (0,..)=765
    assert cmap[31 + (31 << 5) + (31 << 10)] == 0


def test_error_diffusion_hand_case():
    """1x2 image, palette {0, 255} per channel: pixel0=100 maps to the
    5-bit rep 98 -> nearest 0 (L1 294 vs 471); error e=100, sixth=16,
    right-carry 2*16=32 -> pixel1 = clamp(100+32)=132 -> rep 131 ->
    nearest 255."""
    pal = [(0, 0, 0), (255, 255, 255)]
    rgb = np.full((1, 2, 3), 100, dtype=np.uint8)
    out = dither_image(rgb, np.asarray(pal), build_colormap_5bit(pal))
    assert out.tolist() == [[0, 1]]


def test_negative_error_truncates_toward_zero():
    """e = -7 must give sixth = -1 (C truncation), not -2 (floor): with
    palette value just above the pixel the carried error stays small.
    Checked via full-row equality with the scalar twin on a crafted
    negative-error image."""
    pal = [(7, 7, 7), (200, 200, 200)]
    rgb = np.zeros((2, 3, 3), dtype=np.uint8)  # pixels 0 -> e = -7
    out = dither_image(rgb, np.asarray(pal), build_colormap_5bit(pal))
    exp = _scalar_dither(rgb.tolist(), pal)
    assert out.tolist() == exp


def test_exact_palette_image_has_zero_diffusion():
    """An image whose pixels are exact palette colors aligned to cell
    reps dithers to constant indices with zero propagated error."""
    pal = [(0, 0, 0), (255, 255, 255)]
    rgb = np.full((4, 4, 3), 255, dtype=np.uint8)
    out = dither_image(rgb, np.asarray(pal), build_colormap_5bit(pal))
    assert (out == 1).all()


def test_kernel_matches_scalar_twin_random():
    """300 random small images, random small palettes: the vectorized
    kernel and the scalar transcription agree pixel-for-pixel (the
    Bresenham-parity pattern of test_rasterize_line)."""
    rng = np.random.RandomState(42)
    for _ in range(300):
        h = int(rng.randint(1, 7))
        w = int(rng.randint(1, 9))
        n = int(rng.randint(2, 9))
        pal = [tuple(int(v) for v in rng.randint(0, 256, 3))
               for _ in range(n)]
        rgb = rng.randint(0, 256, (h, w, 3)).astype(np.uint8)
        out = dither_image(rgb, np.asarray(pal), build_colormap_5bit(pal))
        exp = _scalar_dither(rgb.tolist(), pal)
        assert out.tolist() == exp


def test_contract_row_matches_oracle(spark):
    """rgb2pct_dither_checksum: Spark rows == the pinned oracle rows
    (driver-style compare on the VALUES table)."""
    import duckdb

    from gdal_spark.queries.raster import (_rgb2pct_dither_oracle,
                                           q_rgb2pct_dither)

    got = sorted(
        (r["img_id"], r["cs_idx"], r["n_idx"])
        for r in q_rgb2pct_dither(spark, "/root/testdata/sf0.001").collect())
    exp = sorted(
        tuple(r) for r in
        duckdb.sql(_rgb2pct_dither_oracle()).fetchall())
    assert got == exp
    assert len(got) == 16
    # dithering must actually spread indices: every image uses several
    # palette entries
    assert all(n >= 4 for _, _, n in got)
