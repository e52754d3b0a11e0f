"""Floyd–Steinberg dithering — GDALDitherRGB2PCT's default assignment.

Replicates the reference's 24→8 bit error-diffusion conversion
(alg/gdaldither.cpp:139 GDALDitherRGB2PCT → GDALDitherRGB2PCTInternal
with nBits=5, bDither=TRUE), closing the one divergence documented in
gdal_spark.mediancut (which ships the no-diffusion nearest mapping):

- the nearest-color lookup is the reference's PRECOMPUTED 5-bit cube
  map (gdaldither.cpp:692 FindNearestColor(nColors, panPCT,
  pabyColorMap, nCLevels)): each of the 32^3 cells maps to the palette
  entry nearest ITS REPRESENTATIVE value (i*255)/(nCLevels-1) by L1
  (sum-of-abs) distance, strict-< scan so the FIRST minimal index wins
  (the scalar path of gdaldither.cpp:582; initial best distance 768 >
  765 = max possible L1, so index 0 only survives as a true minimum);
- per scanline, the error carried from the previous line
  (panError[i*3+c+3], i.e. slot i+1 for pixel i) is added and clamped
  to [0,255] BEFORE the sweep, then the buffer is zeroed
  (gdaldither.cpp:380-392);
- the left-to-right sweep carries nLast{R,G,B}Error: value =
  clamp(pixel + lastError); index = cube map at (value*32)/256 = v>>3
  per channel (map layout iRed + iGreen*32 + iBlue*1024);
- error diffusion (gdaldither.cpp:516-552), with nSixth = nError/6 in
  C integer division (truncation TOWARD ZERO — Python's // rounds
  toward -inf and would diverge on negative errors):
    next-line slot i   (pixel i-1): += nSixth
    next-line slot i+2 (pixel i+1): =  nSixth   (assignment, not +=)
    next-line slot i+1 (pixel i):   += nError - 5*nSixth
    same-line carry to pixel i+1:   nLastError = 2*nSixth

The recurrence is serial WITHIN one image (each pixel depends on its
left neighbor's quantization) but embarrassingly parallel ACROSS
images, so the distributed shape is a per-image ``applyInPandas``
kernel over a corpus of images: one Arrow batch per image, numpy
row-vectorized setup with the serial sweep inside, never a cross-image
shuffle. At 10^12-page scale the group key is the image id — the same
keyed-kernel pattern as the raster tile operators.
"""

from __future__ import annotations

import numpy as np

N_CLEVELS = 32  # nBits=5 cube (GDALDitherRGB2PCT fixes nBits=5)


def build_colormap_5bit(palette: list[tuple[int, int, int]]) -> np.ndarray:
    """The reference's precomputed 32^3 nearest-color cube
    (gdaldither.cpp:692): cell (iR,iG,iB) -> palette index nearest to
    the cell representative (i*255)/31 by L1 distance, first minimal
    index on ties. Layout iRed + iGreen*32 + iBlue*1024."""
    pal = np.asarray(palette, dtype=np.int64)  # (n, 3)
    reps = (np.arange(N_CLEVELS, dtype=np.int64) * 255) // (N_CLEVELS - 1)
    ib, ig, ir = np.meshgrid(reps, reps, reps, indexing="ij")
    cells = np.stack([ir.ravel(), ig.ravel(), ib.ravel()], axis=1)
    # L1 distance to every palette entry; argmin returns the FIRST
    # minimal index — identical to the strict-< scan
    dist = np.abs(cells[:, None, :] - pal[None, :, :]).sum(axis=2)
    return dist.argmin(axis=1).astype(np.uint8)  # index = r + g*32 + b*1024


def dither_image(rgb: np.ndarray, palette: np.ndarray,
                 colormap: np.ndarray) -> np.ndarray:
    """Dither one (h, w, 3) uint8 image to (h, w) palette indices —
    the scanline loop of gdaldither.cpp:327-565 (numpy per-line setup,
    serial per-pixel sweep; the recurrence admits no vectorization)."""
    h, w, _ = rgb.shape
    pal = np.asarray(palette, dtype=np.int64)
    err = np.zeros((w + 2, 3), dtype=np.int64)  # panError, (nX+2)*3
    out = np.empty((h, w), dtype=np.uint8)
    for y in range(h):
        # apply previous-line error (slot i+1 feeds pixel i) + clamp,
        # then reset the buffer (gdaldither.cpp:380-392)
        line = np.clip(rgb[y].astype(np.int64) + err[1:w + 1], 0, 255)
        err[:] = 0
        lr = lg = lb = 0  # nLast{Red,Green,Blue}Error
        for x in range(w):
            r = line[x, 0] + lr
            g = line[x, 1] + lg
            b = line[x, 2] + lb
            r = 0 if r < 0 else (255 if r > 255 else r)
            g = 0 if g < 0 else (255 if g > 255 else g)
            b = 0 if b < 0 else (255 if b > 255 else b)
            idx = colormap[(r >> 3) + ((g >> 3) << 5) + ((b >> 3) << 10)]
            out[y, x] = idx
            # C division truncates toward zero; int(e/6) matches it
            # (Python's e//6 would round -7 to -2, the reference gives -1)
            e = int(r - pal[idx, 0])
            s = int(e / 6)
            err[x, 0] += s
            err[x + 2, 0] = s
            err[x + 1, 0] += e - 5 * s
            lr = 2 * s
            e = int(g - pal[idx, 1])
            s = int(e / 6)
            err[x, 1] += s
            err[x + 2, 1] = s
            err[x + 1, 1] += e - 5 * s
            lg = 2 * s
            e = int(b - pal[idx, 2])
            s = int(e / 6)
            err[x, 2] += s
            err[x + 2, 2] = s
            err[x + 1, 2] += e - 5 * s
            lb = 2 * s
    return out
