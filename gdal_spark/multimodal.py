"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images/audio/video ride in the pages table as opaque `binary` columns
(here: the `html` payload stands in). The engine's job at 100 TB is the
Spark-side plumbing — schema, Arrow batch shape, partitioning, UDF
signatures — plus real decode where the format allows it without
external codec libraries: `decode_real` natively decodes BMP, PNG (all
variants), WAV PCM, classic TIFF/GeoTIFF, baseline+progressive JFIF
JPEG and MJPEG-in-AVI video through gdal_spark.codecs (pure
numpy/stdlib-zlib) and raises for the remaining codec-bound formats
(arithmetic/hierarchical JPEG, inter-frame video — PIL/ffmpeg absent
from this container). `decode_stub_meta` keeps the deterministic
md5-derived fake decode whose arithmetic the DuckDB oracle reproduces
exactly, for the formats the sandbox can't decode.

Scale notes: payload bytes never leave the executor — metadata extraction
is a mapInPandas pass emitting small typed rows; batches are bounded by
spark.sql.execution.arrow.maxRecordsPerBatch so a batch of 65,536 payload
rows streams through Arrow without materializing the whole partition.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DECODE_SCHEMA = (
    "url string, n_bytes long, width long, height long, n_frames long, "
    "feat double"
)


def decode_real(payload: bytes) -> dict:
    """Real bytes→pixels/samples decode, dispatched on the payload's
    magic prefix. Codec-free formats are decoded with pure
    numpy/stdlib (gdal_spark.codecs): BMP 24-bit BI_RGB, PNG (all
    five RFC 2083 color types, depths 1-16, Adam7), WAV PCM-16,
    classic TIFF/GeoTIFF strips, baseline+progressive JFIF, and
    MJPEG-in-AVI video. Formats that need external codec libraries
    (arithmetic/hierarchical JPEG, H.264, MP3 — not in this container)
    still raise, with the same seam: a PIL/ffmpeg decode drops into
    this dispatch without touching any Spark plan.

    Returns {"format", "width", "height", "rate", "values"} where
    values is a flat int64 array — RGB bytes row-major for images
    (height rows × width px × 3), samples for audio (width=n_samples,
    height=1, rate=sample rate; images carry rate=0)."""
    from gdal_spark import codecs as C

    b = bytes(payload)
    if b[:2] == b"BM":
        px = C.decode_bmp(b)
        return {"format": "image/bmp", "width": px.shape[1],
                "height": px.shape[0], "rate": 0,
                "values": px.reshape(-1).astype(np.int64)}
    if b[:8] == C.PNG_SIG:
        px = C.decode_png(b)
        return {"format": "image/png", "width": px.shape[1],
                "height": px.shape[0], "rate": 0,
                "values": px.reshape(-1).astype(np.int64)}
    if b[:4] == b"RIFF" and b[8:12] == b"WAVE":
        rate, samples = C.decode_wav(b)
        return {"format": "audio/wav", "width": len(samples),
                "height": 1, "rate": rate,
                "values": samples.astype(np.int64)}
    if b[:4] in (b"II*\x00", b"MM\x00*", b"II+\x00", b"MM\x00+"):
        px, _gt = C.decode_tiff(b)
        return {"format": "image/tiff", "width": px.shape[1],
                "height": px.shape[0], "rate": 0,
                "values": px.reshape(-1).astype(np.int64)}
    if b[:4] == b"RIFF" and b[8:12] == b"AVI ":
        fps, frames = C.decode_avi_mjpeg(b)
        return {"format": "video/avi-mjpeg",
                "width": frames[0].shape[1],
                "height": frames[0].shape[0], "rate": fps,
                "values": np.concatenate(
                    [f.reshape(-1) for f in frames]).astype(np.int64)}
    if b[:4] == b"GIF8":
        frames = C.decode_gif(b)
        return {"format": "image/gif", "width": frames[0].shape[1],
                "height": frames[0].shape[0], "rate": 0,
                "values": np.concatenate(
                    [f.reshape(-1) for f in frames]).astype(np.int64)}
    if b[:2] == b"\xff\xd8":
        px = C.decode_jpeg(b)
        return {"format": "image/jpeg", "width": px.shape[1],
                "height": px.shape[0], "rate": 0,
                "values": px.reshape(-1).astype(np.int64)}
    raise NotImplementedError(
        "real multimodal decode for this format requires codec "
        "libraries not present in this environment (BMP/PNG/WAV, "
        "baseline + progressive JFIF, and MJPEG-in-AVI video are "
        "decoded natively — see gdal_spark.codecs; the remaining seam "
        "is arithmetic/hierarchical JPEG and inter-frame video codecs "
        "like H.264)")


DECODE_REAL_SCHEMA = (
    "doc_id long, format string, width long, height long, rate long, "
    "n_vals long, val_first long, val_sum long"
)


def decode_real_stats(payloads: DataFrame) -> DataFrame:
    """(id, binary payload) → decoded per-item statistics via
    mapInPandas: format sniff + full pixel/sample decode, then
    count/first/sum over the decoded values. The payload bytes never
    leave the executor; the emitted rows are small and typed — the
    standard shape for a 100 TB decode-and-featurize pass."""

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did, p in zip(pdf["doc_id"], pdf["payload"]):
                d = decode_real(p)
                v = d["values"]
                rows.append((int(did), d["format"], d["width"],
                             d["height"], d["rate"], len(v),
                             int(v[0]) if len(v) else 0, int(v.sum())))
            yield pd.DataFrame(rows, columns=[
                "doc_id", "format", "width", "height", "rate",
                "n_vals", "val_first", "val_sum"])

    return payloads.select("doc_id", "payload").mapInPandas(
        _decode, schema=DECODE_REAL_SCHEMA)


def _stub_fields(digest_hex: str) -> tuple[int, int, int, float]:
    """Deterministic fake decode: dimensions/frames/feature derived from
    the payload's md5. Mirrors the oracle SQL in queries/textpipe.py."""
    w = 16 + int(digest_hex[0:2], 16)
    h = 16 + int(digest_hex[2:4], 16)
    frames = 1 + int(digest_hex[4:6], 16) % 8
    # plain IEEE division, no rounding — bit-identical to the oracle SQL
    feat = int(digest_hex[6:10], 16) / 65535.0
    return w, h, frames, feat


def decode_stub_meta(pages: DataFrame) -> DataFrame:
    """pages → (url, n_bytes, width, height, n_frames, feat) via
    mapInPandas over the binary payload column."""

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf["html"]
            rows = {
                "url": pdf["url"],
                "n_bytes": payloads.map(len).astype("int64"),
            }
            metas = [
                _stub_fields(hashlib.md5(p).hexdigest()) for p in payloads
            ]
            rows["width"] = pd.Series([m[0] for m in metas], dtype="int64")
            rows["height"] = pd.Series([m[1] for m in metas], dtype="int64")
            rows["n_frames"] = pd.Series([m[2] for m in metas], dtype="int64")
            rows["feat"] = pd.Series([m[3] for m in metas], dtype="float64")
            yield pd.DataFrame(rows)

    return pages.select("url", "html").mapInPandas(
        _decode, schema=DECODE_SCHEMA)


def synth_payloads(ids: DataFrame) -> DataFrame:
    """Deterministic multimodal fixture payloads: each id becomes a REAL
    encoded file — BMP / PNG / WAV round-robin by id % 3 — whose
    dimensions and content are pure functions of the id, so a DuckDB
    oracle can reproduce the decoded statistics arithmetically while the
    engine path exercises the actual byte-level codecs (PNG goes through
    zlib + the five scanline filters both ways).

    Content contract (mirrored by the oracle SQL):
      images: w = 4 + id%13, h = 3 + id%11, RGB byte i = (id*31 + i)%256
      audio:  n = 64 + id%129, rate = 8000 + (id%4)*4000,
              sample i = ((id*7 + i*13) % 4096) - 2048
    """
    from gdal_spark import codecs as C

    def _synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids_, payloads = [], []
            for did in pdf["doc_id"]:
                did = int(did)
                if did % 3 < 2:
                    w, h = 4 + did % 13, 3 + did % 11
                    vals = (did * 31
                            + np.arange(w * h * 3, dtype=np.int64)) % 256
                    arr = vals.astype(np.uint8).reshape(h, w, 3)
                    payloads.append(C.encode_bmp(arr) if did % 3 == 0
                                    else C.encode_png(arr))
                else:
                    n = 64 + did % 129
                    rate = 8000 + (did % 4) * 4000
                    s = ((did * 7 + np.arange(n, dtype=np.int64) * 13)
                         % 4096 - 2048).astype(np.int16)
                    payloads.append(C.encode_wav(s, rate))
                ids_.append(did)
            yield pd.DataFrame({"doc_id": pd.Series(ids_, dtype="int64"),
                                "payload": pd.Series(payloads,
                                                     dtype="object")})

    return ids.select("doc_id").mapInPandas(
        _synth, schema="doc_id long, payload binary")


def synth_jpeg_payloads(ids: DataFrame) -> DataFrame:
    """Deterministic baseline-JFIF fixture payloads: every id becomes a
    REAL encoded JPEG (gdal_spark.codecs.encode_jpeg — Annex K Huffman
    tables, unit quant). Content is constant per 8x8 block, which a
    DC-only scan reproduces EXACTLY through the lossy pipeline (unit
    quant keeps the DC coefficient integral and the IDCT of a DC-only
    block is flat), so the DuckDB oracle can state the decoded
    statistics arithmetically while the engine path exercises the full
    entropy-decode + dequant + IDCT (+ YCbCr for the 3-component half).

    Content contract (mirrored by the oracle SQL):
      id%4 == 1 -> 4 x 2 blocks (w=32, h=16; 16-aligned for 4:2:0);
      otherwise bw = 2 + id%4, bh = 1 + id%3 blocks (w=8*bw, h=8*bh)
      block k (row-major) value = (id*31 + k*17) % 256
      id%2 == 0 -> grayscale; id%4 == 3 -> grey RGB 4:4:4;
      id%4 == 1 -> grey RGB 4:2:0 (constant 128 chroma stays exact
      through the box-downsample + replication-upsample pipeline)
      id%5 == 2 -> progressive (SOF2) encoding of the SAME pixels
      (spectral selection + successive approximation; a complete
      progressive stream reconstructs the identical coefficients, so
      the oracle is untouched while the engine path exercises the
      full G.1.2 multi-scan decoder)
    """
    from gdal_spark import codecs as C

    def _synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids_, payloads = [], []
            for did in pdf["doc_id"]:
                did = int(did)
                if did % 4 == 1:
                    bw, bh, sub = 4, 2, "420"
                else:
                    bw, bh, sub = 2 + did % 4, 1 + did % 3, "444"
                a = np.empty((bh * 8, bw * 8), dtype=np.uint8)
                for k in range(bw * bh):
                    by, bx = divmod(k, bw)
                    a[by * 8:by * 8 + 8, bx * 8:bx * 8 + 8] = \
                        (did * 31 + k * 17) % 256
                if did % 2:
                    a = np.repeat(a[:, :, None], 3, axis=2)
                enc = C.encode_jpeg_progressive if did % 5 == 2 \
                    else C.encode_jpeg
                payloads.append(enc(a, subsampling=sub))
                ids_.append(did)
            yield pd.DataFrame({"doc_id": pd.Series(ids_, dtype="int64"),
                                "payload": pd.Series(payloads,
                                                     dtype="object")})

    return ids.select("doc_id").mapInPandas(
        _synth, schema="doc_id long, payload binary")


def _synth_avi_frames(did: int) -> tuple[list[np.ndarray], int]:
    """The video content contract, one place for both the Spark synth
    and tests (the DuckDB oracle mirrors it textually):
      nf = 1 + id%5 frames, bw = 2 + id%3, bh = 1 + id%2 blocks,
      fps = 5 + id%4; frame f block k (row-major) is the constant
      (id*31 + f*7 + k*17) % 256 as grey RGB — constant-per-block
      content is exact through the MJPEG (per-frame JFIF) pipeline."""
    nf, bw, bh = 1 + did % 5, 2 + did % 3, 1 + did % 2
    frames = []
    for f in range(nf):
        a = np.empty((bh * 8, bw * 8), dtype=np.uint8)
        for k in range(bw * bh):
            by, bx = divmod(k, bw)
            a[by * 8:by * 8 + 8, bx * 8:bx * 8 + 8] = \
                (did * 31 + f * 7 + k * 17) % 256
        frames.append(np.repeat(a[:, :, None], 3, axis=2))
    return frames, 5 + did % 4


def synth_avi_payloads(ids: DataFrame) -> DataFrame:
    """Deterministic MJPEG-in-AVI fixture payloads: every id becomes a
    REAL multi-frame AVI (gdal_spark.codecs.encode_avi_mjpeg — each
    frame a complete baseline JFIF), per the _synth_avi_frames content
    contract. The decode path then exercises the full RIFF walk +
    per-frame entropy decode + IDCT + YCbCr while the oracle states
    the decoded statistics arithmetically."""
    from gdal_spark import codecs as C

    def _synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids_, payloads = [], []
            for did in pdf["doc_id"]:
                did = int(did)
                frames, fps = _synth_avi_frames(did)
                payloads.append(C.encode_avi_mjpeg(frames, fps=fps))
                ids_.append(did)
            yield pd.DataFrame({"doc_id": pd.Series(ids_, dtype="int64"),
                                "payload": pd.Series(payloads,
                                                     dtype="object")})

    return ids.select("doc_id").mapInPandas(
        _synth, schema="doc_id long, payload binary")


def _synth_png_variant(did: int):
    """The PNG variant content contract (mirrored textually by the
    DuckDB oracle): w = 5 + id%9, h = 4 + id%6; base sample
    s(r, c) = (id*13 + r*7 + c) % 256; variant = id%6 rotates the
    five color types + 16-bit (gray8, RGB8 with channel k offset by
    11k, palette-4bit, gray+alpha, RGBA, gray16 with its own wider
    formula); odd ids encode Adam7-interlaced. Returns
    (array, encode_kwargs, expected_decoded_RGB-ish array)."""
    w, h, v = 5 + did % 9, 4 + did % 6, did % 6
    r = np.arange(h, dtype=np.int64)[:, None]
    c = np.arange(w, dtype=np.int64)[None, :]
    s = (did * 13 + r * 7 + c) % 256
    interlace = did % 2
    if v == 0:
        a = s.astype(np.uint8)
        return a, {"color_type": 0, "interlace": interlace}, a
    if v == 1:
        a = np.stack([(s + 11 * k) % 256 for k in range(3)],
                     axis=2).astype(np.uint8)
        return a, {"interlace": interlace}, a
    if v == 2:
        idx = ((did + r * 3 + c) % 16).astype(np.uint8)
        j = np.arange(16, dtype=np.int64)
        pal = np.stack([(did * 29 + j * 37) % 256,
                        (did * 17 + j * 53) % 256,
                        (did * 11 + j * 71) % 256],
                       axis=1).astype(np.uint8)
        return idx, {"color_type": 3, "depth": 4, "palette": pal,
                     "interlace": interlace}, pal[idx]
    if v == 3:
        a = np.stack([s % 256, (s + 77) % 256],
                     axis=2).astype(np.uint8)
        return a, {"interlace": interlace}, a
    if v == 4:
        a = np.stack([(s + 11 * k) % 256 for k in range(4)],
                     axis=2).astype(np.uint8)
        return a, {"interlace": interlace}, a
    s16 = (did * 509 + r * 257 + c * 97) % 65536
    a = s16.astype(np.uint16)
    return a, {"color_type": 0, "depth": 16,
               "interlace": interlace}, a


def synth_png_variant_payloads(ids: DataFrame) -> DataFrame:
    """Deterministic PNG payloads across the FULL RFC 2083 variant
    surface (all five color types, 4/8/16-bit, Adam7 on odd ids) —
    the realistic web-crawl PNG mix."""
    from gdal_spark import codecs as C

    def _synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids_, payloads = [], []
            for did in pdf["doc_id"]:
                did = int(did)
                arr, kw, _ = _synth_png_variant(did)
                payloads.append(C.encode_png(arr, **kw))
                ids_.append(did)
            yield pd.DataFrame({"doc_id": pd.Series(ids_, dtype="int64"),
                                "payload": pd.Series(payloads,
                                                     dtype="object")})

    return ids.select("doc_id").mapInPandas(
        _synth, schema="doc_id long, payload binary")


def _synth_wav_variant(did: int):
    """The WAV variant content contract (mirrored textually by the
    DuckDB oracle): n = 50 + id%37 samples at rate 8000 + (id%4)*4000;
    the format rotates by id%5 — pcm16 / pcm8 / pcm24 / float32 /
    G.711 mu-law — each with its own integer sample formula so the
    decoded values are stated arithmetically (for mu-law the oracle
    carries the exact ITU expander formula)."""
    import numpy as np

    n, v = 50 + did % 37, did % 5
    i = np.arange(n, dtype=np.int64)
    if v == 0:
        return ((did * 7 + i * 13) % 4096 - 2048).astype(np.int16), \
            "pcm16"
    if v == 1:
        return ((did * 5 + i * 11) % 256 - 128).astype(np.int16), \
            "pcm8"
    if v == 2:
        return ((did * 9 + i * 17) % (1 << 24)
                - (1 << 23)).astype(np.int32), "pcm24"
    if v == 3:
        return ((did * 3 + i * 7) % 1024 - 512).astype(np.float32), \
            "float32"
    from gdal_spark.codecs import _mulaw_expand
    codes = ((did * 7 + i * 13) % 256).astype(np.uint8)
    return _mulaw_expand(codes), "mulaw"


def synth_wav_variant_payloads(ids: DataFrame) -> DataFrame:
    """Deterministic WAV payloads across the PCM-8/16/24, float32 and
    mu-law lanes, per the _synth_wav_variant contract."""
    from gdal_spark import codecs as C

    def _synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids_, payloads = [], []
            for did in pdf["doc_id"]:
                did = int(did)
                samples, fmt = _synth_wav_variant(did)
                rate = 8000 + (did % 4) * 4000
                payloads.append(C.encode_wav(samples, rate, fmt=fmt))
                ids_.append(did)
            yield pd.DataFrame({"doc_id": pd.Series(ids_, dtype="int64"),
                                "payload": pd.Series(payloads,
                                                     dtype="object")})

    return ids.select("doc_id").mapInPandas(
        _synth, schema="doc_id long, payload binary")


def _synth_gif(did: int):
    """The GIF content contract (mirrored textually by the DuckDB
    oracle): nf = 1 + id%3 frames of w = 6 + id%5 by h = 4 + id%3
    palette indices idx(f, r, c) = (id + f*5 + r*2 + c) % 8 over an
    8-color palette pal[j] = ((id*23 + j*29) % 256,
    (id*19 + j*31) % 256, (id*7 + j*41) % 256); odd ids interlaced.
    Returns (frames, palette, interlace)."""
    nf, w, h = 1 + did % 3, 6 + did % 5, 4 + did % 3
    r = np.arange(h, dtype=np.int64)[:, None]
    c = np.arange(w, dtype=np.int64)[None, :]
    frames = [((did + f * 5 + r * 2 + c) % 8).astype(np.uint8)
              for f in range(nf)]
    j = np.arange(8, dtype=np.int64)
    pal = np.stack([(did * 23 + j * 29) % 256,
                    (did * 19 + j * 31) % 256,
                    (did * 7 + j * 41) % 256], axis=1).astype(np.uint8)
    return frames, pal, bool(did % 2)


def synth_gif_payloads(ids: DataFrame) -> DataFrame:
    """Deterministic multi-frame GIF fixture payloads (GIF-flavor LZW,
    half interlaced), per the _synth_gif content contract."""
    from gdal_spark import codecs as C

    def _synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids_, payloads = [], []
            for did in pdf["doc_id"]:
                did = int(did)
                frames, pal, inter = _synth_gif(did)
                payloads.append(C.encode_gif(frames, pal,
                                             interlace=inter))
                ids_.append(did)
            yield pd.DataFrame({"doc_id": pd.Series(ids_, dtype="int64"),
                                "payload": pd.Series(payloads,
                                                     dtype="object")})

    return ids.select("doc_id").mapInPandas(
        _synth, schema="doc_id long, payload binary")


def _synth_geotiff(did: int) -> tuple[np.ndarray, tuple, str, bool, bool, bool]:
    """The GeoTIFF content contract (mirrored textually by the DuckDB
    oracle): w = 12 + id%7, h = 8 + id%5, grayscale pixel (r, c)
    value = (id*31 + r*5 + c*3) % M; the sample dtype rotates by id%5
    (0 -> uint16 with M=4096, 1 -> float32 with integral values and
    M=512, else uint8 with M=256 — GDAL's common raster dtypes) and
    the compression by id%4 (none/packbits/lzw/deflate; lzw and
    deflate add predictor 2 on odd integer-sample ids), so every
    strip codec x dtype lane is exercised in the contract; ids with
    id%3 == 2 use the TIFF6 tile layout (16x16 tiles, edge-padded —
    GDAL's default for large rasters) instead of strips; ids with
    id%7 == 1 write the BigTIFF (version 43) header/IFD layout with
    LONG8 offsets — what GDAL emits for >4 GB rasters; north-up
    geotransform with origin ((id%10)*360, (id%7)*240) and 30-unit
    pixels."""
    w, h = 12 + did % 7, 8 + did % 5
    r = np.arange(h, dtype=np.int64)[:, None]
    c = np.arange(w, dtype=np.int64)[None, :]
    base = did * 31 + r * 5 + c * 3
    if did % 5 == 0:
        px = (base % 4096).astype(np.uint16)
    elif did % 5 == 1:
        px = (base % 512).astype(np.float32)
    else:
        px = (base % 256).astype(np.uint8)
    gt = ((did % 10) * 360.0, 30.0, 0.0, (did % 7) * 240.0, 0.0, -30.0)
    comp = ("none", "packbits", "lzw", "deflate")[did % 4]
    pred = (comp in ("lzw", "deflate") and did % 2 == 1
            and px.dtype.kind == "u")
    return px, gt, comp, pred, did % 3 == 2, did % 7 == 1


def synth_geotiff_payloads(ids: DataFrame) -> DataFrame:
    """Deterministic GeoTIFF fixture payloads: every id becomes a REAL
    classic-TIFF file (gdal_spark.codecs.encode_tiff) with
    ModelPixelScale/ModelTiepoint georeferencing, per the
    _synth_geotiff content contract."""
    from gdal_spark import codecs as C

    def _synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids_, payloads = [], []
            for did in pdf["doc_id"]:
                did = int(did)
                px, gt, comp, pred, tiled, big = _synth_geotiff(did)
                payloads.append(C.encode_tiff(
                    px, compression=comp, geotransform=gt,
                    predictor=pred, tiled=tiled, bigtiff=big))
                ids_.append(did)
            yield pd.DataFrame({"doc_id": pd.Series(ids_, dtype="int64"),
                                "payload": pd.Series(payloads,
                                                     dtype="object")})

    return ids.select("doc_id").mapInPandas(
        _synth, schema="doc_id long, payload binary")


GEOTIFF_TILE_SCHEMA = "tile_x long, tile_y long, n_px long, val_sum long"


def geotiff_tile_partials(payloads: DataFrame, tile_size: float) -> DataFrame:
    """The multimodal→raster-engine bridge: decode each GeoTIFF, place
    every pixel in world coordinates THROUGH ITS DECODED GEOTRANSFORM
    (pixel-center convention, gdal_translate's
    GDALApplyGeoTransform), bin to tile_size-unit tiles, and emit
    per-image per-tile PARTIAL aggregates. Pixels never cross the
    Arrow boundary row-by-row and never shuffle — the exchange after
    this carries one small row per (image, touched tile). The caller
    finishes with groupBy(tile).sum(), giving the standard two-level
    aggregation a 100 TB ingest needs."""
    from gdal_spark import codecs as C

    def _tiles(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[tuple[int, int], list[int]] = {}
            for p in pdf["payload"]:
                px, gt = C.decode_tiff(bytes(p))
                if gt is None:
                    raise ValueError("payload is not a GeoTIFF")
                h, w = px.shape[:2]
                x0, pw, _, y0, _, ph = gt
                xc = x0 + (np.arange(w) + 0.5) * pw
                yc = y0 + (np.arange(h) + 0.5) * ph
                tx = np.floor(xc / tile_size).astype(np.int64)
                ty = np.floor(yc / tile_size).astype(np.int64)
                vals = px.reshape(h, -1).astype(np.int64) if px.ndim == 2 \
                    else px.sum(axis=2).astype(np.int64)
                # in-kernel partial agg over the (ty, tx) grid blocks
                for uy in np.unique(ty):
                    rsel = ty == uy
                    for ux in np.unique(tx):
                        csel = tx == ux
                        n = int(rsel.sum()) * int(csel.sum())
                        s = int(vals[np.ix_(rsel, csel)].sum())
                        k = (int(ux), int(uy))
                        acc = out.setdefault(k, [0, 0])
                        acc[0] += n
                        acc[1] += s
            yield pd.DataFrame(
                [(x, y, n, s) for (x, y), (n, s) in out.items()],
                columns=["tile_x", "tile_y", "n_px", "val_sum"])

    return payloads.select("doc_id", "payload").mapInPandas(
        _tiles, schema=GEOTIFF_TILE_SCHEMA)


FRAME_STATS_SCHEMA = (
    "doc_id long, frame_idx long, n_frames long, width long, "
    "height long, frame_sum long"
)


FRAME_STEP = 2  # every FRAME_STEP-th frame is sampled


def frame_sample_real_stats(payloads: DataFrame) -> DataFrame:
    """(id, AVI payload) → one row per SAMPLED frame (every FRAME_STEP-th)
    with that frame's decoded pixel sum: the real-decode upgrade of
    frame_sample_stub and the canonical video shape for a training
    pipeline (sample frames → featurize). One-to-many mapInPandas;
    payload bytes never leave the executor, emitted rows are 6 scalar
    columns per sampled frame."""
    from gdal_spark import codecs as C

    def _sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did, p in zip(pdf["doc_id"], pdf["payload"]):
                _, frames = C.decode_avi_mjpeg(bytes(p))
                for fi in range(0, len(frames), FRAME_STEP):
                    fr = frames[fi]
                    rows.append((int(did), fi, len(frames),
                                 fr.shape[1], fr.shape[0],
                                 int(fr.reshape(-1).astype(np.int64)
                                     .sum())))
            yield pd.DataFrame(rows, columns=[
                "doc_id", "frame_idx", "n_frames", "width", "height",
                "frame_sum"])

    return payloads.select("doc_id", "payload").mapInPandas(
        _sample, schema=FRAME_STATS_SCHEMA)


def resize_stub(pages: DataFrame, out_w: int, out_h: int) -> DataFrame:
    """Binary→binary resize plumbing: the UDF consumes the payload column
    and emits a NEW payload of the target dimensions plus its metadata —
    the exact signature a real thumbnailer has. The stub's output bytes
    are the md5-hex of the input repeated to (out_w·out_h)/64 bytes
    (deterministic; a real PIL resize drops in without touching the
    plan). Output digest + sizes are oracle-checked."""
    n_bytes = (out_w * out_h) // 64
    reps = (n_bytes + 31) // 32

    def _resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_payloads = []
            for p in pdf["html"]:
                hexd = hashlib.md5(p).hexdigest()
                out_payloads.append((hexd * reps)[:n_bytes]
                                    .encode("ascii"))
            yield pd.DataFrame({
                "url": pdf["url"],
                "width": pd.Series([out_w] * len(pdf), dtype="int64"),
                "height": pd.Series([out_h] * len(pdf), dtype="int64"),
                "n_bytes": pd.Series([n_bytes] * len(pdf), dtype="int64"),
                "resized_md5": [hashlib.md5(b).hexdigest()
                                for b in out_payloads],
            })

    return pages.select("url", "html").mapInPandas(
        _resize,
        "url string, width long, height long, n_bytes long,"
        " resized_md5 string")


def frame_sample_stub(pages: DataFrame, step: int = FRAME_STEP) -> DataFrame:
    """One-to-many frame sampling plumbing (video stand-in): each payload
    fans out to its sampled frame indices (every ``step``-th of the
    stub-decoded n_frames) with a per-frame feature — the mapInPandas
    shape of a real ffmpeg frame extractor."""

    def _sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            urls, idxs, feats = [], [], []
            for url, p in zip(pdf["url"], pdf["html"]):
                hexd = hashlib.md5(p).hexdigest()
                n_frames = 1 + int(hexd[4:6], 16) % 8
                base = int(hexd[6:10], 16)
                for f in range(0, n_frames, step):
                    urls.append(url)
                    idxs.append(f)
                    feats.append(((base + 37 * f) % 1000) / 1000.0)
            yield pd.DataFrame({
                "url": pd.Series(urls, dtype="object"),
                "frame_idx": pd.Series(idxs, dtype="int64"),
                "frame_feat": pd.Series(feats, dtype="float64"),
            })

    return pages.select("url", "html").mapInPandas(
        _sample, "url string, frame_idx long, frame_feat double")


def payload_meta(pages: DataFrame) -> DataFrame:
    """Pure-Catalyst payload metadata: byte length, content digest, and a
    magic-prefix format sniff — the cheap pass run before any decode."""
    return pages.select(
        "url",
        F.length(F.col("html")).cast("long").alias("n_bytes"),
        F.md5(F.col("html")).alias("content_md5"),
        F.when(
            F.decode(F.col("html"), "utf-8").startswith("<html>"),
            F.lit("text/html"),
        ).otherwise(F.lit("application/octet-stream")).alias("format"),
    )


def _synth_shp(did: int) -> tuple[bytes, bytes]:
    """Shapefile pair content contract (mirrored arithmetically by the
    DuckDB oracle): n = 1 + id%4 geometries; vertex j at
    x_mic = (id*37 + j*1009) % 360000001 - 180000000 (y analogous,
    170000001/85000000), coordinates x_mic/1e6 (exact in double);
    even ids write n Point records, odd ids ONE single-part PolyLine
    with n+1 vertices; the .dbf carries value_j = (id*11 + j) % 1000
    per record."""
    from gdal_spark import codecs as C

    n = 1 + did % 4

    def vx(j: int) -> float:
        return ((did * 37 + j * 1009) % 360000001 - 180000000) / 1e6

    def vy(j: int) -> float:
        return ((did * 53 + j * 2003) % 170000001 - 85000000) / 1e6

    if did % 2 == 0:
        shapes = [(vx(j), vy(j)) for j in range(n)]
        shp = C.encode_shp(shapes, 1)
        dbf = C.encode_dbf([(did * 11 + j) % 1000 for j in range(n)])
    else:
        pts = [(vx(j), vy(j)) for j in range(n + 1)]
        shp = C.encode_shp([pts], 3)
        dbf = C.encode_dbf([(did * 11) % 1000])
    return shp, dbf


SHP_STATS_SCHEMA = ("doc_id long, shape_type long, n_shapes long,"
                    " n_points long, x_sum_mic long, y_sum_mic long,"
                    " attr_sum long")


def shapefile_ingest_stats(ids: DataFrame) -> DataFrame:
    """Synthesize a REAL (.shp, .dbf) pair per id (mixed-endian format
    headers, little-endian payload doubles; dBASE III attributes),
    decode both through gdal_spark.codecs, and emit per-file decoded
    statistics with integer microdegree sums (round(x*1e6) — exact, so
    the oracle compares bit-for-bit). Arrow-batched; bytes never leave
    the executors."""
    from gdal_spark import codecs as C

    def _stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                shp, dbf = _synth_shp(did)
                stype, shapes = C.decode_shp(shp)
                _name, vals = C.decode_dbf(dbf)
                pts = [p for sh in shapes
                       for p in (sh if stype == 3 else [sh])]
                rows.append({
                    "doc_id": did, "shape_type": stype,
                    "n_shapes": len(shapes), "n_points": len(pts),
                    "x_sum_mic": sum(round(x * 1e6) for x, _ in pts),
                    "y_sum_mic": sum(round(y * 1e6) for _, y in pts),
                    "attr_sum": sum(vals),
                })
            yield pd.DataFrame(rows)

    return ids.select("doc_id").mapInPandas(_stats, SHP_STATS_SCHEMA)
