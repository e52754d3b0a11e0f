"""Codec-free multimodal decoders (gdal_spark.codecs + decode_real).

The decoders are the product surface; the encoders exist to synthesize
fixtures. Round-trips alone could hide a bug shared by both sides, so
the PNG filter math is also checked against hand-filtered byte vectors
built directly from RFC 2083 §6 definitions, and BMP/WAV against
hand-packed headers.
"""

import struct
import zlib

import numpy as np
import pytest

from gdal_spark import codecs as C
from gdal_spark.multimodal import decode_real


def test_bmp_round_trip_shapes():
    rng = np.random.default_rng(11)
    for h, w in [(1, 1), (2, 3), (5, 4), (9, 16), (7, 1), (1, 13)]:
        a = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
        assert np.array_equal(C.decode_bmp(C.encode_bmp(a)), a), (h, w)


def test_bmp_hand_packed_header_and_padding():
    """2×2 RGB: bottom-up BGR rows padded to 4 bytes, offset 54."""
    a = np.array([[[255, 0, 0], [0, 255, 0]],
                  [[0, 0, 255], [10, 20, 30]]], dtype=np.uint8)
    b = C.encode_bmp(a)
    assert b[:2] == b"BM" and struct.unpack_from("<I", b, 10)[0] == 54
    row_bytes = 8  # 2 px * 3 B = 6, padded to 8
    # first stored row is the BOTTOM image row, BGR
    assert b[54:54 + 6] == bytes([255, 0, 0, 30, 20, 10])
    assert b[54 + 6:54 + row_bytes] == b"\x00\x00"
    assert np.array_equal(C.decode_bmp(b), a)


def test_png_round_trip_exercises_all_filters():
    """≥5 rows cycles filter types 0..4 on encode (by construction);
    decode must reconstruct exactly."""
    rng = np.random.default_rng(13)
    a = rng.integers(0, 256, (11, 7, 3), dtype=np.uint8)
    raw = zlib.decompress(_idat(C.encode_png(a)))
    stride = 7 * 3
    fts = [raw[y * (stride + 1)] for y in range(11)]
    assert fts[:5] == [0, 1, 2, 3, 4]
    assert np.array_equal(C.decode_png(C.encode_png(a)), a)


def _idat(png: bytes) -> bytes:
    pos, out = 8, bytearray()
    while pos + 8 <= len(png):
        size, ctype = struct.unpack_from(">I4s", png, pos)
        if ctype == b"IDAT":
            out += png[pos + 8: pos + 8 + size]
        pos += 12 + size
    return bytes(out)


def _png_from_scanlines(w: int, h: int, scanlines: bytes) -> bytes:
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (C.PNG_SIG + C._chunk(b"IHDR", ihdr)
            + C._chunk(b"IDAT", zlib.compress(scanlines))
            + C._chunk(b"IEND", b""))


def test_png_decode_hand_filtered_vectors():
    """Decode a PNG whose scanlines were filtered BY HAND from the
    RFC 2083 definitions (not by encode_png), one row per filter type.
    2 px/row, bpp=3. Raw rows chosen so every predictor is non-trivial."""
    rows = np.array([
        [10, 20, 30, 40, 50, 60],      # ft 0 (None): stored raw
        [5, 250, 7, 9, 251, 13],       # ft 1 (Sub): x - left
        [100, 1, 2, 200, 3, 4],        # ft 2 (Up): x - prior
        [90, 200, 50, 30, 8, 250],     # ft 3 (Average)
        [1, 2, 3, 254, 255, 0],        # ft 4 (Paeth)
    ], dtype=np.int64)

    def paeth(a, b, c):
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        return a if pa <= pb and pa <= pc else (b if pb <= pc else c)

    lines = bytearray()
    lines += bytes([0]) + bytes((rows[0] % 256).astype(np.uint8))
    r, up = rows[1], rows[0]
    lines += bytes([1]) + bytes(
        [(int(r[i]) - (int(r[i - 3]) if i >= 3 else 0)) % 256
         for i in range(6)])
    r, up = rows[2], rows[1]
    lines += bytes([2]) + bytes(
        [(int(r[i]) - int(up[i])) % 256 for i in range(6)])
    r, up = rows[3], rows[2]
    lines += bytes([3]) + bytes(
        [(int(r[i]) - ((int(r[i - 3]) if i >= 3 else 0)
                       + int(up[i])) // 2) % 256 for i in range(6)])
    r, up, upl = rows[4], rows[3], rows[3]
    lines += bytes([4]) + bytes(
        [(int(r[i]) - paeth(int(r[i - 3]) if i >= 3 else 0, int(up[i]),
                            int(upl[i - 3]) if i >= 3 else 0)) % 256
         for i in range(6)])
    out = C.decode_png(_png_from_scanlines(2, 5, bytes(lines)))
    assert np.array_equal(out, rows.astype(np.uint8).reshape(5, 2, 3))


def test_wav_round_trip_and_extra_chunk():
    """Decoder walks the RIFF chunk list — a LIST chunk between fmt
    and data (as real encoders emit) must be skipped, including the
    odd-size word-alignment pad."""
    s = (np.arange(-300, 300, 7)).astype(np.int16)
    b = C.encode_wav(s, 22050)
    rate, out = C.decode_wav(b)
    assert rate == 22050 and np.array_equal(out, s)
    # splice an odd-sized LIST chunk after fmt (offset 12+8+16=36)
    extra = b"LIST" + struct.pack("<I", 5) + b"INFOx" + b"\x00"
    spliced = b[:36] + extra + b[36:]
    spliced = b"RIFF" + struct.pack("<I", len(spliced) - 8) + spliced[8:]
    rate2, out2 = C.decode_wav(spliced)
    assert rate2 == 22050 and np.array_equal(out2, s)


def test_decode_real_dispatch_and_unknown_format():
    a = np.arange(24, dtype=np.uint8).reshape(2, 4, 3)
    d = decode_real(C.encode_bmp(a))
    assert d["format"] == "image/bmp" and d["width"] == 4
    assert d["values"].sum() == a.sum()
    d = decode_real(C.encode_png(a))
    assert d["format"] == "image/png" and d["height"] == 2
    d = decode_real(C.encode_wav(np.array([1, -2, 3], np.int16), 8000))
    assert d["format"] == "audio/wav" and d["rate"] == 8000
    assert list(d["values"]) == [1, -2, 3]
    # JPEG is now natively decoded (round 5) — the remaining
    # codec-bound seam is video containers
    with pytest.raises(NotImplementedError):
        decode_real(b"\x00\x00\x00\x18ftypmp42 video")


def test_decode_rejects_malformed():
    with pytest.raises(ValueError):
        C.decode_bmp(b"BMxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxx"
                     b"\x00" * 20)
    with pytest.raises(ValueError):
        C.decode_wav(b"RIFF\x04\x00\x00\x00WAVE")  # no fmt/data


# ---------------------------------------------------------------------------
# JPEG — baseline JFIF (frmts/jpeg parity; pure numpy, no libjpeg)
# ---------------------------------------------------------------------------

import numpy as np
import pytest

from gdal_spark.codecs import (ZIGZAG, decode_jpeg, encode_jpeg, fdct2,
                               idct2)


def _expected_gray(a: np.ndarray, q: np.ndarray | None = None):
    """Independent statement of the decode math: per block,
    clamp(round(idct(round(fdct(x - 128) / q) * q) + 128))."""
    h, w = a.shape
    if q is None:
        qnat = np.ones((8, 8), dtype=np.int64)
    else:
        qnat = np.empty(64, dtype=np.int64)
        qnat[ZIGZAG] = np.asarray(q).reshape(-1)
        qnat = qnat.reshape(8, 8)
    exp = np.zeros_like(a)
    for by in range(h // 8):
        for bx in range(w // 8):
            blk = a[by*8:by*8+8, bx*8:bx*8+8].astype(np.float64) - 128.0
            coef = np.round(fdct2(blk) / qnat)
            rec = np.clip(np.round(idct2(coef * qnat) + 128.0), 0, 255)
            exp[by*8:by*8+8, bx*8:bx*8+8] = rec.astype(np.uint8)
    return exp


def test_jpeg_constant_blocks_roundtrip_exactly():
    """DC-only content with unit quant survives the lossy pipeline
    bit-exactly (the contract-query content class)."""
    a = np.zeros((16, 24), dtype=np.uint8)
    for by in range(2):
        for bx in range(3):
            a[by*8:by*8+8, bx*8:bx*8+8] = (by * 3 + bx) * 37 % 256
    assert (decode_jpeg(encode_jpeg(a)) == a).all()
    rgb = np.repeat(a[:, :, None], 3, axis=2)
    assert (decode_jpeg(encode_jpeg(rgb)) == rgb).all()


def test_jpeg_general_content_matches_independent_math():
    """Random full-AC blocks: the byte-level huffman round-trip must
    reproduce the independent transcription of dequant+IDCT exactly
    (this pins entropy coding, zigzag, byte stuffing, EOB/ZRL)."""
    rng = np.random.RandomState(11)
    for _ in range(25):
        h, w = 8 * rng.randint(1, 4), 8 * rng.randint(1, 4)
        a = rng.randint(0, 256, (h, w)).astype(np.uint8)
        assert (decode_jpeg(encode_jpeg(a)) == _expected_gray(a)).all()


def test_jpeg_quant_table_roundtrip():
    rng = np.random.RandomState(5)
    q = np.arange(1, 65, dtype=np.int64)
    a = rng.randint(0, 256, (16, 16)).astype(np.uint8)
    assert (decode_jpeg(encode_jpeg(a, quant=q))
            == _expected_gray(a, q)).all()


def test_jpeg_restart_markers():
    """DRI/RSTn: predictors reset at every interval and the marker
    bytes are consumed; output equals the unrestarted stream's."""
    rng = np.random.RandomState(9)
    a = rng.randint(0, 256, (16, 40)).astype(np.uint8)  # 10 MCUs
    plain = decode_jpeg(encode_jpeg(a))
    for ri in (1, 2, 3, 7):
        with_rst = decode_jpeg(encode_jpeg(a, restart_interval=ri))
        assert (with_rst == plain).all()


def test_jpeg_color_ycbcr_is_bounded_and_grey_exact():
    rng = np.random.RandomState(3)
    a = rng.randint(0, 256, (16, 16, 3)).astype(np.uint8)
    d = decode_jpeg(encode_jpeg(a))
    assert d.shape == a.shape
    # unit quant: error only from YCbCr rounding, tightly bounded
    assert int(np.abs(d.astype(int) - a.astype(int)).max()) <= 12
    grey = np.repeat(rng.randint(0, 256, (8, 8, 1)), 3, axis=2) \
        .astype(np.uint8)
    # constant grey blocks: Cb=Cr=128 exactly -> lossless
    g2 = np.repeat(grey[:1, :1], 8, axis=0).repeat(8, axis=1)
    assert (decode_jpeg(encode_jpeg(g2)) == g2).all()


def test_jpeg_unsupported_variants_raise():
    a = np.zeros((8, 8), dtype=np.uint8)
    blob = bytearray(encode_jpeg(a))
    # flip SOF0 (0xC0) to SOF1 (0xC1): extended sequential must raise
    i = blob.find(b"\xFF\xC0")
    blob[i + 1] = 0xC1
    with pytest.raises(NotImplementedError):
        decode_jpeg(bytes(blob))
    with pytest.raises(ValueError):
        decode_jpeg(b"\x89PNG not a jpeg")
    with pytest.raises(ValueError):
        decode_jpeg(encode_jpeg(a)[:-20] )  # truncated entropy stream


def test_jpeg_dispatches_through_decode_real():
    from gdal_spark.multimodal import decode_real

    a = np.full((8, 16), 77, dtype=np.uint8)
    d = decode_real(encode_jpeg(a))
    assert d["format"] == "image/jpeg"
    assert (d["width"], d["height"], d["rate"]) == (16, 8, 0)
    assert d["values"].sum() == 77 * 16 * 8


def test_jpeg_420_grey_blocks_roundtrip_exactly():
    """4:2:0, grey constant-per-block content: Y blocks are DC-only and
    the chroma planes are constant 128 through the box downsample +
    replication upsample — bit-exact round trip."""
    a = np.zeros((32, 48), dtype=np.uint8)
    for by in range(4):
        for bx in range(6):
            a[by*8:by*8+8, bx*8:bx*8+8] = (by * 6 + bx) * 41 % 256
    rgb = np.repeat(a[:, :, None], 3, axis=2)
    assert (decode_jpeg(encode_jpeg(rgb, subsampling="420")) == rgb).all()


def test_jpeg_420_general_color_matches_independent_math():
    """Random color at 4:2:0: the byte-level round trip equals the
    independent statement of the full pipeline (RGB->YCbCr rounding,
    box chroma downsample, per-plane DCT round trip, replication
    upsample, YCbCr->RGB)."""
    rng = np.random.RandomState(21)
    a = rng.randint(0, 256, (16, 32, 3)).astype(np.uint8)
    got = decode_jpeg(encode_jpeg(a, subsampling="420"))

    r, g, b = (a[..., i].astype(np.float64) for i in range(3))
    y = np.clip(np.round(0.299*r + 0.587*g + 0.114*b), 0, 255)
    cb = np.clip(np.round(128.0 - 0.168735892*r - 0.331264108*g + 0.5*b),
                 0, 255)
    cr = np.clip(np.round(128.0 + 0.5*r - 0.418687589*g - 0.081312411*b),
                 0, 255)
    cb = np.round((cb[0::2, 0::2] + cb[0::2, 1::2]
                   + cb[1::2, 0::2] + cb[1::2, 1::2]) / 4.0)
    cr = np.round((cr[0::2, 0::2] + cr[0::2, 1::2]
                   + cr[1::2, 0::2] + cr[1::2, 1::2]) / 4.0)

    def rt(p):
        out = np.zeros_like(p)
        for by in range(p.shape[0] // 8):
            for bx in range(p.shape[1] // 8):
                blk = p[by*8:by*8+8, bx*8:bx*8+8] - 128.0
                out[by*8:by*8+8, bx*8:bx*8+8] = \
                    idct2(np.round(fdct2(blk))) + 128.0
        return np.clip(np.round(out), 0, 255)

    y2, cb2, cr2 = rt(y), rt(cb), rt(cr)
    cb2 = np.repeat(np.repeat(cb2, 2, axis=0), 2, axis=1)
    cr2 = np.repeat(np.repeat(cr2, 2, axis=0), 2, axis=1)
    exp_r = np.clip(np.round(y2 + 1.402 * (cr2 - 128.0)), 0, 255)
    exp_g = np.clip(np.round(y2 - 0.344136286 * (cb2 - 128.0)
                             - 0.714136286 * (cr2 - 128.0)), 0, 255)
    exp_b = np.clip(np.round(y2 + 1.772 * (cb2 - 128.0)), 0, 255)
    exp = np.stack([exp_r, exp_g, exp_b], axis=-1).astype(np.uint8)
    assert (got == exp).all()


def test_jpeg_420_restart_markers_match_plain():
    rng = np.random.RandomState(6)
    a = rng.randint(0, 256, (32, 32, 3)).astype(np.uint8)
    plain = decode_jpeg(encode_jpeg(a, subsampling="420"))
    for ri in (1, 3):
        assert (decode_jpeg(encode_jpeg(a, subsampling="420",
                                        restart_interval=ri))
                == plain).all()


def test_jpeg_422_still_raises():
    """4:2:2 remains in the documented seam: craft a 2x1-sampling SOF
    and expect the explicit NotImplementedError."""
    a = np.zeros((16, 16, 3), dtype=np.uint8)
    blob = bytearray(encode_jpeg(a))
    i = blob.find(b"\xFF\xC0")
    # component 1 sampling byte sits at SOF payload offset 7
    blob[i + 4 + 7] = 0x21  # h=2, v=1 -> 4:2:2
    with pytest.raises(NotImplementedError):
        decode_jpeg(bytes(blob))


# --------------------------------------------------------------------------
# Progressive (SOF2) JPEG — spectral selection + successive approximation.
# The encoder shares the baseline coefficient pipeline, so a COMPLETE
# progressive stream must reconstruct bit-identically to its baseline
# twin: any drift in the G.1.2 scan logic (EOBRUN accounting, refinement
# correction bits, ZRL-in-refinement, DC successive approximation)
# breaks exact equality.
# --------------------------------------------------------------------------

def test_jpeg_progressive_matches_baseline_twin_gray():
    from gdal_spark.codecs import encode_jpeg_progressive

    rng = np.random.RandomState(11)
    for shape in ((8, 8), (16, 16), (16, 40), (64, 64)):
        a = rng.randint(0, 256, shape).astype(np.uint8)
        assert (decode_jpeg(encode_jpeg_progressive(a))
                == decode_jpeg(encode_jpeg(a))).all()


def test_jpeg_progressive_matches_baseline_twin_color():
    from gdal_spark.codecs import encode_jpeg_progressive

    rng = np.random.RandomState(12)
    for shape, sub in (((16, 16, 3), "444"), ((24, 48, 3), "444"),
                       ((32, 32, 3), "420"), ((48, 16, 3), "420")):
        a = rng.randint(0, 256, shape).astype(np.uint8)
        assert (decode_jpeg(encode_jpeg_progressive(a, subsampling=sub))
                == decode_jpeg(encode_jpeg(a, subsampling=sub))).all()


def test_jpeg_progressive_quant_tables():
    """Non-unit quant zeroes/shrinks AC coefficients, exercising long
    EOB runs and sparse refinement paths."""
    from gdal_spark.codecs import encode_jpeg_progressive

    rng = np.random.RandomState(13)
    a = rng.randint(0, 256, (24, 24)).astype(np.uint8)
    for q in (np.arange(1, 65, dtype=np.int64) * 3,
              np.full(64, 16, dtype=np.int64)):
        assert (decode_jpeg(encode_jpeg_progressive(a, quant=q))
                == decode_jpeg(encode_jpeg(a, quant=q))).all()


def test_jpeg_progressive_flat_and_sparse_eobruns():
    """Flat content folds every AC scan into one maximal EOB run;
    near-flat content exercises run interruption mid-scan."""
    from gdal_spark.codecs import encode_jpeg_progressive

    flat = np.full((32, 32, 3), 200, dtype=np.uint8)
    assert (decode_jpeg(encode_jpeg_progressive(flat))
            == decode_jpeg(encode_jpeg(flat))).all()
    sparse = np.full((40, 40), 100, dtype=np.uint8)
    sparse[3, 5] = 250
    sparse[30, 31] = 0
    assert (decode_jpeg(encode_jpeg_progressive(sparse))
            == decode_jpeg(encode_jpeg(sparse))).all()


def test_jpeg_progressive_constant_blocks_exact():
    """Unit quant + constant-per-block content is end-to-end lossless
    (the fixture contract synth_jpeg_payloads relies on)."""
    from gdal_spark.codecs import encode_jpeg_progressive

    a = np.empty((16, 24), dtype=np.uint8)
    for k in range(6):
        by, bx = divmod(k, 3)
        a[by * 8:by * 8 + 8, bx * 8:bx * 8 + 8] = (37 + k * 17) % 256
    assert (decode_jpeg(encode_jpeg_progressive(a)) == a).all()


def test_jpeg_progressive_dispatches_through_decode_real():
    from gdal_spark.codecs import encode_jpeg_progressive
    from gdal_spark.multimodal import decode_real

    a = np.full((8, 16), 77, dtype=np.uint8)
    d = decode_real(encode_jpeg_progressive(a))
    assert d["format"] == "image/jpeg"
    assert (d["width"], d["height"], d["rate"]) == (16, 8, 0)
    assert d["values"].sum() == 77 * 16 * 8


# ---------------------------------------------------------------------------
# AVI / MJPEG container: RIFF walk + per-frame JFIF reuse
# ---------------------------------------------------------------------------

def _const_block_frames(n: int, bw: int = 3, bh: int = 2,
                        rgb: bool = True) -> list:
    frames = []
    for f in range(n):
        a = np.empty((bh * 8, bw * 8), dtype=np.uint8)
        for k in range(bw * bh):
            by, bx = divmod(k, bw)
            a[by * 8:by * 8 + 8, bx * 8:bx * 8 + 8] = (f * 7 + k * 17) % 256
        frames.append(np.repeat(a[:, :, None], 3, axis=2) if rgb else a)
    return frames


def test_avi_mjpeg_roundtrip_exact_rgb_and_gray():
    from gdal_spark.codecs import decode_avi_mjpeg, encode_avi_mjpeg

    for rgb in (True, False):
        frames = _const_block_frames(4, rgb=rgb)
        fps, out = decode_avi_mjpeg(encode_avi_mjpeg(frames, fps=12))
        assert fps == 12 and len(out) == 4
        for a, b in zip(frames, out):
            assert np.array_equal(a, b)


def test_avi_mjpeg_single_frame_and_structure():
    from gdal_spark.codecs import decode_avi_mjpeg, encode_avi_mjpeg

    frames = _const_block_frames(1)
    data = encode_avi_mjpeg(frames, fps=30)
    assert data[:4] == b"RIFF" and data[8:12] == b"AVI "
    # RIFF size field spans the whole remaining payload
    import struct
    assert struct.unpack_from("<I", data, 4)[0] == len(data) - 8
    assert b"movi" in data and b"idx1" in data and b"00dc" in data
    fps, out = decode_avi_mjpeg(data)
    assert fps == 30 and len(out) == 1
    assert np.array_equal(out[0], frames[0])


def test_avi_non_mjpg_handler_raises_seam():
    from gdal_spark.codecs import decode_avi_mjpeg, encode_avi_mjpeg

    data = bytearray(encode_avi_mjpeg(_const_block_frames(2), fps=10))
    i = data.find(b"vidsMJPG")
    data[i + 4:i + 8] = b"H264"
    with pytest.raises(NotImplementedError):
        decode_avi_mjpeg(bytes(data))


def test_avi_truncated_and_non_avi_raise():
    from gdal_spark.codecs import decode_avi_mjpeg, encode_avi_mjpeg

    with pytest.raises(ValueError):
        decode_avi_mjpeg(b"RIFF\x04\x00\x00\x00WAVE")
    data = encode_avi_mjpeg(_const_block_frames(2), fps=10)
    with pytest.raises(ValueError):
        decode_avi_mjpeg(data[:len(data) // 2])


def test_avi_dispatches_through_decode_real():
    from gdal_spark.codecs import encode_avi_mjpeg
    from gdal_spark.multimodal import decode_real

    frames = _const_block_frames(3)
    d = decode_real(encode_avi_mjpeg(frames, fps=9))
    assert d["format"] == "video/avi-mjpeg"
    assert (d["width"], d["height"], d["rate"]) == (24, 16, 9)
    assert len(d["values"]) == 3 * 16 * 24 * 3
    exp = np.concatenate([f.reshape(-1) for f in frames]).astype(np.int64)
    assert np.array_equal(d["values"], exp)


def test_synth_avi_contract_matches_decode():
    """The _synth_avi_frames content contract survives the full
    encode->container->decode pipeline exactly (the property the
    DuckDB oracle relies on), for every residue class of the mix."""
    from gdal_spark.codecs import decode_avi_mjpeg, encode_avi_mjpeg
    from gdal_spark.multimodal import _synth_avi_frames

    for did in range(23):
        frames, fps = _synth_avi_frames(did)
        got_fps, out = decode_avi_mjpeg(encode_avi_mjpeg(frames, fps=fps))
        assert got_fps == 5 + did % 4
        assert len(out) == 1 + did % 5
        for a, b in zip(frames, out):
            assert np.array_equal(a, b)
        # arithmetic restatement (what the oracle computes)
        bw, bh, nf = 2 + did % 3, 1 + did % 2, 1 + did % 5
        exp_sum = 64 * 3 * sum(
            (did * 31 + f * 7 + k * 17) % 256
            for f in range(nf) for k in range(bw * bh))
        assert sum(int(f.astype(np.int64).sum()) for f in out) == exp_sum


# ---------------------------------------------------------------------------
# TIFF / GeoTIFF: IFD walk, strip codecs, georeferencing tags
# ---------------------------------------------------------------------------

def test_tiff_roundtrip_all_codecs_gray_and_rgb():
    from gdal_spark.codecs import decode_tiff, encode_tiff

    rng = np.random.RandomState(11)
    for shape in ((13, 17), (13, 17, 3), (5, 333, 3), (40, 40)):
        a = rng.randint(0, 256, size=shape).astype(np.uint8)
        for comp in ("none", "packbits", "lzw"):
            for pred in ((False, True) if comp == "lzw" else (False,)):
                out, gt = decode_tiff(encode_tiff(
                    a, compression=comp, predictor=pred))
                assert gt is None
                assert np.array_equal(out, a), (shape, comp, pred)


def test_tiff_lzw_width_transitions_and_clear():
    """Random data walks the code width 9->10->11->12 and through a
    mid-stream Clear (table full at 4094); text data exercises deep
    dictionary reuse."""
    from gdal_spark.codecs import _lzw_decode_tiff, _lzw_encode_tiff

    rng = np.random.RandomState(5)
    blob = bytes(rng.randint(0, 256, size=100_000,
                             dtype=np.int64).astype(np.uint8))
    assert _lzw_decode_tiff(_lzw_encode_tiff(blob), len(blob)) == blob
    text = b"the quick brown fox jumps over the lazy dog " * 4000
    enc = _lzw_encode_tiff(text)
    assert len(enc) < len(text) // 2  # actually compresses
    assert _lzw_decode_tiff(enc, len(text)) == text


def test_tiff_packbits_runs_and_literals():
    from gdal_spark.codecs import _packbits_decode, _packbits_encode

    for row in (b"\x00" * 300, b"abcdef", b"aaabccccd" * 40, b"x"):
        assert _packbits_decode(_packbits_encode(row), len(row)) == row


def test_geotiff_geotransform_roundtrip_and_decode_real():
    from gdal_spark.codecs import decode_tiff, encode_tiff
    from gdal_spark.multimodal import decode_real

    a = np.arange(120, dtype=np.uint8).reshape(10, 12)
    gt_in = (500000.0, 30.0, 0.0, 4649776.0, 0.0, -30.0)
    data = encode_tiff(a, geotransform=gt_in, compression="lzw")
    out, gt = decode_tiff(data)
    assert np.array_equal(out, a) and gt == gt_in
    d = decode_real(data)
    assert d["format"] == "image/tiff"
    assert (d["width"], d["height"]) == (12, 10)
    assert int(d["values"].sum()) == int(a.astype(np.int64).sum())


def test_tiff_big_endian_decodes():
    """Hand-built MM (Motorola) file: the decoder honors the byte
    order for the header, IFD and tag values."""
    import struct
    from gdal_spark.codecs import decode_tiff

    px = bytes(range(6))  # 3x2 gray, uncompressed, one strip
    tags = [
        (256, 4, 1, 3), (257, 4, 1, 2), (258, 3, 1, 8 << 16),
        (259, 3, 1, 1 << 16), (262, 3, 1, 1 << 16),
        (273, 4, 1, 8), (277, 3, 1, 1 << 16), (278, 4, 1, 2),
        (279, 4, 1, len(px)), (284, 3, 1, 1 << 16),
    ]
    # SHORT inline values live in the HIGH half on big-endian (<<16)
    ifd = struct.pack(">H", len(tags))
    for t, typ, cnt, val in tags:
        ifd += struct.pack(">HHII", t, typ, cnt, val)
    ifd += struct.pack(">I", 0)
    data = struct.pack(">2sHI", b"MM", 42, 8 + len(px)) + px + ifd
    out, gt = decode_tiff(data)
    assert out.shape == (2, 3) and gt is None
    assert np.array_equal(out, np.arange(6, dtype=np.uint8).reshape(2, 3))


def test_tiff_unsupported_variants_raise():
    import struct
    from gdal_spark.codecs import decode_tiff, encode_tiff

    with pytest.raises(ValueError):
        decode_tiff(b"not a tiff")
    a = np.zeros((4, 4), dtype=np.uint8)
    data = bytearray(encode_tiff(a))
    # flip the BitsPerSample inline value (tag 258) to 12 — a depth
    # the strip reader does not support
    ifd_off = struct.unpack_from("<I", data, 4)[0]
    n = struct.unpack_from("<H", data, ifd_off)[0]
    for i in range(n):
        t = struct.unpack_from("<H", data, ifd_off + 2 + 12 * i)[0]
        if t == 258:
            struct.pack_into("<H", data, ifd_off + 2 + 12 * i + 8, 12)
    with pytest.raises(NotImplementedError):
        decode_tiff(bytes(data))
    with pytest.raises(ValueError):
        encode_tiff(a.astype(np.int32))  # unsupported sample dtype


def test_synth_geotiff_contract_matches_decode():
    """Every residue class of the GeoTIFF fixture mix (strip codec x
    predictor x dims x origin) survives encode->decode exactly, and
    the decoded geotransform places pixels where the oracle's
    arithmetic puts them."""
    from gdal_spark.codecs import decode_tiff, encode_tiff
    from gdal_spark.multimodal import _synth_geotiff

    for did in range(31):
        px, gt_in, comp, pred, tiled, big = _synth_geotiff(did)
        out, gt = decode_tiff(encode_tiff(
            px, compression=comp, geotransform=gt_in, predictor=pred,
            tiled=tiled, bigtiff=big))
        assert out.dtype == px.dtype
        assert np.array_equal(out, px)
        assert gt == gt_in
        w, h = 12 + did % 7, 8 + did % 5
        assert out.shape == (h, w)
        mod = {0: 4096, 1: 512}.get(did % 5, 256)
        exp_dtype = {0: np.uint16, 1: np.float32}.get(did % 5, np.uint8)
        assert out.dtype == exp_dtype
        exp_sum = sum((did * 31 + r * 5 + c * 3) % mod
                      for r in range(h) for c in range(w))
        assert int(out.astype(np.int64).sum()) == exp_sum


# ---------------------------------------------------------------------------
# PNG variant surface: all color types, depths, Adam7
# ---------------------------------------------------------------------------

def test_png_all_color_types_roundtrip():
    from gdal_spark.codecs import decode_png, encode_png

    rng = np.random.RandomState(13)
    g = rng.randint(0, 256, size=(11, 9)).astype(np.uint8)
    assert np.array_equal(decode_png(encode_png(g, color_type=0)), g)
    ga = rng.randint(0, 256, size=(7, 5, 2)).astype(np.uint8)
    assert np.array_equal(decode_png(encode_png(ga)), ga)
    rgba = rng.randint(0, 256, size=(6, 10, 4)).astype(np.uint8)
    assert np.array_equal(decode_png(encode_png(rgba)), rgba)
    pal = rng.randint(0, 256, size=(16, 3)).astype(np.uint8)
    idx = rng.randint(0, 16, size=(9, 13)).astype(np.uint8)
    for depth in (4, 8):
        out = decode_png(encode_png(idx, color_type=3, depth=depth,
                                    palette=pal))
        assert np.array_equal(out, pal[idx])


def test_png_sub_byte_and_16bit_depths():
    from gdal_spark.codecs import decode_png, encode_png

    rng = np.random.RandomState(17)
    for d in (1, 2, 4):
        g = rng.randint(0, 1 << d, size=(10, 23)).astype(np.uint8)
        assert np.array_equal(
            decode_png(encode_png(g, color_type=0, depth=d)), g), d
    g16 = rng.randint(0, 65536, size=(8, 6)).astype(np.uint16)
    out = decode_png(encode_png(g16, color_type=0, depth=16))
    assert out.dtype == np.uint16 and np.array_equal(out, g16)
    c16 = rng.randint(0, 65536, size=(5, 7, 3)).astype(np.uint16)
    assert np.array_equal(
        decode_png(encode_png(c16, color_type=2, depth=16)), c16)


def test_png_adam7_interlace_matrix():
    """Adam7 must reproduce the plain encoding exactly, including
    images smaller than one pass block (empty passes)."""
    from gdal_spark.codecs import decode_png, encode_png

    rng = np.random.RandomState(19)
    pal = rng.randint(0, 256, size=(16, 3)).astype(np.uint8)
    cases = [
        (rng.randint(0, 256, size=(13, 17, 3)).astype(np.uint8), {}),
        (rng.randint(0, 256, size=(3, 2)).astype(np.uint8),
         {"color_type": 0}),
        (rng.randint(0, 256, size=(1, 1, 4)).astype(np.uint8), {}),
        (rng.randint(0, 16, size=(9, 11)).astype(np.uint8),
         {"color_type": 3, "depth": 4, "palette": pal}),
        (rng.randint(0, 65536, size=(10, 9, 3)).astype(np.uint16),
         {"color_type": 2, "depth": 16}),
        (rng.randint(0, 2, size=(12, 30)).astype(np.uint8),
         {"color_type": 0, "depth": 1}),
        (rng.randint(0, 256, size=(16, 16, 2)).astype(np.uint8), {}),
    ]
    for arr, kw in cases:
        got = decode_png(encode_png(arr, interlace=1, **kw))
        exp = pal[arr] if kw.get("color_type") == 3 else arr
        assert np.array_equal(got, exp), (arr.shape, kw)


def test_png_invalid_combinations_raise():
    from gdal_spark.codecs import decode_png, encode_png

    a = np.zeros((4, 4, 3), dtype=np.uint8)
    with pytest.raises(ValueError):
        encode_png(a, depth=4)  # truecolor can't be 4-bit
    with pytest.raises(ValueError):
        encode_png(np.zeros((4, 4), np.uint8), color_type=3)  # no PLTE
    with pytest.raises(ValueError):
        decode_png(b"not a png")


def test_synth_png_variant_contract_matches_decode():
    """Every residue class of the PNG variant mix decodes to exactly
    what the contract formula states (the property the oracle SQL
    relies on)."""
    from gdal_spark.codecs import decode_png, encode_png
    from gdal_spark.multimodal import _synth_png_variant

    for did in range(36):
        arr, kw, expected = _synth_png_variant(did)
        got = decode_png(encode_png(arr, **kw))
        assert np.array_equal(got, expected), did
        w, h = 5 + did % 9, 4 + did % 6
        assert expected.shape[:2] == (h, w)


# ---------------------------------------------------------------------------
# GIF: GIF-flavor LZW (LSB-first, late change), interlace, animation
# ---------------------------------------------------------------------------

def test_gif_roundtrip_frames_and_interlace():
    from gdal_spark.codecs import decode_gif, encode_gif

    rng = np.random.RandomState(23)
    pal = rng.randint(0, 256, size=(8, 3)).astype(np.uint8)
    for interlace in (False, True):
        frames = [rng.randint(0, 8, size=(11, 13)).astype(np.uint8)
                  for _ in range(3)]
        out = decode_gif(encode_gif(frames, pal, interlace=interlace))
        assert len(out) == 3
        for f_in, f_out in zip(frames, out):
            assert np.array_equal(f_out, pal[f_in]), interlace


def test_gif_lzw_width_bumps_and_clears():
    """A 256-color random image walks every code width 9->12 and
    through mid-stream table clears; structured content exercises
    deep dictionary chains and the KwKwK case."""
    from gdal_spark.codecs import decode_gif, encode_gif

    rng = np.random.RandomState(29)
    pal256 = rng.randint(0, 256, size=(256, 3)).astype(np.uint8)
    huge = rng.randint(0, 256, size=(150, 200)).astype(np.uint8)
    assert np.array_equal(decode_gif(encode_gif([huge], pal256))[0],
                          pal256[huge])
    runs = np.repeat(np.arange(256, dtype=np.uint8), 64).reshape(64, 256)
    assert np.array_equal(decode_gif(encode_gif([runs], pal256))[0],
                          pal256[runs])


def test_gif_dispatches_through_decode_real():
    from gdal_spark.codecs import encode_gif
    from gdal_spark.multimodal import decode_real

    pal = np.arange(24, dtype=np.uint8).reshape(8, 3)
    frames = [np.full((4, 6), v, np.uint8) for v in (0, 7)]
    d = decode_real(encode_gif(frames, pal))
    assert d["format"] == "image/gif"
    assert (d["width"], d["height"], d["rate"]) == (6, 4, 0)
    assert len(d["values"]) == 2 * 4 * 6 * 3
    exp = np.concatenate([pal[f].reshape(-1) for f in frames])
    assert np.array_equal(d["values"], exp.astype(np.int64))


def test_gif_invalid_payloads_raise():
    from gdal_spark.codecs import decode_gif

    with pytest.raises(ValueError):
        decode_gif(b"not a gif")
    # header with no image blocks
    import struct
    hdr = b"GIF89a" + struct.pack("<HHBBB", 4, 4, 0, 0, 0) + b"\x3B"
    with pytest.raises(ValueError):
        decode_gif(hdr)


def test_synth_gif_contract_matches_decode():
    from gdal_spark.codecs import decode_gif, encode_gif
    from gdal_spark.multimodal import _synth_gif

    for did in range(17):
        frames, pal, inter = _synth_gif(did)
        out = decode_gif(encode_gif(frames, pal, interlace=inter))
        assert len(out) == 1 + did % 3
        for f_in, f_out in zip(frames, out):
            assert np.array_equal(f_out, pal[f_in]), did
        # arithmetic restatement (what the oracle computes)
        nf, w, h = 1 + did % 3, 6 + did % 5, 4 + did % 3
        exp_sum = sum(
            int(v)
            for f in range(nf) for r in range(h) for c in range(w)
            for v in pal[(did + f * 5 + r * 2 + c) % 8])
        assert sum(int(o.astype(np.int64).sum()) for o in out) == exp_sum


def test_tiff_uint16_float32_deflate_matrix():
    """GDAL's common raster dtypes through every strip codec: uint16
    (predictor 2 modulo 65536) and float32 DEM-style samples."""
    from gdal_spark.codecs import decode_tiff, encode_tiff

    rng = np.random.RandomState(37)
    a16 = rng.randint(0, 65536, size=(11, 9)).astype(np.uint16)
    for comp in ("none", "packbits", "lzw", "deflate"):
        preds = (False, True) if comp in ("lzw", "deflate") else (False,)
        for pred in preds:
            out, _ = decode_tiff(encode_tiff(a16, compression=comp,
                                             predictor=pred))
            assert out.dtype == np.uint16
            assert np.array_equal(out, a16), (comp, pred)
    dem = rng.randint(0, 2048, size=(10, 14)).astype(np.float32) / 4.0
    gt_in = (0.0, 30.0, 0.0, 300.0, 0.0, -30.0)
    for comp in ("none", "packbits", "lzw", "deflate"):
        out, gt = decode_tiff(encode_tiff(dem, compression=comp,
                                          geotransform=gt_in))
        assert out.dtype == np.float32
        assert np.array_equal(out, dem) and gt == gt_in, comp
    with pytest.raises(ValueError):
        encode_tiff(dem, compression="lzw", predictor=True)


# ---------------------------------------------------------------------------
# WAV format widening: PCM-8/24, float32, G.711 mu-law
# ---------------------------------------------------------------------------

def test_wav_format_matrix_roundtrips():
    from gdal_spark.codecs import decode_wav, encode_wav

    rng = np.random.RandomState(41)
    s16 = rng.randint(-32768, 32768, size=500).astype(np.int16)
    r, out = decode_wav(encode_wav(s16, 16000))
    assert r == 16000 and np.array_equal(out, s16)
    s8 = rng.randint(-128, 128, size=300).astype(np.int16)
    r, out = decode_wav(encode_wav(s8, 8000, fmt="pcm8"))
    assert np.array_equal(out, s8)
    s24 = rng.randint(-(1 << 23), 1 << 23, size=400).astype(np.int32)
    r, out = decode_wav(encode_wav(s24, 44100, fmt="pcm24"))
    assert out.dtype == np.int32 and np.array_equal(out, s24)
    f32 = rng.uniform(-1, 1, size=256).astype(np.float32)
    r, out = decode_wav(encode_wav(f32, 48000, fmt="float32"))
    assert out.dtype == np.float32 and np.array_equal(out, f32)


def test_wav_mulaw_g711_semantics():
    """The expander matches G.711 anchor points (max magnitude 32124,
    two zero codes) and expand∘compress is identity on the expander's
    output lattice."""
    from gdal_spark.codecs import (_mulaw_compress, _mulaw_expand,
                                   decode_wav, encode_wav)

    u = np.arange(256, dtype=np.uint8)
    lin = _mulaw_expand(u)
    assert lin[0x80] == 32124 and lin[0x00] == -32124
    assert lin[0xFF] == 0 and lin[0x7F] == 0
    assert np.array_equal(_mulaw_expand(_mulaw_compress(lin)), lin)
    r, out = decode_wav(encode_wav(lin, 8000, fmt="mulaw"))
    assert r == 8000 and np.array_equal(out, lin)


def test_wav_unsupported_formats_raise():
    import struct
    from gdal_spark.codecs import decode_wav, encode_wav

    b = bytearray(encode_wav(np.zeros(4, np.int16), 8000))
    struct.pack_into("<H", b, 20, 2)  # format 2 = ADPCM
    with pytest.raises(ValueError):
        decode_wav(bytes(b))
    b = bytearray(encode_wav(np.zeros(4, np.int16), 8000))
    struct.pack_into("<H", b, 22, 2)  # stereo
    with pytest.raises(ValueError):
        decode_wav(bytes(b))


def test_tiff_tiled_layout_roundtrip():
    """TIFF6 tile layout (tags 322-325): multi-tile assembly with
    edge padding cropped, across every codec x dtype x predictor
    lane, matches the strip-layout decode of the same array."""
    from gdal_spark.codecs import decode_tiff, encode_tiff

    rng = np.random.RandomState(11)
    gt_in = (100.0, 30.0, 0.0, 500.0, 0.0, -30.0)
    for shape in [(8, 12), (40, 53), (16, 16), (33, 47, 3)]:
        for comp in ["none", "packbits", "lzw", "deflate"]:
            for pred in [False, True]:
                for dt, m in [(np.uint8, 256), (np.uint16, 4096),
                              (np.float32, 512)]:
                    if len(shape) == 3 and dt is not np.uint8:
                        continue
                    if pred and comp in ("none", "packbits"):
                        continue
                    if pred and dt is np.float32:
                        continue
                    a = rng.randint(0, m, shape).astype(dt)
                    data = encode_tiff(a, compression=comp,
                                       predictor=pred, tiled=True,
                                       tile_wh=(16, 16),
                                       geotransform=gt_in)
                    out, gt = decode_tiff(data)
                    assert out.dtype == a.dtype
                    assert np.array_equal(out, a), (shape, comp, pred)
                    assert gt == gt_in
    # tile dims must be multiples of 16 (TIFF6 spec)
    with pytest.raises(ValueError):
        encode_tiff(np.zeros((8, 8), np.uint8), tiled=True,
                    tile_wh=(8, 8))


def test_shapefile_pair_roundtrip():
    """.shp (Point + single-part PolyLine) and .dbf (numeric column)
    round-trip exactly, including the format's mixed endianness and
    negative/boundary coordinates."""
    from gdal_spark.codecs import (decode_dbf, decode_shp, encode_dbf,
                                   encode_shp)

    pts = [(1.5, -2.25), (-180.0, 85.051128), (179.999999, -89.0)]
    st, back = decode_shp(encode_shp(pts, 1))
    assert st == 1 and back == pts
    lines = [[(0.0, 0.0), (1.0, 2.0), (3.5, -1.25)],
             [(5.0, 5.0), (6.0, 7.0)]]
    st, back = decode_shp(encode_shp(lines, 3))
    assert st == 3 and back == lines
    name, vals = decode_dbf(encode_dbf([0, 42, -7, 123456]))
    assert name == "val" and vals == [0, 42, -7, 123456]
    # header invariants: magic 9994 big-endian, version 1000 LE,
    # declared file length covers the body exactly
    import struct

    data = encode_shp(pts, 1)
    assert struct.unpack_from(">i", data, 0)[0] == 9994
    assert struct.unpack_from("<i", data, 28)[0] == 1000
    assert struct.unpack_from(">i", data, 24)[0] * 2 == len(data)
    with pytest.raises(ValueError):
        decode_shp(b"\x00" * 100)


def test_shapefile_contract_matches_synth():
    """The _synth_shp content contract decodes to exactly the values
    the oracle computes arithmetically."""
    from gdal_spark.codecs import decode_dbf, decode_shp
    from gdal_spark.multimodal import _synth_shp

    for did in range(17):
        shp, dbf = _synth_shp(did)
        stype, shapes = decode_shp(shp)
        _, vals = decode_dbf(dbf)
        n = 1 + did % 4
        if did % 2 == 0:
            assert stype == 1 and len(shapes) == n
            assert vals == [(did * 11 + j) % 1000 for j in range(n)]
            pts = shapes
        else:
            assert stype == 3 and len(shapes) == 1
            assert vals == [(did * 11) % 1000]
            pts = shapes[0]
            assert len(pts) == n + 1
        for j, (x, y) in enumerate(pts):
            assert round(x * 1e6) == \
                (did * 37 + j * 1009) % 360000001 - 180000000
            assert round(y * 1e6) == \
                (did * 53 + j * 2003) % 170000001 - 85000000


def test_bigtiff_layout_roundtrip():
    """BigTIFF (version 43): 8-byte offsets, 20-byte IFD entries,
    LONG8 offset/count tags — round-trips across codec x tiled x
    dtype, magic II+\\x00, and classic decode is untouched."""
    from gdal_spark.codecs import decode_tiff, encode_tiff

    rng = np.random.RandomState(3)
    gt_in = (10.0, 30.0, 0.0, 900.0, 0.0, -30.0)
    for shape in [(8, 12), (40, 53), (33, 47, 3)]:
        for comp in ["none", "packbits", "lzw", "deflate"]:
            for tiled in [False, True]:
                for dt, m in [(np.uint8, 256), (np.uint16, 4096),
                              (np.float32, 512)]:
                    if len(shape) == 3 and dt is not np.uint8:
                        continue
                    a = rng.randint(0, m, shape).astype(dt)
                    data = encode_tiff(a, compression=comp,
                                       bigtiff=True, tiled=tiled,
                                       geotransform=gt_in)
                    assert data[:4] == b"II+\x00"
                    out, gt = decode_tiff(data)
                    assert out.dtype == a.dtype
                    assert np.array_equal(out, a)
                    assert gt == gt_in
    with pytest.raises(ValueError):
        decode_tiff(b"II\x2c\x00" + b"\x00" * 20)  # version 44


def test_palette_tiff_roundtrip():
    """Photometric-3 TIFF with ColorMap (16-bit planar entries):
    indices expand to the palette's RGB exactly, across strip/tile and
    classic/BigTIFF layouts; the no-ColorMap case raises."""
    from gdal_spark.codecs import decode_tiff, encode_tiff

    rng = np.random.RandomState(9)
    pal = rng.randint(0, 256, (256, 3)).astype(np.uint8)
    for comp in ["none", "lzw"]:
        for tiled in [False, True]:
            for big in [False, True]:
                idx = rng.randint(0, 256, (23, 37)).astype(np.uint8)
                data = encode_tiff(idx, compression=comp, tiled=tiled,
                                   bigtiff=big, palette=pal)
                out, _ = decode_tiff(data)
                assert np.array_equal(out, pal[idx])
    with pytest.raises(ValueError):
        encode_tiff(rng.randint(0, 255, (4, 4, 3)).astype(np.uint8),
                    palette=pal)
