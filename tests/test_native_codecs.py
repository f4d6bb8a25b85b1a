"""Native-decoder conformance and routing tests (VERDICT r6 #1).

The round-6 external fixtures (tests/test_codec_conformance.py) pin the
STDLIB JPEG decoder against bit-level streams assembled straight from
ITU-T T.81.  Here the SAME spec-derived fixtures run through the
libjpeg-turbo shim (sources/native_codecs.py), so both decode paths are
checked against the same analytic expectations — the cross-check
harness the verdict asked for.  JPEG assertions use a +/-1 (gray) /
+/-2 (color) tolerance: libjpeg's fixed-point islow IDCT and YCbCr
conversion are T.81-conformant but not correctly-rounded reals, unlike
the stdlib float path the original fixtures pin exactly.  PNG is
lossless, so native-vs-stdlib equality is byte-exact, including the
Paeth-filtered construction real corpora are dominated by.

Also covered: corrupt payloads surface as catchable ValueErrors (the
setjmp shim exists precisely so a bad file can never exit() an
executor), the ``decode_image`` router prefers native and honors the
``TCDB_SPARK_NATIVE_CODECS=0`` kill switch, and the distributed
``extract_features`` lane loads the shim inside Spark's Python workers.
"""

from __future__ import annotations

import importlib.util
import os

import numpy as np
import pytest

from tcdb_spark.sources import multimodal as mm
from tcdb_spark.sources import native_codecs as nc


def _load_by_path(name: str, path: str):
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


_HERE = os.path.dirname(os.path.abspath(__file__))
# the spec-derived bit-level builders (independent of repo decode code)
cc = _load_by_path(
    "codec_conformance_fixtures", os.path.join(_HERE, "test_codec_conformance.py")
)

jpeg_native = pytest.mark.skipif(
    not nc.jpeg_available(), reason="libjpeg shim unavailable (gcc/jpeglib.h)"
)
png_native = pytest.mark.skipif(
    not nc.png_available(), reason="libpng16 unavailable"
)


# --------------------------------------------------------------------------
# JPEG: T.81 fixtures through the native path
# --------------------------------------------------------------------------


def _dc_only_gray_payload() -> bytes:
    """The test_jpeg_dc_only_flat_block stream: 8x8, DC diff +8, q0=16
    -> every pixel analytically 144."""
    qtab = [16] + [i + 2 for i in range(63)]
    dc = cc._canon_codes(cc._K_DC_LUM_BITS, cc._K_DC_LUM_VALS)
    ac = cc._canon_codes(cc._K_AC_LUM_BITS, cc._K_AC_LUM_VALS)
    bits = cc._JpegBits()
    s, mag = cc._mag_bits(8)
    length, code = dc[s]
    bits.put(code, length)
    bits.put(mag, s)
    length, code = ac[0x00]
    bits.put(code, length)
    bits.pad_align()
    return cc._jpeg_headers_gray(8, 8, qtab) + bytes(bits.bytes) + b"\xff\xd9"


@jpeg_native
def test_native_jpeg_dc_only_flat_block():
    out = nc.decode_jpeg_native(_dc_only_gray_payload())
    assert (out["width"], out["height"], out["maxval"]) == (8, 8, 255)
    px = out["pixels"]
    assert px.shape == (8, 8, 1)
    # flat DC-only block is exact even in fixed point: 8 * 16 / 8 + 128
    assert np.abs(px.astype(np.int64) - 144).max() <= 1
    assert (px == px[0, 0]).all()  # must still be perfectly flat


@jpeg_native
def test_native_jpeg_single_ac_vertical_cosine():
    """Same stream as the stdlib pin: DC + one AC at zigzag 2 (v=1,u=0)
    must be a vertical half-cosine, constant along rows — a transposed
    IDCT or zigzag mix-up in the shim's view of the data would produce
    a horizontal ramp and blow far past the +/-1 fixed-point band."""
    qtab = [16, 99, 11] + [i + 101 for i in range(61)]
    dc = cc._canon_codes(cc._K_DC_LUM_BITS, cc._K_DC_LUM_VALS)
    ac = cc._canon_codes(cc._K_AC_LUM_BITS, cc._K_AC_LUM_VALS)
    bits = cc._JpegBits()
    s, mag = cc._mag_bits(5)
    length, code = dc[s]
    bits.put(code, length)
    bits.put(mag, s)
    s, mag = cc._mag_bits(12)
    length, code = ac[0x14]
    bits.put(code, length)
    bits.put(mag, s)
    length, code = ac[0x00]
    bits.put(code, length)
    bits.pad_align()
    payload = cc._jpeg_headers_gray(8, 8, qtab) + bytes(bits.bytes) + b"\xff\xd9"

    out = nc.decode_jpeg_native(payload)["pixels"][..., 0]
    analytic = cc._spec_idct({0: 5 * 16, 2: 12 * 11})
    assert (out == out[:, :1]).all(), "rows must be constant (vertical frequency)"
    diffs = out.astype(np.int64) - np.rint(analytic).astype(np.int64)
    assert np.abs(diffs).max() <= 1, diffs
    # strictly decreasing-then-increasing ordering must survive rounding
    col = out[:, 0].astype(np.int64)
    acol = np.rint(analytic[:, 0]).astype(np.int64)
    assert np.array_equal(np.argsort(col, kind="stable"), np.argsort(acol, kind="stable"))


@jpeg_native
def test_native_jpeg_420_color_quadrants_and_chroma_identity():
    """The 16x16 4:2:0 MCU fixture: four flat Y quadrants + flat
    Cb=+24/Cr=-12.  Pins MCU block order, the DC predictor chain,
    replicated chroma upsampling (the shim disables fancy upsampling
    for exactly this parity) and un-swapped Cb/Cr through libjpeg."""
    dqt = cc._seg(
        0xDB,
        bytes([0x00]) + bytes([16] + [i + 2 for i in range(63)])
        + bytes([0x01]) + bytes([8] + [i + 2 for i in range(63)]),
    )
    import struct as _s

    sof = cc._seg(
        0xC0,
        bytes([8]) + _s.pack(">HH", 16, 16)
        + bytes([3, 1, 0x22, 0, 2, 0x11, 1, 3, 0x11, 1]),
    )
    dht = cc._seg(
        0xC4,
        bytes([0x00]) + bytes(cc._K_DC_LUM_BITS) + cc._K_DC_LUM_VALS
        + bytes([0x10]) + bytes(cc._K_AC_LUM_BITS) + cc._K_AC_LUM_VALS
        + bytes([0x01]) + bytes(cc._K_DC_CHR_BITS) + cc._K_DC_CHR_VALS
        + bytes([0x11]) + bytes(cc._K_AC_CHR_BITS) + cc._K_AC_CHR_VALS,
    )
    sos = cc._seg(0xDA, bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0]))
    dc_l = cc._canon_codes(cc._K_DC_LUM_BITS, cc._K_DC_LUM_VALS)
    ac_l = cc._canon_codes(cc._K_AC_LUM_BITS, cc._K_AC_LUM_VALS)
    dc_c = cc._canon_codes(cc._K_DC_CHR_BITS, cc._K_DC_CHR_VALS)
    ac_c = cc._canon_codes(cc._K_AC_CHR_BITS, cc._K_AC_CHR_VALS)
    bits = cc._JpegBits()

    def put_block(diff, dct, act):
        s, mag = cc._mag_bits(diff)
        length, code = dct[s]
        bits.put(code, length)
        if s:
            bits.put(mag, s)
        length, code = act[0x00]
        bits.put(code, length)

    put_block(-16, dc_l, ac_l)
    put_block(16, dc_l, ac_l)
    put_block(16, dc_l, ac_l)
    put_block(16, dc_l, ac_l)
    put_block(24, dc_c, ac_c)
    put_block(-12, dc_c, ac_c)
    bits.pad_align()
    payload = b"\xff\xd8" + dqt + sof + dht + sos + bytes(bits.bytes) + b"\xff\xd9"

    px = nc.decode_jpeg_native(payload)["pixels"]
    assert px.shape == (16, 16, 3)
    y_quadrant = {(0, 0): 96.0, (0, 1): 128.0, (1, 0): 160.0, (1, 1): 192.0}
    cb, cr = 24.0, -12.0
    for (qy, qx), yv in y_quadrant.items():
        exp = np.array(
            [yv + 1.402 * cr, yv - 0.344136 * cb - 0.714136 * cr, yv + 1.772 * cb]
        )
        block = px[qy * 8 : qy * 8 + 8, qx * 8 : qx * 8 + 8].astype(np.float64)
        assert np.abs(block - exp).max() <= 2.0, (qy, qx, block[0, 0], exp)
        # chroma identity: blue clearly above red (swapped planes invert it)
        assert block[0, 0, 2] - block[0, 0, 0] > 40


@jpeg_native
def test_native_jpeg_restart_markers_reset_predictor():
    """8x16 DRI=1 fixture: the post-RST0 block's DC diff is absolute,
    so the second MCU must land at 176, not the 192 an unreset
    predictor produces — well outside the fixed-point band."""
    import struct as _s

    qtab = [16] + [i + 2 for i in range(63)]
    dc = cc._canon_codes(cc._K_DC_LUM_BITS, cc._K_DC_LUM_VALS)
    ac = cc._canon_codes(cc._K_AC_LUM_BITS, cc._K_AC_LUM_VALS)
    dri = cc._seg(0xDD, _s.pack(">H", 1))
    sof = cc._seg(0xC0, bytes([8]) + _s.pack(">HH", 8, 16) + bytes([1, 1, 0x11, 0]))
    dqt = cc._seg(0xDB, bytes([0x00]) + bytes(qtab))
    dht = cc._seg(
        0xC4,
        bytes([0x00]) + bytes(cc._K_DC_LUM_BITS) + cc._K_DC_LUM_VALS
        + bytes([0x10]) + bytes(cc._K_AC_LUM_BITS) + cc._K_AC_LUM_VALS,
    )
    sos = cc._seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
    bits = cc._JpegBits()

    def put_block(diff):
        s, mag = cc._mag_bits(diff)
        length, code = dc[s]
        bits.put(code, length)
        if s:
            bits.put(mag, s)
        length, code = ac[0x00]
        bits.put(code, length)

    put_block(16)  # MCU 0: DC 16 -> 16*16/8+128 = 160
    bits.pad_align()
    bits.raw_marker(0xD0)
    put_block(24)  # MCU 1 after reset: ABSOLUTE 24 -> 176 (unreset: 192)
    bits.pad_align()
    payload = b"\xff\xd8" + dri + dqt + sof + dht + sos + bytes(bits.bytes) + b"\xff\xd9"

    px = nc.decode_jpeg_native(payload)["pixels"][..., 0].astype(np.int64)
    assert np.abs(px[:, :8] - 160).max() <= 1
    assert np.abs(px[:, 8:] - 176).max() <= 1


@jpeg_native
@pytest.mark.parametrize("progressive", [False, True])
@pytest.mark.parametrize("subsample", [1, 2])
def test_native_jpeg_agrees_with_stdlib_on_repo_encodes(progressive, subsample):
    """Cross-decoder agreement on the repo encoder's output across the
    baseline/progressive x 4:4:4/4:2:0 grid: both decoders implement
    T.81, so they may only disagree by the fixed-point-vs-float IDCT
    and color-convert rounding (+/-2)."""
    rng = np.random.default_rng(42)
    px = rng.integers(0, 256, (24, 40, 3), dtype=np.uint8)
    payload = mm.encode_jpeg(px, quant=2, subsample=subsample, progressive=progressive)
    a = mm.decode_jpeg(payload)
    b = nc.decode_jpeg_native(payload)
    assert a["pixels"].shape == b["pixels"].shape
    diff = np.abs(a["pixels"].astype(np.int64) - b["pixels"].astype(np.int64))
    assert diff.max() <= 2, diff.max()


# --------------------------------------------------------------------------
# PNG: lossless, so byte-exact against the stdlib twin
# --------------------------------------------------------------------------


@png_native
@pytest.mark.parametrize("channels", [1, 2, 3, 4])
def test_native_png_bit_exact_all_color_types(channels):
    rng = np.random.default_rng(channels)
    px = rng.integers(0, 256, (19, 23, channels), dtype=np.uint8)
    payload = mm.encode_png(px)
    a = mm.decode_png(payload)
    b = nc.decode_png_native(payload)
    assert a["pixels"].shape == b["pixels"].shape == (19, 23, channels)
    assert (a["pixels"] == b["pixels"]).all()


def _paeth_png(px: np.ndarray) -> bytes:
    """Independently-built RGB PNG with every row Paeth-filtered (type 4)."""
    import struct as _s
    import zlib

    h, w, c = px.shape
    raw = bytearray()
    prev = [0] * (w * c)
    for y in range(h):
        line = px[y].ravel().astype(np.int64).tolist()
        row = bytearray([4])
        for x in range(w * c):
            a = line[x - c] if x >= c else 0
            b = prev[x]
            cc = prev[x - c] if x >= c else 0
            p = a + b - cc
            pa, pb, pc = abs(p - a), abs(p - b), abs(p - cc)
            pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else cc)
            row.append((line[x] - pred) & 255)
        raw += row
        prev = line

    def chunk(cid, body):
        return (
            _s.pack(">I", len(body)) + cid + body
            + _s.pack(">I", zlib.crc32(cid + body) & 0xFFFFFFFF)
        )

    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", _s.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


@png_native
def test_native_png_paeth_filtered_bit_exact():
    """Real-world PNGs are Paeth-heavy; an independently-built all-Paeth
    fixture must decode identically through libpng and the stdlib
    filter inverter."""
    rng = np.random.default_rng(99)
    px = rng.integers(0, 256, (32, 48, 3), dtype=np.uint8)
    payload = _paeth_png(px)
    a = mm.decode_png(payload)
    b = nc.decode_png_native(payload)
    assert (a["pixels"] == px).all()
    assert (b["pixels"] == px).all()


@png_native
def test_native_png_palette_expands_to_rgb():
    """8-bit palette PNG (color type 3): libpng must expand through the
    PLTE exactly like the stdlib path."""
    import struct as _s
    import zlib

    plte = bytes(range(30))  # 10 arbitrary RGB entries
    idx = np.array([[0, 1, 2, 3, 4], [9, 8, 7, 6, 5]], np.uint8)
    raw = b"".join(b"\x00" + idx[y].tobytes() for y in range(2))

    def chunk(cid, body):
        return (
            _s.pack(">I", len(body)) + cid + body
            + _s.pack(">I", zlib.crc32(cid + body) & 0xFFFFFFFF)
        )

    payload = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", _s.pack(">IIBBBBB", 5, 2, 8, 3, 0, 0, 0))
        + chunk(b"PLTE", plte)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
    a = mm.decode_png(payload)
    b = nc.decode_png_native(payload)
    assert a["pixels"].shape == b["pixels"].shape == (2, 5, 3)
    assert (a["pixels"] == b["pixels"]).all()


# --------------------------------------------------------------------------
# error handling: a bad payload is a ValueError, never a process death
# --------------------------------------------------------------------------


@jpeg_native
def test_native_jpeg_corrupt_payloads_raise_value_error():
    good = mm.encode_jpeg(np.full((16, 16), 100, np.uint8))
    for bad in (
        good[:20],  # truncated in the headers
        b"\xff\xd8\xff\xdb\x00\x05abc",  # bogus segment
        good[:2] + b"\x00" * 30,  # marker desync
    ):
        with pytest.raises(ValueError):
            nc.decode_jpeg_native(bad)
    # truncated ENTROPY data is recoverable by design: libjpeg resyncs
    # and fills, yielding a full-size (degraded) image instead of
    # killing the task — the right trade for a 100 TB corpus scan.
    out = nc.decode_jpeg_native(good[:-10])
    assert out["pixels"].shape == (16, 16, 1)


@png_native
def test_native_png_corrupt_payloads_raise_value_error():
    good = mm.encode_png(np.full((8, 8, 3), 7, np.uint8))
    for bad in (good[:20], good[:40] + b"\x00" * 8 + good[48:], b"\x89PNG\r\n\x1a\n" + b"\x00" * 16):
        with pytest.raises(ValueError):
            nc.decode_png_native(bad)


# --------------------------------------------------------------------------
# router + kill switch
# --------------------------------------------------------------------------


@jpeg_native
def test_decode_image_routes_native_and_honors_kill_switch(monkeypatch):
    px = np.arange(64, dtype=np.uint8).reshape(8, 8)
    payload = mm.encode_jpeg(px)

    calls = {"native": 0}
    real = nc.decode_jpeg_native

    def spy(p):
        calls["native"] += 1
        return real(p)

    monkeypatch.setattr(nc, "decode_jpeg_native", spy)
    out = mm.decode_image(payload)
    assert calls["native"] == 1 and out["pixels"].shape == (8, 8, 1)

    monkeypatch.setenv("TCDB_SPARK_NATIVE_CODECS", "0")
    out2 = mm.decode_image(payload)
    assert calls["native"] == 1, "kill switch must force the stdlib path"
    # stdlib output for comparison must be identical to the routed one
    assert (out2["pixels"] == mm.decode_jpeg(payload)["pixels"]).all()


@jpeg_native
def test_decode_image_falls_back_to_stdlib_on_native_failure(monkeypatch):
    payload = mm.encode_jpeg(np.full((8, 8), 50, np.uint8))

    def boom(p):
        raise ValueError("synthetic native failure")

    monkeypatch.setattr(nc, "decode_jpeg_native", boom)
    out = mm.decode_image(payload)  # must not raise: stdlib twin decodes
    assert out["pixels"].shape == (8, 8, 1)


# --------------------------------------------------------------------------
# distributed: the shim loads inside Spark Python workers
# --------------------------------------------------------------------------


@jpeg_native
@png_native
def test_extract_features_uses_native_decode_in_workers(spark):
    rng = np.random.default_rng(3)
    imgs = [
        (1, mm.encode_jpeg(rng.integers(0, 256, (16, 24, 3), dtype=np.uint8)), "image/jpeg"),
        (2, mm.encode_png(rng.integers(0, 256, (12, 12, 3), dtype=np.uint8)), "image/png"),
    ]
    media = spark.createDataFrame(
        [(i, bytearray(p), t) for i, p, t in imgs],
        "media_id long, payload binary, media_type string",
    )
    rows = {
        r["media_id"]: r["features"]
        for r in mm.extract_features(media).collect()
    }
    for i, p, _ in imgs:
        expected = mm.media_features(p)  # driver side, same routing
        assert np.allclose(rows[i], expected, atol=1e-12), i


# --------------------------------------------------------------------------
# FLAC: compiled shim vs the spec-derived conformance fixtures (lossless
# -> exact equality) and vs the stdlib twin on encoder output
# --------------------------------------------------------------------------

flac_native = pytest.mark.skipif(
    not nc.flac_available(), reason="FLAC shim unavailable (gcc missing)"
)


@flac_native
def test_native_flac_constant_and_fixed_rice_conformance():
    payload = cc._flac_streaminfo(16, 8000, 1, 16, 16) + cc._flac_frame(
        0, 16, 0, [cc._sub_constant(-3)]
    )
    out = nc.decode_flac_native(payload)
    assert out["sample_rate"] == 8000 and out["n_channels"] == 1
    np.testing.assert_array_equal(out["samples"], np.full((16, 1), -3.0 / 32768.0))

    want = [3, 5, 8, 10, 11, 13, 18, 20]
    payload = cc._flac_streaminfo(8, 8000, 1, 16, 8) + cc._flac_frame(
        0, 8, 0, [cc._sub_fixed2([3, 5], [1, -1, -1, 1, 3, -3], param=1)]
    )
    np.testing.assert_array_equal(
        nc.decode_flac_native(payload)["samples"][:, 0], np.array(want) / 32768.0
    )


@flac_native
def test_native_flac_stereo_decorrelation_conformance():
    f0 = cc._flac_frame(
        0, 4, 10,
        [cc._sub_verbatim([70, 69, 69, 68], 16), cc._sub_verbatim([60, 63, 66, 69], 17)],
    )
    f1 = cc._flac_frame(
        1, 2, 8,
        [cc._sub_verbatim([50, 52], 16), cc._sub_verbatim([30, 33], 17)],
    )
    out = nc.decode_flac_native(cc._flac_streaminfo(4, 8000, 2, 16, 6) + f0 + f1)
    np.testing.assert_array_equal(
        out["samples"][:, 0], np.array([100, 101, 102, 103, 50, 52]) / 32768.0
    )
    np.testing.assert_array_equal(
        out["samples"][:, 1], np.array([40, 38, 36, 34, 20, 19]) / 32768.0
    )


@flac_native
def test_native_flac_rice_partitions_and_escape_conformance():
    vals = [1, -2, 0, 3, -17, 25, -9, 14]

    def sub(w):
        w.put(0, 1)
        w.put(8 + 0, 6)
        w.put(0, 1)
        w.put(0, 2)
        w.put(1, 4)
        w.put(0, 4)
        cc._put_rice(w, vals[:4], 0)
        w.put(15, 4)
        w.put(6, 5)
        for v in vals[4:]:
            w.put(v & 0x3F, 6)

    payload = cc._flac_streaminfo(8, 8000, 1, 16, 8) + cc._flac_frame(0, 8, 0, [sub])
    np.testing.assert_array_equal(
        nc.decode_flac_native(payload)["samples"][:, 0], np.array(vals) / 32768.0
    )


@flac_native
def test_native_flac_crc_guards_and_truncation():
    payload = bytearray(
        cc._flac_streaminfo(16, 8000, 1, 16, 16)
        + cc._flac_frame(0, 16, 0, [cc._sub_constant(-3)])
    )
    payload[42 + 2] ^= 0x04
    with pytest.raises(ValueError, match="CRC|sync|reserved|truncated|subframe"):
        nc.decode_flac_native(bytes(payload))
    good = bytes(
        cc._flac_streaminfo(16, 8000, 1, 16, 16)
        + cc._flac_frame(0, 16, 0, [cc._sub_constant(-3)])
    )
    with pytest.raises(ValueError):
        nc.decode_flac_native(good[:-3])


@flac_native
@pytest.mark.parametrize("mode", ["verbatim", "constant", "fixed2", "fixed2esc", "fixed2po2", "lpc1", "ms"])
def test_native_flac_exact_parity_with_stdlib(mode):
    rng = np.random.default_rng(hash(mode) % 2**32)
    nchan = 2 if mode == "ms" else 1
    s = np.cumsum(rng.normal(0, 0.01, (700, nchan)), axis=0).clip(-0.9, 0.9)
    if mode == "constant":
        s = np.full((700, nchan), 0.125)
    payload = mm.encode_flac(s, sample_rate=8000, bps=16, blocksize=192, mode=mode)
    a = mm.decode_flac(payload)
    b = nc.decode_flac_native(payload)
    assert a["sample_rate"] == b["sample_rate"] and a["n_channels"] == b["n_channels"]
    assert (a["samples"] == b["samples"]).all()  # lossless: EXACT


# --------------------------------------------------------------------------
# shim build path: compile from the embedded C source into a COLD cache
# --------------------------------------------------------------------------


@pytest.mark.skipif(
    not (os.path.exists("/usr/include/jpeglib.h")), reason="no jpeglib.h"
)
def test_shims_compile_from_source_into_cold_cache(tmp_path, monkeypatch):
    """The cached .so is not the artifact under test — the embedded C
    SOURCE is.  Point the cache at an empty dir, reset the memoized
    handles, and decode through freshly-compiled shims; this catches
    source bitrot that a warm cache would mask."""
    monkeypatch.setenv("TCDB_SPARK_SHIM_DIR", str(tmp_path / "cold"))
    monkeypatch.setattr(nc, "_jpeg_handle", None)
    monkeypatch.setattr(nc, "_flac_handle", None)
    try:
        assert nc.jpeg_available(), "jpeg shim failed to compile from source"
        assert nc.flac_available(), "flac shim failed to compile from source"
        px = np.full((8, 8), 120, np.uint8)
        out = nc.decode_jpeg_native(mm.encode_jpeg(px))
        assert np.abs(out["pixels"].astype(int) - 120).max() <= 1
        s = np.linspace(-0.5, 0.5, 300)[:, None]
        flac = mm.encode_flac(s, blocksize=100, mode="fixed2")
        assert (nc.decode_flac_native(flac)["samples"] == mm.decode_flac(flac)["samples"]).all()
        built = sorted(os.listdir(tmp_path / "cold"))
        assert any(f.startswith("jpegshim-") for f in built)
        assert any(f.startswith("flacshim-") for f in built)
    finally:
        # restore process-wide memoization for later tests in this worker
        monkeypatch.undo()
        nc._jpeg_handle = None
        nc._flac_handle = None


@png_native
def test_native_png_capability_upgrades_16bit_and_trns():
    """Documented capability DELTAS are upgrades only: 16-bit files
    (stdlib raises) come back 8-bit via libpng's linear->sRGB transfer,
    and palette+tRNS gains the alpha channel the stdlib path ignores.
    Pinned so a future routing change can't silently downgrade them."""
    import struct
    import zlib

    def chunk(cid, body):
        return (
            struct.pack(">I", len(body)) + cid + body
            + struct.pack(">I", zlib.crc32(cid + body) & 0xFFFFFFFF)
        )

    px16 = np.array([[1000, 2000, 3000], [40000, 50000, 60000]], ">u2")
    raw = b"".join(b"\x00" + px16[y].tobytes() for y in range(2))
    p16 = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 3, 2, 16, 0, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
    with pytest.raises(NotImplementedError):
        mm.decode_png(p16)
    out = nc.decode_png_native(p16)
    assert out["pixels"].shape == (2, 3, 1)
    # libpng's 16-bit-linear -> 8-bit sRGB transfer, monotone + endpoints
    vals = out["pixels"].ravel().tolist()
    assert vals == sorted(vals) and vals[0] > 0 and vals[-1] <= 255
    # decode_image routes a 16-bit PNG to the native path and SUCCEEDS
    # where the stdlib-only router raised
    assert mm.decode_image(p16)["pixels"].shape == (2, 3, 1)

    plte = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255])
    pt = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 3, 1, 8, 3, 0, 0, 0))
        + chunk(b"PLTE", plte)
        + chunk(b"tRNS", bytes([255, 128, 0]))
        + chunk(b"IDAT", zlib.compress(b"\x00" + bytes([0, 1, 2])))
        + chunk(b"IEND", b"")
    )
    o = nc.decode_png_native(pt)
    assert o["pixels"].shape == (1, 3, 4)
    assert o["pixels"][0].tolist() == [
        [255, 0, 0, 255], [0, 255, 0, 128], [0, 0, 255, 0],
    ]
