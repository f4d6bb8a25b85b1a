"""Real multimodal decoding: PPM pixels and WAV samples parsed from
actual bytes, with closed-form expected values (not golden-vs-self)."""

import struct

import numpy as np
import pytest

from tcdb_spark.sources.multimodal import (
    decode_ppm,
    decode_wav,
    extract_features,
    make_test_ppm,
    make_test_wav,
    media_features,
)


def test_decode_ppm_exact_pixels():
    img = decode_ppm(make_test_ppm(width=4, height=3))
    assert (img["width"], img["height"], img["maxval"]) == (4, 3, 255)
    # pixel (x=2, y=1) = (2*30, 1*40, 3*10) by construction
    assert img["pixels"][1, 2].tolist() == [60, 40, 30]
    assert img["pixels"].shape == (3, 4, 3)


def test_decode_pgm_grayscale():
    pgm = b"P5\n2 2\n255\n" + bytes([0, 64, 128, 255])
    img = decode_ppm(pgm)
    assert img["pixels"].shape == (2, 2, 1)
    assert img["pixels"].flatten().tolist() == [0, 64, 128, 255]
    feats = media_features(pgm)
    assert feats[:3] == [2.0, 2.0, 1.0]
    assert feats[3] == pytest.approx((0 + 64 + 128 + 255) / 4 / 255)
    assert feats[5] == 0.0 and feats[6] == 1.0  # min/max normalized


def test_decode_wav_square_wave_closed_form():
    wav = decode_wav(make_test_wav(sample_rate=8000, n_frames=800))
    assert wav["sample_rate"] == 8000 and wav["n_channels"] == 1
    assert wav["samples"].shape == (800, 1)
    feats = media_features(make_test_wav(sample_rate=8000, n_frames=800))
    assert feats[0] == 8000.0
    assert feats[2] == pytest.approx(0.1)  # 800 frames / 8000 Hz
    assert feats[3] == 0.25  # rms of a +/-8192 square wave, exactly
    assert feats[4] == 0.25  # peak
    assert feats[6] == 0.0  # symmetric wave: zero mean
    assert feats[7] == 0.5  # dynamic range


def test_decode_wav_8bit_and_word_alignment():
    # 3-byte (odd) data chunk must be padded to the word boundary
    data = bytes([128, 255, 0])
    fmt = struct.pack("<HHIIHH", 1, 1, 4000, 4000, 1, 8)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(data)) + data + b"\x00"
    body += b"LIST" + struct.pack("<I", 4) + b"INFO"  # trailing chunk
    wav = decode_wav(b"RIFF" + struct.pack("<I", len(body)) + body)
    assert wav["samples"].flatten().tolist() == [0.0, 127 / 128, -1.0]


def test_decode_rejects_garbage():
    with pytest.raises(ValueError):
        decode_ppm(b"JFIF....")
    with pytest.raises(ValueError):
        decode_wav(b"RIFF\x00\x00\x00\x00AVI ")
    assert media_features(b"not media") is None


def test_extract_features_routes_real_and_stub(spark):
    rows = [
        (1, bytearray(make_test_ppm()), "image/ppm"),
        (2, bytearray(make_test_wav()), "audio/wav"),
        (3, bytearray(b"opaque-blob"), "video"),
    ]
    media = spark.createDataFrame(
        rows, "media_id long, payload binary, media_type string"
    )
    out = {r["media_id"]: r for r in extract_features(media).collect()}
    assert out[1]["features"][0] == 8.0  # real PPM width
    assert out[2]["features"][3] == 0.25  # real WAV rms
    assert len(out[3]["features"]) == 8  # stub fallback still shaped
    # strict mode: unrecognized bytes raise where the codec would sit
    strict = extract_features(media, decode_stub=False)
    with pytest.raises(Exception, match="codec"):
        strict.collect()


def test_resize_ppm_closed_form():
    """Nearest-neighbor resize: output dims honored, sampled pixels land
    where the index map says, downscale+roundtrip stays decodable."""
    import numpy as np

    from tcdb_spark.sources.multimodal import decode_ppm, make_test_ppm, resize_ppm

    src = make_test_ppm(width=8, height=6)
    out = resize_ppm(src, 4, 3)
    img = decode_ppm(out)
    assert (img["width"], img["height"]) == (4, 3)
    # output pixel (x, y) samples source pixel (x*8//4, y*6//3) = (2x, 2y)
    src_px = decode_ppm(src)["pixels"]
    assert np.array_equal(img["pixels"][1, 2], src_px[2, 4])
    # upscale replicates
    up = decode_ppm(resize_ppm(src, 16, 12))
    assert np.array_equal(up["pixels"][0, 0], src_px[0, 0])
    assert np.array_equal(up["pixels"][1, 1], src_px[0, 0])


def test_resize_media_distributed(spark):
    """The Arrow op resizes Netpbm payloads in place and passes unknown
    formats through untouched (stub mode)."""
    from tcdb_spark.sources.multimodal import decode_ppm, make_test_ppm, resize_media

    rows = [
        (1, bytearray(make_test_ppm(8, 6)), "image/ppm"),
        (2, bytearray(b"\x00\x01notanimage"), "application/octet-stream"),
        (3, None, "image/ppm"),
    ]
    media = spark.createDataFrame(
        rows, "media_id long, payload binary, media_type string"
    )
    got = {r["media_id"]: r for r in resize_media(media, 4, 3).collect()}
    resized = decode_ppm(bytes(got[1]["payload"]))
    assert (resized["width"], resized["height"]) == (4, 3)
    assert bytes(got[2]["payload"]) == b"\x00\x01notanimage"
    assert got[3]["payload"] is None
    assert all(r["width"] == 4 and r["height"] == 3 for r in got.values())


def test_resample_wav_closed_form():
    """Downsample by exactly 2x on a triangle wave: linear interp on a
    piecewise-linear signal lands exactly on the original even samples
    (grid points coincide), so the roundtrip is bit-exact."""
    import struct

    import numpy as np

    from tcdb_spark.sources.multimodal import decode_wav, resample_wav

    # triangle wave, 16-bit mono, 8 kHz
    n, amp = 64, 8192
    tri = [amp * (1 - abs((i % 16) - 8) / 8.0) for i in range(n)]
    data = b"".join(struct.pack("<h", int(round(s))) for s in tri)
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(data)) + data
    wav = b"RIFF" + struct.pack("<I", len(body)) + body

    out = resample_wav(wav, 4000)
    dec = decode_wav(out)
    assert dec["sample_rate"] == 4000
    assert dec["samples"].shape == (32, 1)
    orig = decode_wav(wav)["samples"][::2, 0]
    assert np.array_equal(dec["samples"][:, 0], orig)


def test_resample_media_distributed(spark):
    from pyspark.sql import functions as F

    from tcdb_spark.sources.multimodal import (
        decode_wav,
        make_test_wav,
        resample_media,
    )

    rows = [(1, bytearray(make_test_wav(sample_rate=8000, n_frames=800))),
            (2, None)]
    media = spark.createDataFrame(rows, "media_id long, payload binary").repartition(2)
    out = {r.media_id: r for r in resample_media(media, 2000).collect()}
    assert out[1].sample_rate == 2000
    dec = decode_wav(bytes(out[1].payload))
    assert dec["sample_rate"] == 2000 and dec["samples"].shape[0] == 200
    assert out[2].payload is None


# ------------------------------------------------------------- PNG decode


def test_png_roundtrip_all_channel_counts():
    """encode_png -> decode_png is the identity on pixels for gray,
    gray+alpha, RGB, and RGBA (the four 8-bit channel layouts)."""
    from tcdb_spark.sources.multimodal import decode_png, encode_png

    rng = np.random.default_rng(7)
    for c in (1, 2, 3, 4):
        px = rng.integers(0, 256, size=(11, 13, c), dtype=np.uint8)
        out = decode_png(encode_png(px))
        assert out["width"] == 13 and out["height"] == 11
        assert out["maxval"] == 255
        np.testing.assert_array_equal(out["pixels"], px)


def test_png_all_five_filters_inverted():
    """Hand-filter known scanlines with each of the 5 PNG filter types
    (applying the spec's forward transform) and check the decoder
    reconstructs the original pixels exactly."""
    import struct as _s
    import zlib

    from tcdb_spark.sources.multimodal import _PNG_MAGIC, decode_png

    rng = np.random.default_rng(11)
    w, h, bpp = 9, 5, 3
    px = rng.integers(0, 256, size=(h, w, bpp), dtype=np.uint8)

    def paeth(a, b, c):
        p = int(a) + int(b) - int(c)
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        return a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)

    raw = bytearray()
    prev = np.zeros(w * bpp, np.int64)
    for y, ft in zip(range(h), (0, 1, 2, 3, 4)):
        line = px[y].ravel().astype(np.int64)
        filt = np.empty(w * bpp, np.int64)
        for x in range(w * bpp):
            left = line[x - bpp] if x >= bpp else 0
            up = prev[x]
            ul = prev[x - bpp] if x >= bpp else 0
            if ft == 0:
                pred = 0
            elif ft == 1:
                pred = left
            elif ft == 2:
                pred = up
            elif ft == 3:
                pred = (left + up) >> 1
            else:
                pred = paeth(left, up, ul)
            filt[x] = (line[x] - pred) & 255
        raw += bytes([ft]) + bytes(filt.astype(np.uint8))
        prev = line

    def chunk(cid, body):
        return _s.pack(">I", len(body)) + cid + body + _s.pack(
            ">I", zlib.crc32(cid + body) & 0xFFFFFFFF
        )

    payload = (
        _PNG_MAGIC
        + chunk(b"IHDR", _s.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )
    np.testing.assert_array_equal(decode_png(payload)["pixels"], px)


def test_png_palette_expands_to_rgb():
    import struct as _s
    import zlib

    from tcdb_spark.sources.multimodal import _PNG_MAGIC, decode_png

    palette = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255])  # R, G, B entries
    idx = np.array([[0, 1, 2], [2, 1, 0]], np.uint8)
    raw = b"".join(b"\x00" + idx[y].tobytes() for y in range(2))

    def chunk(cid, body):
        return _s.pack(">I", len(body)) + cid + body + _s.pack(
            ">I", zlib.crc32(cid + body) & 0xFFFFFFFF
        )

    payload = (
        _PNG_MAGIC
        + chunk(b"IHDR", _s.pack(">IIBBBBB", 3, 2, 8, 3, 0, 0, 0))
        + chunk(b"PLTE", palette)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
    out = decode_png(payload)["pixels"]
    assert out.shape == (2, 3, 3)
    assert tuple(out[0, 0]) == (255, 0, 0)
    assert tuple(out[0, 2]) == (0, 0, 255)
    assert tuple(out[1, 0]) == (0, 0, 255)


def test_png_guards():
    from tcdb_spark.sources.multimodal import decode_png, encode_png

    with pytest.raises(ValueError, match="not a PNG"):
        decode_png(b"JFIF....")
    # 16-bit depth: documented swap point, actionable error
    import struct as _s
    import zlib

    from tcdb_spark.sources.multimodal import _PNG_MAGIC

    def chunk(cid, body):
        return _s.pack(">I", len(body)) + cid + body + _s.pack(
            ">I", zlib.crc32(cid + body) & 0xFFFFFFFF
        )

    deep = (
        _PNG_MAGIC
        + chunk(b"IHDR", _s.pack(">IIBBBBB", 2, 2, 16, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(b"\x00" * (2 * (2 * 3 * 2 + 1))))
        + chunk(b"IEND", b"")
    )
    with pytest.raises(NotImplementedError, match="16-bit|8-bit"):
        decode_png(deep)


def test_png_feature_and_hash_parity_with_ppm():
    """The SAME pixels as PPM and as PNG must produce identical features
    and an identical aHash — cross-format re-encodes are exactly the
    near-dup class the phash lane exists for."""
    from tcdb_spark.sources.multimodal import (
        ahash_image,
        decode_ppm,
        encode_png,
        make_patterned_ppm,
        make_test_ppm,
        media_features,
    )

    ppm = make_test_ppm(16, 12)
    png = encode_png(decode_ppm(ppm)["pixels"])
    assert media_features(ppm) == media_features(png)
    pat = make_patterned_ppm("pngpar")
    pat_png = encode_png(decode_ppm(pat)["pixels"])
    assert ahash_image(pat) == ahash_image(pat_png)


def test_resize_png_closed_form():
    from tcdb_spark.sources.multimodal import decode_png, encode_png, resize_png

    px = np.arange(8 * 6 * 3, dtype=np.uint8).reshape(6, 8, 3)
    out = decode_png(resize_png(encode_png(px), 4, 3))
    assert out["width"] == 4 and out["height"] == 3
    # nearest-neighbor index map: row y -> y*6//3, col x -> x*8//4
    np.testing.assert_array_equal(out["pixels"], px[::2, ::2])


def test_media_near_dup_mixed_ppm_png(spark):
    """image_phash_dedup's operator chain on MIXED-format media: a PPM
    and its PNG re-encode hash identically (hamming 0) and the banded
    join finds the cross-format pair."""
    from tcdb_spark.sources.multimodal import (
        decode_ppm,
        encode_png,
        make_patterned_ppm,
        media_ahash,
        media_near_dup_pairs,
    )

    ppm = make_patterned_ppm("mix1")
    png = encode_png(decode_ppm(ppm)["pixels"])
    other = make_patterned_ppm("mix2")
    media = spark.createDataFrame(
        [(1, bytearray(ppm)), (2, bytearray(png)), (3, bytearray(other))],
        "media_id long, payload binary",
    )
    pairs = media_near_dup_pairs(media_ahash(media), 7, 8).collect()
    assert [(p["media_id_a"], p["media_id_b"], p["hamming"]) for p in pairs] == [
        (1, 2, 0)
    ]


# ------------------------------------------------------------ JPEG decode


def test_jpeg_roundtrip_gray_and_rgb():
    """Baseline JFIF round trip with flat quant 1: constant images are
    exact; arbitrary content is within ±1 (float DCT rounding only);
    non-multiple-of-8 dimensions crop correctly."""
    from tcdb_spark.sources.multimodal import decode_jpeg, encode_jpeg

    const = np.full((16, 24, 1), 130, np.uint8)
    out = decode_jpeg(encode_jpeg(const))
    np.testing.assert_array_equal(out["pixels"], const)
    assert out["maxval"] == 255

    rng = np.random.default_rng(3)
    noise = rng.integers(0, 256, (17, 19, 1), np.uint8)  # crop path
    out = decode_jpeg(encode_jpeg(noise))
    assert out["pixels"].shape == (17, 19, 1)
    assert np.abs(out["pixels"].astype(int) - noise.astype(int)).max() <= 1

    yy, xx = np.mgrid[0:24, 0:32]
    rgb = np.stack([(xx * 7) % 256, (yy * 9) % 256, ((xx + yy) * 5) % 256],
                   axis=2).astype(np.uint8)
    out = decode_jpeg(encode_jpeg(rgb))
    assert out["width"] == 32 and out["height"] == 24
    assert np.abs(out["pixels"].astype(int) - rgb.astype(int)).max() <= 1


def test_jpeg_420_subsampling_and_quant():
    """4:2:0 chroma subsampling decodes through the MCU/upsample path
    within a small tolerance on smooth content; a coarser flat quant
    stays bounded by the quantization step."""
    from tcdb_spark.sources.multimodal import decode_jpeg, encode_jpeg

    yy, xx = np.mgrid[0:24, 0:32]
    rgb = np.stack(
        [np.clip(xx * 4, 0, 255), np.clip(yy * 4, 0, 255), np.full_like(xx, 90)],
        axis=2,
    ).astype(np.uint8)
    out = decode_jpeg(encode_jpeg(rgb, quant=1, subsample=2))
    assert out["pixels"].shape == (24, 32, 3)
    assert np.abs(out["pixels"].astype(int) - rgb.astype(int)).max() <= 4
    out8 = decode_jpeg(encode_jpeg(rgb, quant=8))
    assert np.abs(out8["pixels"].astype(int) - rgb.astype(int)).max() <= 8


def test_jpeg_guards_and_routing():
    from tcdb_spark.sources.multimodal import (
        decode_image,
        decode_jpeg,
        encode_jpeg,
        media_features,
        resize_jpeg,
    )

    with pytest.raises(ValueError, match="not a JPEG"):
        decode_jpeg(b"\x89PNG....")
    # lossless SOF3 -> documented swap point (progressive SOF2 is now
    # decoded for real — see test_jpeg_progressive_equals_baseline_decode)
    base = bytearray(encode_jpeg(np.full((8, 8, 1), 99, np.uint8)))
    i = bytes(base).find(b"\xff\xc0")
    lossless = bytes(base[:i]) + b"\xff\xc3" + bytes(base[i + 2:])
    with pytest.raises(NotImplementedError, match="baseline"):
        decode_jpeg(lossless)
    # magic router + features treat JPEG as a first-class image
    jpg = encode_jpeg(np.full((8, 16, 3), 200, np.uint8))
    assert decode_image(jpg)["width"] == 16
    feats = media_features(jpg)
    assert feats is not None and feats[0] == 16.0 and feats[1] == 8.0
    small = decode_jpeg(resize_jpeg(jpg, 8, 4))
    assert small["width"] == 8 and small["height"] == 4


def test_jpeg_restart_intervals():
    """DRI + RSTn markers: byte-aligned padding, predictor resets, and
    the decoder's marker-skip path — error-resilience machinery wild
    baseline files routinely carry."""
    from tcdb_spark.sources.multimodal import decode_jpeg, encode_jpeg

    rng = np.random.default_rng(5)
    px = rng.integers(0, 256, (32, 40, 1), np.uint8)  # 20 MCUs
    payload = encode_jpeg(px, restart=3)
    assert b"\xff\xdd" in payload  # DRI present
    out = decode_jpeg(payload)
    assert np.abs(out["pixels"].astype(int) - px.astype(int)).max() <= 1

    yy, xx = np.mgrid[0:32, 0:48]
    rgb = np.stack(
        [np.clip(xx * 5, 0, 255), np.clip(yy * 7, 0, 255), ((xx + yy) * 3) % 256],
        axis=2,
    ).astype(np.uint8)
    out = decode_jpeg(encode_jpeg(rgb, subsample=2, restart=2))
    assert np.abs(out["pixels"].astype(int) - rgb.astype(int)).max() <= 4


def test_jpeg_ahash_parity_with_ppm():
    """The SAME pixels as PPM and as near-lossless JPEG must land on the
    same aHash — the patterned fixture's cells sit 95 gray levels from
    the threshold, far beyond the ±1 codec error."""
    from tcdb_spark.sources.multimodal import (
        ahash_image,
        decode_ppm,
        encode_jpeg,
        make_patterned_ppm,
    )

    pat = make_patterned_ppm("jpgpar")
    jpg = encode_jpeg(decode_ppm(pat)["pixels"].repeat(3, axis=2))
    assert ahash_image(pat) == ahash_image(jpg)


def test_jpeg_progressive_equals_baseline_decode():
    """Progressive (SOF2) decode must reconstruct the IDENTICAL pixels
    as baseline decode of the same quantized coefficients — the
    coefficient streams differ (successive approximation, EOB runs,
    AC refinement correction bits) but the decoded values may not.
    Covers gray, RGB 4:4:4, RGB 4:2:0 and a coarse quant (dense
    EOB/ZRL paths)."""
    from tcdb_spark.sources.multimodal import decode_jpeg, encode_jpeg

    rng = np.random.default_rng(9)
    cases = [
        (rng.integers(0, 256, (17, 19, 1), np.uint8), dict()),
        (rng.integers(0, 256, (24, 32, 3), np.uint8), dict()),
        (rng.integers(0, 256, (16, 16, 3), np.uint8), dict(quant=16)),
    ]
    yy, xx = np.mgrid[0:24, 0:32]
    smooth = np.stack(
        [np.clip(xx * 4, 0, 255), np.clip(yy * 4, 0, 255), np.full_like(xx, 90)],
        axis=2,
    ).astype(np.uint8)
    cases.append((smooth, dict(subsample=2)))
    for px, kw in cases:
        base = decode_jpeg(encode_jpeg(px, **kw))["pixels"]
        prog = decode_jpeg(encode_jpeg(px, progressive=True, **kw))["pixels"]
        np.testing.assert_array_equal(prog, base)

    const = np.full((16, 24, 1), 130, np.uint8)
    out = decode_jpeg(encode_jpeg(const, progressive=True))
    np.testing.assert_array_equal(out["pixels"], const)  # exact at q1


def test_jpeg_progressive_is_sof2_and_multiscan():
    from tcdb_spark.sources.multimodal import encode_jpeg

    payload = encode_jpeg(np.full((8, 8, 3), 99, np.uint8), progressive=True)
    assert b"\xff\xc2" in payload and b"\xff\xc0" not in payload
    # DC first + DC refine + (AC first + AC refine) x 3 components
    assert payload.count(b"\xff\xda") == 8


# ------------------------------------------------------------ FLAC decode


def test_flac_roundtrip_all_subframe_types():
    """FLAC is lossless: decode(encode(s)) must equal the quantized
    input EXACTLY for every subframe type the decoder supports —
    VERBATIM, CONSTANT, FIXED-order Rice, the Rice raw-bits ESCAPE,
    LPC (order-1 coefficient stream), multi-frame streams."""
    from tcdb_spark.sources.multimodal import decode_flac, encode_flac

    rng = np.random.default_rng(13)
    s = (rng.random(700) * 2 - 1)[:, None] * 0.8
    want = np.rint(s * 32768).clip(-32768, 32767) / 32768.0
    for mode in ("verbatim", "fixed2", "fixed2esc", "lpc1"):
        out = decode_flac(encode_flac(s, mode=mode))
        assert out["sample_rate"] == 8000 and out["n_channels"] == 1
        np.testing.assert_array_equal(out["samples"], want)
    # multiple frames (UTF-8 frame numbers, per-frame CRCs)
    out = decode_flac(encode_flac(s, blocksize=128))
    np.testing.assert_array_equal(out["samples"], want)
    # partition order > 0: 2^2 Rice partitions with independent params
    # (the first partition short by the predictor order)
    s3 = (rng.random(768) * 2 - 1)[:, None] * 0.8
    want3 = np.rint(s3 * 32768).clip(-32768, 32767) / 32768.0
    out = decode_flac(encode_flac(s3, mode="fixed2po2", blocksize=256))
    np.testing.assert_array_equal(out["samples"], want3)
    # constant mode: flat block -> CONSTANT subframe, varying -> verbatim
    s2 = np.concatenate([np.full(256, 0.25), rng.random(300) - 0.5])[:, None]
    want2 = np.rint(s2 * 32768).clip(-32768, 32767) / 32768.0
    out = decode_flac(encode_flac(s2, mode="constant"))
    np.testing.assert_array_equal(out["samples"], want2)


def test_flac_stereo_and_mid_side():
    from tcdb_spark.sources.multimodal import decode_flac, encode_flac

    st = np.stack(
        [np.sin(np.arange(500) / 7) * 0.5, np.cos(np.arange(500) / 11) * 0.4],
        axis=1,
    )
    want = np.rint(st * 32768).clip(-32768, 32767) / 32768.0
    for mode in ("verbatim", "ms"):  # independent and mid/side decorrelated
        out = decode_flac(encode_flac(st, mode=mode))
        assert out["n_channels"] == 2
        np.testing.assert_array_equal(out["samples"], want)


def test_flac_features_and_resample_routing(spark):
    """FLAC payloads flow through the SAME feature and resample lanes
    as WAV — and the features agree with the WAV encoding of the same
    samples (shared _audio_features)."""
    from tcdb_spark.sources.multimodal import (
        decode_flac,
        encode_flac,
        make_test_wav,
        media_features,
        decode_wav,
        resample_media,
    )

    wav_payload = make_test_wav(sample_rate=8000, n_frames=800)
    samples = decode_wav(wav_payload)["samples"]
    flac_payload = encode_flac(samples, sample_rate=8000)
    assert media_features(flac_payload) == media_features(wav_payload)

    media = spark.createDataFrame(
        [(1, bytearray(flac_payload))], "media_id long, payload binary"
    )
    out = resample_media(media, 2000).collect()[0]
    dec = decode_flac(bytes(out["payload"]))
    assert dec["sample_rate"] == 2000 and dec["samples"].shape[0] == 200


def test_flac_guards():
    from tcdb_spark.sources.multimodal import decode_flac, encode_flac

    with pytest.raises(ValueError, match="not a FLAC"):
        decode_flac(b"RIFF....WAVE")
    # corrupted frame data must fail the CRC, not decode garbage
    good = bytearray(encode_flac(np.linspace(-0.5, 0.5, 300)[:, None]))
    good[-20] ^= 0x40  # flip a bit inside the last frame's payload
    with pytest.raises(ValueError, match="CRC|sync|reserved|invalid"):
        decode_flac(bytes(good))


def test_malformed_jpeg_flac_raise_value_error():
    """Truncated/corrupt payloads must fail as diagnosable ValueError —
    never raw IndexError/KeyError from deep in the bit readers — so one
    bad record in extract_features is catchable alongside the codecs'
    other validation paths (ADVICE r5)."""
    from tcdb_spark.sources.multimodal import (
        decode_flac,
        decode_jpeg,
        encode_flac,
        encode_jpeg,
    )

    rng = np.random.default_rng(11)
    px = rng.integers(0, 256, (16, 16, 3), dtype=np.uint8)
    jp = encode_jpeg(px)

    # entropy data cut mid-stream -> truncated, not IndexError
    with pytest.raises(ValueError, match="truncated JPEG"):
        decode_jpeg(jp[: len(jp) // 2])

    # DHT segment stripped -> the scan references a table that never
    # arrived; must say so, not KeyError
    i = jp.find(b"\xff\xc4")
    seg_len = struct.unpack(">H", jp[i + 2 : i + 4])[0]
    with pytest.raises(ValueError, match="missing DC Huffman"):
        decode_jpeg(jp[:i] + jp[i + 2 + seg_len :])

    # DQT segment stripped likewise
    j = jp.find(b"\xff\xdb")
    q_len = struct.unpack(">H", jp[j + 2 : j + 4])[0]
    with pytest.raises(ValueError, match="missing DQT|missing DC Huffman"):
        decode_jpeg(jp[:j] + jp[j + 2 + q_len :])

    # FLAC cut mid-frame -> truncated, not IndexError
    fl = encode_flac(np.linspace(-0.4, 0.4, 600)[:, None])
    with pytest.raises(ValueError, match="truncated FLAC|CRC"):
        decode_flac(fl[: len(fl) - 7])
