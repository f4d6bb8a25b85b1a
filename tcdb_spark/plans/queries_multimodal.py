"""Multimodal + tcvitals catalog entries — golden-checked like the ATCF
scans: literal inputs through the real engine path, VALUES oracles with
hand/python-computed expected rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tcdb_spark.plans.catalog import register
from tcdb_spark.plans.queries_atcf import _values_oracle
from tcdb_spark.session import local_frame
from tcdb_spark.sources.multimodal import (
    FEATURE_DIM,
    _fake_features,
    extract_features,
    make_test_ppm,
    make_test_wav,
    media_features,
)
from tcdb_spark.sources.tcvitals import parse_tcvitals_lines

# REAL formats (PPM pixels, WAV samples — decoded from actual bytes) plus
# opaque payloads that exercise the stub fallback.
_PAYLOADS = [
    (1, b"payload-one", "image"),
    (2, b"payload-two", "video"),
    (3, b"\x00\x01\x02binary\xff", "audio"),
    (4, make_test_ppm(), "image/ppm"),
    (5, make_test_wav(), "audio/wav"),
]

# features are quantized to floor(v * 2^40) integers for the compare:
# DuckDB's string->double parse is not correctly rounded for some repr()
# literals (1 ULP off), so float literals can't ride in the oracle.
_Q = float(2**40)


def _expected_features(payload: bytes) -> list[float]:
    return media_features(payload) or _fake_features(payload, FEATURE_DIM)


import math as _math

_MM_EXPECTED = [
    (mid, mtype, len(payload), idx, int(_math.floor(v * _Q)))  # floor, not
    # truncate: must match F.floor for any negative feature value
    for mid, payload, mtype in _PAYLOADS
    for idx, v in enumerate(_expected_features(payload))
]

_MM_TYPES = [
    ("media_id", "BIGINT"), ("media_type", "VARCHAR"), ("n_bytes", "INTEGER"),
    ("feature_idx", "INTEGER"), ("feature_q", "BIGINT"),
]


@register("multimodal_features", oracle=_values_oracle(_MM_EXPECTED, _MM_TYPES))
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary payload -> feature vector via Arrow-batched mapInPandas
    (§2.12 multimodal plumbing; decode stubbed deterministically). Output
    exploded to scalar rows so the value-hash stays array-free."""
    media = local_frame(
        spark,
        [(mid, bytearray(p), t) for mid, p, t in _PAYLOADS],
        "media_id long, payload binary, media_type string",
    )
    feats = extract_features(media, decode_stub=True)
    exploded = feats.select(
        "media_id",
        "media_type",
        "n_bytes",
        F.posexplode("features").alias("feature_idx", "feature_value"),
    )
    return exploded.select(
        "media_id",
        "media_type",
        "n_bytes",
        "feature_idx",
        F.floor(F.col("feature_value") * F.lit(_Q)).cast("bigint").alias("feature_q"),
    )


# --- perceptual-hash near-dup over images (media twin of dedup_simhash) ---
# Fixture: 8 deterministic high-contrast P5 images; 2 is a brightness
# shift of 1 (aHash-identical), 3 flips exactly three hash cells of 1
# (Hamming 3), 4.. are independent patterns (Hamming ~32).
from tcdb_spark.sources.multimodal import ahash_ppm, make_patterned_ppm  # noqa: E402

_PHASH_IMAGES = [
    (1, make_patterned_ppm("img1")),
    (2, make_patterned_ppm("img1", brightness=8)),
    (3, make_patterned_ppm("img1", flip_cells=((0, 0), (3, 4), (7, 7)))),
    (4, make_patterned_ppm("img2")),
    (5, make_patterned_ppm("img2", brightness=5)),
    (6, make_patterned_ppm("img3")),
    (7, make_patterned_ppm("img4")),
    (8, make_patterned_ppm("img5")),
]

_PHASH_MAX_HAMMING = 7

# Golden expected pairs via the NAIVE all-pairs popcount — the banded
# equi-join path must reproduce it exactly (pigeonhole: max_hamming <
# bands, see media_near_dup_pairs).
_PHASH_HASHES = {mid: ahash_ppm(p) for mid, p in _PHASH_IMAGES}
_PHASH_EXPECTED = sorted(
    (a, b, bin(_PHASH_HASHES[a] ^ _PHASH_HASHES[b]).count("1"))
    for i, (a, _) in enumerate(_PHASH_IMAGES)
    for b, _ in _PHASH_IMAGES[i + 1 :]
    if bin(_PHASH_HASHES[a] ^ _PHASH_HASHES[b]).count("1") <= _PHASH_MAX_HAMMING
)
assert len(_PHASH_EXPECTED) == 4, _PHASH_EXPECTED  # (1,2,0) (1,3,3) (2,3,3) (4,5,0)

_PHASH_TYPES = [
    ("media_id_a", "BIGINT"), ("media_id_b", "BIGINT"), ("hamming", "INTEGER"),
]


@register("image_phash_dedup", oracle=_values_oracle(_PHASH_EXPECTED, _PHASH_TYPES))
def image_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate image detection by perceptual hash: REAL pixel
    decode (pure-numpy PPM) -> 64-bit average hash via Arrow-batched
    mapInPandas -> banded Hamming equi-join (8 bands x 8 bits,
    threshold 7 — EXACT by pigeonhole, no all-pairs join).  The media
    twin of ``dedup_simhash``: the same re-encoded/brightness-shifted
    duplicate class text SimHash catches for near-identical token
    streams.  Golden-checked against the naive all-pairs popcount on
    the fixture, exercised through the full distributed path
    (sources/multimodal.media_ahash + media_near_dup_pairs).

    Scale shape: hashing rides the scan (payloads never shuffle — only
    8-byte hashes do); candidate volume is bounded by per-(band, value)
    bucket sizes exactly like the text SimHash lane."""
    from tcdb_spark.sources.multimodal import media_ahash, media_near_dup_pairs

    media = local_frame(
        spark,
        [(mid, bytearray(p)) for mid, p in _PHASH_IMAGES],
        "media_id long, payload binary",
    )
    pairs = media_near_dup_pairs(
        media_ahash(media), max_hamming=_PHASH_MAX_HAMMING, bands=8
    )
    return pairs.orderBy("media_id_a", "media_id_b")


_TCVITALS_LINES = [
    "NHC 09L IAN 20220926 0600 251N 0740W 270 08 0996 1010 150 35 030 "
    "060 040 030 050 D -99 -99 -99 -99 72 265N 0755W -999 -999 -999 -999",
    "JTWC 03S DARIAN 20220115 1200 95S 1230E 200 10 0975 1004 120 36 020 "
    "025 025 020 020 D 015 015 010 010 48 -99N -999W -999 -999 -999 -999",
]

_TCV_EXPECTED = [
    ("NHC", "IAN", "2022-09-26 06:00:00", 25.1, -74.0, 996.0, None, 72.0),
    ("JTWC", "DARIAN", "2022-01-15 12:00:00", -9.5, 123.0, 975.0, 15.0, 48.0),
]

_TCV_TYPES = [
    ("org", "VARCHAR"), ("storm_name", "VARCHAR"), ("datetime_utc", "TIMESTAMP"),
    ("lat", "DOUBLE"), ("lon", "DOUBLE"), ("mslp_mb", "DOUBLE"),
    ("r50_ne_km", "DOUBLE"), ("max_forecast_hour", "DOUBLE"),
]


@register("scan_tcvitals", oracle=_values_oracle(_TCV_EXPECTED, _TCV_TYPES))
def scan_tcvitals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tcvitals whitespace-format scan with sentinel->null handling
    (scripts/download_parse_tcvitals.py:5-30). Golden-checked."""
    lines = local_frame(spark, [(l,) for l in _TCVITALS_LINES], "value string")
    return parse_tcvitals_lines(lines).select(
        "org", "storm_name", "datetime_utc", "lat", "lon", "mslp_mb",
        "r50_ne_km", "max_forecast_hour",
    )


# --- spectral audio lanes (sources/spectral.py) ---------------------------
# Golden discipline identical to multimodal_features / image_phash_dedup:
# deterministic fixtures, expected rows computed at import by the SAME
# numpy pipeline the executors run (plumbing + determinism attestation),
# with the independent analytic verification (bin-exact dominant
# frequency, Parseval band sums, WAV==FLAC parity, scale invariance)
# living in tests/test_spectral.py.

from tcdb_spark.sources.spectral import (  # noqa: E402
    SPECTRAL_DIM,
    audio_spectral,
    audio_spectral_hash,
    decode_any_audio,
    make_seeded_audio,
    make_tone_wav,
    spectral_features,
    spectral_hash,
)

# WAV tone mixtures + one FLAC twin (same int16 samples as "two-tone"
# re-encoded losslessly — the cross-container duplicate class) + one
# time-varying clip.
_AUDIO_PAYLOADS = [
    (1, make_tone_wav([(1000.0, 0.5)])),                     # pure bin-aligned tone
    (2, make_tone_wav([(500.0, 0.3), (2500.0, 0.35)])),      # two-tone
    (3, make_seeded_audio(seed="spectral-lane")),            # 8 varying segments
    (4, make_seeded_audio(seed="spectral-lane", as_flac="fixed2")),  # FLAC twin of 3
    (5, make_tone_wav([(3000.0, 0.01)])),                    # near-silence tone
]

_AS_EXPECTED = [
    (mid, float(decode_any_audio(p)["sample_rate"]),
     idx, int(_math.floor(v * _Q)))
    for mid, p in _AUDIO_PAYLOADS
    for idx, v in enumerate(spectral_features(decode_any_audio(p)))
]

_AS_TYPES = [
    ("media_id", "BIGINT"), ("sample_rate", "DOUBLE"),
    ("feature_idx", "INTEGER"), ("feature_q", "BIGINT"),
]


@register("audio_spectral_features", oracle=_values_oracle(_AS_EXPECTED, _AS_TYPES))
def audio_spectral_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-domain clip descriptors (centroid / dominant / rolloff /
    flatness / 8-band energy profile) over real WAV + FLAC payloads via
    Arrow-batched mapInPandas — the audio quality/stratification signal
    a multimodal corpus filters on before training (§2.12 extension; the
    FLAC row must featurize IDENTICALLY to its WAV source material,
    which rides the native-codec routing seam).  Features are
    floor-quantized to 2^-40 for the array-free value-hash compare."""
    media = local_frame(
        spark,
        [(mid, bytearray(p)) for mid, p in _AUDIO_PAYLOADS],
        "media_id long, payload binary",
    )
    feats = audio_spectral(media)
    return feats.select(
        "media_id",
        "sample_rate",
        F.posexplode("features").alias("feature_idx", "feature_value"),
    ).select(
        "media_id",
        "sample_rate",
        "feature_idx",
        F.floor(F.col("feature_value") * F.lit(_Q)).cast("bigint").alias("feature_q"),
    )


# Near-dup family: base clip, quiet re-encode, FLAC container twin, two
# locally-edited copies, three unrelated clips.  Measured separation on
# these fixtures: copies 0-1 bits, edits 5-9, unrelated 24-36.
_AUDIO_DUP_CLIPS = [
    (1, make_seeded_audio(seed="adup1")),
    (2, make_seeded_audio(seed="adup1", gain=0.4)),
    (3, make_seeded_audio(seed="adup1", as_flac="lpc1")),
    (4, make_seeded_audio(seed="adup1", perturb_segments=(5,))),
    (5, make_seeded_audio(seed="adup1", perturb_segments=(2, 6))),
    (6, make_seeded_audio(seed="adup2")),
    (7, make_seeded_audio(seed="adup3")),
    (8, make_seeded_audio(seed="adup4")),
]

_AUDIO_DUP_MAX_HAMMING = 7

_ADUP_HASHES = {
    mid: spectral_hash(decode_any_audio(p)) for mid, p in _AUDIO_DUP_CLIPS
}
_ADUP_EXPECTED = sorted(
    (a, b, bin(_ADUP_HASHES[a] ^ _ADUP_HASHES[b]).count("1"))
    for i, (a, _) in enumerate(_AUDIO_DUP_CLIPS)
    for b, _ in _AUDIO_DUP_CLIPS[i + 1 :]
    if bin(_ADUP_HASHES[a] ^ _ADUP_HASHES[b]).count("1") <= _AUDIO_DUP_MAX_HAMMING
)
# the copy clique (1,2,3) always survives; at least one edited copy joins
assert len(_ADUP_EXPECTED) >= 4, _ADUP_EXPECTED
assert all(a in (1, 2, 3, 4, 5) and b in (1, 2, 3, 4, 5) for a, b, _ in _ADUP_EXPECTED)


@register("audio_near_dup_pairs", oracle=_values_oracle(_ADUP_EXPECTED, _PHASH_TYPES))
def audio_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate audio detection by spectrogram perceptual hash:
    real PCM decode (WAV + FLAC through the native-first seam) -> 64-bit
    log-power spectrogram aHash (8 time x 8 band cells) -> the SAME
    banded Hamming join the image lane uses (media_near_dup_pairs —
    pigeonhole-exact, no all-pairs).  Catches volume-renormalized
    re-encodes and cross-container (WAV<->FLAC) duplicates exactly;
    locally-edited copies land within the threshold, unrelated material
    lands ~32 bits away.  Golden-checked against the naive all-pairs
    popcount over the fixture family."""
    from tcdb_spark.sources.multimodal import media_near_dup_pairs

    media = local_frame(
        spark,
        [(mid, bytearray(p)) for mid, p in _AUDIO_DUP_CLIPS],
        "media_id long, payload binary",
    )
    pairs = media_near_dup_pairs(
        audio_spectral_hash(media), max_hamming=_AUDIO_DUP_MAX_HAMMING, bands=8
    )
    return pairs.orderBy("media_id_a", "media_id_b")


# --- video container lanes (sources/video.py) -----------------------------

from tcdb_spark.sources.multimodal import (  # noqa: E402
    ahash_image,
    decode_ppm,
    encode_jpeg,
    encode_png,
)
from tcdb_spark.sources.video import (  # noqa: E402
    encode_video,
    iter_video_frames,
    video_frame_hashes,
    video_near_dup_pairs,
)


def _ppm_as_png(ppm: bytes) -> bytes:
    return encode_png(decode_ppm(ppm)["pixels"])


def _ppm_as_jpeg(ppm: bytes) -> bytes:
    return encode_jpeg(decode_ppm(ppm)["pixels"], quant=1)


def _patterned_frames(prefix: str, n: int, brightness: int = 0) -> list[bytes]:
    return [
        make_patterned_ppm(f"{prefix}-{i}", brightness=brightness) for i in range(n)
    ]


# Near-dup family: V2 is a re-encode of V1 (uniform brightness shift,
# frame 3 re-encoded as PNG and frame 5 as near-lossless JPEG — the
# cross-codec duplicate class), V3 replaces 3 of V1's 8 frames, V4 is a
# 5-frame TRIM of V1 (containment class), V5/V6 are unrelated.
_V1_FRAMES = _patterned_frames("v1", 8)
_V2_FRAMES = _patterned_frames("v1", 8, brightness=6)
_V2_FRAMES[3] = _ppm_as_png(_V2_FRAMES[3])
_V2_FRAMES[5] = _ppm_as_jpeg(_V2_FRAMES[5])
_V3_FRAMES = list(_V1_FRAMES)
for _i in (2, 5, 7):
    _V3_FRAMES[_i] = make_patterned_ppm(f"v3x-{_i}")

_VIDEOS = [
    (1, encode_video(_V1_FRAMES, fps=2.0)),
    (2, encode_video(_V2_FRAMES, fps=2.0)),
    (3, encode_video(_V3_FRAMES, fps=2.0)),
    (4, encode_video(_V1_FRAMES[:5], fps=2.0)),
    (5, encode_video(_patterned_frames("v5", 8), fps=2.0)),
    (6, encode_video(_patterned_frames("v6", 6), fps=2.0)),
]

_VDUP_MAX_HAMMING = 7
_VDUP_MIN_FRAC = 0.6


def _vdup_expected() -> list[tuple]:
    """Naive all-pairs reference for the video near-dup lane, with the
    fraction quantized to basis points exactly as the Spark plan's
    round(frac * 10000) (shortest-repr decimal HALF_UP == Python round
    of these small rationals; asserted bit-equal by the oracle)."""
    hashes = {
        vid: [
            (idx, ahash_image(frame)) for idx, frame in iter_video_frames(p)
        ]
        for vid, p in _VIDEOS
    }
    out = []
    for i, (va, _) in enumerate(_VIDEOS):
        for vb, _ in _VIDEOS[i + 1 :]:
            ma = {
                ia
                for ia, ha in hashes[va]
                for _, hb in hashes[vb]
                if bin(ha ^ hb).count("1") <= _VDUP_MAX_HAMMING
            }
            mb = {
                ib
                for ib, hb in hashes[vb]
                for _, ha in hashes[va]
                if bin(ha ^ hb).count("1") <= _VDUP_MAX_HAMMING
            }
            if not ma:
                continue
            fa = len(ma) / len(hashes[va])
            fb = len(mb) / len(hashes[vb])
            if max(fa, fb) >= _VDUP_MIN_FRAC:
                out.append(
                    (va, vb, len(ma), len(mb), round(fa * 10000), round(fb * 10000))
                )
    return sorted(out)


_VDUP_EXPECTED = _vdup_expected()
# the re-encode (1,2), the partial (1,3), the trim (1,4) all survive
assert {(a, b) for a, b, *_ in _VDUP_EXPECTED} >= {(1, 2), (1, 3), (1, 4)}
assert all(a in (1, 2, 3, 4) and b in (1, 2, 3, 4) for a, b, *_ in _VDUP_EXPECTED)

_VDUP_TYPES = [
    ("video_id_a", "BIGINT"), ("video_id_b", "BIGINT"),
    ("matched_a", "BIGINT"), ("matched_b", "BIGINT"),
    ("frac_a_bp", "INTEGER"), ("frac_b_bp", "INTEGER"),
]


@register("video_near_dup", oracle=_values_oracle(_VDUP_EXPECTED, _VDUP_TYPES))
def video_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video near-duplicate detection over frame-sampled perceptual
    hashes: TCVC container header parse (seek table — sampled frames
    are byte-range slices, never a full-stream decode), real per-frame
    image decode (PPM + PNG + near-lossless JPEG through the
    native-first seam), 64-bit aHash per frame, then the frame-level
    banded Hamming join + one per-pair coverage aggregation
    (sources/video.py).  Containment semantics: a TRIMMED copy matches
    at 100% of the shorter side (max of the two coverage fractions
    gates, like the text containment_join); re-encodes match ~100% on
    both sides; 3-of-8-frames-replaced partials land at 62.5%.
    Golden-checked against the naive all-pairs reference; fractions
    ride as basis-point integers (no float literal crosses engines)."""
    media = local_frame(
        spark,
        [(vid, bytearray(p)) for vid, p in _VIDEOS],
        "video_id long, payload binary",
    )
    pairs = video_near_dup_pairs(
        video_frame_hashes(media),
        max_hamming=_VDUP_MAX_HAMMING,
        min_match_frac=_VDUP_MIN_FRAC,
    )
    return pairs.select(
        "video_id_a",
        "video_id_b",
        "matched_a",
        "matched_b",
        F.round(F.col("match_frac_a") * 10000).cast("int").alias("frac_a_bp"),
        F.round(F.col("match_frac_b") * 10000).cast("int").alias("frac_b_bp"),
    ).orderBy("video_id_a", "video_id_b")


# --- MP4 / ISO-BMFF demuxer lane (sources/mp4.py, round 8) -----------------

from tcdb_spark.sources.mp4 import encode_mp4_mjpeg  # noqa: E402


def _mjpeg_frames(prefix: str, n: int, brightness: int = 0) -> list[bytes]:
    return [
        encode_jpeg(
            decode_ppm(make_patterned_ppm(f"{prefix}-{i}", brightness=brightness))[
                "pixels"
            ],
            quant=1,
        )
        for i in range(n)
    ]


# Same duplicate classes as the TCVC lane, but every frame is a real
# JPEG (the only image codec MP4 sample entries carry here) and every
# container is a spec-conformant .mp4: M2 is a brightness-shifted
# re-encode of M1, M3 replaces 3 of M1's 8 frames, M4 is a 5-frame
# trim, M5/M6 are unrelated.
_M1 = _mjpeg_frames("m1", 8)
_M3 = list(_M1)
for _i in (2, 5, 7):
    _M3[_i] = _mjpeg_frames(f"m3x-{_i}", 1)[0]

_MP4_VIDEOS = [
    (1, encode_mp4_mjpeg(_M1, fps=2.0)),
    (2, encode_mp4_mjpeg(_mjpeg_frames("m1", 8, brightness=6), fps=2.0)),
    (3, encode_mp4_mjpeg(_M3, fps=2.0)),
    (4, encode_mp4_mjpeg(_M1[:5], fps=2.0)),
    (5, encode_mp4_mjpeg(_mjpeg_frames("m5", 8), fps=2.0)),
    (6, encode_mp4_mjpeg(_mjpeg_frames("m6", 6), fps=2.0)),
]


def _mp4dup_expected() -> list[tuple]:
    """Naive all-pairs reference over the MP4 corpus — frames reach the
    hasher through the REAL demux path (moov sample tables -> byte-range
    slices), so a box-parsing bug shifts offsets and breaks this golden."""
    hashes = {
        vid: [(idx, ahash_image(f)) for idx, f in iter_video_frames(p)]
        for vid, p in _MP4_VIDEOS
    }
    out = []
    for i, (va, _) in enumerate(_MP4_VIDEOS):
        for vb, _ in _MP4_VIDEOS[i + 1 :]:
            ma = {
                ia
                for ia, ha in hashes[va]
                for _, hb in hashes[vb]
                if bin(ha ^ hb).count("1") <= _VDUP_MAX_HAMMING
            }
            mb = {
                ib
                for ib, hb in hashes[vb]
                for _, ha in hashes[va]
                if bin(ha ^ hb).count("1") <= _VDUP_MAX_HAMMING
            }
            if not ma:
                continue
            fa = len(ma) / len(hashes[va])
            fb = len(mb) / len(hashes[vb])
            if max(fa, fb) >= _VDUP_MIN_FRAC:
                out.append(
                    (va, vb, len(ma), len(mb), round(fa * 10000), round(fb * 10000))
                )
    return sorted(out)


_MP4DUP_EXPECTED = _mp4dup_expected()
# the re-encode (1,2), the partial (1,3), the trim (1,4) all survive
assert {(a, b) for a, b, *_ in _MP4DUP_EXPECTED} >= {(1, 2), (1, 3), (1, 4)}
assert all(a in (1, 2, 3, 4) and b in (1, 2, 3, 4) for a, b, *_ in _MP4DUP_EXPECTED)


@register("video_near_dup_mp4", oracle=_values_oracle(_MP4DUP_EXPECTED, _VDUP_TYPES))
def video_near_dup_mp4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """video_near_dup on REAL .mp4 files: the pure-stdlib ISO-BMFF
    demuxer (sources/mp4.py) parses each container's moov sample tables
    (stsd codec id, stsz sizes, stsc×stco chunk walk, stts timing) into
    the seek-table the frame sampler consumes — sampled frames are
    byte-range slices out of mdat, decoded through the native-first
    JPEG path, hashed, then the same banded Hamming join + coverage
    aggregation as the TCVC lane.  Closes the r7 'what's missing' #1:
    a user's Motion-JPEG .mp4/.mov corpus now runs near-dup unmodified
    (H.264-class tracks degrade to header-only metadata rows, pinned in
    tests/test_mp4.py).  Golden vs the naive all-pairs reference whose
    frames come through the SAME demux path, so any offset bug in the
    box walk diverges the oracle."""
    media = local_frame(
        spark,
        [(vid, bytearray(p)) for vid, p in _MP4_VIDEOS],
        "video_id long, payload binary",
    )
    pairs = video_near_dup_pairs(
        video_frame_hashes(media),
        max_hamming=_VDUP_MAX_HAMMING,
        min_match_frac=_VDUP_MIN_FRAC,
    )
    return pairs.select(
        "video_id_a",
        "video_id_b",
        "matched_a",
        "matched_b",
        F.round(F.col("match_frac_a") * 10000).cast("int").alias("frac_a_bp"),
        F.round(F.col("match_frac_b") * 10000).cast("int").alias("frac_b_bp"),
    ).orderBy("video_id_a", "video_id_b")


# --- windowed audio segmentation lane -------------------------------------

from tcdb_spark.sources.spectral import audio_segments, segment_features  # noqa: E402

_SEG_PAYLOADS = [
    (1, make_seeded_audio(seed="seg-lane-a")),
    (2, make_seeded_audio(seed="seg-lane-b")),
    (3, make_seeded_audio(seed="seg-lane-a", as_flac="fixed2")),  # FLAC twin of 1
]
_SEG_WIN, _SEG_HOP = 0.064, 0.064  # 512 samples @8k: one window per planted segment

_SEGF_EXPECTED = [
    (mid, seg, t0, idx, int(_math.floor(v * _Q)))
    for mid, p in _SEG_PAYLOADS
    for seg, t0, feats in segment_features(
        decode_any_audio(p), _SEG_WIN, _SEG_HOP
    )
    for idx, v in enumerate(feats)
]

_SEGF_TYPES = [
    ("media_id", "BIGINT"), ("seg_idx", "INTEGER"), ("t0_ms", "BIGINT"),
    ("feature_idx", "INTEGER"), ("feature_q", "BIGINT"),
]


@register("audio_segment_features", oracle=_values_oracle(_SEGF_EXPECTED, _SEGF_TYPES))
def audio_segment_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed spectral descriptors for LONG audio (the ASR/audio
    training-data shape: one feature row per hop, not one global
    average) — decode + FFT once per clip, each window pools its frame
    range (sources/spectral.segment_features).  The fixture clips carry
    PLANTED per-segment tones, so each window's dominant frequency is
    analytically pinned (tests); the FLAC row must segment identically
    to its WAV twin.  Quantized-explode golden like the clip-level
    lane."""
    media = local_frame(
        spark,
        [(mid, bytearray(p)) for mid, p in _SEG_PAYLOADS],
        "media_id long, payload binary",
    )
    segs = audio_segments(media, win_s=_SEG_WIN, hop_s=_SEG_HOP)
    return segs.select(
        "media_id",
        "seg_idx",
        "t0_ms",
        F.posexplode("features").alias("feature_idx", "feature_value"),
    ).select(
        "media_id",
        "seg_idx",
        "t0_ms",
        "feature_idx",
        F.floor(F.col("feature_value") * F.lit(_Q)).cast("bigint").alias("feature_q"),
    )


# --- silence-trim lane ----------------------------------------------------

import numpy as _np  # noqa: E402

from tcdb_spark.sources.spectral import (  # noqa: E402
    _pcm16_wav,
    _tone_samples,
    audio_silence_trim,
    silence_bounds,
)


def _padded_clip(lead: int, body: int, tail: int, freq: float = 1000.0) -> bytes:
    clip = _np.concatenate(
        [
            _np.zeros(lead, dtype=_np.int64),
            _tone_samples([(freq, 0.5)], 8000, body),
            _np.zeros(tail, dtype=_np.int64),
        ]
    )
    return _pcm16_wav(clip, 8000)


_TRIM_PAYLOADS = [
    (1, _padded_clip(2000, 4000, 2000)),          # silence both sides
    (2, _padded_clip(0, 4000, 4000)),             # trailing only
    (3, _padded_clip(4000, 4000, 0, freq=500.0)),  # leading only
    (4, _pcm16_wav(_np.zeros(4000, dtype=_np.int64), 8000)),  # all silent
    (5, make_seeded_audio(seed="trim-lane")),      # fully active
    (6, make_seeded_audio(seed="trim-lane", as_flac="fixed2")),  # FLAC twin
]

_TRIM_EXPECTED = []
for _mid, _p in _TRIM_PAYLOADS:
    _a = decode_any_audio(_p)
    _s, _e, _r = silence_bounds(_a)
    _n = _np.asarray(_a["samples"]).shape[0]
    _TRIM_EXPECTED.append(
        (_mid, _s, _e, int(round(_n / _a["sample_rate"] * 1000)),
         int(_math.floor(_r * _Q)))
    )

_TRIM_TYPES = [
    ("media_id", "BIGINT"), ("start_ms", "BIGINT"), ("end_ms", "BIGINT"),
    ("duration_ms", "BIGINT"), ("ratio_q", "BIGINT"),
]


@register("audio_silence_trim", oracle=_values_oracle(_TRIM_EXPECTED, _TRIM_TYPES))
def audio_silence_trim_lane(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VAD-style silence-trim metadata (sources/spectral.
    audio_silence_trim): per-clip non-silent span via frame-RMS against
    a RELATIVE threshold (gain-invariant), emitted as metadata so the
    operator stays pure-scan — the ASR pre-trim step.  Fixture family
    covers leading/trailing/both-sided silence, an all-silent clip
    (0,0,0 — never NaN), a fully-active clip, and its FLAC twin (must
    trim identically).  Golden quantized-ratio oracle."""
    media = local_frame(
        spark,
        [(mid, bytearray(p)) for mid, p in _TRIM_PAYLOADS],
        "media_id long, payload binary",
    )
    t = audio_silence_trim(media)
    return t.select(
        "media_id",
        "start_ms",
        "end_ms",
        "duration_ms",
        F.floor(F.col("active_ratio") * F.lit(_Q)).cast("bigint").alias("ratio_q"),
    )


# --- DCT perceptual-hash near-dup lane -------------------------------------

from tcdb_spark.sources.multimodal import (  # noqa: E402
    media_dct_phash,
    media_near_dup_pairs,
    phash_image,
    resize_ppm,
)

_DCTP_BASE = make_patterned_ppm("dctp1", width=64, height=48)
_DCTP_IMAGES = [
    (1, _DCTP_BASE),
    (2, _ppm_as_jpeg(_DCTP_BASE)),                      # recompression
    (3, resize_ppm(_DCTP_BASE, 128, 96)),               # upscale re-export
    (4, make_patterned_ppm("dctp1", width=64, height=48, brightness=7)),
    (5, make_patterned_ppm("dctp2", width=64, height=48)),
    (6, make_patterned_ppm("dctp3", width=64, height=48)),
    (7, make_patterned_ppm("dctp4", width=64, height=48)),
]

_DCTP_MAX_HAMMING = 7
_DCTP_HASHES = {mid: phash_image(p) for mid, p in _DCTP_IMAGES}
_DCTP_EXPECTED = sorted(
    (a, b, bin(_DCTP_HASHES[a] ^ _DCTP_HASHES[b]).count("1"))
    for i, (a, _) in enumerate(_DCTP_IMAGES)
    for b, _ in _DCTP_IMAGES[i + 1 :]
    if bin(_DCTP_HASHES[a] ^ _DCTP_HASHES[b]).count("1") <= _DCTP_MAX_HAMMING
)
# the full variant clique (recompressed + rescaled + brightened) survives
assert {(a, b) for a, b, _ in _DCTP_EXPECTED} == {
    (a, b) for a in (1, 2, 3, 4) for b in (1, 2, 3, 4) if a < b
}, _DCTP_EXPECTED


@register("image_dct_phash_dedup", oracle=_values_oracle(_DCTP_EXPECTED, _PHASH_TYPES))
def image_dct_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate images by DCT perceptual hash (the classic
    pHash): 32x32 downsample -> 2D DCT-II -> 8x8 low-frequency block >
    block median -> 64 bits, through the SAME banded Hamming join as
    the aHash lane (sources/multimodal.media_dct_phash +
    media_near_dup_pairs).  Catches what survives RECOMPRESSION
    (quantization attacks high frequencies first) and RESCALING (the
    downsample normalizes size) — the fixture clique includes a
    near-lossless JPEG re-export, a 2x upscale, and a brightness shift,
    all at Hamming 0.  Complementarity with aHash is measured and
    pinned in tests: on low-texture gradients whose DCT block is
    mostly exact zeros, the median threshold degenerates (bits ride
    quantization noise) while cell-mean aHash stays exact — run BOTH
    and union candidates when the corpus mixes content classes."""
    media = local_frame(
        spark,
        [(mid, bytearray(p)) for mid, p in _DCTP_IMAGES],
        "media_id long, payload binary",
    )
    pairs = media_near_dup_pairs(
        media_dct_phash(media), max_hamming=_DCTP_MAX_HAMMING, bands=8
    )
    return pairs.orderBy("media_id_a", "media_id_b")
