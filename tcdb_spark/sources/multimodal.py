"""Multimodal columns (SURVEY.md §2.12): image/audio/video as opaque
``binary`` payloads with typed metadata, processed by Arrow-batched
``mapInPandas`` operators.

Decoding is REAL for five pure-stdlib/numpy formats — binary PPM images
(P5/P6), PNG (zlib inflate + the five scanline filters, 8-bit
gray/RGB/palette/alpha), JPEG — BOTH baseline AND progressive SOF2
(marker walk, canonical Huffman, successive-approximation scans with EOB
runs and AC refinement, dequantize + 8x8 IDCT, chroma upsampling, JFIF
YCbCr->RGB), PCM WAV audio (RIFF headers + 8/16-bit samples), and FLAC
(STREAMINFO, CRC'd frames, CONSTANT/VERBATIM/FIXED/LPC subframes, Rice
residuals with escapes, mid/side stereo) — routed by magic bytes, so
feature extraction computes from actual pixels and samples with no codec
libraries.  PNG and JPEG additionally route to the NATIVE system
libraries when they load (``sources/native_codecs.py``: libpng16 via
ctypes, libjpeg-turbo via a setjmp C shim — ~150x JPEG / ~13x
PNG-Paeth throughput, same output contract within the T.81 fixed-point
band, ``TCDB_SPARK_NATIVE_CODECS=0`` forces the stdlib twins).
Remaining formats (MP3/MP4/...) would need ffmpeg, which is not in
this container: ``decode_stub=True`` routes
them to a deterministic fake featureizer so the distributed path is
still exercised end to end; ``decode_stub=False`` raises
NotImplementedError where the codec call would sit in a real deployment.

Scale notes: payloads stay in executor memory one Arrow batch at a time
(no driver collect); ``repartition`` before the map keeps batches balanced
when payload sizes are skewed; metadata-only plans never touch the binary
column thanks to Parquet column pruning.
"""

from __future__ import annotations

import struct as _struct
from collections.abc import Iterator

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FEATURE_DIM = 8

FEATURES_SCHEMA = (
    "media_id long, media_type string, n_bytes int, features array<double>"
)


# ----------------------------------------------------------- real decoders

def decode_ppm(payload: bytes) -> dict:
    """Binary PPM/PGM (P6 RGB / P5 gray): ASCII header (magic, width,
    height, maxval, '#' comments) then raw samples. Returns width,
    height, maxval and an (h, w, c) uint8/uint16 pixel array."""
    if payload[:2] not in (b"P5", b"P6"):
        raise ValueError("not a binary PPM/PGM payload")
    channels = 3 if payload[:2] == b"P6" else 1
    fields: list[int] = []
    pos = 2
    while len(fields) < 3:
        if payload[pos : pos + 1].isspace():
            pos += 1
        elif payload[pos : pos + 1] == b"#":
            pos = payload.index(b"\n", pos) + 1
        else:
            end = pos
            while not payload[end : end + 1].isspace():
                end += 1
            fields.append(int(payload[pos:end]))
            pos = end
    pos += 1  # single whitespace after maxval
    width, height, maxval = fields
    dtype = np.dtype(">u2") if maxval > 255 else np.uint8
    n = width * height * channels
    pixels = np.frombuffer(payload, dtype=dtype, count=n, offset=pos)
    return {
        "width": width,
        "height": height,
        "maxval": maxval,
        "pixels": pixels.reshape(height, width, channels),
    }


_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"

_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}  # color type -> samples/px


def decode_png(payload: bytes) -> dict:
    """Pure-stdlib PNG decode (zlib inflate + the five scanline filters):
    8-bit depth, color types 0 (gray), 2 (RGB), 3 (palette), 4
    (gray+alpha), 6 (RGBA), non-interlaced — the format real corpora
    actually contain, with no codec library anywhere.  Returns the same
    dict shape as :func:`decode_ppm` (width, height, maxval, (h, w, c)
    uint8 pixels; palette images expand to RGB).

    Filter inversion is row-sequential by spec; per row, None/Up are
    one vectorized add, Sub is a per-channel-lane cumsum (recon[x] =
    raw[x] + recon[x-bpp] is linear mod 256), and Average/Paeth walk
    the row (their left-neighbor dependency is inherently serial).
    16-bit depth and interlacing raise with a documented swap point."""
    import zlib

    if payload[:8] != _PNG_MAGIC:
        raise ValueError("not a PNG payload")
    pos, ihdr, plte, idat = 8, None, None, []
    while pos + 8 <= len(payload):
        (size,) = _struct.unpack_from(">I", payload, pos)
        cid = payload[pos + 4 : pos + 8]
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"IHDR":
            ihdr = _struct.unpack(">IIBBBBB", body)
        elif cid == b"PLTE":
            plte = np.frombuffer(body, np.uint8).reshape(-1, 3)
        elif cid == b"IDAT":
            idat.append(body)
        elif cid == b"IEND":
            break
        pos += 12 + size  # length + type + body + crc
    if ihdr is None or not idat:
        raise ValueError("PNG payload missing IHDR/IDAT")
    w, h, depth, ctype, comp, filt, interlace = ihdr
    if comp != 0 or filt != 0:
        raise ValueError(f"invalid PNG compression/filter method ({comp}/{filt})")
    if depth != 8 or interlace != 0:
        raise NotImplementedError(
            f"only 8-bit non-interlaced PNG supported (depth={depth}, "
            f"interlace={interlace}); 16-bit/Adam7 would slot in here"
        )
    channels = _PNG_CHANNELS.get(ctype)
    if channels is None:
        raise ValueError(f"unknown PNG color type {ctype}")
    raw = zlib.decompress(b"".join(idat))
    stride = w * channels
    if len(raw) != h * (stride + 1):
        raise ValueError("PNG pixel data length mismatch")
    bpp = channels  # bytes per pixel at 8-bit depth
    recon = np.zeros((h, stride), np.uint8)
    prev = np.zeros(stride, np.int64)
    for y in range(h):
        ft = raw[y * (stride + 1)]
        line = np.frombuffer(
            raw, np.uint8, stride, y * (stride + 1) + 1
        ).astype(np.int64)
        if ft == 0:  # None
            cur = line
        elif ft == 1:  # Sub: cumsum per channel-offset lane, mod 256
            cur = (np.cumsum(line.reshape(w, bpp), axis=0) & 255).ravel()
        elif ft == 2:  # Up
            cur = (line + prev) & 255
        # Average/Paeth have a serial left-dependency per row, so they
        # cannot vectorize along x; the loops run over plain Python
        # lists because scalar-indexing numpy arrays in a tight loop is
        # ~10x slower than list indexing (ADVICE r5).  This is still an
        # O(h*stride) interpreted path — the real-corpus answer is the
        # native-decoder swap documented at the top of this module; the
        # stdlib path's measured throughput ceiling is in
        # SCALE_SMOKE.md.
        elif ft == 3:  # Average
            lin, pv, out = line.tolist(), prev.tolist(), [0] * stride
            for x in range(stride):
                left = out[x - bpp] if x >= bpp else 0
                out[x] = (lin[x] + ((left + pv[x]) >> 1)) & 255
            cur = np.asarray(out, np.int64)
        elif ft == 4:  # Paeth
            lin, pv, out = line.tolist(), prev.tolist(), [0] * stride
            for x in range(stride):
                a_ = out[x - bpp] if x >= bpp else 0
                b_ = pv[x]
                c_ = pv[x - bpp] if x >= bpp else 0
                p = a_ + b_ - c_
                pa = p - a_ if p >= a_ else a_ - p
                pb = p - b_ if p >= b_ else b_ - p
                pc = p - c_ if p >= c_ else c_ - p
                pred = a_ if (pa <= pb and pa <= pc) else (b_ if pb <= pc else c_)
                out[x] = (lin[x] + pred) & 255
            cur = np.asarray(out, np.int64)
        else:
            raise ValueError(f"invalid PNG filter type {ft}")
        recon[y] = cur.astype(np.uint8)
        prev = cur
    px = recon.reshape(h, w, channels)
    if ctype == 3:
        if plte is None:
            raise ValueError("palette PNG missing PLTE chunk")
        px = plte[px[..., 0]]
    return {"width": w, "height": h, "maxval": 255, "pixels": px}


def encode_png(pixels: np.ndarray) -> bytes:
    """Minimal valid PNG writer (8-bit, non-interlaced, filter 0 rows,
    correct CRCs): gray / gray+alpha / RGB / RGBA from the channel
    count.  The re-encode half of the resize lane and the fixture
    factory for the decode tests."""
    import zlib

    px = np.ascontiguousarray(np.asarray(pixels, np.uint8))
    if px.ndim == 2:
        px = px[..., None]
    h, w, c = px.shape
    ctype = {1: 0, 2: 4, 3: 2, 4: 6}[c]

    def chunk(cid: bytes, body: bytes) -> bytes:
        return (
            _struct.pack(">I", len(body))
            + cid
            + body
            + _struct.pack(">I", zlib.crc32(cid + body) & 0xFFFFFFFF)
        )

    raw = b"".join(b"\x00" + px[y].tobytes() for y in range(h))
    ihdr = _struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
    return (
        _PNG_MAGIC
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw, 6))
        + chunk(b"IEND", b"")
    )


# --------------------------------------------------------------- JPEG codec
#
# Baseline JFIF (SOF0, Huffman, 8-bit) — the format real image corpora
# actually contain — decoded with nothing but the stdlib and numpy:
# marker walk, canonical Huffman from DHT bits/values, per-MCU entropy
# decode with byte unstuffing and restart markers, dequantize, 8x8 IDCT
# as two matrix multiplies, chroma upsampling, JFIF YCbCr->RGB.
# Progressive (SOF2) and 12-bit raise with a documented swap point.

_JPEG_MAGIC = b"\xff\xd8\xff"

_ZIGZAG = np.array(
    [
        0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
    ],
    dtype=np.intp,
)


def _dct_basis() -> np.ndarray:
    """Orthonormal 8x8 DCT-II basis T[u, x] = 0.5 c(u) cos((2x+1)u pi/16);
    forward F = T f T^T, inverse f = T^T F T."""
    x = np.arange(8)
    t = 0.5 * np.cos((2 * x[None, :] + 1) * np.arange(8)[:, None] * np.pi / 16)
    t[0] *= 1 / np.sqrt(2)
    return t


_DCT_T = _dct_basis()


class _HuffTable:
    """Canonical Huffman decoder from DHT (bits[1..16], values):
    (length, code) -> symbol, plus fast min/max code per length."""

    def __init__(self, bits: list[int], values: bytes):
        self.lut: dict[tuple[int, int], int] = {}
        code, k = 0, 0
        for length in range(1, 17):
            for _ in range(bits[length - 1]):
                self.lut[(length, code)] = values[k]
                code += 1
                k += 1
            code <<= 1


class _BitReader:
    """MSB-first bit reader over entropy-coded JPEG data: unstuffs
    FF00, stops at any other marker (the caller handles RSTn)."""

    def __init__(self, buf: bytes, pos: int):
        self.buf, self.pos = buf, pos
        self.bits, self.nbits = 0, 0

    def _fill(self) -> None:
        # one bad/short record must fail as a diagnosable ValueError,
        # not a raw IndexError from deep in the bit loop (ADVICE r5)
        if self.pos >= len(self.buf):
            raise ValueError("truncated JPEG entropy data")
        b = self.buf[self.pos]
        if b == 0xFF:
            if self.pos + 1 >= len(self.buf):
                raise ValueError("truncated JPEG entropy data")
            nxt = self.buf[self.pos + 1]
            if nxt == 0x00:
                self.pos += 2
            else:
                raise _MarkerHit(0xFF00 | nxt)
        else:
            self.pos += 1
        self.bits = (self.bits << 8) | b
        self.nbits += 8

    def read(self, n: int) -> int:
        while self.nbits < n:
            self._fill()
        self.nbits -= n
        v = (self.bits >> self.nbits) & ((1 << n) - 1)
        self.bits &= (1 << self.nbits) - 1
        return v

    def huff(self, table: _HuffTable) -> int:
        code, length = 0, 0
        while length < 16:
            code = (code << 1) | self.read(1)
            length += 1
            sym = table.lut.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("invalid JPEG Huffman code")

    def align(self) -> None:
        self.bits, self.nbits = 0, 0


class _MarkerHit(Exception):
    def __init__(self, marker: int):
        self.marker = marker


def _req(tables: dict, key, what: str):
    """Table lookup that fails as ValueError, not KeyError: a scan
    referencing a DQT/DHT id that never arrived is a corrupt payload,
    and the error must be catchable alongside the codec's other
    validation paths (ADVICE r5)."""
    try:
        return tables[key]
    except KeyError:
        raise ValueError(f"JPEG scan references missing {what} {key}") from None


def _extend(v: int, size: int) -> int:
    return v if v >= (1 << (size - 1)) else v - (1 << size) + 1


class _ProgState:
    """Progressive-JPEG coefficient accumulator: per component, the
    full (block_rows, block_cols, 64) int32 tensor of ZIGZAG-ordered
    quantized coefficients, built up across scans and reconstructed at
    EOI.  (Progressive decode inherently retains all coefficients —
    unlike the baseline path, which streams block by block.)"""

    def __init__(self, frame: dict):
        comps = frame["comps"]
        self.hmax = max(c["h"] for c in comps)
        self.vmax = max(c["v"] for c in comps)
        self.mcus_x = -(-frame["w"] // (8 * self.hmax))
        self.mcus_y = -(-frame["h"] // (8 * self.vmax))
        self.coefs = []
        self.nblocks = []  # non-interleaved (cols, rows) per component
        for c in comps:
            bh, bw = self.mcus_y * c["v"], self.mcus_x * c["h"]
            self.coefs.append(np.zeros((bh, bw, 64), np.int32))
            cw = -(-frame["w"] * c["h"] // self.hmax)
            ch = -(-frame["h"] * c["v"] // self.vmax)
            self.nblocks.append((-(-cw // 8), -(-ch // 8)))


def _next_marker_pos(buf: bytes, pos: int) -> int:
    """First real marker at/after ``pos`` (skips stuffed FF00 and
    fill bytes)."""
    while pos + 1 < len(buf):
        if buf[pos] == 0xFF and buf[pos + 1] not in (0x00, 0xFF):
            return pos
        pos += 1
    return len(buf)


def _prog_scan(
    buf, pos, frame, scan_ids, scan_tables, ss, se, ah, al,
    huff_dc, huff_ac, restart, state: _ProgState,
) -> int:
    """Decode ONE progressive scan into the coefficient state; returns
    the buffer position of the next marker segment.  Implements the
    four scan kinds of Annex G successive approximation: DC first
    (Huffman diffs shifted by Al), DC refinement (one raw bit per
    block), AC first (band run-length with EOB runs), AC refinement
    (correction bits + new ±1<<Al coefficients)."""
    comps = frame["comps"]
    reader = _BitReader(buf, pos)
    # units: interleaved MCUs for multi-component scans, the single
    # component's own block grid otherwise
    members = [i for i, c in enumerate(comps) if c["id"] in scan_ids]
    interleaved = len(members) > 1
    if interleaved:
        units = state.mcus_x * state.mcus_y
    else:
        nbw, nbh = state.nblocks[members[0]]
        units = nbw * nbh
    preds = dict.fromkeys(members, 0)
    eobrun = 0

    def dc_block(ci: int, blk) -> None:
        nonlocal preds
        if ah == 0:
            s = reader.huff(_req(huff_dc, _req(scan_tables, comps[ci]["id"], "scan component")[0], "DC Huffman table"))
            diff = _extend(reader.read(s), s) if s else 0
            preds[ci] += diff
            blk[0] = preds[ci] << al
        else:
            blk[0] |= reader.read(1) << al

    def ac_first(ci: int, blk) -> None:
        nonlocal eobrun
        if eobrun:
            eobrun -= 1
            return
        table = _req(huff_ac, _req(scan_tables, comps[ci]["id"], "scan component")[1], "AC Huffman table")
        k = ss
        while k <= se:
            rs = reader.huff(table)
            r, s = rs >> 4, rs & 15
            if s == 0:
                if r == 15:
                    k += 16
                    continue
                eobrun = (1 << r) - 1
                if r:
                    eobrun += reader.read(r)
                return
            k += r
            if k > se:
                raise ValueError("JPEG progressive AC band overrun")
            blk[k] = _extend(reader.read(s), s) << al
            k += 1

    def ac_refine(ci: int, blk) -> None:
        nonlocal eobrun
        table = _req(huff_ac, _req(scan_tables, comps[ci]["id"], "scan component")[1], "AC Huffman table")
        p1, m1 = 1 << al, -(1 << al)
        k = ss
        if eobrun == 0:
            while k <= se:
                rs = reader.huff(table)
                r, s = rs >> 4, rs & 15
                if s == 0:
                    if r != 15:
                        eobrun = 1 << r
                        if r:
                            eobrun += reader.read(r)
                        break
                    val = 0  # ZRL: skip 16 zero-history positions
                else:
                    if s != 1:
                        raise ValueError("JPEG AC refinement size must be 1")
                    val = p1 if reader.read(1) else m1
                while k <= se:
                    if blk[k] != 0:
                        if reader.read(1) and (int(blk[k]) & p1) == 0:
                            blk[k] += p1 if blk[k] > 0 else m1
                    else:
                        if r == 0:
                            break
                        r -= 1
                    k += 1
                if val and k <= se:
                    blk[k] = val
                k += 1
        if eobrun > 0:
            while k <= se:
                if blk[k] != 0:
                    if reader.read(1) and (int(blk[k]) & p1) == 0:
                        blk[k] += p1 if blk[k] > 0 else m1
                k += 1
            eobrun -= 1

    unit_i = 0
    for _u in range(units):
        if restart and unit_i and unit_i % restart == 0:
            reader.align()
            p = reader.pos
            while True:
                if p + 1 >= len(buf):
                    raise ValueError("truncated JPEG entropy data (missing RST marker)")
                if buf[p] == 0xFF and 0xD0 <= buf[p + 1] <= 0xD7:
                    break
                p += 1
            reader.pos = p + 2
            preds = dict.fromkeys(members, 0)
            eobrun = 0
        if interleaved:
            if ss != 0 or se != 0:
                raise ValueError("JPEG AC scans must be single-component")
            my, mx = divmod(unit_i, state.mcus_x)
            for ci in members:
                c = comps[ci]
                for by in range(c["v"]):
                    for bx in range(c["h"]):
                        blk = state.coefs[ci][my * c["v"] + by][mx * c["h"] + bx]
                        dc_block(ci, blk)  # multi-comp scans are DC-only
        else:
            ci = members[0]
            nbw, _nbh = state.nblocks[ci]
            by, bx = divmod(unit_i, nbw)
            blk = state.coefs[ci][by][bx]
            if ss == 0:
                dc_block(ci, blk)
                if se != 0:
                    raise ValueError("JPEG scan mixing DC and AC bands")
            elif ah == 0:
                ac_first(ci, blk)
            else:
                ac_refine(ci, blk)
        unit_i += 1
    return _next_marker_pos(buf, reader.pos)


def _prog_reconstruct(frame: dict, qt: dict, state: _ProgState) -> dict:
    """Dequantize + IDCT the accumulated coefficient tensors and hand
    off to the shared reconstruction tail."""
    comps = frame["comps"]
    tt = _DCT_T.T
    planes = []
    for ci, c in enumerate(comps):
        q = _req(qt, c["tq"], "DQT quantization table")
        coefs = state.coefs[ci]
        bh, bw, _ = coefs.shape
        plane = np.zeros((bh * 8, bw * 8))
        for by in range(bh):
            for bx in range(bw):
                blk = np.zeros(64)
                blk[_ZIGZAG] = coefs[by, bx] * q
                plane[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = (
                    tt @ blk.reshape(8, 8) @ _DCT_T + 128.0
                )
        planes.append(plane)
    return _planes_to_pixels(frame, planes, state.hmax, state.vmax)


def decode_jpeg(payload: bytes) -> dict:
    """JFIF decode (pure stdlib + numpy): 8-bit BASELINE (SOF0/1) and
    PROGRESSIVE (SOF2 — spectral selection + successive approximation,
    DC/AC first and refinement scans, EOB runs), 1 or 3 components, any
    integer-ratio sampling factors (4:4:4, 4:2:2, 4:2:0), restart
    intervals, tables redefined between scans.  Returns the same dict
    shape as :func:`decode_ppm` ((h, w, c) uint8 pixels, maxval 255).
    Lossless/hierarchical/arithmetic/12-bit raise NotImplementedError
    with the swap point named."""
    if payload[:3] != _JPEG_MAGIC:
        raise ValueError("not a JPEG payload")
    pos = 2
    qt: dict[int, np.ndarray] = {}
    huff_dc: dict[int, _HuffTable] = {}
    huff_ac: dict[int, _HuffTable] = {}
    frame = None
    progressive = False
    restart = 0
    state = None  # progressive: per-component zigzag coefficient arrays
    while pos + 2 <= len(payload):
        if payload[pos] != 0xFF:
            raise ValueError(f"bad JPEG marker sync at {pos}")
        while payload[pos + 1] == 0xFF:  # fill bytes before a marker
            pos += 1
        marker = payload[pos + 1]
        pos += 2
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            continue
        if marker == 0xD9:  # EOI
            break
        (seglen,) = _struct.unpack_from(">H", payload, pos)
        body = payload[pos + 2 : pos + seglen]
        if marker == 0xDB:  # DQT
            b = 0
            while b < len(body):
                pq, tq = body[b] >> 4, body[b] & 15
                b += 1
                if pq:
                    tbl = np.frombuffer(body, ">u2", 64, b).astype(np.float64)
                    b += 128
                else:
                    tbl = np.frombuffer(body, np.uint8, 64, b).astype(np.float64)
                    b += 64
                qt[tq] = tbl  # zigzag order
        elif marker in (0xC0, 0xC1, 0xC2):  # SOF0/1 sequential, SOF2 progressive
            prec, h, w, ncomp = body[0], *_struct.unpack_from(">HH", body, 1), body[5]
            if prec != 8:
                raise NotImplementedError("only 8-bit JPEG supported")
            comps = []
            for c in range(ncomp):
                cid, hv, tq = body[6 + 3 * c : 9 + 3 * c]
                comps.append({"id": cid, "h": hv >> 4, "v": hv & 15, "tq": tq})
            frame = {"h": h, "w": w, "comps": comps}
            progressive = marker == 0xC2
            if progressive:
                state = _ProgState(frame)
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                "only baseline (SOF0/1) and progressive (SOF2) Huffman JPEG "
                "supported; lossless/hierarchical/arithmetic would slot in here"
            )
        elif marker == 0xC4:  # DHT
            b = 0
            while b < len(body):
                tc, th = body[b] >> 4, body[b] & 15
                bits = list(body[b + 1 : b + 17])
                n = sum(bits)
                vals = bytes(body[b + 17 : b + 17 + n])
                (huff_ac if tc else huff_dc)[th] = _HuffTable(bits, vals)
                b += 17 + n
        elif marker == 0xDD:  # DRI
            (restart,) = _struct.unpack_from(">H", body, 0)
        elif marker == 0xDA:  # SOS — entropy data follows
            if frame is None:
                raise ValueError("JPEG SOS before SOF")
            ns = body[0]
            scan_tables = {}
            for c in range(ns):
                cs, tt = body[1 + 2 * c], body[2 + 2 * c]
                scan_tables[cs] = (tt >> 4, tt & 15)
            data_pos = pos + seglen
            if not progressive:
                return _jpeg_scan(
                    payload, data_pos, frame, scan_tables, qt, huff_dc, huff_ac, restart
                )
            ss, se, ahal = body[1 + 2 * ns : 4 + 2 * ns]
            pos = _prog_scan(
                payload, data_pos, frame, list(scan_tables), scan_tables,
                ss, se, ahal >> 4, ahal & 15, huff_dc, huff_ac, restart, state,
            )
            continue
        pos += seglen
    if progressive and state is not None:
        return _prog_reconstruct(frame, qt, state)
    raise ValueError("JPEG payload missing SOS")


def _jpeg_scan(buf, pos, frame, scan, qt, huff_dc, huff_ac, restart) -> dict:
    h, w, comps = frame["h"], frame["w"], frame["comps"]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))
    planes = [
        np.zeros((mcus_y * c["v"] * 8, mcus_x * c["h"] * 8)) for c in comps
    ]
    reader = _BitReader(buf, pos)
    pred = [0] * len(comps)
    tt = _DCT_T.T
    mcu_i = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart and mcu_i and mcu_i % restart == 0:
                reader.align()
                # skip the RSTn marker (bounds-checked BEFORE each read:
                # truncation exactly at a restart boundary must be the
                # catchable ValueError, not IndexError)
                while True:
                    if reader.pos + 1 >= len(buf):
                        raise ValueError("truncated JPEG entropy data (missing RST marker)")
                    if buf[reader.pos] == 0xFF and 0xD0 <= buf[reader.pos + 1] <= 0xD7:
                        break
                    reader.pos += 1
                reader.pos += 2
                pred = [0] * len(comps)
            for ci, c in enumerate(comps):
                dc_t, ac_t = _req(scan, c["id"], "scan component")
                q = _req(qt, c["tq"], "DQT quantization table")
                for by in range(c["v"]):
                    for bx in range(c["h"]):
                        coef = np.zeros(64)
                        s = reader.huff(_req(huff_dc, dc_t, "DC Huffman table"))
                        diff = _extend(reader.read(s), s) if s else 0
                        pred[ci] += diff
                        coef[0] = pred[ci] * q[0]
                        k = 1
                        while k < 64:
                            rs = reader.huff(_req(huff_ac, ac_t, "AC Huffman table"))
                            r, s = rs >> 4, rs & 15
                            if s == 0:
                                if r == 15:
                                    k += 16
                                    continue
                                break  # EOB
                            k += r
                            if k > 63:
                                raise ValueError("JPEG AC coefficient overrun")
                            coef[k] = _extend(reader.read(s), s) * q[k]
                            k += 1
                        blk = np.zeros(64)
                        blk[_ZIGZAG] = coef
                        spatial = tt @ blk.reshape(8, 8) @ _DCT_T + 128.0
                        y0, x0 = (my * c["v"] + by) * 8, (mx * c["h"] + bx) * 8
                        planes[ci][y0 : y0 + 8, x0 : x0 + 8] = spatial
            mcu_i += 1
    return _planes_to_pixels(frame, planes, hmax, vmax)


def _planes_to_pixels(frame: dict, planes: list, hmax: int, vmax: int) -> dict:
    """Shared JPEG reconstruction tail: per-component upsample to full
    resolution, crop the MCU padding, JFIF YCbCr->RGB for 3-component
    frames."""
    h, w, comps = frame["h"], frame["w"], frame["comps"]
    out = []
    for ci, c in enumerate(comps):
        if hmax % c["h"] or vmax % c["v"]:
            raise NotImplementedError(
                f"non-integer chroma upsampling ratio (h={c['h']}/{hmax}, "
                f"v={c['v']}/{vmax}); fractional-ratio resampling would slot in here"
            )
        p = planes[ci]
        p = np.repeat(np.repeat(p, vmax // c["v"], axis=0), hmax // c["h"], axis=1)
        out.append(p[:h, :w])
    if len(out) == 1:
        px = np.clip(np.rint(out[0]), 0, 255).astype(np.uint8)[..., None]
    else:
        y, cb, cr = out[0], out[1] - 128.0, out[2] - 128.0
        rgb = np.stack(
            [y + 1.402 * cr, y - 0.344136 * cb - 0.714136 * cr, y + 1.772 * cb],
            axis=2,
        )
        px = np.clip(np.rint(rgb), 0, 255).astype(np.uint8)
    return {"width": w, "height": h, "maxval": 255, "pixels": px}


# fixture-encoder Huffman layout: every symbol at one canonical length
# (12 DC size symbols at 4 bits; all 162 AC run/size symbols at 8 bits)
# — a VALID if suboptimal table set, so the decoder exercises the same
# canonical-table machinery real encoders use.
_ENC_DC_SYMS = list(range(12))
_ENC_AC_SYMS = [0x00, 0xF0] + [
    (r << 4) | s for r in range(16) for s in range(1, 11)
]


def _enc_tables(syms: list[int], length: int):
    """(bits, values, code_of_symbol) for an all-one-length canonical
    table; all-ones code left unused (padding-safe per the spec)."""
    bits = [0] * 16
    bits[length - 1] = len(syms)
    codes = {sym: i for i, sym in enumerate(syms)}
    return bits, bytes(syms), {s: (length, c) for s, c in codes.items()}


def _emit_progressive_scans(
    coefs, samp, mcus_x, mcus_y, w, h, hmax, vmax, dc_code, ac_code
):
    """Annex-G progressive scan emitter over the quantized coefficient
    tensors: DC first (Al=1, interleaved), DC refinement (raw low bits),
    then per component AC first (band 1-63 at Al=1, per-block EOBs) and
    AC refinement (Al=0: new ±1 coefficients with their zero-HISTORY
    runs, correction bits interleaved in exactly the order the
    decoder's advance loop consumes them).  Returns
    [(comp_ids, ss, se, ah, al, entropy_bytes), ...]."""
    ncomp = len(coefs)
    comp_ids_all = [i + 1 for i in range(ncomp)]
    scans = []

    def mag_shift(v: int, n: int) -> int:  # toward zero, per Annex G AC coding
        return v >> n if v >= 0 else -((-v) >> n)

    # scan 1: DC first at Al=1 — diffs of the FLOOR-shifted DC (the
    # decoder reconstructs pred << 1; the refinement bit below ORs the
    # low bit back in, exact for negatives in two's complement)
    wtr = _BitWriter()
    preds = [0] * ncomp
    for my in range(mcus_y):
        for mx in range(mcus_x):
            for ci, (sh, sv) in enumerate(samp):
                for by in range(sv):
                    for bx in range(sh):
                        dc = int(coefs[ci][my * sv + by, mx * sh + bx, 0]) >> 1
                        diff = dc - preds[ci]
                        preds[ci] = dc
                        s = abs(diff).bit_length()
                        ln, code = dc_code[s]
                        wtr.write(code, ln)
                        if s:
                            wtr.write(diff if diff > 0 else diff + (1 << s) - 1, s)
    wtr.flush()
    scans.append((comp_ids_all, 0, 0, 0, 1, bytes(wtr.out)))

    # scan 2: DC refinement at Al=0 — one raw bit per block, same order
    wtr = _BitWriter()
    for my in range(mcus_y):
        for mx in range(mcus_x):
            for ci, (sh, sv) in enumerate(samp):
                for by in range(sv):
                    for bx in range(sh):
                        wtr.write(int(coefs[ci][my * sv + by, mx * sh + bx, 0]) & 1, 1)
    wtr.flush()
    scans.append((comp_ids_all, 0, 0, 1, 0, bytes(wtr.out)))

    for ci, (sh, sv) in enumerate(samp):
        cw = -(-w * sh // hmax)
        ch = -(-h * sv // vmax)
        nbw, nbh = -(-cw // 8), -(-ch // 8)

        # AC first at Al=1 over the component's own block grid
        wtr = _BitWriter()
        for bi in range(nbw * nbh):
            by, bx = divmod(bi, nbw)
            zz = coefs[ci][by, bx]
            t = [mag_shift(int(zz[k]), 1) for k in range(64)]
            last = max((k for k in range(1, 64) if t[k]), default=0)
            run = 0
            for k in range(1, 64):
                if k > last:
                    ln, code = ac_code[0x00]  # EOB (run of exactly 1 block)
                    wtr.write(code, ln)
                    break
                v = t[k]
                if v == 0:
                    run += 1
                    continue
                while run > 15:
                    ln, code = ac_code[0xF0]
                    wtr.write(code, ln)
                    run -= 16
                s = abs(v).bit_length()
                ln, code = ac_code[(run << 4) | s]
                wtr.write(code, ln)
                wtr.write(v if v > 0 else v + (1 << s) - 1, s)
                run = 0
        wtr.flush()
        scans.append(([ci + 1], 1, 63, 0, 1, bytes(wtr.out)))

        # AC refinement at Al=0: event walk per block —
        #   'z'        zero-history position (counts toward the run)
        #   ('c', bit) nonzero-history position's correction bit
        #   ('n', sgn) newly visible coefficient (|v| == 1)
        wtr = _BitWriter()
        for bi in range(nbw * nbh):
            by, bx = divmod(bi, nbw)
            zz = coefs[ci][by, bx]
            events = []
            for k in range(1, 64):
                v = int(zz[k])
                hist = mag_shift(v, 1)
                if hist != 0:
                    events.append(("c", abs(v) & 1))
                elif v != 0:
                    events.append(("n", 1 if v > 0 else 0))
                else:
                    events.append(("z", 0))
            i = 0
            n_events = len(events)
            while True:
                # next new coefficient from i?
                j = i
                while j < n_events and events[j][0] != "n":
                    j += 1
                if j >= n_events:
                    break
                # zero-history count between i and j
                r = sum(1 for e in events[i:j] if e[0] == "z")
                while r > 15:
                    # ZRL: consume exactly 16 zero-history positions,
                    # emitting correction bits in encounter order
                    ln, code = ac_code[0xF0]
                    wtr.write(code, ln)
                    zeros = 0
                    while zeros < 16:
                        kind, bit = events[i]
                        i += 1
                        if kind == "z":
                            zeros += 1
                        else:  # 'c'
                            wtr.write(bit, 1)
                    r -= 16
                ln, code = ac_code[(r << 4) | 1]
                wtr.write(code, ln)
                wtr.write(events[j][1], 1)  # sign bit, read before the advance
                while i < j:  # correction bits inside this symbol's span
                    kind, bit = events[i]
                    i += 1
                    if kind == "c":
                        wtr.write(bit, 1)
                i = j + 1  # consume the new coefficient itself
            if i < n_events:
                # positions remain: EOB covers the rest of the band,
                # whose nonzero-history bits follow immediately
                ln, code = ac_code[0x00]
                wtr.write(code, ln)
                for kind, bit in events[i:]:
                    if kind == "c":
                        wtr.write(bit, 1)
        wtr.flush()
        scans.append(([ci + 1], 1, 63, 1, 0, bytes(wtr.out)))
    return scans


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc, self.nacc = 0, 0

    def write(self, value: int, n: int) -> None:
        self.acc = (self.acc << n) | (value & ((1 << n) - 1))
        self.nacc += n
        while self.nacc >= 8:
            self.nacc -= 8
            b = (self.acc >> self.nacc) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)  # byte stuffing
        self.acc &= (1 << self.nacc) - 1

    def flush(self) -> None:
        if self.nacc:
            self.write((1 << (8 - self.nacc)) - 1, 8 - self.nacc)


def encode_jpeg(
    pixels: np.ndarray,
    quant: int = 1,
    subsample: int = 1,
    restart: int = 0,
    progressive: bool = False,
) -> bytes:
    """Minimal valid JFIF writer for fixtures and the resize lane: gray
    or RGB, flat quantization (``quant`` for every coefficient — 1
    keeps the round trip near-lossless so decode tests have closed-form
    expectations), optional 4:2:0 (``subsample=2``, chroma averaged
    over 2x2), optional restart interval (``restart`` MCUs per
    interval: DRI + cycling RSTn markers with byte-aligned padding and
    DC-predictor resets), optional PROGRESSIVE mode (``progressive``:
    SOF2 with the standard successive-approximation scan script — DC
    first/refine at Al=1/0 interleaved, per-component AC first/refine
    over band 1-63 — the multi-scan shape most wild web JPEGs use).
    Emits real DQT/SOF/DHT/SOS segments, canonical Huffman tables, byte
    stuffing — everything the decoder's marker walk has to parse on
    wild files."""
    if not 1 <= quant <= 255:
        raise ValueError("quant must be in [1, 255] (8-bit DQT entries)")
    if progressive and restart:
        raise ValueError("restart intervals not supported in progressive mode")
    px = np.asarray(pixels, np.float64)
    if px.ndim == 2:
        px = px[..., None]
    h, w, nc = px.shape
    if nc == 3:
        r, g, b = px[..., 0], px[..., 1], px[..., 2]
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
        cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
        chans = [y, cb, cr]
        samp = [(subsample, subsample), (1, 1), (1, 1)]
    else:
        chans = [px[..., 0]]
        samp = [(1, 1)]
    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))

    planes = []
    for ch, (sh, sv) in zip(chans, samp):
        if (sh, sv) != (hmax, vmax):  # chroma downsample by block mean
            fy, fx = vmax // sv, hmax // sh
            ph = -(-h // fy) * fy
            pw = -(-w // fx) * fx
            pad = np.pad(ch, ((0, ph - h), (0, pw - w)), mode="edge")
            ch = pad.reshape(ph // fy, fy, pw // fx, fx).mean(axis=(1, 3))
        th, tw = mcus_y * sv * 8, mcus_x * sh * 8
        planes.append(
            np.pad(ch, ((0, th - ch.shape[0]), (0, tw - ch.shape[1])), mode="edge")
        )

    dc_bits, dc_vals, dc_code = _enc_tables(_ENC_DC_SYMS, 4)
    ac_bits, ac_vals, ac_code = _enc_tables(_ENC_AC_SYMS, 8)
    qtab = np.full(64, float(quant))

    # quantized zigzag coefficient tensor per component — shared input
    # of the baseline and progressive emitters
    coefs = []
    for pl, (sh, sv) in zip(planes, samp):
        bh, bw = mcus_y * sv, mcus_x * sh
        t = np.zeros((bh, bw, 64), np.int32)
        for by in range(bh):
            for bx in range(bw):
                f = pl[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] - 128.0
                coef = _DCT_T @ f @ _DCT_T.T
                t[by, bx] = np.rint(coef.reshape(64)[_ZIGZAG] / qtab).astype(np.int32)
        coefs.append(t)

    if progressive:
        scans = _emit_progressive_scans(
            coefs, samp, mcus_x, mcus_y, w, h, hmax, vmax, dc_code, ac_code
        )
    else:
        wtr = _BitWriter()
        pred = [0] * len(chans)
        mcu_i = 0
        for my in range(mcus_y):
            for mx in range(mcus_x):
                if restart and mcu_i and mcu_i % restart == 0:
                    wtr.flush()  # byte-align (1-padding) before the marker
                    wtr.out += bytes([0xFF, 0xD0 + ((mcu_i // restart - 1) % 8)])
                    pred = [0] * len(chans)
                mcu_i += 1
                for ci, (sh, sv) in enumerate(samp):
                    for by in range(sv):
                        for bx in range(sh):
                            zz = coefs[ci][my * sv + by, mx * sh + bx]
                            diff = int(zz[0]) - pred[ci]
                            pred[ci] = int(zz[0])
                            s = abs(diff).bit_length()
                            ln, code = dc_code[s]
                            wtr.write(code, ln)
                            if s:
                                wtr.write(
                                    diff if diff > 0 else diff + (1 << s) - 1, s
                                )
                            run = 0
                            last_nz = max(np.nonzero(zz)[0]) if np.any(zz) else 0
                            for k in range(1, 64):
                                v = int(zz[k])
                                if k > last_nz:
                                    ln, code = ac_code[0x00]  # EOB
                                    wtr.write(code, ln)
                                    break
                                if v == 0:
                                    run += 1
                                    continue
                                while run > 15:
                                    ln, code = ac_code[0xF0]  # ZRL
                                    wtr.write(code, ln)
                                    run -= 16
                                s = abs(v).bit_length()
                                ln, code = ac_code[(run << 4) | s]
                                wtr.write(code, ln)
                                wtr.write(v if v > 0 else v + (1 << s) - 1, s)
                                run = 0
        wtr.flush()

    def seg(marker: int, body: bytes) -> bytes:
        return bytes([0xFF, marker]) + _struct.pack(">H", len(body) + 2) + body

    dqt = seg(0xDB, bytes([0]) + bytes(int(q) for q in qtab))
    sof_comps = b"".join(
        bytes([i + 1, (sh << 4) | sv, 0]) for i, (sh, sv) in enumerate(samp)
    )
    sof_marker = 0xC2 if progressive else 0xC0
    sof = seg(
        sof_marker,
        bytes([8]) + _struct.pack(">HH", h, w) + bytes([len(chans)]) + sof_comps,
    )
    dht = seg(0xC4, bytes([0x00]) + bytes(dc_bits) + dc_vals) + seg(
        0xC4, bytes([0x10]) + bytes(ac_bits) + ac_vals
    )
    head = (
        b"\xff\xd8"
        + seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
        + dqt
        + sof
        + dht
    )
    if progressive:
        body = b""
        for comp_ids, ss, se, ah, al_, data in scans:
            hdr = bytes([len(comp_ids)])
            for cid in comp_ids:
                hdr += bytes([cid, 0x00])
            hdr += bytes([ss, se, (ah << 4) | al_])
            body += seg(0xDA, hdr) + data
        return head + body + b"\xff\xd9"
    dri = seg(0xDD, _struct.pack(">H", restart)) if restart else b""
    sos = seg(
        0xDA,
        bytes([len(chans)])
        + b"".join(bytes([i + 1, 0x00]) for i in range(len(chans)))
        + bytes([0, 63, 0]),
    )
    return head + dri + sos + bytes(wtr.out) + b"\xff\xd9"


def _is_image(payload: bytes) -> bool:
    return (
        payload[:2] in (b"P5", b"P6")
        or payload[:8] == _PNG_MAGIC
        or payload[:3] == _JPEG_MAGIC
    )


def decode_image(payload: bytes) -> dict:
    """Magic-byte image router: Netpbm (P5/P6), PNG or JPEG — one dict
    shape (width, height, maxval, pixels) either way, so every image
    operator downstream (features, aHash, resize) is format-agnostic.

    PNG/JPEG route to the NATIVE decoders (libpng16 / libjpeg-turbo via
    ``sources/native_codecs.py``) when those load in this process —
    ~50-100x the stdlib throughput, same output contract (PNG
    byte-identical; JPEG within the +/-2 T.81 decoder tolerance) —
    falling back to the pure-stdlib decoders otherwise, or everywhere
    when ``TCDB_SPARK_NATIVE_CODECS=0``.  A native decode failure falls
    through to the stdlib path so error messages and edge-case behavior
    stay those of the portable decoder."""
    if payload[:2] in (b"P5", b"P6"):
        return decode_ppm(payload)
    from tcdb_spark.sources import native_codecs as _nc

    if payload[:8] == _PNG_MAGIC:
        if _nc.png_enabled():
            try:
                return _nc.decode_png_native(payload)
            except (ValueError, RuntimeError, OSError):
                pass  # stdlib twin re-raises its own (pinned) errors
        return decode_png(payload)
    if payload[:3] == _JPEG_MAGIC:
        if _nc.jpeg_enabled():
            try:
                return _nc.decode_jpeg_native(payload)
            except (ValueError, RuntimeError, OSError):
                pass
        return decode_jpeg(payload)
    raise ValueError("not a decodable image payload (PPM/PGM/PNG/JPEG)")


def decode_wav(payload: bytes) -> dict:
    """PCM WAV: RIFF/WAVE chunk walk, fmt (PCM only) + data chunks.
    Returns sample_rate, n_channels and an (n_frames, n_channels)
    float64 array of samples scaled to [-1, 1]."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        (size,) = _struct.unpack_from("<I", payload, pos + 4)
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt = _struct.unpack_from("<HHIIHH", body, 0)
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("WAV payload missing fmt/data chunk")
    audio_format, n_channels, sample_rate, _, _, bits = fmt
    if audio_format != 1 or bits not in (8, 16):
        raise NotImplementedError(f"only 8/16-bit PCM WAV supported (fmt={audio_format}, bits={bits})")
    if bits == 16:
        samples = np.frombuffer(data, dtype="<i2").astype(np.float64) / 32768.0
    else:  # 8-bit WAV is unsigned, midpoint 128
        samples = (np.frombuffer(data, dtype=np.uint8).astype(np.float64) - 128.0) / 128.0
    n_frames = len(samples) // n_channels
    return {
        "sample_rate": sample_rate,
        "n_channels": n_channels,
        "samples": samples[: n_frames * n_channels].reshape(n_frames, n_channels),
    }


# --------------------------------------------------------------- FLAC codec
#
# Pure-stdlib FLAC decode: STREAMINFO metadata, frame sync + CRC'd
# headers, all four subframe types (CONSTANT, VERBATIM, FIXED orders
# 0-4, LPC any order), Rice-coded residual partitions with escape
# codes, wasted bits, and the three stereo decorrelation modes
# (left/side, right/side, mid/side).  FLAC is lossless, so the decode
# tests are exact round trips through the fixture encoder below.

_FLAC_FIXED_COEFS = {
    0: [],
    1: [1],
    2: [2, -1],
    3: [3, -3, 1],
    4: [4, -6, 4, -1],
}


def _crc8(data: bytes) -> int:
    crc = 0
    for b in data:
        crc ^= b
        for _ in range(8):
            crc = ((crc << 1) ^ 0x07) & 0xFF if crc & 0x80 else (crc << 1) & 0xFF
    return crc


def _crc16(data: bytes) -> int:
    crc = 0
    for b in data:
        crc ^= b << 8
        for _ in range(8):
            crc = ((crc << 1) ^ 0x8005) & 0xFFFF if crc & 0x8000 else (crc << 1) & 0xFFFF
    return crc


class _FlacBitReader:
    """MSB-first bit reader over the whole stream (no byte stuffing in
    FLAC; frame boundaries are byte-aligned)."""

    def __init__(self, buf: bytes, pos: int = 0):
        self.buf, self.bitpos = buf, pos * 8

    def read(self, n: int) -> int:
        if self.bitpos + n > len(self.buf) * 8:
            raise ValueError("truncated FLAC stream")
        v = 0
        for _ in range(n):
            byte = self.buf[self.bitpos >> 3]
            v = (v << 1) | ((byte >> (7 - (self.bitpos & 7))) & 1)
            self.bitpos += 1
        return v

    def read_signed(self, n: int) -> int:
        v = self.read(n)
        return v - (1 << n) if v >> (n - 1) else v

    def unary(self) -> int:
        q = 0
        while self.read(1) == 0:
            q += 1
        return q

    def align(self) -> None:
        self.bitpos = (self.bitpos + 7) & ~7

    @property
    def bytepos(self) -> int:
        return self.bitpos >> 3

    def at_end(self) -> bool:
        return self.bitpos >= len(self.buf) * 8


def _flac_utf8_number(r: _FlacBitReader) -> int:
    """FLAC's UTF-8-style coded frame/sample number."""
    b0 = r.read(8)
    if b0 < 0x80:
        return b0
    n = 0
    while (b0 << n) & 0x80:
        n += 1
    v = b0 & (0x7F >> n)
    for _ in range(n - 1):
        v = (v << 6) | (r.read(8) & 0x3F)
    return v


def _flac_residual(r: _FlacBitReader, blocksize: int, order: int) -> list[int]:
    """Rice-coded residual: 2-bit method, 4-bit partition order,
    2^po partitions with per-partition Rice parameter (escape -> raw
    n-bit residuals)."""
    method = r.read(2)
    if method > 1:
        raise ValueError("invalid FLAC residual coding method")
    plen = 4 + method  # rice parameter width (4 or 5 bits)
    po = r.read(4)
    res: list[int] = []
    nparts = 1 << po
    for p in range(nparts):
        n = (blocksize >> po) - (order if p == 0 else 0)
        param = r.read(plen)
        if param == (1 << plen) - 1:  # escape: raw residuals
            bits = r.read(5)
            res.extend(r.read_signed(bits) if bits else 0 for _ in range(n))
        else:
            for _ in range(n):
                q = r.unary()
                u = (q << param) | (r.read(param) if param else 0)
                res.append((u >> 1) ^ -(u & 1))  # zigzag
    return res


def _flac_subframe(r: _FlacBitReader, blocksize: int, bps: int) -> list[int]:
    if r.read(1):
        raise ValueError("invalid FLAC subframe padding bit")
    ftype = r.read(6)
    wasted = 0
    if r.read(1):  # wasted-bits flag: unary count - 1
        wasted = r.unary() + 1
        bps -= wasted
    if ftype == 0:  # CONSTANT
        v = r.read_signed(bps)
        out = [v] * blocksize
    elif ftype == 1:  # VERBATIM
        out = [r.read_signed(bps) for _ in range(blocksize)]
    elif 8 <= ftype <= 12:  # FIXED, order 0-4
        order = ftype - 8
        out = [r.read_signed(bps) for _ in range(order)]
        res = _flac_residual(r, blocksize, order)
        coefs = _FLAC_FIXED_COEFS[order]
        for e in res:
            pred = sum(c * out[-i - 1] for i, c in enumerate(coefs))
            out.append(pred + e)
    elif ftype >= 32:  # LPC, order 1-32
        order = ftype - 31
        out = [r.read_signed(bps) for _ in range(order)]
        prec = r.read(4) + 1
        shift = r.read_signed(5)
        coefs = [r.read_signed(prec) for _ in range(order)]
        res = _flac_residual(r, blocksize, order)
        for e in res:
            pred = sum(c * out[-i - 1] for i, c in enumerate(coefs)) >> shift
            out.append(pred + e)
    else:
        raise ValueError(f"reserved FLAC subframe type {ftype}")
    if wasted:
        out = [v << wasted for v in out]
    return out


_FLAC_BLOCKSIZES = {1: 192, 2: 576, 3: 1152, 4: 2304, 5: 4608}
_FLAC_BPS = {1: 8, 2: 12, 4: 16, 5: 20, 6: 24}


def decode_flac(payload: bytes) -> dict:
    """Pure-stdlib FLAC decode — all subframe types (CONSTANT/VERBATIM/
    FIXED/LPC), Rice residual partitions with escapes, wasted bits,
    left/right/mid-side stereo decorrelation, CRC-verified frame
    headers.  Returns the same dict shape as :func:`decode_wav`
    (sample_rate, n_channels, (n, ch) float64 samples in [-1, 1])."""
    if payload[:4] != b"fLaC":
        raise ValueError("not a FLAC payload")
    pos = 4
    info = None
    while True:  # metadata blocks
        hdr = payload[pos]
        (length,) = _struct.unpack(">I", b"\x00" + payload[pos + 1 : pos + 4])
        body = payload[pos + 4 : pos + 4 + length]
        if hdr & 0x7F == 0:  # STREAMINFO
            r = _FlacBitReader(body)
            r.read(16), r.read(16), r.read(24), r.read(24)
            rate = r.read(20)
            nch = r.read(3) + 1
            bps = r.read(5) + 1
            total = r.read(36)
            info = {"rate": rate, "nch": nch, "bps": bps, "total": total}
        pos += 4 + length
        if hdr & 0x80:
            break
    if info is None:
        raise ValueError("FLAC payload missing STREAMINFO")
    r = _FlacBitReader(payload, pos)
    channels: list[list[int]] = [[] for _ in range(info["nch"])]
    while not r.at_end():
        hdr_start = r.bytepos
        sync = r.read(14)
        if sync != 0x3FFE:
            raise ValueError("bad FLAC frame sync")
        r.read(1)  # reserved
        r.read(1)  # blocking strategy
        bs_code = r.read(4)
        rate_code = r.read(4)
        chan_code = r.read(4)
        bps_code = r.read(3)
        r.read(1)  # reserved
        _flac_utf8_number(r)
        if bs_code == 6:
            blocksize = r.read(8) + 1
        elif bs_code == 7:
            blocksize = r.read(16) + 1
        elif bs_code in _FLAC_BLOCKSIZES:
            blocksize = _FLAC_BLOCKSIZES[bs_code]
        elif bs_code >= 8:
            blocksize = 256 << (bs_code - 8)
        else:
            raise ValueError(f"reserved FLAC blocksize code {bs_code}")
        if rate_code == 12:
            r.read(8)
        elif rate_code in (13, 14):
            r.read(16)
        bps = _FLAC_BPS.get(bps_code, info["bps"]) if bps_code else info["bps"]
        hdr_bytes = payload[hdr_start : r.bytepos]
        if r.read(8) != _crc8(hdr_bytes):
            raise ValueError("FLAC frame header CRC mismatch")
        if chan_code < 8:
            nch = chan_code + 1
            subs = [_flac_subframe(r, blocksize, bps) for _ in range(nch)]
        else:  # stereo decorrelation: the side channel carries +1 bit
            if chan_code > 10:
                raise ValueError(f"reserved FLAC channel assignment {chan_code}")
            extra = (1, 0) if chan_code == 9 else (0, 1)  # which slot is side
            a = _flac_subframe(r, blocksize, bps + extra[0])
            b = _flac_subframe(r, blocksize, bps + extra[1])
            if chan_code == 8:  # left + side(=l-r)
                left, side = a, b
                subs = [left, [l - s for l, s in zip(left, side)]]
            elif chan_code == 9:  # side + right
                side, right = a, b
                subs = [[s + rr for s, rr in zip(side, right)], right]
            else:  # mid + side
                mid, side = a, b
                subs = [[], []]
                for m, s in zip(mid, side):
                    m2 = (m << 1) | (s & 1)
                    subs[0].append((m2 + s) >> 1)
                    subs[1].append((m2 - s) >> 1)
        r.align()
        frame_bytes = payload[hdr_start : r.bytepos]
        if r.read(16) != _crc16(frame_bytes):
            raise ValueError("FLAC frame CRC-16 mismatch")
        for ci, s in enumerate(subs):
            channels[ci].extend(s)
        if info["total"] and len(channels[0]) >= info["total"]:
            break
    n = info["total"] or len(channels[0])
    scale = float(1 << (info["bps"] - 1))
    samples = (
        np.array([ch[:n] for ch in channels], np.float64).T / scale
    )
    return {
        "sample_rate": info["rate"],
        "n_channels": info["nch"],
        "samples": samples,
    }


class _FlacBitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc, self.nacc = 0, 0

    def write(self, value: int, n: int) -> None:
        self.acc = (self.acc << n) | (value & ((1 << n) - 1))
        self.nacc += n
        while self.nacc >= 8:
            self.nacc -= 8
            self.out.append((self.acc >> self.nacc) & 0xFF)
        self.acc &= (1 << self.nacc) - 1

    def align(self) -> None:
        if self.nacc:
            self.write(0, 8 - self.nacc)


def _flac_write_residual(
    w: _FlacBitWriter,
    res: list[int],
    escape: bool = False,
    po: int = 0,
    blocksize: int = 0,
    order: int = 0,
) -> None:
    """Rice residual; ``escape`` forces the raw-bits escape code (param
    = all-ones) the way real encoders do on incompressible blocks;
    ``po`` > 0 splits the block into 2^po partitions with independent
    Rice parameters (requires blocksize divisible by 2^po and the first
    partition longer than the predictor order)."""
    w.write(0, 2)  # method 0: 4-bit rice params
    w.write(po, 4)
    if escape:
        w.write(15, 4)
        w.write(20, 5)  # raw width: covers order-2 residuals of 16-bit pcm
        for e in res:
            w.write(e & ((1 << 20) - 1), 20)
        return

    def one_partition(part: list[int]) -> None:
        zz = [(abs(e) << 1) - (e < 0) for e in part]
        param = 0
        while param < 14 and zz and max(zz) >> param > 31:
            param += 1
        w.write(param, 4)
        for u in zz:
            q = u >> param
            w.write(1, q + 1)  # q zeros then the 1 terminator
            if param:
                w.write(u & ((1 << param) - 1), param)

    if po == 0:
        one_partition(res)
        return
    i = 0
    for p in range(1 << po):
        n = (blocksize >> po) - (order if p == 0 else 0)
        one_partition(res[i : i + n])
        i += n


def encode_flac(
    samples: np.ndarray,
    sample_rate: int = 8000,
    bps: int = 16,
    blocksize: int = 256,
    mode: str = "verbatim",
) -> bytes:
    """Minimal valid FLAC writer for fixtures and the audio lane:
    ``samples`` is (n, ch) float64 in [-1, 1] (or int already scaled —
    pass ints via float conversion).  ``mode``: 'verbatim' (raw
    subframes), 'constant' (uses CONSTANT where a block is flat, else
    verbatim), 'fixed2' (order-2 fixed predictor + Rice residual),
    'lpc1' (order-1 LPC mathematically equal to fixed-1 — exercises the
    decoder's LPC path), 'ms' (stereo mid/side decorrelation with
    verbatim subframes).  All modes are lossless; every stream carries
    real STREAMINFO, CRC-8 frame headers and CRC-16 frame trailers."""
    s = np.asarray(samples)
    if s.ndim == 1:
        s = s[:, None]
    ints = np.clip(np.rint(s * (1 << (bps - 1))), -(1 << (bps - 1)), (1 << (bps - 1)) - 1).astype(np.int64)
    n, nch = ints.shape
    if mode == "ms" and nch != 2:
        raise ValueError("mid/side mode needs stereo input")

    out = bytearray(b"fLaC")
    si = _FlacBitWriter()
    si.write(blocksize, 16)
    si.write(blocksize, 16)
    si.write(0, 24)
    si.write(0, 24)
    si.write(sample_rate, 20)
    si.write(nch - 1, 3)
    si.write(bps - 1, 5)
    si.write(n, 36)
    out += bytes([0x80]) + (34).to_bytes(3, "big") + bytes(si.out) + bytes(16)

    def subframe(w: _FlacBitWriter, ch: list[int], sub_bps: int, smode: str) -> None:
        w.write(0, 1)  # padding
        if smode == "constant":
            w.write(0, 6)
            w.write(0, 1)  # no wasted bits
            w.write(ch[0] & ((1 << sub_bps) - 1), sub_bps)
        elif smode == "verbatim":
            w.write(1, 6)
            w.write(0, 1)
            for v in ch:
                w.write(v & ((1 << sub_bps) - 1), sub_bps)
        elif smode in ("fixed2", "fixed2esc", "fixed2po2"):
            order = min(2, len(ch) - 1) if len(ch) > 1 else 0
            w.write(8 + order, 6)
            w.write(0, 1)
            for v in ch[:order]:
                w.write(v & ((1 << sub_bps) - 1), sub_bps)
            coefs = _FLAC_FIXED_COEFS[order]
            res = [
                ch[i] - sum(c * ch[i - j - 1] for j, c in enumerate(coefs))
                for i in range(order, len(ch))
            ]
            po = 2 if smode == "fixed2po2" and len(ch) % 4 == 0 and len(ch) // 4 > order else 0
            _flac_write_residual(
                w, res, escape=smode == "fixed2esc",
                po=po, blocksize=len(ch), order=order,
            )
        elif smode == "lpc1":
            w.write(32, 6)  # LPC order 1
            w.write(0, 1)
            w.write(ch[0] & ((1 << sub_bps) - 1), sub_bps)
            w.write(14, 4)  # precision 15
            w.write(0, 5)  # shift 0
            w.write(1 & 0x7FFF, 15)  # coefficient = 1 -> pred = prev
            res = [ch[i] - ch[i - 1] for i in range(1, len(ch))]
            _flac_write_residual(w, res)
        else:
            raise ValueError(f"unknown FLAC fixture mode {smode}")

    frame_no = 0
    for start in range(0, n, blocksize):
        blk = ints[start : start + blocksize]
        bs = blk.shape[0]
        w = _FlacBitWriter()
        w.write(0x3FFE, 14)
        w.write(0, 1)
        w.write(0, 1)  # fixed-blocksize stream
        w.write(7, 4)  # 16-bit blocksize-1 follows
        w.write(0, 4)  # rate from STREAMINFO
        chan_code = 10 if mode == "ms" else nch - 1
        w.write(chan_code, 4)
        w.write({8: 1, 12: 2, 16: 4, 20: 5, 24: 6}[bps], 3)
        w.write(0, 1)
        if frame_no < 0x80:
            w.write(frame_no, 8)
        else:  # 2-byte UTF-8 form (fixtures never exceed it)
            w.write(0xC0 | (frame_no >> 6), 8)
            w.write(0x80 | (frame_no & 0x3F), 8)
        w.write(bs - 1, 16)
        hdr = bytes(w.out)
        assert w.nacc == 0
        w.write(_crc8(hdr), 8)
        if mode == "ms":
            left, right = blk[:, 0], blk[:, 1]
            mid = (left + right) >> 1
            side = left - right
            sub_mode = "verbatim"
            subframe(w, [int(v) for v in mid], bps, sub_mode)
            subframe(w, [int(v) for v in side], bps + 1, sub_mode)
        else:
            for ci in range(nch):
                ch = [int(v) for v in blk[:, ci]]
                smode = mode
                if mode == "constant":
                    smode = "constant" if len(set(ch)) == 1 else "verbatim"
                if mode in ("fixed2", "fixed2esc", "fixed2po2", "lpc1") and bs < 3:
                    smode = "verbatim"
                subframe(w, ch, bps, smode)
        w.align()
        frame = bytes(w.out)
        w.write(_crc16(frame), 16)
        out += bytes(w.out)
        frame_no += 1
    return bytes(out)


def media_features(payload: bytes) -> list[float] | None:
    """Magic-byte-routed REAL features (fixed dim FEATURE_DIM).

    PPM/PGM: [width, height, channels, mean/std/min/max of the pixel
    values normalized by maxval, edge energy (mean |horizontal diff|)].
    WAV: [sample_rate, channels, duration_s, rms, peak, zero-cross
    rate, mean, dynamic range]. Returns None for unrecognized bytes.
    """
    if _is_image(payload):
        img = decode_image(payload)
        norm = img["pixels"].astype(np.float64) / img["maxval"]
        return [
            float(img["width"]),
            float(img["height"]),
            float(norm.shape[2]),
            float(norm.mean()),
            float(norm.std()),
            float(norm.min()),
            float(norm.max()),
            float(np.abs(np.diff(norm, axis=1)).mean()) if img["width"] > 1 else 0.0,
        ]
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        return _audio_features(decode_wav(payload))
    if payload[:4] == b"fLaC":
        return _audio_features(decode_audio(payload))
    return None


def decode_audio(payload: bytes) -> dict:
    """FLAC router, mirroring :func:`decode_image`'s native-first
    policy: the compiled FLAC shim (``native_codecs``, exact integer
    parity — FLAC is lossless) when it loads, the stdlib decoder
    otherwise or under ``TCDB_SPARK_NATIVE_CODECS=0``; native failures
    fall through so error messages stay the stdlib twin's."""
    from tcdb_spark.sources import native_codecs as _nc

    if _nc.flac_enabled():
        try:
            return _nc.decode_flac_native(payload)
        except (ValueError, RuntimeError, OSError):
            pass
    return decode_flac(payload)


def _audio_features(wav: dict) -> list[float]:
    """Shared audio feature vector over a decoded {sample_rate,
    n_channels, samples} dict (WAV and FLAC branches)."""
    s = wav["samples"]
    mono = s.mean(axis=1)
    dur = s.shape[0] / wav["sample_rate"]
    zc = (
        float(np.mean(np.signbit(mono[1:]) != np.signbit(mono[:-1])))
        if len(mono) > 1
        else 0.0
    )
    return [
        float(wav["sample_rate"]),
        float(wav["n_channels"]),
        float(dur),
        float(np.sqrt(np.mean(s * s))),
        float(np.abs(s).max()),
        zc,
        float(s.mean()),
        float(s.max() - s.min()),
    ]


def _fake_features(payload: bytes, dim: int = FEATURE_DIM) -> list[float]:
    """Deterministic stand-in for a decoder+featureizer: md5-seeded values
    in [0, 1). Stable across runs/engines — usable in golden tests."""
    import hashlib

    out = []
    for i in range(dim):
        h = hashlib.md5(payload + i.to_bytes(2, "big")).digest()
        out.append(int.from_bytes(h[:8], "big") / 2**64)
    return out


def extract_features(media: DataFrame, decode_stub: bool = True) -> DataFrame:
    """payload -> fixed-dim feature vector via mapInPandas (Arrow batches).

    PPM/PGM and PCM WAV payloads are decoded for real (magic-byte
    routing, pure numpy). Unrecognized formats fall back to the
    deterministic stub when ``decode_stub`` (keeps the distributed path
    testable), else raise where a PIL/ffmpeg call would sit.
    """

    def _one(p) -> list[float] | None:
        if p is None:
            return None
        payload = bytes(p)
        real = media_features(payload)
        if real is not None:
            return real
        if not decode_stub:
            raise NotImplementedError(
                "payload format needs codec libraries not in this container"
            )
        return _fake_features(payload)

    def _op(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            feats = [_one(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "media_type": pdf["media_type"],
                    "n_bytes": [len(bytes(p)) if p is not None else 0 for p in pdf["payload"]],
                    "features": feats,
                }
            )

    cols = ["media_id", "payload", "media_type"]
    return media.select(*cols).mapInPandas(_op, schema=FEATURES_SCHEMA)


def resize_ppm(payload: bytes, out_w: int, out_h: int) -> bytes:
    """REAL image resize for PPM/PGM payloads — nearest-neighbor via a
    numpy index map (two gathers, no Python pixel loop), re-encoded as
    the same Netpbm format. The pure-numpy stand-in for the
    PIL.Image.resize call a full deployment would route non-Netpbm
    formats through."""
    img = decode_ppm(payload)
    px = img["pixels"]
    resized = _resize_pixels(img, out_w, out_h)
    magic = b"P6" if px.shape[2] == 3 else b"P5"
    header = magic + f"\n{out_w} {out_h}\n{img['maxval']}\n".encode()
    return header + resized.tobytes()


def _resize_pixels(img: dict, out_w: int, out_h: int) -> np.ndarray:
    """Nearest-neighbor resize of a decoded image dict via a numpy index
    map (two gathers, no Python pixel loop)."""
    ys = (np.arange(out_h) * img["height"] // out_h).astype(np.intp)
    xs = (np.arange(out_w) * img["width"] // out_w).astype(np.intp)
    return img["pixels"][ys][:, xs]


def resize_png(payload: bytes, out_w: int, out_h: int) -> bytes:
    """REAL image resize for PNG payloads — same nearest-neighbor index
    map as :func:`resize_ppm`, re-encoded PNG (filter-0 rows).  Decodes
    through the router, so the native libpng path carries the hot loop
    when present (PNG is lossless: identical output either way)."""
    return encode_png(_resize_pixels(decode_image(payload), out_w, out_h))


def resize_jpeg(payload: bytes, out_w: int, out_h: int) -> bytes:
    """REAL image resize for JPEG payloads — decode (router: native
    libjpeg when present, within the +/-2 T.81 band of the stdlib
    twin), the same nearest-neighbor index map, re-encode near-lossless
    (flat quant 1, 4:4:4) so repeated pipeline passes do not compound
    generation loss."""
    return encode_jpeg(_resize_pixels(decode_image(payload), out_w, out_h))


RESIZED_SCHEMA = (
    "media_id long, media_type string, width int, height int, payload binary"
)


def resize_media(
    media: DataFrame, out_w: int, out_h: int, decode_stub: bool = True
) -> DataFrame:
    """Distributed image resize over the binary column: one Arrow batch
    per partition through mapInPandas, Netpbm payloads resized for real,
    other formats passed through untouched (``decode_stub``) or raising
    where the codec call would sit. The resize itself never shuffles —
    it's a map over whatever partitioning the media table already has,
    so at 100 TB it rides the scan."""

    def _one(p):
        if p is None:
            return None
        payload = bytes(p)
        if payload[:2] in (b"P5", b"P6"):
            return resize_ppm(payload, out_w, out_h)
        if payload[:8] == _PNG_MAGIC:
            return resize_png(payload, out_w, out_h)
        if payload[:3] == _JPEG_MAGIC:
            return resize_jpeg(payload, out_w, out_h)
        if not decode_stub:
            raise NotImplementedError(
                "payload format needs codec libraries not in this container"
            )
        return payload

    def _op(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            out = [_one(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "media_type": pdf["media_type"],
                    "width": out_w,
                    "height": out_h,
                    "payload": out,
                }
            )

    cols = ["media_id", "payload", "media_type"]
    return media.select(*cols).mapInPandas(_op, schema=RESIZED_SCHEMA)


def resample_wav(payload: bytes, out_rate: int) -> bytes:
    """REAL audio resample for PCM WAV payloads — per-channel linear
    interpolation onto the new time grid (np.interp, no Python sample
    loop), re-encoded 16-bit PCM at ``out_rate``.  The pure-numpy
    stand-in for the soxr/librosa call a full deployment would route
    compressed formats through; linear interp is exact on piecewise-
    linear signals, which the closed-form test exploits."""
    wav = decode_wav(payload)
    samples, in_rate = wav["samples"], wav["sample_rate"]
    n_in = samples.shape[0]
    n_out = max(1, int(round(n_in * out_rate / in_rate)))
    t_out = np.arange(n_out) * (in_rate / out_rate)
    t_in = np.arange(n_in, dtype=np.float64)
    resampled = np.stack(
        [np.interp(t_out, t_in, samples[:, c]) for c in range(samples.shape[1])],
        axis=1,
    )
    pcm = np.clip(np.rint(resampled * 32768.0), -32768, 32767).astype("<i2")
    n_ch = pcm.shape[1]
    fmt = _struct.pack(
        "<HHIIHH", 1, n_ch, out_rate, out_rate * 2 * n_ch, 2 * n_ch, 16
    )
    data = pcm.tobytes()
    body = b"WAVE" + b"fmt " + _struct.pack("<I", len(fmt)) + fmt
    body += b"data" + _struct.pack("<I", len(data)) + data
    return b"RIFF" + _struct.pack("<I", len(body)) + body


def resample_flac(payload: bytes, out_rate: int) -> bytes:
    """REAL audio resample for FLAC payloads — decode (any subframe
    type), the same per-channel linear interpolation as
    :func:`resample_wav`, re-encode FLAC (verbatim subframes —
    lossless, so repeated pipeline passes only pay the interpolation)."""
    flac = decode_flac(payload)
    samples, in_rate = flac["samples"], flac["sample_rate"]
    n_in = samples.shape[0]
    n_out = max(1, int(round(n_in * out_rate / in_rate)))
    t_out = np.arange(n_out) * (in_rate / out_rate)
    t_in = np.arange(n_in, dtype=np.float64)
    resampled = np.stack(
        [np.interp(t_out, t_in, samples[:, c]) for c in range(samples.shape[1])],
        axis=1,
    )
    return encode_flac(resampled, sample_rate=out_rate)


RESAMPLED_SCHEMA = "media_id long, sample_rate int, payload binary"


def resample_media(
    media: DataFrame, out_rate: int, decode_stub: bool = True
) -> DataFrame:
    """Distributed audio resample over the binary column — same
    shuffle-free mapInPandas shape as :func:`resize_media`: RIFF/WAVE
    payloads resampled for real, other formats passed through
    (``decode_stub``) or raising where the codec call would sit."""

    def _one(p):
        if p is None:
            return None
        payload = bytes(p)
        if payload[:4] == b"RIFF":
            return resample_wav(payload, out_rate)
        if payload[:4] == b"fLaC":
            return resample_flac(payload, out_rate)
        if not decode_stub:
            raise NotImplementedError(
                "payload format needs codec libraries not in this container"
            )
        return payload

    def _op(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "sample_rate": out_rate,
                    "payload": [_one(p) for p in pdf["payload"]],
                }
            )

    return media.select("media_id", "payload").mapInPandas(
        _op, schema=RESAMPLED_SCHEMA
    )


def frame_sample_plan(media: DataFrame, every_s: float = 1.0) -> DataFrame:
    """Video frame-sampling PLUMBING: expands (media_id, duration_s) into
    one row per sampled timestamp with ``sequence`` (JVM-side); the decode
    of each frame is the stubbed step above. Demonstrates the explode
    pattern that keeps frame parallelism in Spark, not in the codec."""
    n = (F.col("duration_s") / every_s).cast("int")
    return (
        media.select("media_id", "media_type", "duration_s")
        .where(F.col("duration_s").isNotNull())
        .withColumn("frame_idx", F.explode(F.sequence(F.lit(0), n)))
        .withColumn("frame_ts_s", F.col("frame_idx") * every_s)
    )


def make_test_ppm(width: int = 8, height: int = 6, maxval: int = 255) -> bytes:
    """Deterministic P6 gradient fixture (with a header comment, which
    real Netpbm writers emit): pixel (x, y) = (x*30, y*40, (x+y)*10),
    clipped to maxval."""
    header = f"P6\n# tcdb_spark test fixture\n{width} {height}\n{maxval}\n".encode()
    px = bytearray()
    for y in range(height):
        for x in range(width):
            px += bytes(
                min(v, maxval) for v in (x * 30, y * 40, (x + y) * 10)
            )
    return header + bytes(px)


def make_test_wav(
    sample_rate: int = 8000, n_frames: int = 800, period: int = 16, amp: int = 8192
) -> bytes:
    """Deterministic 16-bit mono PCM square-wave fixture: amplitude
    8192 = 0.25 exactly in [-1, 1], so rms/peak are closed-form."""
    samples = [
        amp if (i // (period // 2)) % 2 == 0 else -amp for i in range(n_frames)
    ]
    data = b"".join(_struct.pack("<h", s) for s in samples)
    fmt = _struct.pack("<HHIIHH", 1, 1, sample_rate, sample_rate * 2, 2, 16)
    body = b"WAVE" + b"fmt " + _struct.pack("<I", len(fmt)) + fmt
    body += b"data" + _struct.pack("<I", len(data)) + data
    return b"RIFF" + _struct.pack("<I", len(body)) + body


# ------------------------------------------------- perceptual image hashing

AHASH_GRID = 8  # 8x8 cells -> 64-bit average hash

AHASH_SCHEMA = "media_id long, ahash long"


def ahash_image(payload: bytes, grid: int = AHASH_GRID) -> int:
    """Average hash (aHash) of any decodable image payload (PPM/PGM or
    PNG — magic-routed): grayscale -> grid x grid block means -> one bit
    per cell (cell >= global cell mean), packed row-major MSB-first.
    Returns the UNSIGNED 64-bit value; :func:`media_ahash` converts to
    Spark's signed LongType.

    Format-agnostic by construction: the SAME pixels encoded as PPM and
    as PNG hash identically (pinned in tests), which is what lets
    `image_phash_dedup` find cross-format re-encodes.  aHash is
    brightness-shift invariant (adding a constant to every pixel shifts
    every cell mean and the threshold by the same amount), which is
    exactly the near-duplicate class re-encoded/re-exposed images fall
    into."""
    img = decode_image(payload)
    px = img["pixels"].astype(np.float64).mean(axis=2)
    h, w = px.shape
    ys = (np.arange(grid + 1) * h) // grid
    xs = (np.arange(grid + 1) * w) // grid
    cells = np.empty((grid, grid))
    for r in range(grid):
        for c in range(grid):
            cells[r, c] = px[ys[r] : ys[r + 1], xs[c] : xs[c + 1]].mean()
    bits = (cells >= cells.mean()).ravel()
    val = 0
    for b in bits:
        val = (val << 1) | int(b)
    return val


def ahash_ppm(payload: bytes, grid: int = AHASH_GRID) -> int:
    """Back-compat alias: :func:`ahash_image` handles PPM/PGM and PNG."""
    return ahash_image(payload, grid)


def _ahash_signed(payload: bytes, decode_stub: bool = True) -> int:
    """64-bit aHash as a signed long (Spark LongType two's complement).
    Non-image payloads fall back to a deterministic md5 pseudo-hash
    (``decode_stub``) or raise where the codec call would sit."""
    if _is_image(payload):
        v = ahash_image(payload)
    elif decode_stub:
        import hashlib

        v = int.from_bytes(hashlib.md5(payload).digest()[:8], "big")
    else:
        raise NotImplementedError(
            "payload format needs codec libraries not in this container"
        )
    return v - (1 << 64) if v >= (1 << 63) else v


def media_ahash(media: DataFrame, decode_stub: bool = True) -> DataFrame:
    """(media_id, payload) -> (media_id, ahash) via Arrow-batched
    mapInPandas — the hashing map rides the scan (no shuffle); only the
    8-byte hashes continue into the dedup join, the payloads never do."""

    def _op(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "ahash": [
                        _ahash_signed(bytes(p), decode_stub) if p is not None else None
                        for p in pdf["payload"]
                    ],
                }
            )

    return media.select("media_id", "payload").mapInPandas(_op, schema=AHASH_SCHEMA)


def media_near_dup_pairs(
    hashes: DataFrame, max_hamming: int = 7, bands: int = 8
) -> DataFrame:
    """Near-duplicate media pairs by banded Hamming join over 64-bit
    perceptual hashes: split each hash into ``bands`` equal bit-bands,
    equi-join on (band index, band value), then verify the true Hamming
    distance with ``bit_count(a ^ b) <= max_hamming``.

    EXACT for ``max_hamming < bands`` by pigeonhole — fewer differing
    bits than bands means at least one band is identical, so the banded
    equi-join provably finds every qualifying pair and the verify step
    discards false candidates; no all-pairs join exists anywhere.  With
    the defaults (8 bands of 8 bits, threshold 7) this is the media twin
    of the text SimHash lane (operators/textdedup): candidate volume is
    bounded by per-(band, value) bucket sizes, the hot-bucket hazard and
    its df-cap mitigation carry over unchanged at corpus scale."""
    if max_hamming >= bands:
        raise ValueError(
            f"banded join is only exact for max_hamming < bands "
            f"(got {max_hamming} >= {bands})"
        )
    width = 64 // bands
    mask = (1 << width) - 1
    band_exprs = ", ".join(
        f"CAST(shiftrightunsigned(ahash, {width * (bands - 1 - b)}) & {mask} AS INT)"
        for b in range(bands)
    )
    # Barrier (round 9, mirrors video_near_dup_pairs' fh persist): the
    # hash table feeds BOTH sides of the banded self-join — without it
    # the upstream decode+hash mapInPandas runs once per branch, i.e.
    # every payload is DECODED TWICE (at corpus scale the decode is the
    # lane's dominant cost; guide §2.4).  Fixture-scale A/B (r9):
    # persist-only is also mildly faster there (0.88 -> 0.83 s image,
    # 0.89 -> 0.80 s audio); the two rejected variants — coalescing the
    # fixture frames and capping the cached table's partition count via
    # df.rdd.getNumPartitions() — each measured a NET LOSS (+0.3-0.5 s:
    # per-call RDD-conversion planning and lost slice parallelism), so
    # the hash table keeps its parent scan's partitioning.
    h = hashes.where(F.col("ahash").isNotNull()).persist()
    banded = h.selectExpr(
        "media_id", "ahash", f"posexplode(array({band_exprs})) AS (band, bval)"
    )
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bval") == F.col("b.bval"))
            & (F.col("a.media_id") < F.col("b.media_id")),
        )
        .select(
            F.col("a.media_id").alias("media_id_a"),
            F.col("b.media_id").alias("media_id_b"),
            F.col("a.ahash").alias("ha"),
            F.col("b.ahash").alias("hb"),
        )
        .distinct()  # a pair can collide in several bands; dedup BEFORE popcount
    )
    return cand.select(
        "media_id_a",
        "media_id_b",
        F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))).cast("int").alias("hamming"),
    ).where(F.col("hamming") <= max_hamming)


def make_patterned_ppm(
    seed: str,
    width: int = 32,
    height: int = 24,
    grid: int = AHASH_GRID,
    brightness: int = 0,
    flip_cells: tuple = (),
) -> bytes:
    """Deterministic high-contrast P5 fixture for the perceptual-hash
    lane: each aHash cell is uniformly dark (10) or bright (200) from
    md5(seed, cell) — cell means sit far from the global mean, so the
    hash is stable under the uniform ``brightness`` shift (no clipping:
    values stay within [10, 208]) and ``flip_cells`` inverts exactly the
    named cells (one hash bit each)."""
    import hashlib

    rows = []
    for y in range(height):
        row = []
        for x in range(width):
            cr, cc = (y * grid) // height, (x * grid) // width
            on = int.from_bytes(
                hashlib.md5(f"{seed}:{cr}:{cc}".encode()).digest()[:2], "big"
            ) % 2 == 0
            if (cr, cc) in flip_cells:
                on = not on
            row.append((200 if on else 10) + brightness)
        rows.append(row)
    header = f"P5\n{width} {height}\n255\n".encode()
    return header + bytes(v for row in rows for v in row)


def ahash_bands(hashes: DataFrame, bands: int = 8) -> DataFrame:
    """(media_id, ahash) -> (media_id, ahash, band, bval) band rows —
    the stored form of a perceptual-hash index (plain parquet append;
    rows are immutable), shared by the one-shot ``media_near_dup_pairs``
    shape and the incremental day-N path below."""
    width = 64 // bands
    mask = (1 << width) - 1
    band_exprs = ", ".join(
        f"CAST(shiftrightunsigned(ahash, {width * (bands - 1 - b)}) & {mask} AS INT)"
        for b in range(bands)
    )
    return hashes.where(F.col("ahash").isNotNull()).selectExpr(
        "media_id", "ahash", f"posexplode(array({band_exprs})) AS (band, bval)"
    )


def incremental_ahash_candidates(
    index: DataFrame, new_bands: DataFrame, max_hamming: int = 7, bands: int = 8
) -> DataFrame:
    """Near-duplicate media pairs introduced by a NEW batch against a
    stored perceptual-hash band index (plus within the batch itself) —
    the media twin of ``operators/textdedup.incremental_lsh_candidates``:
    day N's media is hashed once, banded, joined against ``index UNION
    new`` on (band, bval), and verified by popcount; cost is
    O(batch x collisions), never O(corpus^2).  Exactness carries over
    from the one-shot shape (pigeonhole: max_hamming < bands).  Append
    ``new_bands`` to the stored index afterwards.

    Returns (media_id_a, media_id_b, hamming) with a < b — sides are
    normalized by least/greatest(media_id), so for a cross-batch pair
    the new-batch row lands on whichever side its id sorts to (the pair
    key is provenance-agnostic by design: replaying a batch or merging
    two indexes yields identical pair rows)."""
    if max_hamming >= bands:
        raise ValueError(
            f"banded join is only exact for max_hamming < bands "
            f"(got {max_hamming} >= {bands})"
        )
    cross = (
        index.alias("a")
        .join(
            new_bands.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bval") == F.col("b.bval"))
            & (F.col("a.media_id") != F.col("b.media_id")),
        )
        .select(
            F.least(F.col("a.media_id"), F.col("b.media_id")).alias("media_id_a"),
            F.greatest(F.col("a.media_id"), F.col("b.media_id")).alias("media_id_b"),
            F.least(F.col("a.ahash"), F.col("b.ahash")).alias("ha"),
            F.greatest(F.col("a.ahash"), F.col("b.ahash")).alias("hb"),
        )
    )
    within = (
        new_bands.alias("x")
        .join(
            new_bands.alias("y"),
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bval") == F.col("y.bval"))
            & (F.col("x.media_id") < F.col("y.media_id")),
        )
        .select(
            F.col("x.media_id").alias("media_id_a"),
            F.col("y.media_id").alias("media_id_b"),
            F.col("x.ahash").alias("ha"),
            F.col("y.ahash").alias("hb"),
        )
    )
    cand = cross.unionByName(within).distinct()
    return cand.select(
        "media_id_a",
        "media_id_b",
        F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))).cast("int").alias("hamming"),
    ).where(F.col("hamming") <= max_hamming)


# ---------------------------------------------------- DCT perceptual hash

PHASH_INPUT = 32  # downsample target before the 2D DCT


def _dct_basis_n(n: int) -> np.ndarray:
    """Orthonormal n x n DCT-II basis (the 8x8 `_DCT_T` generalized):
    T[u, x] = sqrt(2/n) c(u) cos((2x+1)u pi/(2n)); forward F = T f T^T."""
    x = np.arange(n)
    t = np.sqrt(2.0 / n) * np.cos(
        (2 * x[None, :] + 1) * np.arange(n)[:, None] * np.pi / (2 * n)
    )
    t[0] *= 1 / np.sqrt(2)
    return t


_PHASH_T = _dct_basis_n(PHASH_INPUT)


def phash_image(payload: bytes, grid: int = AHASH_GRID) -> int:
    """DCT perceptual hash (the classic pHash): grayscale -> 32x32
    nearest-neighbor downsample -> 2D DCT-II -> keep the top-left
    ``grid x grid`` low-frequency block -> bit = coefficient > MEDIAN of
    the block, packed row-major MSB-first.  Returns the UNSIGNED 64-bit
    value.

    Complementary robustness to :func:`ahash_image`: the low-frequency
    DCT block survives RECOMPRESSION (JPEG quantization attacks high
    frequencies first) and RESIZING (the 32x32 downsample normalizes
    scale), while the median threshold absorbs uniform brightness/
    contrast shifts (brightness moves only the DC coefficient; contrast
    scales all coefficients, which preserves every >median comparison).
    Same output contract as ahash_image, so ``media_near_dup_pairs``,
    ``ahash_bands`` and ``incremental_ahash_candidates`` compose
    unchanged."""
    img = decode_image(payload)
    gray = img["pixels"].astype(np.float64).mean(axis=2)
    small = _resize_pixels(
        {"pixels": gray, "width": img["width"], "height": img["height"]},
        PHASH_INPUT,
        PHASH_INPUT,
    )
    coeffs = _PHASH_T @ small @ _PHASH_T.T
    block = coeffs[:grid, :grid].ravel()
    med = float(np.median(block))
    val = 0
    for c in block:
        val = (val << 1) | int(c > med)
    return val


def media_dct_phash(media: DataFrame, decode_stub: bool = True) -> DataFrame:
    """(media_id, payload) -> (media_id, ahash) with the DCT pHash —
    the recompression/resize-robust twin of :func:`media_ahash`, same
    AHASH_SCHEMA so every downstream consumer (banded join, incremental
    index) composes unchanged."""

    def _signed(p) -> int | None:
        payload = bytes(p)
        if _is_image(payload):
            v = phash_image(payload)
        elif decode_stub:
            import hashlib

            v = int.from_bytes(hashlib.md5(payload).digest()[:8], "big")
        else:
            raise NotImplementedError(
                "payload format needs codec libraries not in this container"
            )
        return v - (1 << 64) if v >= (1 << 63) else v

    def _op(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "ahash": [
                        _signed(p) if p is not None else None
                        for p in pdf["payload"]
                    ],
                }
            )

    return media.select("media_id", "payload").mapInPandas(_op, schema=AHASH_SCHEMA)
