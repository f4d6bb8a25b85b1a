"""Hypothesis never-crash properties for the binary container parsers
(sources/mp4.py, sources/warc.py) — same discipline as the HTML
extractor's never-raises property (tests/test_web.py).

Contracts under fuzz:
- ``parse_mp4`` / ``video_track_meta``: return a dict or raise
  ``ValueError`` — never struct.error / IndexError / UnicodeError /
  OverflowError, which would mean a malformed 100 TB crawl shard kills
  the executor task instead of landing in the quarantine path.
- ``iter_warc_records``: NEVER raises — malformed/truncated input ends
  the iteration, and a truncated archive yields a prefix of the intact
  archive's records.
"""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from tcdb_spark.sources.mp4 import encode_mp4_mjpeg, parse_mp4, video_track_meta
from tcdb_spark.sources.warc import build_http_response, build_warc, iter_warc_records


def _valid_mp4() -> bytes:
    # three tiny fake-JPEG frames (dims parsed from SOF0 marker)
    frames = [
        b"\xff\xd8\xff\xc0\x00\x11\x08\x00\x10\x00\x10\x03" + bytes(20) + b"\xff\xd9"
        for _ in range(3)
    ]
    return encode_mp4_mjpeg(frames, width=16, height=16, fps=2)


def _valid_warc() -> bytes:
    recs = [
        {
            "warc_type": "response",
            "target_uri": f"http://example.com/{i}",
            "date": "2026-01-01T00:00:00Z",
            "record_id": f"<urn:uuid:{i}>",
            "payload": build_http_response(b"<p>hi</p>" * i),
        }
        for i in range(4)
    ]
    return build_warc(recs)


@given(st.binary(max_size=800))
@settings(max_examples=300, deadline=None)
def test_mp4_random_bytes_only_valueerror(data):
    for fn in (parse_mp4, video_track_meta):
        try:
            out = fn(data)
            assert isinstance(out, dict)
        except ValueError:
            pass


@given(st.data())
@settings(max_examples=300, deadline=None)
def test_mp4_mutated_only_valueerror(data):
    buf = bytearray(_valid_mp4())
    n_flips = data.draw(st.integers(1, 8))
    for _ in range(n_flips):
        i = data.draw(st.integers(0, len(buf) - 1))
        buf[i] = data.draw(st.integers(0, 255))
    cut = data.draw(st.integers(0, len(buf)))
    for payload in (bytes(buf), bytes(buf[:cut])):
        try:
            out = parse_mp4(payload)
            assert isinstance(out, dict)
        except ValueError:
            pass


@given(st.binary(max_size=800))
@settings(max_examples=300, deadline=None)
def test_warc_random_bytes_never_raises(data):
    recs = list(iter_warc_records(data))
    for r in recs:
        assert isinstance(r["payload"], bytes)


@given(st.data())
@settings(max_examples=200, deadline=None)
def test_warc_mutation_and_truncation_prefix(data):
    intact = _valid_warc()
    full = [r["record_id"] for r in iter_warc_records(intact)]
    assert len(full) == 4
    cut = data.draw(st.integers(0, len(intact)))
    prefix_ids = [r["record_id"] for r in iter_warc_records(intact[:cut])]
    assert prefix_ids == full[: len(prefix_ids)], "truncation must yield a prefix"
    # arbitrary single-byte mutation never raises
    buf = bytearray(intact)
    i = data.draw(st.integers(0, len(buf) - 1))
    buf[i] = data.draw(st.integers(0, 255))
    list(iter_warc_records(bytes(buf)))


@pytest.mark.parametrize("junk", [b"\x1f\x8b", b"\x1f\x8bjunk not gzip at all"])
def test_warc_gzip_magic_garbage(junk):
    """Bytes that claim gzip framing but aren't must end the iteration,
    not raise out of the gzip layer."""
    assert list(iter_warc_records(junk)) == []


# --- Avro object container + MAT5 — same fuzz discipline -------------------


def _valid_avro() -> bytes:
    from pyspark.sql import types as T

    from tcdb_spark.sources.avro_fallback import write_avro_bytes

    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("name", T.StringType()),
            T.StructField("score", T.DoubleType()),
        ]
    )
    rows = [(i, f"row{i}", i * 0.5) for i in range(20)]
    return write_avro_bytes(rows, schema, codec="deflate")


def _valid_mat() -> bytes:
    import io

    import numpy as np

    from tcdb_spark.sources.mat5 import save_mat

    buf = io.BytesIO()
    save_mat(buf, {"a": np.arange(12.0).reshape(3, 4), "label": "hello"})
    return buf.getvalue()


@given(st.binary(max_size=600))
@settings(max_examples=300, deadline=None)
def test_avro_random_bytes_only_valueerror(data):
    from tcdb_spark.sources.avro_fallback import parse_avro_bytes

    try:
        schema, rows = parse_avro_bytes(data)
        assert isinstance(rows, list)
    except ValueError:
        pass


@given(st.data())
@settings(max_examples=250, deadline=None)
def test_avro_mutated_only_valueerror(data):
    from tcdb_spark.sources.avro_fallback import parse_avro_bytes

    buf = bytearray(_valid_avro())
    for _ in range(data.draw(st.integers(1, 6))):
        i = data.draw(st.integers(0, len(buf) - 1))
        buf[i] = data.draw(st.integers(0, 255))
    cut = data.draw(st.integers(0, len(buf)))
    for payload in (bytes(buf), bytes(buf[:cut])):
        try:
            parse_avro_bytes(payload)
        except (ValueError, NotImplementedError):
            # a mutated codec string hits the documented codec gate
            pass


def test_avro_negative_metadata_length_raises_promptly():
    """One byte (a metadata value length turned negative) once sent the
    metadata loop rereading the same bytes for as long as its count said:
    the mutation fuzz above drew it at random and stalled the suite."""
    from tcdb_spark.sources.avro_fallback import parse_avro_bytes

    buf = bytearray(_valid_avro())
    buf[17] = 33
    with pytest.raises(ValueError, match="negative Avro metadata"):
        parse_avro_bytes(bytes(buf))


@given(st.binary(max_size=600))
@settings(max_examples=300, deadline=None)
def test_mat5_random_bytes_only_valueerror(data):
    from tcdb_spark.sources.mat5 import load_mat

    try:
        out = load_mat(data)
        assert isinstance(out, dict)
    except ValueError:
        pass


@given(st.data())
@settings(max_examples=250, deadline=None)
def test_mat5_mutated_only_valueerror(data):
    from tcdb_spark.sources.mat5 import load_mat

    buf = bytearray(_valid_mat())
    for _ in range(data.draw(st.integers(1, 6))):
        i = data.draw(st.integers(0, len(buf) - 1))
        buf[i] = data.draw(st.integers(0, 255))
    cut = data.draw(st.integers(0, len(buf)))
    for payload in (bytes(buf), bytes(buf[:cut])):
        try:
            load_mat(payload)
        except (ValueError, NotImplementedError):
            # a flipped byte can legitimately turn the class code into
            # sparse/object (the documented capability gate) or the
            # endian marker into big-endian
            pass
