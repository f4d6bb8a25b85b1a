"""Pure-stdlib Avro Object Container File writer/reader — the fallback
behind ``write_columnar(fmt="avro")`` when the external spark-avro
module is absent (it is not in this image; VERDICT r6 "what's missing"
item 1).  Everything here is derived from the PUBLIC Apache Avro 1.11
specification: binary encoding (zigzag-varint longs, length-prefixed
strings/bytes, little-endian IEEE doubles, union index prefixes) and
the container layout (``Obj\\x01`` magic, file-metadata map with
``avro.schema``/``avro.codec``, 16-byte sync marker, blocks of
``count, byte-size, payload, sync``).  Codecs: ``null`` and
``deflate`` (raw RFC-1951, no zlib header — per the spec).

Scope: flat record schemas over the types the engine's tables actually
use — long/int, double/float, string, boolean, bytes, timestamp
(``timestamp-micros`` logical type) and date — every field written as
the nullable union ``["null", T]``.  The writer stashes the exact
Spark schema JSON under a ``spark.schema`` metadata key so the reader
round-trips types bit-exactly (Avro widens int->long and float->double;
the stash undoes it); foreign files without the stash map back through
the standard logical-type rules.

Distributed shape: the writer is one ``mapInPandas`` pass — each
partition serializes its Arrow batches and writes ONE container file
(``part-{pid:05d}.avro``, TaskContext-named like
sources/deck_source.py), so payload bytes never move to the driver;
the reader lists files with ``binaryFile`` and decodes inside
``mapInPandas`` (the sources/mat_ensemble.py shape).  Files are
self-describing (schema travels in the header), which is the point of
the format as an interchange surface.

Output files interchange with any stock Avro consumer
(avro-tools/fastavro/spark-avro — none are in this image, so the
conformance tests hand-assemble fixture bytes straight from the spec
instead, the tests/test_codec_conformance.py discipline).
"""

from __future__ import annotations

import hashlib
import io
import json
import os
import struct
import zlib
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

_MAGIC = b"Obj\x01"

# ---------------------------------------------------------------- primitives


def zigzag_encode(n: int) -> bytes:
    """Avro long: zigzag then base-128 varint, little-endian groups."""
    u = (n << 1) ^ (n >> 63)
    u &= (1 << 64) - 1
    out = bytearray()
    while True:
        b = u & 0x7F
        u >>= 7
        if u:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def zigzag_decode(buf: bytes, pos: int) -> tuple[int, int]:
    shift = u = 0
    while True:
        b = buf[pos]
        pos += 1
        u |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
    n = (u >> 1) ^ -(u & 1)
    return n, pos


# ----------------------------------------------------- schema spark <-> avro

_SPARK_TO_AVRO = {
    "long": "long",
    "integer": "int",
    "short": "int",
    "byte": "int",
    "double": "double",
    "float": "float",
    "string": "string",
    "boolean": "boolean",
    "binary": "bytes",
}


def _avro_field_type(dt: T.DataType) -> object:
    name = dt.typeName()
    if name in _SPARK_TO_AVRO:
        return _SPARK_TO_AVRO[name]
    if name in ("timestamp", "timestamp_ntz"):
        return {"type": "long", "logicalType": "timestamp-micros"}
    if name == "date":
        return {"type": "int", "logicalType": "date"}
    raise NotImplementedError(
        f"avro fallback supports flat scalar schemas; field type {name} "
        "would need the spark-avro module"
    )


def avro_schema_json(schema: T.StructType, name: str = "row") -> str:
    fields = [
        {"name": f.name, "type": ["null", _avro_field_type(f.dataType)]}
        for f in schema.fields
    ]
    return json.dumps(
        {
            "type": "record",
            "name": name,
            "namespace": "tcdb_spark",
            "fields": fields,
        }
    )


def _spark_schema_from_avro(avro_schema: dict) -> T.StructType:
    """Foreign-file path: map Avro types back through the standard
    logical-type rules (int->long widening NOT undone — Avro lost it)."""
    back = {
        "long": T.LongType(),
        "int": T.IntegerType(),
        "double": T.DoubleType(),
        "float": T.FloatType(),
        "string": T.StringType(),
        "boolean": T.BooleanType(),
        "bytes": T.BinaryType(),
    }
    fields = []
    for f in avro_schema["fields"]:
        t = f["type"]
        if isinstance(t, list):  # ["null", T]
            t = next(x for x in t if x != "null")
        if isinstance(t, dict):
            if t.get("logicalType") == "timestamp-micros":
                dt: T.DataType = T.TimestampType()
            elif t.get("logicalType") == "date":
                dt = T.DateType()
            else:
                dt = back[t["type"]]
        else:
            dt = back[t]
        fields.append(T.StructField(f["name"], dt, True))
    return T.StructType(fields)


# ------------------------------------------------------------------- encode


def _encoder_for(dt: T.DataType):
    """Per-field value encoder: Python value -> avro bytes (no union
    prefix; the caller writes that)."""
    name = dt.typeName()
    if name in ("long", "integer", "short", "byte"):
        return lambda v: zigzag_encode(int(v))
    if name in ("double",):
        return lambda v: struct.pack("<d", float(v))
    if name in ("float",):
        return lambda v: struct.pack("<f", float(v))
    if name == "string":
        def enc_s(v):
            b = str(v).encode("utf-8")
            return zigzag_encode(len(b)) + b
        return enc_s
    if name == "boolean":
        return lambda v: b"\x01" if v else b"\x00"
    if name == "binary":
        def enc_b(v):
            b = bytes(v)
            return zigzag_encode(len(b)) + b
        return enc_b
    if name in ("timestamp", "timestamp_ntz"):
        def enc_ts(v):  # pandas.Timestamp / datetime -> micros since epoch
            import pandas as pd

            return zigzag_encode(int(pd.Timestamp(v).value // 1000))
        return enc_ts
    if name == "date":
        def enc_d(v):
            import datetime as _dt

            epoch = _dt.date(1970, 1, 1)
            return zigzag_encode((v - epoch).days)
        return enc_d
    raise NotImplementedError(f"avro fallback: unsupported type {name}")


def _decoder_for(dt: T.DataType):
    name = dt.typeName()
    if name in ("long", "integer", "short", "byte"):
        def dec_i(buf, pos):
            return zigzag_decode(buf, pos)
        return dec_i
    if name == "double":
        def dec_d(buf, pos):
            return struct.unpack_from("<d", buf, pos)[0], pos + 8
        return dec_d
    if name == "float":
        def dec_f(buf, pos):
            return struct.unpack_from("<f", buf, pos)[0], pos + 4
        return dec_f
    if name in ("string", "binary"):
        def dec_s(buf, pos, _s=(name == "string")):
            n, pos = zigzag_decode(buf, pos)
            raw = bytes(buf[pos : pos + n])
            return (raw.decode("utf-8") if _s else raw), pos + n
        return dec_s
    if name == "boolean":
        def dec_b(buf, pos):
            return buf[pos] == 1, pos + 1
        return dec_b
    if name in ("timestamp", "timestamp_ntz"):
        def dec_ts(buf, pos):
            import pandas as pd

            n, pos = zigzag_decode(buf, pos)
            return pd.Timestamp(n * 1000), pos
        return dec_ts
    if name == "date":
        def dec_dt(buf, pos):
            import datetime as _dt

            n, pos = zigzag_decode(buf, pos)
            return _dt.date(1970, 1, 1) + _dt.timedelta(days=n), pos
        return dec_dt
    raise NotImplementedError(f"avro fallback: unsupported type {name}")


def _file_header(schema_json: str, spark_schema_json: str, codec: str, sync: bytes) -> bytes:
    meta = {
        "avro.schema": schema_json.encode(),
        "avro.codec": codec.encode(),
        "spark.schema": spark_schema_json.encode(),
    }
    out = bytearray(_MAGIC)
    out += zigzag_encode(len(meta))
    for k, v in meta.items():
        kb = k.encode()
        out += zigzag_encode(len(kb)) + kb
        out += zigzag_encode(len(v)) + v
    out += zigzag_encode(0)  # end of metadata map
    out += sync
    return bytes(out)


def write_avro_bytes(rows: list, schema: T.StructType, codec: str = "deflate", sync: bytes | None = None) -> bytes:
    """One complete container file as bytes: header + one block."""
    schema_json = avro_schema_json(schema)
    if sync is None:
        sync = hashlib.md5(schema_json.encode()).digest()
    encs = [_encoder_for(f.dataType) for f in schema.fields]
    body = bytearray()
    for row in rows:
        for enc, v in zip(encs, row):
            if v is None:
                body += zigzag_encode(0)  # union branch: null
            else:
                body += zigzag_encode(1) + enc(v)
    payload = bytes(body)
    if codec == "deflate":
        co = zlib.compressobj(level=6, wbits=-15)  # raw RFC-1951 per spec
        payload = co.compress(payload) + co.flush()
    elif codec != "null":
        raise NotImplementedError(f"avro fallback codec {codec!r}")
    out = bytearray(_file_header(schema_json, schema.json(), codec, sync))
    if rows:
        out += zigzag_encode(len(rows))
        out += zigzag_encode(len(payload))
        out += payload
        out += sync
    return bytes(out)


def parse_avro_bytes(data: bytes) -> tuple[T.StructType, list[tuple]]:
    """Decode one container file: (spark schema, rows).  Prefers the
    writer's ``spark.schema`` stash; foreign files map through the
    standard avro->spark rules."""
    if data[:4] != _MAGIC:
        raise ValueError("not an Avro object container file")
    try:
        return _parse_avro_body(data)
    except (KeyError, IndexError, OverflowError, TypeError, UnicodeDecodeError,
            zlib.error, json.JSONDecodeError, struct.error) as ex:
        # corrupt varints/metadata/blocks must surface as the documented
        # ValueError quarantine contract, never as the implementation's
        # internal exception (hypothesis fuzz finding,
        # tests/test_property_containers.py); NotImplementedError (codec
        # gate) and the explicit ValueErrors pass through untouched
        raise ValueError(f"malformed Avro container: {ex!r}") from ex


def _parse_avro_body(data: bytes) -> tuple[T.StructType, list[tuple]]:
    pos = 4
    meta: dict[str, bytes] = {}
    while True:
        n, pos = zigzag_decode(data, pos)
        if n == 0:
            break
        if n < 0:  # spec: negative count = abs count + byte size follows
            n = -n
            _, pos = zigzag_decode(data, pos)
        # a corrupt count or a negative length would otherwise loop for
        # as long as the count says, rereading the same bytes
        if n > len(data) - pos:
            raise ValueError("Avro metadata count runs past the file")
        for _ in range(n):
            kl, pos = zigzag_decode(data, pos)
            if kl < 0:
                raise ValueError("negative Avro metadata key length")
            k = data[pos : pos + kl].decode()
            pos += kl
            vl, pos = zigzag_decode(data, pos)
            if vl < 0:
                raise ValueError("negative Avro metadata value length")
            meta[k] = data[pos : pos + vl]
            pos += vl
    sync = data[pos : pos + 16]
    pos += 16
    codec = meta.get("avro.codec", b"null").decode()
    if "spark.schema" in meta:
        schema = T.StructType.fromJson(json.loads(meta["spark.schema"].decode()))
    else:
        schema = _spark_schema_from_avro(json.loads(meta["avro.schema"].decode()))
    decs = [_decoder_for(f.dataType) for f in schema.fields]
    rows: list[tuple] = []
    while pos < len(data):
        count, pos = zigzag_decode(data, pos)
        size, pos = zigzag_decode(data, pos)
        if size < 0:
            raise ValueError("negative Avro block size")
        block = data[pos : pos + size]
        pos += size
        if data[pos : pos + 16] != sync:
            raise ValueError("Avro block sync marker mismatch")
        pos += 16
        if codec == "deflate":
            block = zlib.decompress(block, wbits=-15)
        elif codec != "null":
            raise NotImplementedError(f"avro fallback codec {codec!r}")
        # every record holds at least its union-branch byte per field
        if not 0 <= count <= len(block):
            raise ValueError(f"Avro block count {count} exceeds its {len(block)} bytes")
        bpos = 0
        for _ in range(count):
            vals = []
            for dec in decs:
                branch, bpos = zigzag_decode(block, bpos)
                if branch == 0:
                    vals.append(None)
                else:
                    v, bpos = dec(block, bpos)
                    vals.append(v)
            rows.append(tuple(vals))
    return schema, rows


# -------------------------------------------------------------- distributed


def write_avro_files(df: DataFrame, path: str, codec: str = "deflate") -> int:
    """Distributed Avro sink: one container file per partition, written
    executor-side (payloads never visit the driver); returns total rows.
    ``path`` must be on a filesystem every executor can write — the
    same contract as session.scratch_dir."""
    schema = df.schema
    avro_schema_json(schema)  # raise NOW on unsupported types, not in tasks
    os.makedirs(path, exist_ok=True)

    def _write(batches: Iterator) -> Iterator:
        import pandas as pd
        from pyspark import TaskContext

        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx else 0
        rows: list[tuple] = []
        for pdf in batches:
            for rec in pdf.itertuples(index=False, name=None):
                rows.append(
                    tuple(None if _is_na(v) else v for v in rec)
                )
        if rows:
            fname = os.path.join(path, f"part-{pid:05d}.avro")
            tmp = f"{fname}.tmp.{os.getpid()}"
            with open(tmp, "wb") as fh:
                fh.write(write_avro_bytes(rows, schema, codec=codec))
            os.replace(tmp, fname)
        yield pd.DataFrame({"n": [len(rows)]})

    manifest = df.mapInPandas(_write, schema="n long")
    total = manifest.groupBy().sum("n").collect()[0][0]
    return int(total or 0)


def _is_na(v) -> bool:
    try:
        import pandas as pd

        return v is None or pd.isna(v)
    except (TypeError, ValueError):
        return False


def read_avro_files(spark: SparkSession, path: str) -> DataFrame:
    """Distributed Avro scan: ``binaryFile`` lists the container files,
    each decodes inside ``mapInPandas``.  The schema comes from the
    FIRST file's self-describing header (one small driver read of that
    file — Avro headers lead the file, and the fallback writes one file
    per partition, so this is a metadata-sized pull for our own output;
    for huge foreign single-file containers pass the schema by reading
    it yourself)."""
    files = spark.read.format("binaryFile").load(f"{path}/*.avro")
    first = files.orderBy("path").limit(1).select("content").collect()
    if not first:
        raise FileNotFoundError(f"no .avro files under {path}")
    schema, _ = parse_avro_bytes(bytes(first[0][0]))

    def _read(batches: Iterator) -> Iterator:
        import pandas as pd

        cols = [f.name for f in schema.fields]
        for pdf in batches:
            out: list[tuple] = []
            for payload in pdf["content"]:
                _, rows = parse_avro_bytes(bytes(payload))
                out.extend(rows)
            yield pd.DataFrame(out, columns=cols) if out else pd.DataFrame(
                {c: [] for c in cols}
            )

    return files.select("content").mapInPandas(_read, schema=schema)
