"""Pure-Python Avro binary codec + object-container-file reader/writer.

The engine's ``readAvro``/``readAvroContainer`` commands (kite parity —
SURVEY.md §2 B.1) prefer spark-avro's ``from_avro`` (JVM, vectorized); this
module is the fallback when the spark-avro jar is absent from the
classpath, used behind an Arrow-batched pandas UDF.  It implements the
public Avro 1.11 binary encoding and container framing
(avro.apache.org/docs/current/specification — varint zigzag longs, UTF-8
strings, blocked arrays/maps, union index prefix, ``Obj\\x01`` container
magic, metadata map, sync-marker-delimited deflate/null blocks).

Decoded values are shaped for the Spark types that
``avro_schema.avro_to_spark`` maps each Avro type to (datetime for
timestamp-millis/micros, date for date, Decimal for decimal, str for
enum, bytes for fixed) so rows feed straight into an Arrow batch with the
converted StructType.

The writer exists for tests and the jar-less kafkaProducer encode path —
golden tests encode fixtures with it and decode through the engine.
"""

from __future__ import annotations

import datetime
import io
import json
import struct
import zlib
from decimal import Decimal
from typing import Any

MAGIC = b"Obj\x01"
_EPOCH_DATE = datetime.date(1970, 1, 1)
_EPOCH = datetime.datetime(1970, 1, 1)


class AvroCodecError(ValueError):
    pass


# --------------------------------------------------------------------------
# binary decoder
# --------------------------------------------------------------------------


class Reader:
    __slots__ = ("buf", "pos")

    def __init__(self, buf: bytes, pos: int = 0):
        self.buf = buf
        self.pos = pos

    def read(self, n: int) -> bytes:
        b = self.buf[self.pos : self.pos + n]
        if len(b) != n:
            raise AvroCodecError(f"truncated Avro data: wanted {n} bytes at {self.pos}")
        self.pos += n
        return b

    def read_long(self) -> int:
        """Zigzag varint (Avro int and long share this encoding)."""
        shift = 0
        accum = 0
        while True:
            (b,) = self.read(1)
            accum |= (b & 0x7F) << shift
            if not (b & 0x80):
                break
            shift += 7
        return (accum >> 1) ^ -(accum & 1)

    def read_bytes(self) -> bytes:
        return self.read(self.read_long())

    def at_end(self) -> bool:
        return self.pos >= len(self.buf)


def _decode(r: Reader, schema: Any) -> Any:
    if isinstance(schema, str):
        if schema == "null":
            return None
        if schema == "boolean":
            return r.read(1) == b"\x01"
        if schema in ("int", "long"):
            return r.read_long()
        if schema == "float":
            return struct.unpack("<f", r.read(4))[0]
        if schema == "double":
            return struct.unpack("<d", r.read(8))[0]
        if schema == "bytes":
            return r.read_bytes()
        if schema == "string":
            return r.read_bytes().decode("utf-8")
        raise AvroCodecError(f"unresolved Avro type name {schema!r}")
    if isinstance(schema, list):  # union: branch index as long
        idx = r.read_long()
        if not 0 <= idx < len(schema):
            raise AvroCodecError(f"union index {idx} out of range for {schema!r}")
        return _decode(r, schema[idx])
    if not isinstance(schema, dict):
        raise AvroCodecError(f"bad schema node {schema!r}")

    typ = schema["type"]
    logical = schema.get("logicalType")
    if logical and isinstance(typ, str):
        if logical == "date" and typ == "int":
            return _EPOCH_DATE + datetime.timedelta(days=r.read_long())
        if logical == "timestamp-millis" and typ == "long":
            return _EPOCH + datetime.timedelta(milliseconds=r.read_long())
        if logical == "timestamp-micros" and typ == "long":
            return _EPOCH + datetime.timedelta(microseconds=r.read_long())
        if logical == "decimal" and typ in ("bytes", "fixed"):
            raw = r.read_bytes() if typ == "bytes" else r.read(int(schema["size"]))
            unscaled = int.from_bytes(raw, "big", signed=True)
            return Decimal(unscaled).scaleb(-int(schema.get("scale", 0)))
        # unknown logical type: decode as the underlying type

    if typ == "record":
        return {f["name"]: _decode(r, f["type"]) for f in schema["fields"]}
    if typ == "array":
        out = []
        while True:
            n = r.read_long()
            if n == 0:
                break
            if n < 0:  # block with byte size prefix
                n = -n
                r.read_long()
            for _ in range(n):
                out.append(_decode(r, schema["items"]))
        return out
    if typ == "map":
        out = {}
        while True:
            n = r.read_long()
            if n == 0:
                break
            if n < 0:
                n = -n
                r.read_long()
            for _ in range(n):
                key = r.read_bytes().decode("utf-8")
                out[key] = _decode(r, schema["values"])
        return out
    if typ == "enum":
        return schema["symbols"][r.read_long()]
    if typ == "fixed":
        return r.read(int(schema["size"]))
    return _decode(r, typ)  # {"type": "string"} style wrapper


def decode_datum(buf: bytes, schema: str | dict | list) -> Any:
    """Decode one raw Avro datum (no container framing) with its schema."""
    if isinstance(schema, str) and schema.strip().startswith(("{", "[", '"')):
        schema = json.loads(schema)
    return _decode(Reader(bytes(buf)), schema)


# --------------------------------------------------------------------------
# binary encoder (tests + jar-less kafkaProducer encode)
# --------------------------------------------------------------------------


def _zigzag(n: int) -> bytes:
    n = (n << 1) ^ (n >> 63) if n < 0 else n << 1
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _encode(out: io.BytesIO, schema: Any, value: Any) -> None:
    if isinstance(schema, str):
        if schema == "null":
            return
        if schema == "boolean":
            out.write(b"\x01" if value else b"\x00")
        elif schema in ("int", "long"):
            out.write(_zigzag(int(value)))
        elif schema == "float":
            out.write(struct.pack("<f", float(value)))
        elif schema == "double":
            out.write(struct.pack("<d", float(value)))
        elif schema == "bytes":
            out.write(_zigzag(len(value)))
            out.write(bytes(value))
        elif schema == "string":
            b = value.encode("utf-8")
            out.write(_zigzag(len(b)))
            out.write(b)
        else:
            raise AvroCodecError(f"unresolved Avro type name {schema!r}")
        return
    if isinstance(schema, list):
        idx = _union_branch(schema, value)
        out.write(_zigzag(idx))
        _encode(out, schema[idx], value)
        return
    typ = schema["type"]
    logical = schema.get("logicalType")
    if logical and isinstance(typ, str):
        if logical == "date" and typ == "int":
            out.write(_zigzag((value - _EPOCH_DATE).days))
            return
        if logical == "timestamp-millis" and typ == "long":
            # integer arithmetic on the timedelta parts: total_seconds() is a
            # float and loses a millisecond for some timestamps (e.g.
            # 2004-02-01T00:00:00.804 -> ...803.9999 -> truncates to 803)
            delta = value - _EPOCH
            out.write(_zigzag(delta.days * 86_400_000 + delta.seconds * 1_000 + delta.microseconds // 1_000))
            return
        if logical == "timestamp-micros" and typ == "long":
            delta = value - _EPOCH
            out.write(_zigzag(delta.days * 86_400_000_000 + delta.seconds * 1_000_000 + delta.microseconds))
            return
        if logical == "decimal" and typ == "bytes":
            unscaled = int(value.scaleb(int(schema.get("scale", 0))))
            raw = unscaled.to_bytes((unscaled.bit_length() + 8) // 8 or 1, "big", signed=True)
            out.write(_zigzag(len(raw)))
            out.write(raw)
            return
    if typ == "record":
        for f in schema["fields"]:
            _encode(out, f["type"], value[f["name"]])
    elif typ == "array":
        if value:
            out.write(_zigzag(len(value)))
            for v in value:
                _encode(out, schema["items"], v)
        out.write(_zigzag(0))
    elif typ == "map":
        if value:
            out.write(_zigzag(len(value)))
            for k, v in value.items():
                b = k.encode("utf-8")
                out.write(_zigzag(len(b)))
                out.write(b)
                _encode(out, schema["values"], v)
        out.write(_zigzag(0))
    elif typ == "enum":
        out.write(_zigzag(schema["symbols"].index(value)))
    elif typ == "fixed":
        out.write(bytes(value))
    else:
        _encode(out, typ, value)


def _union_branch(schema: list, value: Any) -> int:
    """Select the union branch by the value's Python type (not just its
    null-ness), so unions with more than one non-null branch — e.g.
    ``["null","int","string"]`` — encode against the right writer type.
    First matching branch wins; bool is checked before int because
    ``bool`` subclasses ``int`` in Python."""

    def _type_name(branch: Any) -> str:
        if isinstance(branch, str):
            return branch
        if isinstance(branch, dict):
            t = branch.get("type")
            return t if isinstance(t, str) else _type_name(t)
        return ""

    def _matches(branch: Any) -> bool:
        t = _type_name(branch)
        logical = branch.get("logicalType") if isinstance(branch, dict) else None
        if value is None:
            return t == "null"
        if isinstance(value, bool):
            return t == "boolean"
        if isinstance(value, datetime.datetime):
            return logical in ("timestamp-millis", "timestamp-micros")
        if isinstance(value, datetime.date):
            return logical == "date"
        if isinstance(value, Decimal):
            return logical == "decimal"
        if isinstance(value, int):
            return t in ("long", "int")
        if isinstance(value, float):
            return t in ("double", "float")
        if isinstance(value, str):
            return t in ("string", "enum")
        if isinstance(value, (bytes, bytearray)):
            return t in ("bytes", "fixed")
        if isinstance(value, dict):
            return t in ("record", "map")
        if isinstance(value, (list, tuple)):
            return t == "array"
        return False

    for i, branch in enumerate(schema):
        if _matches(branch):
            return i
    raise AvroCodecError(
        f"no union branch in {schema!r} matches {type(value).__name__} value {value!r}"
    )


def encode_datum(value: Any, schema: str | dict | list) -> bytes:
    if isinstance(schema, str) and schema.strip().startswith(("{", "[", '"')):
        schema = json.loads(schema)
    out = io.BytesIO()
    _encode(out, schema, value)
    return out.getvalue()


# --------------------------------------------------------------------------
# Confluent single-record wire format
# --------------------------------------------------------------------------

# The Schema-Registry serde frames every Kafka record value as
#   0x00 (magic) | 4-byte big-endian schema id | Avro binary datum
# (KafkaAvroSerializer — the serializer the reference installs by default,
# /root/reference/src/main/java/.../KafkaDataProducerCommandBuilder.java:251-256).
# A consumer resolves the embedded id against the registry; the framing is
# what makes the bytes interoperable with any Confluent-ecosystem client.
CONFLUENT_MAGIC = b"\x00"


def encode_confluent(value: Any, schema: str | dict | list, schema_id: int) -> bytes:
    """Wire-format bytes: magic 0x00 + BE schema id + Avro binary datum."""
    if not 0 <= int(schema_id) <= 0xFFFFFFFF:
        raise AvroCodecError(f"schema id {schema_id!r} out of unsigned-32 range")
    return CONFLUENT_MAGIC + struct.pack(">I", int(schema_id)) + encode_datum(value, schema)


def split_confluent(buf: bytes) -> tuple[int, bytes]:
    """(schema_id, datum bytes) from a wire-format record; validates framing."""
    buf = bytes(buf)
    if len(buf) < 5 or buf[0:1] != CONFLUENT_MAGIC:
        raise AvroCodecError("not Confluent wire format (need 0x00 magic + 4-byte schema id)")
    (schema_id,) = struct.unpack(">I", buf[1:5])
    return schema_id, buf[5:]


def decode_confluent(buf: bytes, schema: str | dict | list) -> tuple[int, Any]:
    """(schema_id, decoded value) — the reader binds the schema at compile
    time (frame-level contract); the embedded id is returned for callers
    that want to verify it against the bound schema's registry id."""
    schema_id, payload = split_confluent(buf)
    return schema_id, decode_datum(payload, schema)


# --------------------------------------------------------------------------
# object container files
# --------------------------------------------------------------------------


def read_container(buf: bytes) -> tuple[dict, list[Any]]:
    """Parse an Avro object container file: (writer schema, records).

    Supports the ``null`` and ``deflate`` codecs (the two every Avro
    implementation must support).
    """
    r = Reader(bytes(buf))
    if r.read(4) != MAGIC:
        raise AvroCodecError("not an Avro container file (bad magic)")
    meta_schema = {"type": "map", "values": "bytes"}
    meta = _decode(r, meta_schema)
    schema = json.loads(meta["avro.schema"].decode("utf-8"))
    codec = meta.get("avro.codec", b"null").decode("utf-8")
    sync = r.read(16)
    records: list[Any] = []
    while not r.at_end():
        count = r.read_long()
        size = r.read_long()
        block = r.read(size)
        if codec == "deflate":
            block = zlib.decompress(block, -15)
        elif codec != "null":
            raise AvroCodecError(f"unsupported Avro codec {codec!r}")
        br = Reader(block)
        for _ in range(count):
            records.append(_decode(br, schema))
        if r.read(16) != sync:
            raise AvroCodecError("container sync marker mismatch")
    return schema, records


def write_container(records: list[Any], schema: str | dict, codec: str = "null") -> bytes:
    if isinstance(schema, str):
        schema_json = schema
        schema = json.loads(schema)
    else:
        schema_json = json.dumps(schema)
    body = io.BytesIO()
    for rec in records:
        _encode(body, schema, rec)
    block = body.getvalue()
    if codec == "deflate":
        block = zlib.compress(block)[2:-4]  # raw deflate: strip zlib header + adler
    elif codec != "null":
        raise AvroCodecError(f"unsupported Avro codec {codec!r}")
    # deterministic sync marker so container bytes are reproducible in tests
    import hashlib

    sync = hashlib.md5(schema_json.encode()).digest()
    out = io.BytesIO()
    out.write(MAGIC)
    meta = {"avro.schema": schema_json.encode(), "avro.codec": codec.encode()}
    _encode(out, {"type": "map", "values": "bytes"}, meta)
    out.write(sync)
    out.write(_zigzag(len(records)))
    out.write(_zigzag(len(block)))
    out.write(block)
    out.write(sync)
    return out.getvalue()
