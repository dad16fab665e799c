"""Avro Object Container File (OCF) reader/writer — pure Python,
public Apache Avro 1.11 spec.

Avro OCF is a first-class data-lake interchange format (Kafka dumps,
Sqoop/NiFi exports, warehouse unloads); an ETL engine that ingests a
100 TB lake meets it constantly. This module implements the container
layer and the binary encoding for the schema subset those dumps
overwhelmingly use:

- primitives: null, boolean, int, long (zigzag varints), float,
  double, bytes, string;
- complex: record, array, map, enum (symbol index), and 2-branch
  ``[null, T]`` unions (the nullable-column idiom);
- container: magic ``Obj\\x01``, file-metadata map (``avro.schema``
  JSON + ``avro.codec``), 16-byte sync marker, blocks of
  (count, byte-size, payload) with the sync marker re-verified after
  EVERY block — a mismatched marker means a torn/corrupt file and
  refuses loudly;
- codecs: ``null`` and ``deflate`` (raw zlib, RFC 1951) — the two the
  spec requires; anything else refuses by name.

Unsupported schema shapes (general unions, fixed, recursive types)
raise ``ValueError`` up front rather than desync mid-stream.
"""
from __future__ import annotations

import json
import struct
import zlib

__all__ = ["read_avro_ocf", "write_avro_ocf"]

_MAGIC = b"Obj\x01"
_PRIMITIVES = {
    "null", "boolean", "int", "long", "float", "double", "bytes", "string",
}


# ----------------------------------------------------------------------
# binary primitives
# ----------------------------------------------------------------------
class _Reader:
    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0

    def read(self, n: int) -> bytes:
        if self.pos + n > len(self.data):
            raise ValueError("avro: truncated data — quarantine")
        out = self.data[self.pos : self.pos + n]
        self.pos += n
        return out

    def long(self) -> int:
        shift = 0
        acc = 0
        while True:
            b = self.read(1)[0]
            acc |= (b & 0x7F) << shift
            if not (b & 0x80):
                break
            shift += 7
            if shift > 63:
                raise ValueError("avro: varint over 10 bytes — quarantine")
        return (acc >> 1) ^ -(acc & 1)  # zigzag

    def bytes_(self) -> bytes:
        n = self.long()
        if n < 0:
            raise ValueError("avro: negative byte-length — quarantine")
        return self.read(n)


def _zigzag(v: int) -> bytes:
    acc = (v << 1) ^ (v >> 63) if v < 0 else v << 1
    out = bytearray()
    while True:
        b = acc & 0x7F
        acc >>= 7
        if acc:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _enc_bytes(b: bytes) -> bytes:
    return _zigzag(len(b)) + b


# ----------------------------------------------------------------------
# schema interpreter (validated subset)
# ----------------------------------------------------------------------
def _validate_schema(schema) -> None:
    if isinstance(schema, str):
        if schema not in _PRIMITIVES:
            raise ValueError(f"avro: unsupported named type {schema!r}")
        return
    if isinstance(schema, list):
        if (
            len(schema) != 2
            or "null" not in schema
            or schema[0] == schema[1]
        ):
            raise ValueError("avro: only [null, T] unions supported")
        other = schema[0] if schema[1] == "null" else schema[1]
        _validate_schema(other)
        return
    if not isinstance(schema, dict):
        raise ValueError("avro: malformed schema node")
    t = schema.get("type")
    if t == "record":
        for f in schema["fields"]:
            _validate_schema(f["type"])
    elif t == "array":
        _validate_schema(schema["items"])
    elif t == "map":
        _validate_schema(schema["values"])
    elif t == "enum":
        if not schema.get("symbols"):
            raise ValueError("avro: enum without symbols")
    elif t in _PRIMITIVES:
        pass
    else:
        raise ValueError(f"avro: unsupported complex type {t!r}")


def _decode(r: _Reader, schema):
    if isinstance(schema, str):
        if schema == "null":
            return None
        if schema == "boolean":
            return r.read(1)[0] == 1
        if schema in ("int", "long"):
            return r.long()
        if schema == "float":
            return struct.unpack("<f", r.read(4))[0]
        if schema == "double":
            return struct.unpack("<d", r.read(8))[0]
        if schema == "bytes":
            return r.bytes_()
        if schema == "string":
            return r.bytes_().decode("utf-8", "strict")
    if isinstance(schema, list):  # [null, T] union
        idx = r.long()
        if idx not in (0, 1):
            raise ValueError("avro: union index out of range — quarantine")
        return _decode(r, schema[idx])
    t = schema["type"]
    if t == "record":
        return {f["name"]: _decode(r, f["type"]) for f in schema["fields"]}
    if t == "array":
        out = []
        while True:
            n = r.long()
            if n == 0:
                return out
            if n < 0:  # block with byte-size prefix
                r.long()
                n = -n
            for _ in range(n):
                out.append(_decode(r, schema["items"]))
    if t == "map":
        out = {}
        while True:
            n = r.long()
            if n == 0:
                return out
            if n < 0:
                r.long()
                n = -n
            for _ in range(n):
                k = r.bytes_().decode("utf-8")
                out[k] = _decode(r, schema["values"])
    if t == "enum":
        idx = r.long()
        syms = schema["symbols"]
        if not 0 <= idx < len(syms):
            raise ValueError("avro: enum index out of range — quarantine")
        return syms[idx]
    if t in _PRIMITIVES:
        return _decode(r, t)
    raise ValueError(f"avro: unsupported type {t!r}")


def _encode(v, schema) -> bytes:
    if isinstance(schema, str):
        if schema == "null":
            return b""
        if schema == "boolean":
            return b"\x01" if v else b"\x00"
        if schema in ("int", "long"):
            return _zigzag(v)
        if schema == "float":
            return struct.pack("<f", v)
        if schema == "double":
            return struct.pack("<d", v)
        if schema == "bytes":
            return _enc_bytes(v)
        if schema == "string":
            return _enc_bytes(v.encode("utf-8"))
    if isinstance(schema, list):
        null_first = schema[0] == "null"
        if v is None:
            return _zigzag(0 if null_first else 1)
        other = schema[1] if null_first else schema[0]
        return _zigzag(1 if null_first else 0) + _encode(v, other)
    t = schema["type"]
    if t == "record":
        return b"".join(_encode(v[f["name"]], f["type"]) for f in schema["fields"])
    if t == "array":
        if not v:
            return _zigzag(0)
        body = b"".join(_encode(x, schema["items"]) for x in v)
        return _zigzag(len(v)) + body + _zigzag(0)
    if t == "map":
        if not v:
            return _zigzag(0)
        body = b"".join(
            _enc_bytes(k.encode()) + _encode(x, schema["values"])
            for k, x in v.items()
        )
        return _zigzag(len(v)) + body + _zigzag(0)
    if t == "enum":
        return _zigzag(schema["symbols"].index(v))
    if t in _PRIMITIVES:
        return _encode(v, t)
    raise ValueError(f"avro: unsupported type {t!r}")


# ----------------------------------------------------------------------
# container layer
# ----------------------------------------------------------------------
def read_avro_ocf(blob: bytes) -> dict:
    """OCF -> {schema, codec, records, n_blocks}. Refuses bad magic,
    unsupported codecs/schema shapes, torn sync markers, truncation."""
    r = _Reader(blob)
    if r.read(4) != _MAGIC:
        raise ValueError("avro: bad OCF magic — quarantine")
    meta: dict[str, bytes] = {}
    while True:
        n = r.long()
        if n == 0:
            break
        if n < 0:
            r.long()
            n = -n
        for _ in range(n):
            k = r.bytes_().decode("utf-8")
            meta[k] = r.bytes_()
    if "avro.schema" not in meta:
        raise ValueError("avro: metadata missing avro.schema — quarantine")
    try:
        schema = json.loads(meta["avro.schema"])
    except json.JSONDecodeError as e:
        raise ValueError(f"avro: schema is not JSON — quarantine ({e})") from e
    _validate_schema(schema)
    codec = meta.get("avro.codec", b"null").decode("latin-1")
    if codec not in ("null", "deflate", "snappy"):
        raise ValueError(f"avro: unsupported codec {codec!r} — quarantine")
    sync = r.read(16)
    records = []
    n_blocks = 0
    while r.pos < len(blob):
        count = r.long()
        if count < 0:
            raise ValueError("avro: negative block count — quarantine")
        payload = r.bytes_()
        if codec == "deflate":
            try:
                payload = zlib.decompress(payload, -15)
            except zlib.error as e:
                raise ValueError(
                    f"avro: deflate error — quarantine ({e})"
                ) from e
        elif codec == "snappy":
            # spec: snappy-compressed block + 4-byte BIG-endian CRC32
            # of the UNCOMPRESSED data
            from shared_etl_pipelines_spark.sources.compression import (
                decompress,
            )

            if len(payload) < 4:
                raise ValueError("avro: snappy block too short — quarantine")
            data, crc = payload[:-4], payload[-4:]
            payload = decompress("snappy", data)
            if (zlib.crc32(payload) & 0xFFFFFFFF) != int.from_bytes(crc, "big"):
                raise ValueError("avro: snappy CRC mismatch — quarantine")
        br = _Reader(payload)
        for _ in range(count):
            records.append(_decode(br, schema))
        if br.pos != len(payload):
            raise ValueError("avro: block has trailing bytes — quarantine")
        if r.read(16) != sync:
            raise ValueError("avro: sync marker mismatch — quarantine")
        n_blocks += 1
    return {
        "schema": schema,
        "codec": codec,
        "records": records,
        "n_blocks": n_blocks,
    }


def write_avro_ocf(
    records: list,
    schema,
    codec: str = "null",
    sync: bytes = b"\x00" * 16,
    block_size: int | None = None,
) -> bytes:
    """Serialize records to OCF (fixtures/roundtrips; deterministic —
    caller provides the sync marker)."""
    _validate_schema(schema)
    if codec not in ("null", "deflate", "snappy"):
        raise ValueError(f"avro: unsupported codec {codec!r}")
    if len(sync) != 16:
        raise ValueError("avro: sync marker must be 16 bytes")
    meta = {
        "avro.schema": json.dumps(schema, separators=(",", ":")).encode(),
        "avro.codec": codec.encode(),
    }
    out = bytearray(_MAGIC)
    out += _zigzag(len(meta))
    for k in sorted(meta):
        out += _enc_bytes(k.encode()) + _enc_bytes(meta[k])
    out += _zigzag(0)
    out += sync
    step = block_size or max(len(records), 1)
    for i in range(0, max(len(records), 1), step):
        chunk = records[i : i + step]
        if not chunk:
            break
        body = b"".join(_encode(rec, schema) for rec in chunk)
        if codec == "deflate":
            co = zlib.compressobj(6, zlib.DEFLATED, -15)
            body = co.compress(body) + co.flush()
        elif codec == "snappy":
            import pyarrow as pa

            crc = (zlib.crc32(body) & 0xFFFFFFFF).to_bytes(4, "big")
            body = pa.Codec("snappy").compress(body, asbytes=True) + crc
        out += _zigzag(len(chunk)) + _enc_bytes(body) + sync
    return bytes(out)


# ----------------------------------------------------------------------
# schema resolution (spec "Schema Resolution"): adapt values decoded
# with the WRITER schema (from the OCF header) to a READER schema —
# how every evolving Avro surface (Iceberg manifests, Kafka topics,
# warehouse unloads) stays readable across versions.
# ----------------------------------------------------------------------

_PROMOTIONS = {
    "int": {"long", "float", "double"},
    "long": {"float", "double"},
    "float": {"double"},
    "string": {"bytes"},
    "bytes": {"string"},
}


def _type_name(schema) -> str:
    if isinstance(schema, str):
        return schema
    if isinstance(schema, list):
        return "union"
    return schema["type"]


def resolve_value(v, writer, reader):
    """One decoded value from writer-schema shape to reader-schema
    shape, per the spec's resolution rules: name-matched record fields,
    reader defaults for missing fields, writer-only fields dropped,
    numeric/string promotions, unions resolved to the first matching
    branch. Unresolvable shapes raise ValueError."""
    # unwrap writer union: the decoded value already picked its branch.
    # The unwrap below is only sound for the 2-branch nullable shape
    # (the only shape the binary decoder admits) — anything else would
    # silently resolve under the WRONG writer branch, so refuse loudly.
    if isinstance(writer, list):
        if len(writer) != 2 or "null" not in writer:
            raise ValueError(
                "avro: writer union is not the [null, T] shape — the "
                "decoded value's branch is unknown; quarantine"
            )
        writer = "null" if v is None else (
            writer[0] if writer[1] == "null" else writer[1]
        )
    if isinstance(reader, list):
        # spec: first reader branch that resolves wins
        for branch in reader:
            try:
                return resolve_value(v, writer, branch)
            except ValueError:
                continue
        raise ValueError(
            f"avro: no reader union branch accepts writer {_type_name(writer)}"
        )
    wt, rt = _type_name(writer), _type_name(reader)
    if wt in ("null", "boolean", "int", "long", "float", "double", "bytes",
              "string"):
        if rt == wt:
            return v
        if rt in _PROMOTIONS.get(wt, ()):
            if wt == "string" and rt == "bytes":
                return v.encode("utf-8")
            if wt == "bytes" and rt == "string":
                return v.decode("utf-8")
            return float(v) if rt in ("float", "double") else int(v)
        raise ValueError(f"avro: cannot promote {wt} -> {rt}")
    if wt != rt:
        raise ValueError(f"avro: writer {wt} vs reader {rt} — unresolvable")
    if wt == "record":
        wfields = {f["name"]: f for f in writer["fields"]}
        out = {}
        for rf in reader["fields"]:
            name = rf["name"]
            if name in wfields:
                out[name] = resolve_value(
                    v[name], wfields[name]["type"], rf["type"]
                )
            elif "default" in rf:
                out[name] = rf["default"]
            else:
                raise ValueError(
                    f"avro: reader field {name!r} missing from writer and "
                    "has no default — unresolvable"
                )
        return out  # writer-only fields drop here
    if wt == "array":
        return [resolve_value(x, writer["items"], reader["items"]) for x in v]
    if wt == "map":
        return {
            k: resolve_value(x, writer["values"], reader["values"])
            for k, x in v.items()
        }
    if wt == "enum":
        if v in reader["symbols"]:
            return v
        if "default" in reader:
            return reader["default"]
        raise ValueError(f"avro: enum symbol {v!r} not in reader schema")
    raise ValueError(f"avro: resolution for {wt} unsupported")


def read_avro_ocf_resolved(blob: bytes, reader_schema: dict) -> dict:
    """OCF read with schema resolution: records decode with the file's
    WRITER schema, then adapt to ``reader_schema``."""
    _validate_schema(reader_schema)
    out = read_avro_ocf(blob)
    writer = out["schema"]
    out["records"] = [
        resolve_value(r, writer, reader_schema) for r in out["records"]
    ]
    out["reader_schema"] = reader_schema
    return out
