"""Puffin file container — the PUBLIC Apache Iceberg sidecar format
(iceberg.apache.org/puffin-spec) that attaches index/statistics blobs
to table snapshots (theta sketches in v2 tables, deletion vectors in
v3).

Container layout implemented from the spec:

    Magic  Blob_1 ... Blob_n  Footer
    Footer = Magic  FooterPayload  FooterPayloadSize(i32 LE)
             Flags(4 bytes)  Magic

with Magic = bytes 0x50 0x46 0x41 0x31 ("PFA1") and FooterPayload a
UTF-8 JSON FileMetadata: {"blobs": [{type, fields, snapshot-id,
sequence-number, offset, length, compression-codec?, properties}],
"properties": {...}}. Footer flag bit 0 (first byte, LSB) marks an
LZ4-compressed payload — this writer emits it uncompressed and the
reader decodes both (pyarrow's lz4-frame codec).

Blob payloads here are the engine's roaring64 portable bitmaps under
the ENGINE-NATIVE type name "roaring64-portable-v1" — the corpus
slicing index (sources/roaring.py) persisted as a snapshot sidecar.
Iceberg v3's "deletion-vector-v1" inner blob framing (its extra
length/magic/CRC wrapper) is NOT transcribed here; blobs of that type
refuse loudly rather than being misread.
"""

from __future__ import annotations

import json
import struct

from shared_etl_pipelines_spark.sources.compression import decompress

__all__ = ["write_puffin", "read_puffin", "read_puffin_blob"]

_MAGIC = b"PFA1"


def write_puffin(
    blobs: list[dict], file_properties: dict | None = None
) -> bytes:
    """``blobs``: [{type, payload: bytes, fields?: [int],
    snapshot_id?: int, sequence_number?: int, properties?: {str: str}}].
    Returns the complete Puffin file bytes (uncompressed footer)."""
    out = bytearray(_MAGIC)
    metas = []
    for b in blobs:
        payload = b["payload"]
        metas.append(
            {
                "type": b["type"],
                "fields": b.get("fields", []),
                "snapshot-id": b.get("snapshot_id", 0),
                "sequence-number": b.get("sequence_number", 0),
                "offset": len(out),
                "length": len(payload),
                "properties": b.get("properties", {}),
            }
        )
        out += payload
    meta = {"blobs": metas, "properties": file_properties or {}}
    payload = json.dumps(meta, sort_keys=True).encode("utf-8")
    out += _MAGIC
    out += payload
    out += struct.pack("<i", len(payload))
    out += b"\x00\x00\x00\x00"  # flags: footer payload uncompressed
    out += _MAGIC
    return bytes(out)


def read_puffin(blob: bytes) -> dict:
    """FileMetadata of a Puffin file (footer walk; payload LZ4
    decompressed when flag bit 0 is set)."""
    if len(blob) < 20 or blob[:4] != _MAGIC or blob[-4:] != _MAGIC:
        raise ValueError("puffin: bad magic framing — quarantine")
    flags = blob[-8:-4]
    (psize,) = struct.unpack_from("<i", blob, len(blob) - 12)
    if psize < 0 or psize + 20 > len(blob):
        raise ValueError("puffin: footer payload overruns file — quarantine")
    start = len(blob) - 12 - psize
    payload = blob[start : start + psize]
    if blob[start - 4 : start] != _MAGIC:
        raise ValueError("puffin: missing footer start magic — quarantine")
    if flags[0] & 1:  # FooterPayloadCompressed (lz4 frame)
        payload = decompress("lz4", payload)
    if flags[0] & ~1 or any(flags[1:]):
        raise ValueError("puffin: unknown footer flags — quarantine")
    try:
        meta = json.loads(payload.decode("utf-8"))
    except (UnicodeDecodeError, json.JSONDecodeError) as e:
        raise ValueError(f"puffin: malformed footer payload ({e})") from None
    if not isinstance(meta.get("blobs"), list):
        raise ValueError("puffin: footer lacks a blobs list — quarantine")
    return meta


def read_puffin_blob(blob: bytes, meta_entry: dict) -> bytes:
    """One blob's payload bytes by its FileMetadata entry. The
    compression-codec field refuses unknown codecs; Iceberg v3's
    deletion-vector-v1 inner framing is untranscribed and refuses."""
    btype = meta_entry.get("type", "")
    if btype == "deletion-vector-v1":
        raise ValueError(
            "puffin: deletion-vector-v1 inner framing not transcribed "
            "— quarantine (engine-native bitmaps use "
            "roaring64-portable-v1)"
        )
    codec = meta_entry.get("compression-codec")
    off = meta_entry.get("offset")
    ln = meta_entry.get("length")
    if off is None or ln is None or off + ln > len(blob) or off < 4:
        raise ValueError("puffin: blob span overruns file — quarantine")
    data = blob[off : off + ln]
    if codec in (None, "", "none"):
        return data
    if codec in ("lz4", "zstd"):
        return decompress(codec, data)
    raise ValueError(f"puffin: codec {codec!r} unsupported — quarantine")
