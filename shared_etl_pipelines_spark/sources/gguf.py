"""GGUF model-file reader — the PUBLIC ggml/llama.cpp container spec
(github.com/ggml-org/ggml/blob/master/docs/gguf.md).

GGUF is how quantized LLM weights move around; a training/curation
pipeline that ingests model zoos needs to census them (names, shapes,
quantization, metadata) and spot-check dequantized values without
shelling out to llama.cpp. Layout (all little-endian):

    magic "GGUF" | version u32 (3) | tensor_count u64 | kv_count u64
    kv entries:  key string (u64 len + utf8), value_type u32, value
                 (types 0-12: u8 i8 u16 i16 u32 i32 f32 bool string
                  array u64 i64 f64; arrays = elem type u32 + count
                  u64 + elements)
    tensor infos: name string, n_dims u32, dims u64[n_dims] (FASTEST
                  dimension first, per spec), ggml type u32, offset
                  u64 (relative to the tensor-data region)
    padding to ``general.alignment`` (default 32), then tensor data.

Dequantization implemented for the types whose layouts the spec fixes
and a census actually needs: F32, F16 (struct 'e'), Q8_0 (per-32 block:
f16 scale + 32 int8, value = scale*q) and Q4_0 (f16 scale + 16 nibble
bytes, value = scale*(nibble-8); low nibble holds element i, high
nibble element i+16). Other quant types parse in the census (name,
dims, type id, extent) but refuse to dequantize — loud ValueError,
never a guessed block layout.
"""

from __future__ import annotations

import struct

__all__ = ["parse_gguf", "encode_gguf", "dequant_tensor", "GGML_TYPES"]

_MAGIC = b"GGUF"

# ggml type id -> (name, block_elems, block_bytes); None = not dequantizable here
GGML_TYPES = {
    0: ("F32", 1, 4),
    1: ("F16", 1, 2),
    2: ("Q4_0", 32, 18),
    8: ("Q8_0", 32, 34),
}
_KV_FMT = {0: "<B", 1: "<b", 2: "<H", 3: "<h", 4: "<I", 5: "<i", 6: "<f",
           10: "<Q", 11: "<q", 12: "<d"}


def _rd(blob: bytes, p: int, fmt: str):
    size = struct.calcsize(fmt)
    if p + size > len(blob):
        raise ValueError("gguf: truncated — quarantine")
    return struct.unpack_from(fmt, blob, p)[0], p + size


def _rd_string(blob: bytes, p: int) -> tuple[str, int]:
    n, p = _rd(blob, p, "<Q")
    if p + n > len(blob):
        raise ValueError("gguf: truncated string — quarantine")
    return blob[p : p + n].decode("utf-8"), p + n


def _rd_value(blob: bytes, p: int, vtype: int):
    if vtype in _KV_FMT:
        return _rd(blob, p, _KV_FMT[vtype])
    if vtype == 7:  # bool, one byte, must be 0/1
        b, p = _rd(blob, p, "<B")
        if b not in (0, 1):
            raise ValueError("gguf: bool out of range — quarantine")
        return bool(b), p
    if vtype == 8:
        return _rd_string(blob, p)
    if vtype == 9:  # array
        et, p = _rd(blob, p, "<I")
        n, p = _rd(blob, p, "<Q")
        if n > 1_000_000:
            raise ValueError("gguf: array count implausible — quarantine")
        out = []
        for _ in range(n):
            v, p = _rd_value(blob, p, et)
            out.append(v)
        return out, p
    raise ValueError(f"gguf: unknown kv type {vtype} — quarantine")


def parse_gguf(blob: bytes) -> dict:
    """Header + metadata + tensor infos (no tensor data decode).
    Returns {version, metadata, tensors, data_start, alignment}."""
    if blob[:4] != _MAGIC:
        raise ValueError("gguf: bad magic — quarantine")
    version, p = _rd(blob, 4, "<I")
    if version != 3:
        raise ValueError(f"gguf: version {version} unsupported (spec pin: 3)")
    n_tensors, p = _rd(blob, p, "<Q")
    n_kv, p = _rd(blob, p, "<Q")
    if n_tensors > 1_000_000 or n_kv > 1_000_000:
        raise ValueError("gguf: header counts implausible — quarantine")
    metadata = {}
    for _ in range(n_kv):
        key, p = _rd_string(blob, p)
        vt, p = _rd(blob, p, "<I")
        val, p = _rd_value(blob, p, vt)
        metadata[key] = val
    tensors = []
    for _ in range(n_tensors):
        name, p = _rd_string(blob, p)
        n_dims, p = _rd(blob, p, "<I")
        if n_dims > 8:
            raise ValueError("gguf: tensor rank implausible — quarantine")
        dims = []
        for _ in range(n_dims):
            d, p = _rd(blob, p, "<Q")
            dims.append(d)
        ttype, p = _rd(blob, p, "<I")
        offset, p = _rd(blob, p, "<Q")
        n_elems = 1
        for d in dims:
            n_elems *= d
        info = GGML_TYPES.get(ttype)
        if info is not None:
            _nm, be, bb = info
            if n_elems % be:
                raise ValueError(
                    f"gguf: {name!r} elements not a multiple of the "
                    f"{_nm} block size — quarantine"
                )
            nbytes = (n_elems // be) * bb
        else:
            nbytes = None  # unknown quant layout: census-only
        tensors.append(
            {
                "name": name, "dims": dims, "type_id": ttype,
                "type": info[0] if info else f"UNKNOWN({ttype})",
                "n_elems": n_elems, "offset": offset, "nbytes": nbytes,
            }
        )
    align = int(metadata.get("general.alignment", 32))
    if align <= 0 or align & (align - 1):
        raise ValueError("gguf: alignment must be a power of two")
    data_start = (p + align - 1) // align * align
    return {
        "version": version,
        "metadata": metadata,
        "tensors": tensors,
        "data_start": data_start,
        "alignment": align,
    }


def dequant_tensor(blob: bytes, parsed: dict, name: str) -> list[float]:
    """Dequantize one tensor to floats (F32/F16/Q8_0/Q4_0)."""
    info = next((t for t in parsed["tensors"] if t["name"] == name), None)
    if info is None:
        raise ValueError(f"gguf: no tensor {name!r}")
    if info["nbytes"] is None:
        raise ValueError(
            f"gguf: {info['type']} dequantization unsupported — quarantine"
        )
    start = parsed["data_start"] + info["offset"]
    raw = blob[start : start + info["nbytes"]]
    if len(raw) < info["nbytes"]:
        raise ValueError("gguf: tensor data overruns file — quarantine")
    tid = info["type_id"]
    n = info["n_elems"]
    if tid == 0:
        return list(struct.unpack(f"<{n}f", raw))
    if tid == 1:
        return list(struct.unpack(f"<{n}e", raw))
    out: list[float] = []
    if tid == 8:  # Q8_0
        for b in range(n // 32):
            blk = raw[b * 34 : (b + 1) * 34]
            scale = struct.unpack("<e", blk[:2])[0]
            qs = struct.unpack("<32b", blk[2:])
            out.extend(scale * q for q in qs)
        return out
    if tid == 2:  # Q4_0
        for b in range(n // 32):
            blk = raw[b * 18 : (b + 1) * 18]
            scale = struct.unpack("<e", blk[:2])[0]
            lo = [blk[2 + i] & 0x0F for i in range(16)]
            hi = [blk[2 + i] >> 4 for i in range(16)]
            out.extend(scale * (q - 8) for q in lo)
            out.extend(scale * (q - 8) for q in hi)
        return out
    raise AssertionError("unreachable")


def encode_gguf(metadata: dict, tensors: list[tuple]) -> bytes:
    """Fixture writer. ``tensors``: (name, type_id, dims, data_bytes)
    with offsets assigned in order, each aligned per spec."""
    align = int(metadata.get("general.alignment", 32))
    out = bytearray()
    out += _MAGIC
    out += struct.pack("<IQQ", 3, len(tensors), len(metadata))

    def w_string(s: str) -> None:
        b = s.encode("utf-8")
        out.extend(struct.pack("<Q", len(b)))
        out.extend(b)

    def w_value(v) -> None:
        if isinstance(v, bool):
            out.extend(struct.pack("<IB", 7, int(v)))
        elif isinstance(v, int):
            out.extend(struct.pack("<I", 10 if v >= 0 else 11))
            out.extend(struct.pack("<Q" if v >= 0 else "<q", v))
        elif isinstance(v, float):
            out.extend(struct.pack("<Id", 12, v))
        elif isinstance(v, str):
            out.extend(struct.pack("<I", 8))
            w_string(v)
        elif isinstance(v, list):
            if not v or not isinstance(v[0], str):
                raise ValueError("gguf writer: only string arrays")
            out.extend(struct.pack("<IIQ", 9, 8, len(v)))
            for s in v:
                w_string(s)
        else:
            raise ValueError(f"gguf writer: unsupported value {type(v)}")

    for k in metadata:
        w_string(k)
        w_value(metadata[k])
    off = 0
    data_chunks = []
    for name, tid, dims, data in tensors:
        w_string(name)
        out.extend(struct.pack("<I", len(dims)))
        for d in dims:
            out.extend(struct.pack("<Q", d))
        out.extend(struct.pack("<IQ", tid, off))
        padded = (len(data) + align - 1) // align * align
        data_chunks.append(data + b"\x00" * (padded - len(data)))
        off += padded
    pad = (-len(out)) % align
    out += b"\x00" * pad
    for c in data_chunks:
        out += c
    return bytes(out)


# ----------------------------------------------------------------------
# Spark side: per-file census inside mapInPandas (one model file is one
# self-contained container — the FILE is the unit of parallelism)
# ----------------------------------------------------------------------
def synthetic_gguf_assets(df, id_col: str = "doc_id", payload_col: str = "text"):
    """Deterministic GGUF fixtures: four tensors per model covering all
    dequantizable types — F32 embd [8, d%5+2], F16 attn [16], Q8_0 ffn
    [32*(d%2+1)] (scale 0.25, q=((j+d)%17)-8), Q4_0 gate [32] (scale
    0.5, nibble (j+d)%16) — plus typed metadata (string/int/bool/
    string-array). Every value replays from doc_id."""
    from pyspark.sql import functions as F

    from shared_etl_pipelines_spark.functions.rows import map_rows

    def fixture(doc_id, _payload):
        d = int(doc_id)
        k, m = d % 5 + 2, d % 2 + 1
        f32 = struct.pack(
            f"<{8 * k}f", *[((i * 3 + d) % 7) * 0.25 for i in range(8 * k)]
        )
        f16 = struct.pack(
            "<16e", *[((i + d) % 5) * 0.5 for i in range(16)]
        )
        q8 = b"".join(
            struct.pack("<e", 0.25)
            + struct.pack(
                "<32b", *[((b * 32 + i + d) % 17) - 8 for i in range(32)]
            )
            for b in range(m)
        )
        lo = [(j + d) % 16 for j in range(16)]
        hi = [(j + 16 + d) % 16 for j in range(16)]
        q4 = struct.pack("<e", 0.5) + bytes(
            (l | (h << 4)) for l, h in zip(lo, hi)
        )
        blob = encode_gguf(
            {
                "general.name": f"model-{d}",
                "general.alignment": 32,
                "llm.context_length": 512 + d % 7,
                "general.quantized": True,
                "tokenizer.tokens": ["tok"] * (d % 3 + 1),
            },
            [
                ("embd.weight", 0, [8, k], f32),
                ("attn.weight", 1, [16], f16),
                ("ffn.weight", 8, [32 * m], q8),
                ("gate.weight", 2, [32], q4),
            ],
        )
        yield doc_id, "application/gguf", blob

    return map_rows(
        df.select(F.col(id_col), F.col(payload_col)),
        fixture,
        "doc_id bigint, media_type string, blob binary",
    )


def audit_gguf_assets(assets):
    """Per-model census + dequant spot sums: tensor/param counts,
    metadata echo, and the value sum of each tensor through the real
    dequantization path. Corrupt blobs quarantine with the reason, and
    so does a missing or non-integer ``llm.context_length``."""
    from shared_etl_pipelines_spark.functions.rows import map_rows

    def audit(doc_id, blob):
        try:
            blob = bytes(blob)
            p = parse_gguf(blob)
            sums = {
                t["name"]: float(sum(dequant_tensor(blob, p, t["name"])))
                for t in p["tensors"]
            }
            ctx = p["metadata"].get("llm.context_length")
            try:
                context_length = int(ctx)
            except (TypeError, ValueError):
                raise ValueError(
                    f"gguf: llm.context_length missing or not an integer: {ctx!r}"
                ) from None
            out = (
                doc_id, True, "", len(p["tensors"]),
                sum(t["n_elems"] for t in p["tensors"]),
                context_length,
                len(p["metadata"].get("tokenizer.tokens", [])),
                sums.get("embd.weight", 0.0),
                sums.get("attn.weight", 0.0),
                sums.get("ffn.weight", 0.0),
                sums.get("gate.weight", 0.0),
            )
        except ValueError as e:
            out = (doc_id, False, str(e)[:80], 0, 0, 0, 0, 0.0, 0.0, 0.0, 0.0)
        yield out

    return map_rows(
        assets.select("doc_id", "blob"),
        audit,
        "doc_id bigint, ok boolean, reason string, n_tensors int, "
        "total_params bigint, context_length bigint, n_tokens_meta int, "
        "embd_sum double, attn_sum double, ffn_sum double, gate_sum double",
    )
