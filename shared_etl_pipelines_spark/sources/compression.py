"""Compression-container audit: gzip / zlib / zstd / xz / bzip2
(RFC 1952 / RFC 1950 / RFC 8878 / xz-file-format / bzip2 — all public).

A 100 TB corpus is mostly compressed bytes; a storage audit must
identify every container, surface its header metadata (gzip FNAME and
mtime leak filenames and build times — PII-adjacent), verify
integrity where the stdlib can decode (gzip/zlib via ``zlib``, xz via
``lzma``, bzip2 via ``bz2``), and say LOUDLY when it can only parse
the header (zstd: no stdlib codec in this interpreter — frame header
fields per RFC 8878 only, ``is_full_decode=false``). Corrupt or
reserved-bit-bearing headers refuse with ValueError — callers
quarantine, never guess.

Writers exist for fixture/roundtrip control of every header flag the
parsers touch (multi-member gzip, FNAME/FCOMMENT/FHCRC/FEXTRA, zstd
single-segment vs windowed frames, skippable frames).

``decompress`` is the one payload decoder for the codecs formats embed
(Avro's snappy blocks, Puffin's lz4-frame and zstd blobs): pyarrow's
bundled codecs under the same output budget and refusal contract.
"""
from __future__ import annotations

import struct
import zlib

__all__ = [
    "sniff_codec",
    "decompress",
    "parse_gzip_members",
    "encode_gzip_member",
    "parse_zlib",
    "parse_zstd_frames",
    "encode_zstd_frame",
    "encode_zstd_skippable",
    "parse_xz",
    "parse_bzip2",
]

_ZSTD_MAGIC = 0xFD2FB528
_ZSTD_SKIP_LO = 0x184D2A50  # ..5F

# Decompression-bomb guard (ADVICE r9): a ~1 KiB gzip/bzip2 member can
# expand to GiBs and OOM the executor, which contradicts the module's
# refuse-loudly contract. Every full decode below feeds a decompressobj
# with max_length and refuses past this output budget. 256 MiB is far
# above any fixture/corpus cell while still bounding one task's memory.
MAX_OUTPUT_BYTES = 1 << 28


def _capped(decomp, data: bytes, cap: int, codec: str) -> bytes:
    """Drain one stream through ``decomp`` with a hard output budget.

    Handles both decompressor flavors: zlib's (leftover input surfaces
    in ``unconsumed_tail``) and lzma/bz2's (leftover input is buffered
    internally; ``needs_input`` False means call again with b"").
    Truncated input returns what decoded so far — the caller checks
    ``decomp.eof`` exactly as before.
    """
    out = bytearray()
    while True:
        out += decomp.decompress(data, cap + 1 - len(out))
        if len(out) > cap:
            raise ValueError(
                f"{codec}: output cap exceeded ({cap} bytes) — quarantine"
            )
        if decomp.eof:
            return bytes(out)
        tail = getattr(decomp, "unconsumed_tail", b"")
        if tail:
            data = tail
            continue
        if not getattr(decomp, "needs_input", True):
            data = b""
            continue
        return bytes(out)  # input exhausted mid-stream (truncated)


def decompress(
    codec: str, data: bytes, max_output: int = MAX_OUTPUT_BYTES
) -> bytes:
    """Decode one snappy block, lz4 frame or zstd frame through
    pyarrow's codecs. Output past ``max_output`` bytes, and corrupt or
    truncated input, refuse with ValueError."""
    import pyarrow as pa

    if codec not in ("snappy", "lz4", "zstd"):
        raise ValueError(f"{codec}: unsupported codec — quarantine")
    if not data:
        raise ValueError(f"{codec}: empty input — quarantine")
    over_cap = ValueError(
        f"{codec}: output cap exceeded ({max_output} bytes) — quarantine"
    )
    if codec == "snappy":
        # the block opens with its uncompressed length (a varint of at
        # most 5 bytes): refuse before allocating, then decode to it
        n = shift = pos = 0
        while True:
            if pos >= min(len(data), 5):
                raise ValueError("snappy: bad length varint — quarantine")
            n |= (data[pos] & 0x7F) << shift
            shift += 7
            pos += 1
            if not data[pos - 1] & 0x80:
                break
        if n > max_output:
            raise over_cap
    try:
        if codec == "snappy":
            out = pa.Codec("snappy").decompress(
                data, decompressed_size=n, asbytes=True
            )
        else:
            # frame formats carry no required size: read one byte past
            # the cap so an oversized frame is seen without decoding it all
            out = pa.CompressedInputStream(pa.BufferReader(data), codec).read(
                max_output + 1
            )
    except (OSError, pa.ArrowException) as e:
        raise ValueError(f"{codec}: decode error — quarantine ({e})") from e
    if len(out) > max_output:
        raise over_cap
    return out


def sniff_codec(blob: bytes) -> str:
    """Magic-byte dispatch. 'unknown' is a visible answer, not a guess."""
    if len(blob) >= 2 and blob[:2] == b"\x1f\x8b":
        return "gzip"
    if len(blob) >= 6 and blob[:6] == b"\xfd7zXZ\x00":
        return "xz"
    if len(blob) >= 4:
        magic = struct.unpack_from("<I", blob, 0)[0]
        if magic == _ZSTD_MAGIC or _ZSTD_SKIP_LO <= magic <= _ZSTD_SKIP_LO + 15:
            return "zstd"
    if len(blob) >= 4 and blob[:3] == b"BZh" and blob[3:4].isdigit():
        return "bzip2"
    if (
        len(blob) >= 2
        and (blob[0] & 0x0F) == 8
        and (blob[0] >> 4) <= 7
        and ((blob[0] << 8) | blob[1]) % 31 == 0
    ):
        return "zlib"
    return "unknown"


# ----------------------------------------------------------------------
# gzip (RFC 1952) — multi-member walk with full decode + CRC verify
# ----------------------------------------------------------------------
_FTEXT, _FHCRC, _FEXTRA, _FNAME, _FCOMMENT = 1, 2, 4, 8, 16


def _cstr(blob: bytes, pos: int) -> tuple[str, int]:
    end = blob.find(b"\x00", pos)
    if end < 0:
        raise ValueError("gzip: unterminated zero-string — quarantine")
    return blob[pos:end].decode("latin-1"), end + 1


def parse_gzip_members(
    blob: bytes, max_output: int = MAX_OUTPUT_BYTES
) -> list[dict]:
    """Walk every member of a (possibly multi-member) gzip file,
    decoding each DEFLATE stream and verifying CRC32 + ISIZE against
    the decoded bytes. Reserved FLG bits, bad magic/CM, header-CRC
    mismatches and trailer mismatches all refuse."""
    members: list[dict] = []
    pos = 0
    while pos < len(blob):
        if pos + 10 > len(blob):
            raise ValueError("gzip: truncated member header — quarantine")
        if blob[pos : pos + 2] != b"\x1f\x8b":
            raise ValueError("gzip: bad magic — quarantine")
        if blob[pos + 2] != 8:
            raise ValueError(f"gzip: CM {blob[pos + 2]} != deflate")
        flg = blob[pos + 3]
        if flg & 0xE0:
            raise ValueError("gzip: reserved FLG bits set — quarantine")
        mtime, xfl, os_byte = struct.unpack_from("<IBB", blob, pos + 4)
        p = pos + 10
        if flg & _FEXTRA:
            if p + 2 > len(blob):
                raise ValueError("gzip: truncated FEXTRA")
            (xlen,) = struct.unpack_from("<H", blob, p)
            p += 2 + xlen
        fname = fcomment = ""
        if flg & _FNAME:
            fname, p = _cstr(blob, p)
        if flg & _FCOMMENT:
            fcomment, p = _cstr(blob, p)
        if flg & _FHCRC:
            if p + 2 > len(blob):
                raise ValueError("gzip: truncated FHCRC")
            (hcrc,) = struct.unpack_from("<H", blob, p)
            if hcrc != (zlib.crc32(blob[pos:p]) & 0xFFFF):
                raise ValueError("gzip: header CRC mismatch — quarantine")
            p += 2
        d = zlib.decompressobj(-15)
        try:
            raw = _capped(d, blob[p:], max_output, "gzip")
        except zlib.error as e:
            raise ValueError(f"gzip: deflate error — quarantine ({e})") from e
        if not d.eof:
            raise ValueError("gzip: truncated deflate stream — quarantine")
        tail_pos = len(blob) - len(d.unused_data)
        if tail_pos + 8 > len(blob):
            raise ValueError("gzip: truncated trailer — quarantine")
        crc, isize = struct.unpack_from("<II", blob, tail_pos)
        if crc != (zlib.crc32(raw) & 0xFFFFFFFF):
            raise ValueError("gzip: CRC32 mismatch — quarantine")
        if isize != (len(raw) & 0xFFFFFFFF):
            raise ValueError("gzip: ISIZE mismatch — quarantine")
        members.append(
            {
                "mtime": mtime,
                "xfl": xfl,
                "os": os_byte,
                "ftext": bool(flg & _FTEXT),
                "fname": fname,
                "fcomment": fcomment,
                "n_uncompressed": len(raw),
                "data": raw,
            }
        )
        pos = tail_pos + 8
    if not members:
        raise ValueError("gzip: empty file — quarantine")
    return members


def encode_gzip_member(
    data: bytes,
    mtime: int = 0,
    os_byte: int = 3,
    fname: str = "",
    fcomment: str = "",
    hcrc: bool = False,
    extra: bytes | None = None,
    ftext: bool = False,
    level: int = 6,
) -> bytes:
    flg = (
        (_FTEXT if ftext else 0)
        | (_FHCRC if hcrc else 0)
        | (_FEXTRA if extra is not None else 0)
        | (_FNAME if fname else 0)
        | (_FCOMMENT if fcomment else 0)
    )
    head = bytearray(b"\x1f\x8b\x08")
    head.append(flg)
    head += struct.pack("<IBB", mtime, 0, os_byte)
    if extra is not None:
        head += struct.pack("<H", len(extra)) + extra
    if fname:
        head += fname.encode("latin-1") + b"\x00"
    if fcomment:
        head += fcomment.encode("latin-1") + b"\x00"
    if hcrc:
        head += struct.pack("<H", zlib.crc32(bytes(head)) & 0xFFFF)
    co = zlib.compressobj(level, zlib.DEFLATED, -15)
    body = co.compress(data) + co.flush()
    tail = struct.pack("<II", zlib.crc32(data) & 0xFFFFFFFF, len(data) & 0xFFFFFFFF)
    return bytes(head) + body + tail


# ----------------------------------------------------------------------
# zlib (RFC 1950)
# ----------------------------------------------------------------------
def parse_zlib(blob: bytes, max_output: int = MAX_OUTPUT_BYTES) -> dict:
    if len(blob) < 2:
        raise ValueError("zlib: truncated header — quarantine")
    cmf, flg = blob[0], blob[1]
    if (cmf & 0x0F) != 8:
        raise ValueError(f"zlib: CM {cmf & 0x0F} != deflate")
    cinfo = cmf >> 4
    if cinfo > 7:
        raise ValueError(f"zlib: CINFO {cinfo} > 7 — quarantine")
    if ((cmf << 8) | flg) % 31:
        raise ValueError("zlib: FCHECK failure — quarantine")
    if flg & 0x20:
        raise ValueError("zlib: preset dictionary unsupported — quarantine")
    d = zlib.decompressobj()
    try:
        raw = _capped(d, blob, max_output, "zlib")
    except zlib.error as e:
        raise ValueError(f"zlib: decode error — quarantine ({e})") from e
    if not d.eof:  # adler32 verified by the obj at stream end
        raise ValueError("zlib: truncated stream — quarantine")
    if d.unused_data:
        raise ValueError("zlib: trailing bytes — quarantine")
    return {
        "window_log": cinfo + 8,
        "level_hint": flg >> 6,
        "n_uncompressed": len(raw),
        "data": raw,
    }


# ----------------------------------------------------------------------
# zstd (RFC 8878) — frame HEADERS only: no stdlib codec here, and the
# audit must say so instead of pretending (is_full_decode=false)
# ----------------------------------------------------------------------
def parse_zstd_frames(blob: bytes) -> list[dict]:
    """Walk zstd + skippable frame headers. Compressed payloads cannot
    be decoded without a zstd codec, so a zstd frame ends the walk
    (its length is not knowable from the header alone); skippable
    frames carry their size and the walk continues across them."""
    frames: list[dict] = []
    pos = 0
    while pos < len(blob):
        if pos + 4 > len(blob):
            raise ValueError("zstd: truncated magic — quarantine")
        magic = struct.unpack_from("<I", blob, pos)[0]
        if _ZSTD_SKIP_LO <= magic <= _ZSTD_SKIP_LO + 15:
            if pos + 8 > len(blob):
                raise ValueError("zstd: truncated skippable header")
            (size,) = struct.unpack_from("<I", blob, pos + 4)
            if pos + 8 + size > len(blob):
                raise ValueError("zstd: skippable frame overruns blob")
            frames.append({"kind": "skippable", "n_payload": size})
            pos += 8 + size
            continue
        if magic != _ZSTD_MAGIC:
            raise ValueError(f"zstd: bad magic {magic:#x} — quarantine")
        p = pos + 4
        if p >= len(blob):
            raise ValueError("zstd: truncated frame header")
        fhd = blob[p]
        p += 1
        if fhd & 0x08:
            raise ValueError("zstd: reserved FHD bit set — quarantine")
        single = bool(fhd & 0x20)
        checksum = bool(fhd & 0x04)
        did_flag = fhd & 0x03
        fcs_flag = fhd >> 6
        window_log = 0
        if not single:
            if p >= len(blob):
                raise ValueError("zstd: truncated window descriptor")
            wd = blob[p]
            p += 1
            window_log = 10 + (wd >> 3)  # mantissa adds sub-power steps
        did_size = (0, 1, 2, 4)[did_flag]
        if p + did_size > len(blob):
            raise ValueError("zstd: truncated dictionary id")
        dict_id = int.from_bytes(blob[p : p + did_size], "little")
        p += did_size
        fcs_size = (1 if single else 0, 2, 4, 8)[fcs_flag]
        if p + fcs_size > len(blob):
            raise ValueError("zstd: truncated frame content size")
        content = int.from_bytes(blob[p : p + fcs_size], "little")
        if fcs_flag == 1:
            content += 256
        if fcs_size == 0:
            content = -1  # unknown per spec
        p += fcs_size
        frames.append(
            {
                "kind": "zstd",
                "window_log": window_log,
                "dict_id": dict_id,
                "content_size": content,
                "has_checksum": checksum,
            }
        )
        break  # compressed payload length unknowable without a codec
    if not frames:
        raise ValueError("zstd: empty blob — quarantine")
    return frames


def encode_zstd_frame(
    content_size: int,
    window_log: int | None = None,
    dict_id: int = 0,
    checksum: bool = False,
    payload: bytes = b"",
) -> bytes:
    """Frame header per RFC 8878 + an opaque stand-in payload (the
    header parse is the subject; a real payload needs a codec)."""
    single = window_log is None
    did_flag = (
        0 if not dict_id
        else 1 if dict_id < 256
        else 2 if dict_id < 65536
        else 3
    )
    fcs_flag = 2  # 4-byte explicit size keeps the fixture simple
    fhd = (fcs_flag << 6) | (0x20 if single else 0) | (0x04 if checksum else 0) | did_flag
    out = bytearray(struct.pack("<I", _ZSTD_MAGIC))
    out.append(fhd)
    if not single:
        if not 10 <= window_log <= 41:
            raise ValueError("zstd: window_log out of range")
        out.append((window_log - 10) << 3)
    out += dict_id.to_bytes((0, 1, 2, 4)[did_flag], "little")
    out += struct.pack("<I", content_size)
    return bytes(out) + payload


def encode_zstd_skippable(payload: bytes, nibble: int = 0) -> bytes:
    return struct.pack("<II", _ZSTD_SKIP_LO + nibble, len(payload)) + payload


# ----------------------------------------------------------------------
# xz / bzip2 — stdlib decoders with header-field extraction
# ----------------------------------------------------------------------
_XZ_CHECKS = {0x00: "none", 0x01: "crc32", 0x04: "crc64", 0x0A: "sha256"}


def parse_xz(blob: bytes, max_output: int = MAX_OUTPUT_BYTES) -> dict:
    import lzma

    if len(blob) < 12 or blob[:6] != b"\xfd7zXZ\x00":
        raise ValueError("xz: bad stream header — quarantine")
    if blob[6] != 0:
        raise ValueError("xz: reserved stream flag byte — quarantine")
    check = blob[7]
    if check not in _XZ_CHECKS:
        raise ValueError(f"xz: reserved check type {check:#x} — quarantine")
    (crc,) = struct.unpack_from("<I", blob, 8)
    if crc != (zlib.crc32(blob[6:8]) & 0xFFFFFFFF):
        raise ValueError("xz: stream-flag CRC mismatch — quarantine")
    # multi-stream walk (what lzma.decompress does), but through a
    # decompressobj so the output budget is enforceable
    raw = bytearray()
    data = blob
    try:
        while True:
            dec = lzma.LZMADecompressor(format=lzma.FORMAT_XZ)
            raw += _capped(dec, data, max_output - len(raw), "xz")
            if not dec.eof:
                raise ValueError("xz: truncated stream — quarantine")
            data = dec.unused_data.lstrip(b"\x00")  # stream padding
            if not data:
                break
    except lzma.LZMAError as e:
        raise ValueError(f"xz: decode error — quarantine ({e})") from e
    raw = bytes(raw)
    return {
        "check_type": _XZ_CHECKS[check],
        "n_uncompressed": len(raw),
        "data": raw,
    }


def parse_bzip2(blob: bytes, max_output: int = MAX_OUTPUT_BYTES) -> dict:
    import bz2

    if len(blob) < 4 or blob[:3] != b"BZh" or not blob[3:4].isdigit():
        raise ValueError("bzip2: bad magic — quarantine")
    level = int(blob[3:4])
    if not 1 <= level <= 9:
        raise ValueError(f"bzip2: level {level} out of range")
    raw = bytearray()
    data = blob
    try:
        while True:
            dec = bz2.BZ2Decompressor()
            raw += _capped(dec, data, max_output - len(raw), "bzip2")
            if not dec.eof:
                raise ValueError("bzip2: truncated stream — quarantine")
            data = dec.unused_data
            if not data:
                break
    except OSError as e:
        raise ValueError(f"bzip2: decode error — quarantine ({e})") from e
    raw = bytes(raw)
    return {"level": level, "n_uncompressed": len(raw), "data": raw}
