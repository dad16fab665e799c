"""Compression-container audit (sources/compression.py)."""
import bz2
import lzma
import struct
import zlib

import pytest

from shared_etl_pipelines_spark.sources import compression as C

DATA = b"the quick brown corpus " * 20


def test_sniff_dispatch():
    assert C.sniff_codec(C.encode_gzip_member(DATA)) == "gzip"
    assert C.sniff_codec(zlib.compress(DATA)) == "zlib"
    assert C.sniff_codec(C.encode_zstd_frame(5)) == "zstd"
    assert C.sniff_codec(C.encode_zstd_skippable(b"m")) == "zstd"
    assert C.sniff_codec(lzma.compress(DATA)) == "xz"
    assert C.sniff_codec(bz2.compress(DATA)) == "bzip2"
    assert C.sniff_codec(b"plain text") == "unknown"
    assert C.sniff_codec(b"") == "unknown"


def test_gzip_multi_member_walk_with_all_flags():
    m1 = C.encode_gzip_member(
        DATA, mtime=1234, os_byte=3, fname="a.txt", fcomment="note",
        hcrc=True, extra=b"XX\x02\x00ab", ftext=True,
    )
    m2 = C.encode_gzip_member(DATA[:100], mtime=99, os_byte=255)
    out = C.parse_gzip_members(m1 + m2)
    assert len(out) == 2
    assert out[0]["fname"] == "a.txt" and out[0]["fcomment"] == "note"
    assert out[0]["mtime"] == 1234 and out[0]["ftext"]
    assert out[0]["data"] == DATA
    assert out[1]["os"] == 255 and out[1]["data"] == DATA[:100]
    # stdlib interop: python gzip reads our members
    import gzip as _gzip

    assert _gzip.decompress(m1 + m2) == DATA + DATA[:100]


def test_gzip_refusals():
    m = C.encode_gzip_member(DATA)
    bad_crc = bytearray(m)
    bad_crc[-6] ^= 0xFF
    with pytest.raises(ValueError):
        C.parse_gzip_members(bytes(bad_crc))
    bad_isize = bytearray(m)
    bad_isize[-1] ^= 0xFF
    with pytest.raises(ValueError):
        C.parse_gzip_members(bytes(bad_isize))
    reserved = bytearray(m)
    reserved[3] |= 0x80  # reserved FLG bit
    with pytest.raises(ValueError):
        C.parse_gzip_members(bytes(reserved))
    with pytest.raises(ValueError):
        C.parse_gzip_members(m[:-3])  # truncated trailer
    hc = bytearray(C.encode_gzip_member(DATA, hcrc=True))
    hc[10] ^= 0xFF  # header byte under FHCRC
    with pytest.raises(ValueError):
        C.parse_gzip_members(bytes(hc))


def test_zlib_fields_and_refusals():
    o = C.parse_zlib(zlib.compress(DATA, 6))
    assert o["window_log"] == 15 and o["data"] == DATA
    with pytest.raises(ValueError):
        C.parse_zlib(b"\x79\x9c")  # FCHECK failure
    with pytest.raises(ValueError):
        C.parse_zlib(zlib.compress(DATA)[:-2])  # adler truncated


def test_zstd_frame_walk():
    blob = C.encode_zstd_skippable(b"meta" * 3, nibble=5) + C.encode_zstd_frame(
        12345, window_log=22, dict_id=77, checksum=True, payload=b"\x01"
    )
    fr = C.parse_zstd_frames(blob)
    assert fr[0] == {"kind": "skippable", "n_payload": 12}
    assert fr[1] == {
        "kind": "zstd", "window_log": 22, "dict_id": 77,
        "content_size": 12345, "has_checksum": True,
    }
    single = C.parse_zstd_frames(C.encode_zstd_frame(500))[0]
    assert single["window_log"] == 0 and single["content_size"] == 500
    # wide dictionary ids pick wider fields
    wide = C.parse_zstd_frames(C.encode_zstd_frame(5, dict_id=70000))[0]
    assert wide["dict_id"] == 70000


def test_zstd_refusals():
    bad = bytearray(C.encode_zstd_frame(5))
    bad[4] |= 0x08  # reserved FHD bit
    with pytest.raises(ValueError):
        C.parse_zstd_frames(bytes(bad))
    with pytest.raises(ValueError):
        C.parse_zstd_frames(C.encode_zstd_frame(5)[:6])
    with pytest.raises(ValueError):
        C.parse_zstd_frames(struct.pack("<I", 0xDEADBEEF) + b"\x00" * 8)
    with pytest.raises(ValueError):
        C.parse_zstd_frames(C.encode_zstd_skippable(b"abc")[:7])
    with pytest.raises(ValueError):
        C.encode_zstd_frame(1, window_log=50)


def test_xz_check_types_and_refusals():
    assert C.parse_xz(lzma.compress(DATA, check=lzma.CHECK_CRC32))[
        "check_type"
    ] == "crc32"
    o = C.parse_xz(lzma.compress(DATA, check=lzma.CHECK_CRC64))
    assert o["check_type"] == "crc64" and o["data"] == DATA
    assert C.parse_xz(lzma.compress(DATA, check=lzma.CHECK_SHA256))[
        "check_type"
    ] == "sha256"
    blob = lzma.compress(DATA)
    with pytest.raises(ValueError):
        C.parse_xz(blob[:8])
    bad = bytearray(blob)
    bad[8] ^= 0xFF  # stream-flag CRC
    with pytest.raises(ValueError):
        C.parse_xz(bytes(bad))
    with pytest.raises(ValueError):
        C.parse_xz(blob[:-4])  # decode error


def test_bzip2_level_and_refusals():
    for lvl in (1, 7, 9):
        o = C.parse_bzip2(bz2.compress(DATA, lvl))
        assert o["level"] == lvl and o["data"] == DATA
    with pytest.raises(ValueError):
        C.parse_bzip2(b"BZx1234")
    with pytest.raises(ValueError):
        C.parse_bzip2(bz2.compress(DATA)[:10])


def test_decompression_bomb_output_cap():
    # ADVICE r9: a tiny member expanding past the output budget must
    # refuse with ValueError ("quarantine"), not OOM the executor.
    bomb = b"\x00" * (1 << 20)
    cases = [
        (C.parse_gzip_members, C.encode_gzip_member(bomb)),
        (C.parse_zlib, zlib.compress(bomb)),
        (C.parse_xz, lzma.compress(bomb)),
        (C.parse_bzip2, bz2.compress(bomb)),
    ]
    for fn, blob in cases:
        with pytest.raises(ValueError, match="output cap"):
            fn(blob, max_output=4096)
        # and the same blob decodes fine under the default budget
        out = fn(blob)
        got = out[0]["data"] if isinstance(out, list) else out["data"]
        assert got == bomb


@pytest.mark.parametrize("codec", ["snappy", "lz4", "zstd"])
def test_decompress_payload_codecs(codec):
    # the Avro/Puffin payload codecs: pyarrow's encoder output decodes,
    # corrupt input and oversized output refuse with ValueError
    import pyarrow as pa

    blob = pa.Codec(codec).compress(DATA, asbytes=True)
    assert C.decompress(codec, blob) == DATA
    for bad in (blob[: len(blob) // 2], b"\xff" * 16):
        with pytest.raises(ValueError, match="quarantine"):
            C.decompress(codec, bad)
    bomb = pa.Codec(codec).compress(b"\x00" * (1 << 20), asbytes=True)
    with pytest.raises(ValueError, match="output cap"):
        C.decompress(codec, bomb, max_output=4096)
    assert len(C.decompress(codec, bomb)) == 1 << 20


def test_decompress_snappy_refuses_oversized_header_before_decoding():
    # a varint length claiming one byte past the cap, then no body: the
    # refusal must come from the header, not from the decoder
    n = C.MAX_OUTPUT_BYTES + 1
    header = bytearray()
    while n >= 0x80:
        header.append((n & 0x7F) | 0x80)
        n >>= 7
    header.append(n)
    with pytest.raises(ValueError, match="output cap"):
        C.decompress("snappy", bytes(header))
