"""Puffin sidecar container: spec framing round-trip, LZ4-compressed
footer decode, blob codecs, refusals."""

import json
import struct

import pytest

from shared_etl_pipelines_spark.sources.puffin import (
    read_puffin,
    read_puffin_blob,
    write_puffin,
)
from shared_etl_pipelines_spark.sources.roaring import (
    deserialize_roaring64,
    serialize_roaring64,
)


def test_roundtrip_with_roaring_blobs():
    bm1 = serialize_roaring64(set(range(100, 70_000)) | {1 << 40})
    bm2 = serialize_roaring64({5, 6, 7})
    f = write_puffin(
        [
            {"type": "roaring64-portable-v1", "payload": bm1,
             "snapshot_id": 9, "properties": {"tag": "m1"}},
            {"type": "roaring64-portable-v1", "payload": bm2,
             "properties": {"tag": "t0"}},
        ],
        file_properties={"created-by": "sparketl"},
    )
    meta = read_puffin(f)
    assert len(meta["blobs"]) == 2
    assert meta["properties"]["created-by"] == "sparketl"
    b1 = read_puffin_blob(f, meta["blobs"][0])
    assert b1 == bm1
    assert deserialize_roaring64(b1)[-1] == 1 << 40
    assert read_puffin_blob(f, meta["blobs"][1]) == bm2
    assert meta["blobs"][0]["snapshot-id"] == 9


def test_compressed_footer_payload_decodes():
    import pyarrow as pa

    bm = serialize_roaring64({1, 2, 3})
    f = bytearray(write_puffin(
        [{"type": "roaring64-portable-v1", "payload": bm}]
    ))
    # recompress the footer payload and set flag bit 0
    (psize,) = struct.unpack_from("<i", f, len(f) - 12)
    start = len(f) - 12 - psize
    payload = bytes(f[start : start + psize])
    comp = pa.Codec("lz4").compress(payload, asbytes=True)
    f2 = (
        f[: start - 4] + b"PFA1" + comp
        + struct.pack("<i", len(comp)) + b"\x01\x00\x00\x00" + b"PFA1"
    )
    meta = read_puffin(bytes(f2))
    assert read_puffin_blob(bytes(f2), meta["blobs"][0]) == bm


@pytest.mark.parametrize("codec", ["lz4", "zstd"])
def test_compressed_blob_decodes(codec):
    # the spec's blob codecs: lz4 is the LZ4 FRAME format, zstd a frame
    import pyarrow as pa

    bm = serialize_roaring64(set(range(5000)))
    f = write_puffin([{
        "type": "roaring64-portable-v1",
        "payload": pa.Codec(codec).compress(bm, asbytes=True),
    }])
    entry = dict(read_puffin(f)["blobs"][0], **{"compression-codec": codec})
    assert read_puffin_blob(f, entry) == bm


def test_refusals():
    bm = serialize_roaring64({1})
    f = write_puffin([{"type": "roaring64-portable-v1", "payload": bm}])
    with pytest.raises(ValueError, match="magic"):
        read_puffin(b"XXXX" + f[4:])
    with pytest.raises(ValueError, match="flags"):
        bad = bytearray(f)
        bad[-8] |= 2
        read_puffin(bytes(bad))
    meta = read_puffin(f)
    entry = dict(meta["blobs"][0])
    entry["length"] = len(f)  # span overrun
    with pytest.raises(ValueError, match="overruns"):
        read_puffin_blob(f, entry)
    entry = dict(meta["blobs"][0])
    entry["compression-codec"] = "brotli"
    with pytest.raises(ValueError, match="codec"):
        read_puffin_blob(f, entry)
    entry = dict(meta["blobs"][0])
    entry["type"] = "deletion-vector-v1"
    with pytest.raises(ValueError, match="not transcribed"):
        read_puffin_blob(f, entry)
    # truncated / lying payload size
    bad = bytearray(f)
    struct.pack_into("<i", bad, len(bad) - 12, len(f))
    with pytest.raises(ValueError, match="overruns|magic"):
        read_puffin(bytes(bad))
