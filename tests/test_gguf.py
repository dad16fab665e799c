"""GGUF container: metadata kv types, tensor infos, alignment, real
dequantization of all four supported types, and refusal boundaries."""

import struct

import pytest

from shared_etl_pipelines_spark.sources import gguf as G


def _blob():
    f32 = struct.pack("<16f", *[(i * 3) % 7 * 0.25 for i in range(16)])
    f16 = struct.pack("<16e", *[(i % 5) * 0.5 for i in range(16)])
    q8 = b"".join(
        struct.pack("<e", 0.25)
        + struct.pack("<32b", *[((b * 32 + i) % 17) - 8 for i in range(32)])
        for b in range(2)
    )
    lo = [i % 16 for i in range(16)]
    hi = [(i + 16) % 16 for i in range(16)]
    q4 = struct.pack("<e", 0.5) + bytes((l | (h << 4)) for l, h in zip(lo, hi))
    return G.encode_gguf(
        {
            "general.name": "m", "general.alignment": 32,
            "llm.context_length": 515, "general.quantized": True,
            "tokenizer.tokens": ["a", "b", "c"], "general.score": 0.5,
        },
        [
            ("embd", 0, [4, 4], f32), ("attn", 1, [16], f16),
            ("ffn", 8, [64], q8), ("gate", 2, [32], q4),
        ],
    )


def test_metadata_kv_types_roundtrip():
    p = G.parse_gguf(_blob())
    md = p["metadata"]
    assert md["general.name"] == "m"
    assert md["llm.context_length"] == 515
    assert md["general.quantized"] is True
    assert md["tokenizer.tokens"] == ["a", "b", "c"]
    assert md["general.score"] == 0.5
    assert p["data_start"] % 32 == 0


def test_dequant_all_types_exact():
    blob = _blob()
    p = G.parse_gguf(blob)
    assert G.dequant_tensor(blob, p, "embd") == [
        (i * 3) % 7 * 0.25 for i in range(16)
    ]
    assert G.dequant_tensor(blob, p, "attn") == [
        (i % 5) * 0.5 for i in range(16)
    ]
    assert G.dequant_tensor(blob, p, "ffn") == [
        0.25 * (((b * 32 + i) % 17) - 8) for b in range(2) for i in range(32)
    ]
    lo = [0.5 * (i % 16 - 8) for i in range(16)]
    hi = [0.5 * ((i + 16) % 16 - 8) for i in range(16)]
    assert G.dequant_tensor(blob, p, "gate") == lo + hi


def test_unknown_quant_censuses_but_refuses_dequant():
    blob = G.encode_gguf({"general.name": "x"}, [("q5", 6, [32], b"\x00" * 24)])
    p = G.parse_gguf(blob)
    t = p["tensors"][0]
    assert t["type"] == "UNKNOWN(6)" and t["nbytes"] is None
    with pytest.raises(ValueError, match="dequantization unsupported"):
        G.dequant_tensor(blob, p, "q5")


def test_refusals():
    blob = _blob()
    with pytest.raises(ValueError, match="bad magic"):
        G.parse_gguf(b"XXXX" + blob[4:])
    v2 = blob[:4] + struct.pack("<I", 2) + blob[8:]
    with pytest.raises(ValueError, match="version 2"):
        G.parse_gguf(v2)
    with pytest.raises(ValueError, match="truncated"):
        G.parse_gguf(blob[:20])
    # block-size lie: a Q8_0 tensor with 33 elements
    bad = G.encode_gguf({"general.name": "x"}, [("t", 8, [33], b"\x00" * 34)])
    with pytest.raises(ValueError, match="block size"):
        G.parse_gguf(bad)


def test_spark_audit_and_quarantine(spark, sf_dir):
    from shared_etl_pipelines_spark.sources.gguf import (
        audit_gguf_assets,
        synthetic_gguf_assets,
    )
    from shared_etl_pipelines_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").limit(25)
    out = audit_gguf_assets(synthetic_gguf_assets(docs)).collect()
    assert out and all(r["ok"] and r["n_tensors"] == 4 for r in out)
    garbage = spark.createDataFrame(
        [(3, "application/gguf", bytearray(b"nope"))],
        "doc_id bigint, media_type string, blob binary",
    )
    q = audit_gguf_assets(garbage).collect()
    assert len(q) == 1 and not q[0]["ok"] and "magic" in q[0]["reason"]


def test_bad_context_length_quarantines_next_to_a_good_model(spark):
    """A string or missing llm.context_length quarantines that one blob,
    naming the key; the good model in the same batch survives."""
    from shared_etl_pipelines_spark.sources.gguf import audit_gguf_assets

    tensors = [("t", 0, [2], struct.pack("<2f", 1.0, 2.0))]
    good = G.encode_gguf({"llm.context_length": 512}, tensors)
    text = G.encode_gguf({"llm.context_length": "abc"}, tensors)
    missing = G.encode_gguf({"general.name": "m"}, tensors)
    assets = spark.createDataFrame(
        [(1, "application/gguf", bytearray(good)),
         (2, "application/gguf", bytearray(text)),
         (3, "application/gguf", bytearray(missing))],
        "doc_id bigint, media_type string, blob binary",
    ).coalesce(1)
    out = {r["doc_id"]: r for r in audit_gguf_assets(assets).collect()}
    assert sorted(out) == [1, 2, 3]
    assert out[1]["ok"] and out[1]["context_length"] == 512 and out[1]["total_params"] == 2
    for d in (2, 3):
        assert not out[d]["ok"] and "llm.context_length" in out[d]["reason"]
        assert out[d]["n_tensors"] == 0 and out[d]["context_length"] == 0
