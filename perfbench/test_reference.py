"""Hand-checkable cases for the benchmark's reference computations and
its input generator. Run with ``python -m pytest perfbench``."""

import numpy as np
import pytest

import gen
import reference as ref


def test_trailing_sum_keeps_partial_frames():
    x = np.array([1.0, 2.0, 3.0, 4.0, 5.0])
    assert ref.trailing_sum(x, 3).tolist() == [1.0, 3.0, 6.0, 9.0, 12.0]
    assert ref.trailing_sum(x, 7).tolist() == [1.0, 3.0, 6.0, 10.0, 15.0]


def test_zscore_uses_sample_deviation():
    assert ref.zscore(np.array([1.0, 2.0, 3.0])).tolist() == [-1.0, 0.0, 1.0]


def test_zonal_percentiles_interpolate_linearly():
    z = ref.zonal(np.array([4.0, 1.0, 3.0, 2.0]))
    # rank = q * (n - 1): p5 -> 0.15, q1 -> 0.75, med -> 1.5, q3 -> 2.25, p95 -> 2.85
    assert z == pytest.approx({"min": 1.0, "max": 4.0, "avg": 2.5, "p5": 1.15, "q1": 1.75,
                 "med": 2.5, "q3": 3.25, "p95": 3.85})


def test_zonal_by_day_skips_masked_cells_and_empty_zones():
    vals = np.array([[[1.0, 5.0], [3.0, 9.0]]])  # one day, 2x2
    label = np.array([[0, 0], [0, 1]])
    keep = np.array([[True, False], [True, True]])
    got = ref.zonal_by_day(vals, label, keep, ["A", "B", "C"])
    assert sorted(got) == [("A", 0), ("B", 0)]
    assert got[("A", 0)]["avg"] == 2.0 and got[("B", 0)]["max"] == 9.0


def test_trace_ring_of_an_l_shape():
    mask = np.array([[1, 0], [1, 1]], dtype=bool)
    ring = gen.trace_ring(mask)
    # counter-clockwise from the lowest corner, collinear points dropped
    assert ring == [[-0.5, -0.5], [0.5, -0.5], [0.5, 0.5], [1.5, 0.5], [1.5, 1.5], [-0.5, 1.5]]


def test_geotiff_encoding_is_plain_tiff():
    arr = np.arange(20, dtype=np.float32).reshape(4, 5)
    blob = gen.encode_geotiff(arr, tile=16)
    assert blob[:4] == b"II*\x00"
    assert b"-9999\x00" in blob


def test_planted_documents_share_a_shingle_with_the_benchmark_slice(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    corpus = tmp_path / "corpus"
    corpus.mkdir()
    texts = ["a b c d e f g h i j"] + [f"w{i} x{i} y{i}" for i in range(1, 100)] + ["k l m n o p q r"]
    pq.write_table(pa.table({"doc_id": list(range(101)), "text": texts,
                             "n_chars": [len(t) for t in texts]}), corpus / "documents.parquet")
    pq.write_table(pa.table({"k": [1]}), corpus / "region.parquet")
    planted = gen.plant_contamination(np.random.default_rng(3), str(corpus), str(tmp_path / "out"),
                                      n=4, span=8)
    docs = pq.read_table(tmp_path / "out" / "documents.parquet").to_pydict()
    assert len(planted) == 4 and all(d % 100 != 0 for d in planted)
    bench = [texts[0].split(), texts[100].split()]
    for d, t, n in zip(docs["doc_id"], docs["text"], docs["n_chars"]):
        assert n == len(t)
        tail = t.split()[3:]  # what was appended after the three own tokens
        if d in planted:
            assert any(tail == b[i : i + 8] for b in bench for i in range(len(b) - 7))
        elif d % 100 != 0:
            assert tail == []
    assert (tmp_path / "out" / "region.parquet").exists()
