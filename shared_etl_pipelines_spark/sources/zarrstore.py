"""Zarr v2 array store reader — the PUBLIC spec
(zarr-specs v2: ``.zarray`` metadata + dot-separated chunk files).

Zarr is the de-facto cloud format for the gridded rasters the
reference's geo pipelines consume (PRISM/Sentinel-style), and its
layout is exactly what a distributed engine wants: one small JSON
(``.zarray``: shape, chunks, dtype, compressor, fill_value, order) and
one FILE PER CHUNK named ``i.j[.k...]``. That makes two things cheap:

- **chunk-grid pruning**: a bounding-box predicate selects chunk files
  BEFORE any IO — the raster analog of partition pruning
  (``chunks_for_bbox`` is the planner; its output is the scan list);
- **distributed decode**: each chunk is self-contained (optional zlib/
  gzip compression + a C-order typed buffer), so the Spark scan is
  mapInPandas over the pruned file list, one task batch per slice.

Scope: v2, C order, dtype codes {"<f8", "<f4", "<i8", "<i4", "<i2",
"|i1", "|u1"}, compressor null or {"id": "zlib"/"gzip"}. Filters,
F order, and other codecs refuse loudly (ValueError) — numcodecs'
blosc family is not in this container and a silently-wrong decode is
worse than a quarantine. Missing chunk files resolve to ``fill_value``
per spec (never an error).
"""

from __future__ import annotations

import json
import math
import os
import struct
import zlib

__all__ = [
    "read_zarray",
    "chunks_for_bbox",
    "decode_chunk",
    "write_demo_zarr",
]

_DTYPES = {
    "<f8": ("d", 8), "<f4": ("f", 4), "<i8": ("q", 8),
    "<i4": ("i", 4), "<i2": ("h", 2), "|i1": ("b", 1), "|u1": ("B", 1),
}


def read_zarray(array_dir: str) -> dict:
    """Parse and validate ``.zarray``. Returns the metadata dict plus
    derived ``grid`` (chunk counts per dim)."""
    path = os.path.join(array_dir, ".zarray")
    if not os.path.exists(path):
        raise ValueError(f"zarr: no .zarray under {array_dir} — quarantine")
    with open(path) as fh:
        meta = json.load(fh)
    if meta.get("zarr_format") != 2:
        raise ValueError(f"zarr: format {meta.get('zarr_format')} unsupported")
    if meta.get("order") != "C":
        raise ValueError("zarr: only C order supported — quarantine")
    if meta.get("filters"):
        raise ValueError("zarr: filters unsupported — quarantine")
    comp = meta.get("compressor")
    if comp is not None and comp.get("id") not in ("zlib", "gzip"):
        raise ValueError(
            f"zarr: compressor {comp.get('id')!r} unsupported — quarantine"
        )
    if meta["dtype"] not in _DTYPES:
        raise ValueError(f"zarr: dtype {meta['dtype']!r} unsupported")
    shape, chunks = meta["shape"], meta["chunks"]
    if len(shape) != len(chunks) or not shape:
        raise ValueError("zarr: shape/chunks rank mismatch")
    meta["grid"] = [math.ceil(s / c) for s, c in zip(shape, chunks)]
    return meta


def chunks_for_bbox(meta: dict, lo: list[int], hi: list[int]) -> list[str]:
    """The PRUNING PLANNER: chunk keys whose extent intersects the
    half-open box [lo, hi) — computed from metadata alone, no IO.
    Keys are the spec's dot-joined grid coordinates."""
    if not (len(lo) == len(hi) == len(meta["shape"])):
        raise ValueError("zarr: bbox rank mismatch")
    ranges = []
    for d, (lo_d, hi_d) in enumerate(zip(lo, hi)):
        c = meta["chunks"][d]
        hi_d = min(hi_d, meta["shape"][d])  # clamp to the array extent
        if hi_d <= lo_d:
            return []
        lo_c = max(0, lo_d // c)
        hi_c = min(meta["grid"][d], math.ceil(hi_d / c))
        if hi_c <= lo_c:
            return []
        ranges.append(range(lo_c, hi_c))
    keys = [""]
    for r in ranges:
        keys = [k + ("." if k else "") + str(i) for k in keys for i in r]
    return keys


def decode_chunk(meta: dict, key: str, blob: bytes | None) -> list:
    """One chunk to a flat C-order value list (padded chunk shape). A
    ``None`` blob (missing file) is the spec's fill_value chunk."""
    fmt, width = _DTYPES[meta["dtype"]]
    n = 1
    for c in meta["chunks"]:
        n *= c
    if blob is None:
        fv = meta.get("fill_value", 0)
        return [fv] * n
    comp = meta.get("compressor")
    if comp is not None:
        blob = zlib.decompress(blob, 47)  # zlib or gzip wrapper, auto
    if len(blob) != n * width:
        raise ValueError(
            f"zarr: chunk {key} holds {len(blob)} bytes, expected "
            f"{n * width} — quarantine"
        )
    return list(struct.unpack(f"<{n}{fmt}", blob))


def write_demo_zarr(
    array_dir: str,
    shape: tuple[int, int],
    chunks: tuple[int, int],
    value_fn,
    compressor: str | None = "zlib",
    fill_value: float = 0.0,
    missing: set[str] = frozenset(),
) -> str:
    """Fixture writer: a 2-D ``<f8`` v2 array with ``value_fn(r, c)``
    cells; chunk keys in ``missing`` are NOT written (fill_value
    reads). Out-of-array padding inside edge chunks is written as
    fill_value, per the spec's full-chunk storage rule."""
    os.makedirs(array_dir, exist_ok=True)
    meta = {
        "zarr_format": 2,
        "shape": list(shape),
        "chunks": list(chunks),
        "dtype": "<f8",
        "order": "C",
        "fill_value": fill_value,
        "filters": None,
        "compressor": {"id": "zlib", "level": 6} if compressor else None,
    }
    with open(os.path.join(array_dir, ".zarray"), "w") as fh:
        json.dump(meta, fh, sort_keys=True)
    gr = math.ceil(shape[0] / chunks[0])
    gc = math.ceil(shape[1] / chunks[1])
    for ci in range(gr):
        for cj in range(gc):
            key = f"{ci}.{cj}"
            if key in missing:
                continue
            vals = []
            for r in range(ci * chunks[0], (ci + 1) * chunks[0]):
                for c in range(cj * chunks[1], (cj + 1) * chunks[1]):
                    vals.append(
                        value_fn(r, c)
                        if r < shape[0] and c < shape[1]
                        else fill_value
                    )
            raw = struct.pack(f"<{len(vals)}d", *vals)
            if compressor:
                raw = zlib.compress(raw, 6)
            with open(os.path.join(array_dir, key), "wb") as fh:
                fh.write(raw)
    return array_dir


def scan_zarr(spark, array_dir: str, bbox=None):
    """Distributed cell scan: (row, col, value) for every in-array cell
    — pruned to ``bbox`` = (lo, hi) chunk-wise when given (cells inside
    surviving chunks but outside the box still emit; the box prunes
    FILES, the caller's filter prunes cells — exactly parquet's
    row-group-stats contract)."""
    from pyspark.sql import functions as F  # noqa: F401

    from shared_etl_pipelines_spark.functions.rows import map_rows

    meta = read_zarray(array_dir)
    if len(meta["shape"]) != 2:
        raise ValueError("zarr: scan_zarr is 2-D (raster) scoped")
    keys = (
        chunks_for_bbox(meta, list(bbox[0]), list(bbox[1]))
        if bbox is not None
        else chunks_for_bbox(meta, [0, 0], list(meta["shape"]))
    )
    paths = spark.createDataFrame(
        [(k,) for k in keys], "chunk_key string"
    ).repartition(min(max(len(keys), 1), 32))
    ch_r, ch_c = meta["chunks"]
    n_r, n_c = meta["shape"]

    def decode(key):
        ci, cj = (int(x) for x in key.split("."))
        p = os.path.join(array_dir, key)
        blob = open(p, "rb").read() if os.path.exists(p) else None
        vals = decode_chunk(meta, key, blob)
        for i in range(ch_r):
            r = ci * ch_r + i
            if r >= n_r:
                break
            base = i * ch_c
            for j in range(ch_c):
                c = cj * ch_c + j
                if c >= n_c:
                    break
                yield r, c, float(vals[base + j])

    return map_rows(paths, decode, "row int, col int, value double")


def ensure_demo_zarr(sf_dir: str) -> str:
    """Idempotent demo raster derived from the documents table size:
    shape (16 + n_docs//10, 70), chunks (16, 32), zlib-compressed,
    value (r*7 + c*3) % 11 + 0.25 (quarter steps — exact in f64), with
    chunk "1.1" MISSING so the spec's fill_value read path is
    exercised. Every cell replays in closed form."""
    import hashlib
    import tempfile

    import pyarrow.parquet as pq

    n_docs = pq.read_metadata(os.path.join(sf_dir, "documents.parquet")).num_rows
    rows = 16 + n_docs // 10
    digest = hashlib.md5(repr(("zarr", rows)).encode()).hexdigest()[:12]
    root = os.path.join(
        tempfile.gettempdir(), "spark_graft_zarr_demo_v1", f"a-{digest}"
    )
    done = root + ".done"
    if os.path.exists(done):
        return root
    write_demo_zarr(
        root,
        (rows, 70),
        (16, 32),
        lambda r, c: (r * 7 + c * 3) % 11 + 0.25,
        missing={"1.1"},
    )
    with open(done, "w") as fh:
        fh.write("ok\n")
    return root
