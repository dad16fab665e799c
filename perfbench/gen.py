"""Seeded input generator for the benchmark.

The raster workloads' inputs are made here from ``--seed``: a year of
daily precipitation GeoTIFFs (float32, DEFLATE, tiled, with a nodata
lake), the county label grid they are aggregated over, and TIGER-style
county and state shapefiles traced from that grid. The same seed gives
the same bytes (the .dbf header date aside), and the program receives
only the files. The GeoTIFF writer is this module's own, so the inputs
do not depend on the program's encoder. The query mix reads the
registry corpus kept under ``corpus/``; ``plant_contamination`` makes
the one altered copy of it that the contamination query reads.
"""

from __future__ import annotations

import datetime as dt
import os
import struct
import zlib
from dataclasses import dataclass

import numpy as np

NODATA = -9999.0
STATE_FIPS = {"MI": "26", "OH": "39"}


# ---------------------------------------------------------------- rasters
def encode_geotiff(arr: np.ndarray, nodata: float = NODATA, tile: int = 16) -> bytes:
    """Little-endian classic TIFF, one float32 band, square DEFLATE tiles,
    GDAL_NODATA tag. Edge tiles are zero-padded as the TIFF spec asks."""
    arr = np.ascontiguousarray(arr, dtype="<f4")
    h, w = arr.shape
    ntx, nty = -(-w // tile), -(-h // tile)
    tiles = []
    for ty in range(nty):
        for tx in range(ntx):
            blk = np.zeros((tile, tile), dtype="<f4")
            part = arr[ty * tile : (ty + 1) * tile, tx * tile : (tx + 1) * tile]
            blk[: part.shape[0], : part.shape[1]] = part
            tiles.append(zlib.compress(blk.tobytes(), 6))
    nd = f"{nodata:g}\0".encode("ascii")
    n = len(tiles)
    # (tag, type, count, payload-bytes); type 3=SHORT 4=LONG 2=ASCII 12=DOUBLE
    entries = [
        (256, 4, 1, struct.pack("<I", w)),
        (257, 4, 1, struct.pack("<I", h)),
        (258, 3, 1, struct.pack("<H", 32)),
        (259, 3, 1, struct.pack("<H", 8)),
        (262, 3, 1, struct.pack("<H", 1)),
        (277, 3, 1, struct.pack("<H", 1)),
        (284, 3, 1, struct.pack("<H", 1)),
        (322, 3, 1, struct.pack("<H", tile)),
        (323, 3, 1, struct.pack("<H", tile)),
        (324, 4, n, None),  # tile offsets, filled below
        (325, 4, n, struct.pack(f"<{n}I", *[len(t) for t in tiles])),
        (339, 3, 1, struct.pack("<H", 3)),
        (33550, 12, 3, struct.pack("<3d", 0.0416667, 0.0416667, 0.0)),
        (33922, 12, 6, struct.pack("<6d", 0, 0, 0, -90.0, 48.0, 0)),
        (42113, 2, len(nd), nd),
    ]
    ifd_off = 8
    overflow_off = ifd_off + 2 + 12 * len(entries) + 4
    overflow_size = sum(
        (4 * cnt if payload is None else len(payload))
        for _t, _ty, cnt, payload in entries
        if (4 * cnt if payload is None else len(payload)) > 4
    )
    data_off = overflow_off + overflow_size
    offsets, pos = [], data_off
    for t in tiles:
        offsets.append(pos)
        pos += len(t)
    out = bytearray(struct.pack("<2sHI", b"II", 42, ifd_off))
    out += struct.pack("<H", len(entries))
    overflow = bytearray()
    for tag, typ, cnt, payload in entries:
        if payload is None:
            payload = struct.pack(f"<{n}I", *offsets)
        if len(payload) <= 4:
            out += struct.pack("<HHI", tag, typ, cnt) + payload.ljust(4, b"\0")
        else:
            out += struct.pack("<HHII", tag, typ, cnt, overflow_off + len(overflow))
            overflow += payload
    out += struct.pack("<I", 0)
    out += overflow
    assert len(out) == data_off
    for t in tiles:
        out += t
    return bytes(out)


def raster_name(day: dt.date) -> str:
    return f"prism_ppt_us_30s_{day:%Y%m%d}.tif"


@dataclass
class Grid:
    """County label grid: ``label[y, x]`` indexes ``geoids``; cells under
    the lake are nodata in every raster. Pixel (y, x) has its centre at
    (x, y), so rings traced at half-integers never pass through a centre."""

    label: np.ndarray
    geoids: list[str]
    states: list[str]  # per county
    lake: np.ndarray  # bool mask
    mi_cols: int  # columns [0, mi_cols) are state MI, the rest OH


def make_grid(rng: np.random.Generator, h: int, w: int, bands: int = 4, per_band: int = 3) -> Grid:
    """Counties are column-convex: in each band of columns, ``per_band``
    counties are stacked with boundaries that wander by one row per
    column. Adjacent columns of a county always share a row, so every
    county is one simply connected, non-convex rectilinear ring."""
    label = np.zeros((h, w), dtype=np.int32)
    edges = np.linspace(0, w, bands + 1).astype(int)
    geoids, states = [], []
    mi_bands = bands // 2
    for b in range(bands):
        x0, x1 = edges[b], edges[b + 1]
        base = np.linspace(0, h, per_band + 1)
        bounds = np.zeros((per_band + 1, x1 - x0), dtype=int)
        bounds[-1] = h
        for k in range(1, per_band):
            walk = np.clip(np.cumsum(rng.integers(-1, 2, size=x1 - x0)), -2, 2)
            bounds[k] = int(round(base[k])) + walk
        st = "MI" if b < mi_bands else "OH"
        for k in range(per_band):
            idx = len(geoids)
            geoids.append(f"{STATE_FIPS[st]}{idx * 2 + 1:03d}")
            states.append(st)
            for j, x in enumerate(range(x0, x1)):
                label[bounds[k, j] : bounds[k + 1, j], x] = idx
    lake = np.zeros((h, w), dtype=bool)
    ly, lx = int(rng.integers(2, h // 3)), int(rng.integers(1, edges[1] - 4))
    lake[ly : ly + 3, lx : lx + 4] = True
    return Grid(label, geoids, states, lake, int(edges[mi_bands]))


def trace_ring(mask: np.ndarray) -> list[list[float]]:
    """Counter-clockwise boundary ring of a simply connected cell region,
    at half-integer coordinates, with collinear vertices removed."""
    nxt: dict[tuple[float, float], tuple[float, float]] = {}
    for y, x in zip(*np.nonzero(mask)):
        l, r, b, t = x - 0.5, x + 0.5, y - 0.5, y + 0.5

        def inside(yy: int, xx: int) -> bool:
            return 0 <= yy < mask.shape[0] and 0 <= xx < mask.shape[1] and bool(mask[yy, xx])

        if not inside(y - 1, x):
            nxt[(l, b)] = (r, b)
        if not inside(y, x + 1):
            nxt[(r, b)] = (r, t)
        if not inside(y + 1, x):
            nxt[(r, t)] = (l, t)
        if not inside(y, x - 1):
            nxt[(l, t)] = (l, b)
    start = min(nxt)
    ring, p = [start], nxt[start]
    while p != start:
        ring.append(p)
        p = nxt[p]
    if len(ring) != len(nxt):
        raise ValueError("region is not one simple ring")
    keep = []
    for i, p in enumerate(ring):
        a, c = ring[i - 1], ring[(i + 1) % len(ring)]
        if not ((a[0] == p[0] == c[0]) or (a[1] == p[1] == c[1])):
            keep.append([float(p[0]), float(p[1])])
    return keep


def write_shapes(grid: Grid, out_dir: str) -> tuple[str, str]:
    """County and state shapefiles through the program's TIGER-style writer."""
    from shared_etl_pipelines_spark.operators.geo import Polygon
    from shared_etl_pipelines_spark.sources.vector import write_shapefile

    h, w = grid.label.shape
    counties = [
        Polygon(g, trace_ring(grid.label == i), {"GEOID": g, "STUSPS": grid.states[i]})
        for i, g in enumerate(grid.geoids)
    ]
    xs = {"MI": (-0.5, grid.mi_cols - 0.5), "OH": (grid.mi_cols - 0.5, w - 0.5)}
    states = [
        Polygon(st, [[x0, -0.5], [x1, -0.5], [x1, h - 0.5], [x0, h - 0.5]],
                {"STUSPS": st, "STATEFP": STATE_FIPS[st]})
        for st, (x0, x1) in xs.items()
    ]
    os.makedirs(out_dir, exist_ok=True)
    county = os.path.join(out_dir, "tl_county")
    state = os.path.join(out_dir, "tl_state")
    write_shapefile(county, counties, [("GEOID", "C", 5, 0), ("STUSPS", "C", 2, 0)])
    write_shapefile(state, states, [("STUSPS", "C", 2, 0), ("STATEFP", "C", 2, 0)])
    return county + ".shp", state + ".shp"


def daily_values(rng: np.random.Generator, grid: Grid, days: int) -> np.ndarray:
    """(days, h, w) float32 precipitation: ~35 % wet cells per day with
    gamma amounts in hundredths of a millimetre; the lake is nodata."""
    h, w = grid.label.shape
    wet = rng.random((days, h, w)) < 0.35
    amt = np.round(rng.gamma(0.8, 6.0, size=(days, h, w)), 2)
    vals = np.where(wet, amt, 0.0).astype(np.float32)
    vals[:, grid.lake] = NODATA
    return vals


def write_rasters(vals: np.ndarray, start: dt.date, out_dir: str) -> list[str]:
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for d in range(vals.shape[0]):
        p = os.path.join(out_dir, raster_name(start + dt.timedelta(days=d)))
        with open(p, "wb") as f:
            f.write(encode_geotiff(vals[d]))
        paths.append(p)
    return paths


# ----------------------------------------------------------------- corpus
def plant_contamination(rng: np.random.Generator, corpus: str, out_dir: str,
                        n: int = 8, span: int = 8) -> list[int]:
    """A copy of the registry corpus in which ``n`` documents outside the
    benchmark slice (``doc_id % 100 != 0``) end with a run of ``span``
    consecutive whitespace tokens copied from a document inside it.
    At sf0.01 no two documents share a 5-token shingle, so without these
    overlaps the contamination query returns no rows and its oracle
    check could not fail. Only ``documents`` changes (its ``n_chars``
    kept consistent); the other tables are copied as they are. Returns
    the planted doc ids."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    for name in os.listdir(corpus):
        if name != "documents.parquet":
            shutil.copyfile(os.path.join(corpus, name), os.path.join(out_dir, name))
    docs = pq.read_table(os.path.join(corpus, "documents.parquet"))
    ids = docs.column("doc_id").to_pylist()
    texts = docs.column("text").to_pylist()
    bench = [i for i, d in enumerate(ids) if d % 100 == 0 and len(texts[i].split()) >= span]
    rest = [i for i, d in enumerate(ids) if d % 100 != 0]
    planted = sorted(int(i) for i in rng.choice(rest, size=n, replace=False))
    for i in planted:
        toks = texts[int(rng.choice(bench))].split()
        at = int(rng.integers(0, len(toks) - span + 1))
        texts[i] = texts[i] + " " + " ".join(toks[at : at + span])
    col = docs.schema.get_field_index("text")
    docs = docs.set_column(col, docs.schema.field(col), pa.array(texts, docs.schema.field(col).type))
    col = docs.schema.get_field_index("n_chars")
    docs = docs.set_column(col, docs.schema.field(col),
                           pa.array([len(t) for t in texts], docs.schema.field(col).type))
    pq.write_table(docs, os.path.join(out_dir, "documents.parquet"))
    return [ids[i] for i in planted]
