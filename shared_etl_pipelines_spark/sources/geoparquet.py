"""GeoParquet reader — the PUBLIC OGC GeoParquet 1.0 spec
(geoparquet.org): a plain parquet file whose FILE metadata carries a
``geo`` key (JSON: version, primary_column, per-column encoding /
geometry_types / bbox) and whose geometry column holds WKB blobs
(sources/vector.py parse_wkb).

Scale shape: the ``geo`` metadata is a driver-side footer read (tiny);
the geometry payload is a normal distributed parquet scan with the WKB
decode inside Arrow-batched mapInPandas — at 100 TB this is exactly a
parquet scan plus a vectorized decode, no new shuffle.

Refusals: a missing/malformed ``geo`` key, a primary column whose
encoding is not "WKB", or undecodable WKB rows (the latter quarantine
per ROW with a reason — one bad geometry must not kill the scan).
"""

from __future__ import annotations

import json
import os

__all__ = ["read_geo_metadata", "scan_geoparquet", "ensure_demo_geoparquet"]


def read_geo_metadata(path: str) -> dict:
    """The footer's ``geo`` JSON (driver-side, metadata only)."""
    import pyarrow.parquet as pq

    meta = pq.read_metadata(path).metadata or {}
    raw = meta.get(b"geo")
    if raw is None:
        raise ValueError("geoparquet: no 'geo' file metadata — quarantine")
    geo = json.loads(raw.decode("utf-8"))
    col = geo.get("primary_column")
    enc = geo.get("columns", {}).get(col, {}).get("encoding")
    if enc != "WKB":
        raise ValueError(f"geoparquet: encoding {enc!r} unsupported (WKB only)")
    return geo


def scan_geoparquet(spark, path: str):
    """Distributed feature scan: id columns + per-geometry stats
    (type, n_points, area, bbox width) from the WKB decode."""
    from shared_etl_pipelines_spark.engine import read_parquet
    from shared_etl_pipelines_spark.functions.rows import map_rows

    geo = read_geo_metadata(path)
    gcol = geo["primary_column"]
    df = read_parquet(spark, path)

    def scan(feat_id, blob):
        from shared_etl_pipelines_spark.sources.vector import parse_wkb

        try:
            g = parse_wkb(bytes(blob))
            out = (
                feat_id, True, "", g["type"], g["n_points"], float(g["area"]),
                float(g["bbox"][2] - g["bbox"][0]) if g["bbox"] else 0.0,
            )
        except ValueError as e:
            out = (feat_id, False, str(e)[:80], "", 0, 0.0, 0.0)
        yield out

    return map_rows(
        df.select("feat_id", gcol),
        scan,
        "feat_id bigint, ok boolean, reason string, gtype string, "
        "n_points int, area double, bbox_w double",
    )


def ensure_demo_geoparquet(sf_dir: str) -> str:
    """Spec-shaped demo file derived from documents: feature f is a
    Point (f%3==0; big-endian WKB when also f%5==0 — both byte orders
    must decode), a LineString of f%4+2 points (f%3==1), or a square
    polygon of side f%4+1 (f%3==2; even f carries a 0.5x0.5 hole).
    The ``geo`` footer metadata follows GeoParquet 1.0."""
    import hashlib
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq

    from shared_etl_pipelines_spark.sources.vector import (
        encode_wkb_linestring,
        encode_wkb_point,
        encode_wkb_polygon,
    )

    n_docs = pq.read_metadata(
        os.path.join(sf_dir, "documents.parquet")
    ).num_rows
    digest = hashlib.md5(repr(("geopq", n_docs)).encode()).hexdigest()[:12]
    root = os.path.join(
        tempfile.gettempdir(), "spark_graft_geoparquet_demo_v1"
    )
    os.makedirs(root, exist_ok=True)
    path = os.path.join(root, f"f-{digest}.parquet")
    if os.path.exists(path):
        return path
    ids, blobs = [], []
    for f in range(n_docs):
        if f % 3 == 0:
            b = encode_wkb_point(f % 50 + 0.5, float(f % 7), little=f % 5 != 0)
        elif f % 3 == 1:
            k = f % 4 + 2
            b = encode_wkb_linestring([(f % 9 + i, i) for i in range(k)])
        else:
            s = f % 4 + 1
            x0, y0 = f % 11, f % 13
            rings = [
                [(x0, y0), (x0 + s, y0), (x0 + s, y0 + s), (x0, y0 + s),
                 (x0, y0)]
            ]
            if f % 2 == 0:
                rings.append(
                    [(x0 + 0.25, y0 + 0.25), (x0 + 0.75, y0 + 0.25),
                     (x0 + 0.75, y0 + 0.75), (x0 + 0.25, y0 + 0.75),
                     (x0 + 0.25, y0 + 0.25)]
                )
            b = encode_wkb_polygon(rings)
        ids.append(f)
        blobs.append(b)
    geo = {
        "version": "1.0.0",
        "primary_column": "geometry",
        "columns": {
            "geometry": {
                "encoding": "WKB",
                "geometry_types": ["Point", "LineString", "Polygon"],
            }
        },
    }
    tbl = pa.table(
        {
            "feat_id": pa.array(ids, pa.int64()),
            "geometry": pa.array(blobs, pa.binary()),
        }
    )
    tbl = tbl.replace_schema_metadata({b"geo": json.dumps(geo).encode()})
    pq.write_table(tbl, path)
    return path
