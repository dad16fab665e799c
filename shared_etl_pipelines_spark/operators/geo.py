"""Geospatial operators: point-in-polygon clip + polygon zonal statistics.

The reference's geo plugins consume TIGER polygons (states/counties) and
grid rasters (SURVEY.md §2.2 G1/G4/G8). Grid-aligned operations need no
geo library; the genuinely spatial piece is cell-in-polygon membership.
Design decision (SURVEY.md §7.0): membership is a vectorized numpy
ray-cast (``first_hit``) — zero non-pip dependencies, exact even-odd
semantics, handles non-convex rings. Over integral pixel coordinates it
runs once on the driver, per integer point of the polygons' bounding
box, and rows look their zone up in one array literal; otherwise it runs
inside an Arrow-batched pandas UDF that carries the polygons.

Scale path: polygon tables (52 states / ~3.2k counties) are kilobytes —
broadcast always. ``first_hit`` pre-filters each polygon by bounding box
before the exact ray cast, so per-batch cost is O(points x polygons-
overlapping-bbox). For millions of polygons you would instead bucket by
a space-filling-curve cell id and equi-join buckets first
(``bucket_clip``); not needed at the reference's dimensionality.

Geometry convention: a polygon is (zone_id, attrs, ring) with ring =
[[x0,y0], [x1,y1], ...] (closed implicitly). Points exactly on an edge
follow even-odd parity; callers that need oracle-exact parity should
place sample points off polygon edges (cell centers at half-integers).
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field
from typing import Any, Iterable

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegralType, StringType

from shared_etl_pipelines_spark.functions.literals import literal_array
from shared_etl_pipelines_spark.operators.aggregates import zonal_aggregate


@dataclass
class Polygon:
    zone_id: str
    ring: list[list[float]]
    attrs: dict[str, Any] = field(default_factory=dict)

    def bbox(self) -> tuple[float, float, float, float]:
        xs = [p[0] for p in self.ring]
        ys = [p[1] for p in self.ring]
        return min(xs), min(ys), max(xs), max(ys)


def ray_cast(px: np.ndarray, py: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Vectorized even-odd point-in-polygon over arrays of points."""
    inside = np.zeros(len(px), dtype=bool)
    n = len(ring)
    for i in range(n):
        xi, yi = ring[i]
        xj, yj = ring[(i + 1) % n]
        if yi == yj:  # horizontal edge never crosses a non-degenerate ray
            continue
        crosses = (yi > py) != (yj > py)
        xcross = (xj - xi) * (py - yi) / (yj - yi) + xi
        inside ^= crosses & (px < xcross)
    return inside


# Largest integer lattice (points inside the polygons' joint bounding
# box) that tag_zones turns into a lookup literal. Building the literal
# and scanning rows through it stay in milliseconds up to about 2^16
# points; past that both grow fast, and the pandas UDF takes over.
LATTICE_MAX_POINTS = 1 << 16


def _prepared(polygons: list[Polygon]) -> list[tuple[np.ndarray, tuple]]:
    return [(np.asarray(p.ring, dtype="float64"), p.bbox()) for p in polygons]


def first_hit(px: np.ndarray, py: np.ndarray, polys: list) -> np.ndarray:
    """Index into ``polys`` (``(ring, bbox)`` pairs) of the FIRST polygon
    containing each point — list order is the deterministic tie-break —
    or -1 if none. Each polygon is pre-filtered by its bounding box
    before the exact ray cast. Both tag_zones paths run this routine."""
    out = np.full(len(px), -1, dtype=np.int64)
    for i, (ring, (x0, y0, x1, y1)) in enumerate(polys):
        cand = (out < 0) & (px >= x0) & (px <= x1) & (py >= y0) & (py <= y1)
        if not cand.any():
            continue
        hit = np.zeros(len(px), dtype=bool)
        hit[cand] = ray_cast(px[cand], py[cand], ring)
        out[hit] = i
    return out


def assign_zone_udf(polygons: list[Polygon]):
    """Pandas UDF (x, y) -> zone_id of the first containing polygon,
    NULL if none."""
    polys = _prepared(polygons)
    # index -1 (no polygon) picks the trailing None
    ids = np.array([p.zone_id for p in polygons] + [None], dtype=object)

    @F.pandas_udf(StringType())
    def _assign(x: pd.Series, y: pd.Series) -> pd.Series:
        hit = first_hit(x.to_numpy(dtype="float64"), y.to_numpy(dtype="float64"), polys)
        return pd.Series(ids[hit])

    return _assign


def lattice_zones(polygons: list[Polygon], x_col: str, y_col: str) -> Column | None:
    """Zone id column for integral (x, y) as a Catalyst lookup: each
    integer point of the polygons' joint bounding box gets its zone on
    the driver (``first_hit``, as in the UDF), the indexes ride as one
    array literal, and a row reads its slot ``(y - y0) * w + (x - x0)``.
    Rows outside the box, or with a NULL coordinate, read NULL before
    any arithmetic runs, so no ANSI overflow or index error can fire.
    None if the lattice is over ``LATTICE_MAX_POINTS``, or a vertex is
    non-finite or beyond +-2^62, where the caller keeps the UDF."""
    boxes = [p.bbox() for p in polygons]
    if not boxes:
        return F.lit(None).cast(StringType())
    if not all(abs(v) < 1 << 62 for b in boxes for v in b):  # NaN fails too
        return None
    x0, y0 = math.ceil(min(b[0] for b in boxes)), math.ceil(min(b[1] for b in boxes))
    x1, y1 = math.floor(max(b[2] for b in boxes)), math.floor(max(b[3] for b in boxes))
    w, h = x1 - x0 + 1, y1 - y0 + 1
    if w <= 0 or h <= 0:
        return F.lit(None).cast(StringType())
    if w * h > LATTICE_MAX_POINTS:
        return None
    px = np.tile(np.arange(x0, x1 + 1, dtype="float64"), h)
    py = np.repeat(np.arange(y0, y1 + 1, dtype="float64"), w)
    hit = first_hit(px, py, _prepared(polygons))
    # 1-based positions into the zone-id literal, NULL where no polygon hits
    slots = literal_array([int(i) + 1 if i >= 0 else None for i in hit], "int")
    ids = literal_array([p.zone_id for p in polygons], "string")
    x, y = F.col(x_col).cast("long"), F.col(y_col).cast("long")
    slot = ((y - y0) * w + (x - x0) + 1).cast("int")
    return F.when(
        x.between(x0, x1) & y.between(y0, y1),
        F.element_at(ids, F.element_at(slots, slot)),
    )


def tag_zones(
    cells: DataFrame,
    polygons: Iterable[Polygon],
    x_col: str = "cx",
    y_col: str = "cy",
    zone_col: str = "zone_id",
) -> DataFrame:
    """Add the first containing polygon's zone id (NULL outside every
    polygon).

    Two paths, chosen by the input. Integral coordinates (the raster
    long table's ``x``/``y`` pixel indexes) take ``lattice_zones``: a
    plain Catalyst lookup, no Python per row, while the polygons' joint
    bounding box holds at most ``LATTICE_MAX_POINTS`` integer points.
    Anything else (double cell centres, lon/lat, a larger lattice) runs
    ``assign_zone_udf``. Both assign zones with ``first_hit``.
    """
    polygons = list(polygons)
    zone = None
    if all(
        isinstance(f.dataType, IntegralType)
        for f in cells.select(x_col, y_col).schema.fields
    ):
        zone = lattice_zones(polygons, x_col, y_col)
    if zone is None:
        zone = assign_zone_udf(polygons)(F.col(x_col), F.col(y_col))
    return cells.withColumn(zone_col, zone)


def clip_by_polygon(
    cells: DataFrame,
    polygons: Iterable[Polygon],
    key: str | None = None,
    value: Any = None,
    x_col: str = "cx",
    y_col: str = "cy",
) -> DataFrame:
    """G1: keep cells inside polygon(s) selected by attribute ``key=value``
    (geo_clip_raster_by_polygon's selector contract, STUSPS='MI' at
    pipelines/prism/stage-ts-ppt-day-state.yml:31-32)."""
    selected = [
        p for p in polygons if key is None or p.attrs.get(key) == value
    ]
    tagged = tag_zones(cells, selected, x_col, y_col, zone_col="_zone")
    return tagged.filter(F.col("_zone").isNotNull()).drop("_zone")


def zonal_stats_polygons(
    cells: DataFrame,
    polygons: Iterable[Polygon],
    value_col: str,
    aggregations: str = "min,p5,q1,med,avg,q3,p95,max",
    value_prefix: str = "",
    x_col: str = "cx",
    y_col: str = "cy",
    approx: bool = False,
    extra_group_cols: list[str] | None = None,
) -> DataFrame:
    """G4: polygon zonal statistics — PIP zone assignment then the
    declared multi-aggregate list per zone (geo_county_raster_aggregate,
    pipelines/prism/county_daily_aggregate.yml:24-36).

    ``extra_group_cols`` adds grouping keys beyond the zone — e.g.
    ``["day"]`` collapses the reference's per-day foreach + per-day CSV +
    combine into one grouped aggregation over every day at once.
    """
    tagged = tag_zones(cells, list(polygons), x_col, y_col, zone_col="zone_id")
    inside = tagged.filter(F.col("zone_id").isNotNull())
    return zonal_aggregate(
        inside,
        ["zone_id"] + list(extra_group_cols or []),
        value_col,
        aggregations,
        value_prefix,
        approx,
    )


def bucket_clip(
    cells: DataFrame,
    polygons: Iterable[Polygon],
    cell_size: float,
    key: str | None = None,
    value: Any = None,
    x_col: str = "cx",
    y_col: str = "cy",
) -> DataFrame:
    """G1 clip, bucketed scale path: the plan shape for polygon sets far
    too large to broadcast-scan per point.

    Each polygon's bbox is rasterized onto a coarse grid (one row per
    covering grid cell — rows, not driver loops, via sequence+explode);
    points key into the same grid; candidates come from an EQUI-JOIN on
    the grid key (hash-partitionable at any polygon cardinality, never a
    nested-loop scan of all polygons per point); the exact even-odd
    ray-cast then refines candidates only. With a space-filling-curve id
    in place of (gx, gy) the same plan bucket-joins on one long key.

    Output == clip_by_polygon (the exact refine makes bucketing invisible
    in the result; first-containing-polygon dedup keeps one row per point).
    """
    selected = [p for p in polygons if key is None or p.attrs.get(key) == value]
    spark = cells.sparkSession
    metas = []
    for idx, p in enumerate(selected):
        x0, y0, x1, y1 = p.bbox()
        metas.append((idx, float(x0), float(y0), float(x1), float(y1)))
    # a pandas input plans a LocalRelation; a Python list would plan a
    # Scan ExistingRDD that starts Python workers to read it back
    bboxes = spark.createDataFrame(
        pd.DataFrame(metas, columns=["poly_idx", "x0", "y0", "x1", "y1"]),
        "poly_idx int, x0 double, y0 double, x1 double, y1 double",
    )
    g = float(cell_size)
    cover = bboxes.select(
        "poly_idx",
        F.explode(
            F.sequence(
                F.floor(F.col("x0") / g).cast("long"),
                F.floor(F.col("x1") / g).cast("long"),
            )
        ).alias("gx"),
        F.sequence(
            F.floor(F.col("y0") / g).cast("long"),
            F.floor(F.col("y1") / g).cast("long"),
        ).alias("gys"),
    ).select("poly_idx", "gx", F.explode("gys").alias("gy"))

    # row identity, not value identity: clip must preserve bag semantics
    # (duplicate input rows stay duplicated), and a row hitting several
    # overlapping polygons must still emit once — so dedup by a per-row id
    pts = (
        cells.withColumn("_rid", F.monotonically_increasing_id())
        .withColumn("_gx", F.floor(F.col(x_col) / g).cast("long"))
        .withColumn("_gy", F.floor(F.col(y_col) / g).cast("long"))
    )
    cand = pts.join(
        cover,
        (pts["_gx"] == cover["gx"]) & (pts["_gy"] == cover["gy"]),
    ).drop("gx", "gy", "_gx", "_gy")

    rings = {i: np.asarray(p.ring, dtype="float64") for i, p in enumerate(selected)}

    @F.pandas_udf("boolean")
    def _inside(poly_idx: pd.Series, x: pd.Series, y: pd.Series) -> pd.Series:
        px = x.to_numpy(dtype="float64")
        py = y.to_numpy(dtype="float64")
        pidx = poly_idx.to_numpy()
        out = np.zeros(len(px), dtype=bool)
        for i in np.unique(pidx):
            m = pidx == i
            out[m] = ray_cast(px[m], py[m], rings[int(i)])
        return pd.Series(out)

    hits = cand.filter(_inside(F.col("poly_idx"), F.col(x_col), F.col(y_col))).drop(
        "poly_idx"
    )
    return hits.dropDuplicates(["_rid"]).drop("_rid")
