"""Geo operator unit tests: ray-cast semantics on hand-checkable shapes
(triangle, non-convex L, holes-by-parity), zone assignment tie-breaks,
and polygon zonal stats vs hand computation."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from shared_etl_pipelines_spark.operators.geo import (
    Polygon,
    clip_by_polygon,
    ray_cast,
    tag_zones,
    zonal_stats_polygons,
)

TRI = np.array([[0.0, 0.0], [4.0, 0.0], [0.0, 4.0]])
L = np.array([[0, 0], [4, 0], [4, 2], [2, 2], [2, 4], [0, 4]], dtype=float)


def test_ray_cast_triangle():
    px = np.array([1.0, 3.0, 1.0, 3.5, -1.0])
    py = np.array([1.0, 0.5, 2.5, 3.5, 1.0])
    assert ray_cast(px, py, TRI).tolist() == [True, True, True, False, False]


def test_ray_cast_nonconvex_L():
    px = np.array([1.0, 3.0, 3.0, 1.0])
    py = np.array([1.0, 1.0, 3.0, 3.0])
    # (3,3) sits in the notch of the L
    assert ray_cast(px, py, L).tolist() == [True, True, False, True]


def test_tag_zones_first_match_and_null(spark):
    cells = spark.createDataFrame(
        [(0.5, 0.5), (3.0, 3.0), (9.0, 9.0)], ["cx", "cy"]
    )
    polys = [
        Polygon("a", [[0, 0], [4, 0], [4, 4], [0, 4]]),
        Polygon("b", [[0, 0], [8, 0], [8, 8], [0, 8]]),  # overlaps a
    ]
    got = {(r["cx"], r["cy"]): r["zone_id"] for r in tag_zones(cells, polys).collect()}
    assert got[(0.5, 0.5)] == "a"  # first match wins inside overlap
    assert got[(3.0, 3.0)] == "a"
    assert got[(9.0, 9.0)] is None  # outside everything


def test_clip_by_polygon_attribute_selector(spark):
    cells = spark.createDataFrame(
        [(float(x) + 0.5, 0.5) for x in range(8)], ["cx", "cy"]
    )
    polys = [
        Polygon("mi", [[0, 0], [4, 0], [4, 1], [0, 1]], {"stusps": "MI"}),
        Polygon("oh", [[4, 0], [8, 0], [8, 1], [4, 1]], {"stusps": "OH"}),
    ]
    kept = clip_by_polygon(cells, polys, key="stusps", value="MI").collect()
    assert sorted(r["cx"] for r in kept) == [0.5, 1.5, 2.5, 3.5]


def test_zonal_stats_polygons_hand_check(spark):
    # zone q: values 1..4 -> med 2.5; zone r: single cell 10 -> all aggs 10
    rows = [(0.5, 0.5, 1.0), (1.5, 0.5, 2.0), (0.5, 1.5, 3.0), (1.5, 1.5, 4.0),
            (5.5, 0.5, 10.0)]
    cells = spark.createDataFrame(rows, ["cx", "cy", "v"])
    polys = [
        Polygon("q", [[0, 0], [2, 0], [2, 2], [0, 2]]),
        Polygon("r", [[5, 0], [6, 0], [6, 1], [5, 1]]),
    ]
    out = {
        r["zone_id"]: r
        for r in zonal_stats_polygons(cells, polys, "v", "min,med,avg,max").collect()
    }
    assert out["q"]["min"] == 1.0 and out["q"]["max"] == 4.0
    assert out["q"]["med"] == pytest.approx(2.5)
    assert out["q"]["avg"] == pytest.approx(2.5)
    assert all(out["r"][k] == 10.0 for k in ("min", "med", "avg", "max"))


def test_bucket_clip_matches_broadcast_clip(spark, sf_dir):
    """The bucketed scale path and the broadcast path are the same
    operator semantically — identical result sets."""
    from shared_etl_pipelines_spark.operators.geo import bucket_clip, clip_by_polygon
    from shared_etl_pipelines_spark.queries_geo import POLYGONS, _cells

    cells = _cells(spark, sf_dir)
    a = clip_by_polygon(cells, POLYGONS, key="stusps", value="MI")
    b = bucket_clip(cells, POLYGONS, cell_size=5.0, key="stusps", value="MI")
    from collections import Counter

    cols = ["l_orderkey", "l_linenumber", "cx", "cy", "value"]
    ca = Counter(tuple(r) for r in a.select(cols).collect())
    cb = Counter(tuple(r) for r in b.select(cols).collect())
    assert ca == cb and sum(ca.values()) > 0
    # the polygon bboxes are a local relation, never a Python RDD scan
    plan = _executed(b)
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan


# ---------------------------------------------------------------------------
# tag_zones over integral coordinates: the driver-built lattice lookup
# ---------------------------------------------------------------------------

_PYTHON_NODES = ("ArrowEvalPython", "BatchEvalPython")


def _executed(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


# overlapping squares (first hit wins), a concave L, a triangle whose
# hypotenuse runs through integer points, and a box with fractional
# vertices in negative space
_LATTICE_POLYS = [
    Polygon("sq", [[0, 0], [4, 0], [4, 4], [0, 4]]),
    Polygon("big", [[-1, -1], [8, -1], [8, 8], [-1, 8]]),
    Polygon("L", [[10, 0], [16, 0], [16, 3], [13, 3], [13, 6], [10, 6]]),
    Polygon("tri", [[0, 10], [6, 10], [0, 16]]),
    Polygon("neg", [[-9.5, -7.25], [-2.5, -7.25], [-2.5, -2.5], [-9.5, -2.5]]),
]


def _lattice_cells(spark, kind):
    pts = [(x, y) for x in range(-11, 19) for y in range(-9, 18)]
    edge = [(0, 0), (4, 4), (2, 0), (0, 2), (4, 2), (3, 13), (13, 3), (13, 5)]
    nulls = [(None, 1), (1, None), (None, None)]
    far = [(2**31 - 1, 2), (-(2**31), 2), (2, 2**31 - 1)]
    if kind == "long":
        far += [(2**40, 2), (2, -(2**40)), (2**63 - 1, 2**63 - 1), (-(2**63), 0)]
    return spark.createDataFrame(pts + edge + nulls + far, f"cx {kind}, cy {kind}")


def _zones_by_point(df):
    from collections import Counter

    return Counter(((r["cx"], r["cy"]), r["zone_id"]) for r in df.collect())


@pytest.mark.parametrize("kind", ["int", "long"])
@pytest.mark.parametrize(
    "polys", [_LATTICE_POLYS, []], ids=["polygons", "no_polygons"]
)
def test_lattice_tag_zones_matches_udf(spark, kind, polys):
    """Integral coordinates take the lookup; every point (edges, vertices,
    overlaps, NULLs, points outside every bbox and beyond the int range,
    where ANSI arithmetic would raise) gets the zone the UDF gives it."""
    from shared_etl_pipelines_spark.operators.geo import assign_zone_udf

    cells = _lattice_cells(spark, kind)
    lattice = tag_zones(cells, polys)
    udf = cells.withColumn("zone_id", assign_zone_udf(polys)(F.col("cx"), F.col("cy")))
    got = _zones_by_point(lattice)
    assert got == _zones_by_point(udf)
    plan = _executed(lattice)
    assert not any(n in plan for n in _PYTHON_NODES)
    if polys:
        zones = dict(got.keys())
        assert zones[(2, 2)] == "sq" and zones[(6, 6)] == "big"
        assert zones[(14, 5)] is None and zones[(11, 5)] == "L"
        assert {z for _, z in got} == {None, "sq", "big", "L", "tri", "neg"}


@pytest.mark.parametrize("shape", ["over_cap", "infinite_vertex"])
def test_lattice_out_of_reach_keeps_udf(spark, shape):
    """A polygon box holding more integer points than the cap, or one
    with a vertex no lattice can hold, runs the UDF, with the same
    answer."""
    from shared_etl_pipelines_spark.operators.geo import (
        LATTICE_MAX_POINTS,
        assign_zone_udf,
    )

    side = int(LATTICE_MAX_POINTS**0.5) + 1
    far = side if shape == "over_cap" else float("inf")
    polys = [Polygon("wide", [[0, 0], [far, 0], [0, side]])]
    cells = spark.createDataFrame(
        [(0, 0), (side - 1, 1), (side, 1), (1, side - 2), (None, 3)], "cx int, cy int"
    )
    tagged = tag_zones(cells, polys)
    assert "ArrowEvalPython" in _executed(tagged)
    udf = cells.withColumn("zone_id", assign_zone_udf(polys)(F.col("cx"), F.col("cy")))
    assert _zones_by_point(tagged) == _zones_by_point(udf)


def _pixels(spark):
    """A 48 x 64 integer pixel grid, as read_geotiff's long table has it."""
    return spark.range(48 * 64).select(
        (F.col("id") % 64).cast("int").alias("x"),
        (F.col("id") / 64).cast("int").alias("y"),
        (F.col("id") % 17 * 0.5).alias("value"),
    )


@pytest.mark.parametrize("op", ["clip", "zonal"])
def test_integer_pixel_clip_and_zonal_plan_has_no_python_or_join(spark, op):
    """Over integer pixels, clip and zonal stats plan no Python UDF and no
    join, build without a job, and run in no more jobs than the UDF form
    over the same cells as doubles."""
    polys = [
        Polygon("w", [[-0.5, -0.5], [30.5, -0.5], [30.5, 47.5], [-0.5, 47.5]],
                {"st": "MI"}),
        Polygon("e", [[30.5, -0.5], [63.5, -0.5], [63.5, 20.5], [30.5, 40.5]],
                {"st": "MI"}),
        Polygon("x", [[40.5, 30.5], [63.5, 30.5], [63.5, 47.5]], {"st": "OH"}),
    ]

    def build(cells):
        if op == "clip":
            return clip_by_polygon(cells, polys, key="st", value="MI", x_col="x", y_col="y")
        return zonal_stats_polygons(cells, polys, "value", "min,med,max",
                                    x_col="x", y_col="y")

    sched = spark.sparkContext._jsc.sc().dagScheduler()
    pixels = _pixels(spark)
    doubles = pixels.select(
        F.col("x").cast("double").alias("x"), F.col("y").cast("double").alias("y"), "value"
    )
    runs = {}
    for name, cells in (("lattice", pixels), ("udf", doubles)):
        before = sched.nextJobId()
        out = build(cells)
        built = sched.nextJobId()
        rows = sorted(tuple(r) for r in out.collect())
        runs[name] = (built - before, sched.nextJobId() - built, rows, _executed(out))
    (b_jobs, r_jobs, rows, plan), (_, udf_jobs, udf_rows, udf_plan) = runs["lattice"], runs["udf"]
    assert rows == udf_rows and rows
    assert b_jobs == 0 and r_jobs <= udf_jobs
    assert not any(n in plan for n in _PYTHON_NODES + ("Join",))
    assert "ArrowEvalPython" in udf_plan


# ---------------------------------------------------------------------------
# WKB + GeoParquet (r11)
# ---------------------------------------------------------------------------


def test_wkb_roundtrip_both_orders_and_holes():
    from shared_etl_pipelines_spark.sources.vector import (
        encode_wkb_linestring,
        encode_wkb_point,
        encode_wkb_polygon,
        parse_wkb,
    )

    p = parse_wkb(encode_wkb_point(3.5, 2.0))
    assert (p["type"], p["n_points"], p["area"]) == ("Point", 1, 0.0)
    b = parse_wkb(encode_wkb_point(3.5, 2.0, little=False))
    assert b == p  # byte order is a transport detail
    sq = [(0, 0), (2, 0), (2, 2), (0, 2), (0, 0)]
    hole = [(0.5, 0.5), (1, 0.5), (1, 1), (0.5, 1), (0.5, 0.5)]
    g = parse_wkb(encode_wkb_polygon([sq, hole]))
    assert g["area"] == 4 - 0.25 and g["n_points"] == 10
    ln = parse_wkb(encode_wkb_linestring([(0, 0), (3, 4)], little=False))
    assert ln["bbox"] == (0.0, 0.0, 3.0, 4.0)


def test_wkb_refusals():
    import struct

    import pytest as _pt

    from shared_etl_pipelines_spark.sources.vector import parse_wkb

    with _pt.raises(ValueError, match="byte-order"):
        parse_wkb(b"\x02" + b"\x00" * 20)
    with _pt.raises(ValueError, match="unsupported"):
        parse_wkb(bytes([1]) + struct.pack("<I", 0x80000001) + b"\x00" * 16)
    with _pt.raises(ValueError, match="trailing"):
        parse_wkb(
            bytes([1]) + struct.pack("<I2d", 1, 0, 0) + b"\x00"
        )


def test_geoparquet_metadata_gate(tmp_path, spark, sf_dir):
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest as _pt

    from shared_etl_pipelines_spark.sources.geoparquet import (
        ensure_demo_geoparquet,
        read_geo_metadata,
    )

    path = ensure_demo_geoparquet(sf_dir)
    geo = read_geo_metadata(path)
    assert geo["primary_column"] == "geometry"
    # a parquet without the 'geo' key refuses
    plain = str(tmp_path / "plain.parquet")
    pq.write_table(pa.table({"x": [1]}), plain)
    with _pt.raises(ValueError, match="geo"):
        read_geo_metadata(plain)
