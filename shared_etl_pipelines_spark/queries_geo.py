"""Geo operator queries + DuckDB oracles.

The PIP pandas UDF is exercised against polygons whose containment is
ALSO expressible as SQL range predicates (axis-aligned rectangle + a
non-convex L-shape = union of two half-open boxes), so the generic
ray-cast path is hash-verified against the oracle. Cell centers sit at
half-integers, polygon edges at integers — no point ever lies on an
edge, so even-odd parity and BETWEEN-style SQL agree exactly.

Grid casting: lineitem rows become cells on a 32x32 grid
(cx = l_orderkey % 32 + 0.5, cy = l_suppkey % 32 + 0.5, value =
l_quantity), the same trick the relational queries use for rasters.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from shared_etl_pipelines_spark.operators.geo import (
    Polygon,
    clip_by_polygon,
    zonal_stats_polygons,
)
from shared_etl_pipelines_spark.queries import defquery, round_floats
from shared_etl_pipelines_spark.sources.tables import load_table, spread

# west: plain rectangle; east_L: non-convex L (union of two boxes);
# north: empty zone off-grid (no cells) — percentile edge case
POLYGONS = [
    Polygon("west", [[0, 0], [12, 0], [12, 32], [0, 32]], {"stusps": "MI"}),
    Polygon(
        "east_L",
        [[12, 0], [32, 0], [32, 16], [20, 16], [20, 32], [12, 32]],
        {"stusps": "MI"},
    ),
    Polygon("north", [[0, 32], [32, 32], [32, 40], [0, 40]], {"stusps": "OH"}),
]

# SQL mirrors of the same containment (half-integer points => strict
# inequalities are equivalent to any closed/open edge convention)
_WEST_SQL = "(cx > 0 AND cx < 12 AND cy > 0 AND cy < 32)"
_EASTL_SQL = (
    "((cx > 12 AND cx < 32 AND cy > 0 AND cy < 16)"
    " OR (cx > 12 AND cx < 20 AND cy > 16 AND cy < 32))"
)

_CELLS_SQL = """
      SELECT l_orderkey % 32 + 0.5 AS cx,
             l_suppkey % 32 + 0.5 AS cy,
             l_quantity AS value,
             l_orderkey, l_linenumber
      FROM lineitem
"""


def _cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = spread(load_table(spark, sf_dir, "lineitem"))
    return li.select(
        (F.col("l_orderkey") % 32 + 0.5).alias("cx"),
        (F.col("l_suppkey") % 32 + 0.5).alias("cy"),
        F.col("l_quantity").alias("value"),
        "l_orderkey",
        "l_linenumber",
    )


@defquery(
    "geo_clip_polygon",
    f"""
    WITH cells AS ({_CELLS_SQL})
    SELECT l_orderkey, l_linenumber, cx, cy, ROUND(value, 4) AS value
    FROM cells
    WHERE {_WEST_SQL} OR {_EASTL_SQL}
    """,
    doc="G1 clip: ray-cast PIP semi-join vs SQL box-union oracle",
    tags=("geo", "G1", "udf"),
)
def q_geo_clip_polygon(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = clip_by_polygon(_cells(spark, sf_dir), POLYGONS, key="stusps", value="MI")
    return round_floats(out.select("l_orderkey", "l_linenumber", "cx", "cy", "value"))


@defquery(
    "geo_zonal_polygons",
    f"""
    WITH cells AS ({_CELLS_SQL}),
    tagged AS (
      SELECT value,
             CASE WHEN {_WEST_SQL} THEN 'west'
                  WHEN {_EASTL_SQL} THEN 'east_L' END AS zone_id
      FROM cells
    )
    SELECT zone_id,
           ROUND(MIN(value), 4)                     AS qty_min,
           ROUND(quantile_cont(value, 0.05), 4)     AS qty_p5,
           ROUND(quantile_cont(value, 0.25), 4)     AS qty_q1,
           ROUND(quantile_cont(value, 0.50), 4)     AS qty_med,
           ROUND(AVG(value), 4)                     AS qty_avg,
           ROUND(quantile_cont(value, 0.75), 4)     AS qty_q3,
           ROUND(quantile_cont(value, 0.95), 4)     AS qty_p95,
           ROUND(MAX(value), 4)                     AS qty_max
    FROM tagged WHERE zone_id IS NOT NULL
    GROUP BY zone_id
    """,
    doc="G4 zonal stats over PIP-assigned polygon zones",
    tags=("geo", "G4", "udf", "percentile"),
)
def q_geo_zonal_polygons(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = zonal_stats_polygons(
        _cells(spark, sf_dir), POLYGONS, "value", value_prefix="qty"
    )
    return round_floats(out)


@defquery(
    "zonal_stats_approx",
    """
    SELECT o_orderpriority AS zone,
           ROUND(MIN(l_extendedprice), 4) AS price_min,
           ROUND(AVG(l_extendedprice), 4) AS price_avg,
           ROUND(MAX(l_extendedprice), 4) AS price_max,
           COUNT(*) AS n_cells,
           TRUE AS p5_in_band, TRUE AS q1_in_band, TRUE AS med_in_band,
           TRUE AS q3_in_band, TRUE AS p95_in_band
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
    doc="G4 zonal statistics, 100 TB path: approx_percentile sketches "
    "(mergeable, bounded-memory) instead of exact sort-based "
    "percentiles. Sketch values are engine-specific, so the "
    "hash-checked surface is the RANK-ERROR BAND (VERDICT r9 task #2): "
    "each approx quantile must land between the exact quantiles at "
    "p +/- 0.01 — 100x looser than the 1/accuracy = 1e-4 guarantee, so "
    "only a broken sketch flips a band boolean and fails the hash. The "
    "exact-percentile probes exist only to judge the sketch; the "
    "cluster-scale plan runs the sketch alone (zonal_aggregate "
    "approx=True).",
    tags=("G4", "aggregate", "percentile", "approx", "scale-path"),
)
def q_zonal_stats_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    from shared_etl_pipelines_spark.queries import round_floats
    from shared_etl_pipelines_spark.sources.tables import spread

    names = ("p5", "q1", "med", "q3", "p95")
    ps = (0.05, 0.25, 0.50, 0.75, 0.95)
    # spread: the exact-percentile probes buffer per-group values —
    # build the buffers on all cores (no-op on real multi-file data)
    li = spread(load_table(spark, sf_dir, "lineitem"))
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    cells = li.join(F.broadcast(orders), li.l_orderkey == orders.o_orderkey)
    v = F.col("l_extendedprice")
    # array forms: ONE sketch agg + ONE exact sort shared by all probes
    probes = [q for p in ps for q in (p - 0.01, p + 0.01)]
    agg = cells.groupBy(F.col("o_orderpriority").alias("zone")).agg(
        F.min(v).alias("price_min"),
        F.avg(v).alias("price_avg"),
        F.max(v).alias("price_max"),
        F.count(F.lit(1)).alias("n_cells"),
        F.percentile_approx(v, list(ps), 10000).alias("_apx"),
        F.percentile(v, F.lit(probes)).alias("_ex"),
    )
    # The +/-0.01 rank band presumes 0.01*n exceeds one rank (n >= ~100
    # per zone); in a smaller zone the exact probes interpolate inside a
    # single gap and a CORRECT sketch (which returns an actual element)
    # could sit outside from interpolation alone. Small zones therefore
    # widen to the zone's [min, max] — still an oracle-pinned TRUE, and
    # still falsified by a catastrophically broken sketch.
    small = F.col("n_cells") < 100
    bands = [
        F.when(
            small,
            F.col("_apx")[i].cast("double")
            .between(F.col("price_min"), F.col("price_max")),
        )
        .otherwise(
            F.col("_apx")[i].cast("double")
            .between(F.col("_ex")[2 * i], F.col("_ex")[2 * i + 1])
        )
        .alias(f"{name}_in_band")
        for i, name in enumerate(names)
    ]
    out = agg.select(
        "zone", "price_min", "price_avg", "price_max", "n_cells", *bands
    )
    return round_floats(out)


@defquery(
    "geo_clip_bucketed",
    f"""
    WITH cells AS ({_CELLS_SQL})
    SELECT l_orderkey, l_linenumber, cx, cy, ROUND(value, 4) AS value
    FROM cells
    WHERE {_WEST_SQL} OR {_EASTL_SQL}
    """,
    doc="G1 clip via the bucketed scale path: grid-cell equi-join + exact "
    "ray-cast refine (same oracle as the broadcast clip)",
    tags=("geo", "G1", "udf", "scale-path"),
)
def q_geo_clip_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from shared_etl_pipelines_spark.operators.geo import bucket_clip

    out = bucket_clip(
        _cells(spark, sf_dir), POLYGONS, cell_size=8.0, key="stusps", value="MI"
    )
    return round_floats(out.select("l_orderkey", "l_linenumber", "cx", "cy", "value"))


# ---------------------------------------------------------------------------
# S5'/G2 — real GeoTIFF ingestion round-trip: daily .tif files (strip AND
# tile layout, raw AND deflate, u2/i4/f4/f8 samples, GDAL nodata) decoded
# by the pure-numpy codec (sources/raster.py) into the long table, then
# the reference's 3-day rolling sum per cell
# (pipelines/prism/stage-ts-ppt-day-mi-rollsum-3d.yml:26 semantics).
# DuckDB can't read TIFF, so the fixture corpus is generated from an
# integer formula the oracle regenerates exactly — the decode path is
# therefore value-hash-verified end to end.
# ---------------------------------------------------------------------------
@defquery(
    "raster_tif_rollsum",
    f"""
    WITH days AS (SELECT CAST(d AS INTEGER) AS d FROM range(10) t(d)),
    cells AS (
      SELECT CAST(y.y AS INTEGER) AS y, CAST(x.x AS INTEGER) AS x
      FROM range(16) y(y) CROSS JOIN range(16) x(x)
    ),
    px AS (
      SELECT d, y, x, (d * 7919 + y * 31 + x * 17) % 1000 AS v
      FROM days CROSS JOIN cells
    ),
    kept AS (SELECT d, y, x, CAST(v AS DOUBLE) AS value FROM px WHERE v <> 999)
    SELECT strftime(DATE '2024-03-01' + INTERVAL (d) DAY, '%Y-%m-%d') AS day,
           y, x, ROUND(value, 4) AS value,
           ROUND(SUM(value) OVER (PARTITION BY y, x ORDER BY d
                                  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4)
           AS sum_3
    FROM kept
    """,
    doc="GeoTIFF decode -> long table -> 3-day rolling sum per cell "
    "(formula-generated fixture, oracle-exact)",
    tags=("geo", "raster", "S5", "G2", "window"),
)
def q_raster_tif_rollsum(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from shared_etl_pipelines_spark.sources.raster import (
        ensure_demo_rasters,
        read_geotiff_long,
    )

    fixture_dir = ensure_demo_rasters()
    px = read_geotiff_long(spark, fixture_dir, drop_nodata=True)
    w = (
        Window.partitionBy("y", "x")
        .orderBy("day")
        .rowsBetween(-2, Window.currentRow)
    )
    out = px.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "y",
        "x",
        "value",
        F.sum("value").over(w).alias("sum_3"),
    )
    return round_floats(out)


# ---------------------------------------------------------------------------
# S5'' — COG overview-level scan: every demo raster carries chained
# reduced-resolution IFDs (write_geotiff overviews=k, two days BigTIFF),
# and read_geotiff_long(overview=1) decodes the half-resolution level
# only — the cheap-scan contract for 100 TB imagery (a coarse-statistics
# pipeline reads ~1/4 the pixel data and never touches the full grids).
# The oracle recomputes the 2x2 block means from the pixel formula:
# exact for the float days (quarters are exact in f4/f8), floor for the
# integer days (downsample2x truncates back to the source dtype).
# ---------------------------------------------------------------------------
@defquery(
    "raster_overview_scan",
    """
    WITH days AS (SELECT CAST(d AS INTEGER) AS d FROM range(10) t(d)),
    cells AS (
      SELECT CAST(y.y AS INTEGER) AS y, CAST(x.x AS INTEGER) AS x
      FROM range(8) y(y) CROSS JOIN range(8) x(x)
    ),
    m AS (
      SELECT d, y, x,
             ((d * 7919 + (2*y) * 31 + (2*x) * 17) % 1000
              + (d * 7919 + (2*y) * 31 + (2*x+1) * 17) % 1000
              + (d * 7919 + (2*y+1) * 31 + (2*x) * 17) % 1000
              + (d * 7919 + (2*y+1) * 31 + (2*x+1) * 17) % 1000) / 4.0 AS mean4
      FROM days CROSS JOIN cells
    )
    SELECT strftime(DATE '2024-03-01' + INTERVAL (d) DAY, '%Y-%m-%d') AS day,
           y, x,
           ROUND(CASE WHEN d IN (5, 7) THEN mean4 ELSE FLOOR(mean4) END, 4)
           AS value
    FROM m
    """,
    doc="COG overview-level read: decode ONLY the level-1 reduced IFD of "
    "each daily raster (BigTIFF days included) — 2x2 block means pinned "
    "by the closed-form oracle, the 4^-k cheap-scan path at scale",
    tags=("geo", "raster", "S5", "source", "scale-path"),
)
def q_raster_overview_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from shared_etl_pipelines_spark.sources.raster import (
        ensure_demo_rasters,
        read_geotiff_long,
    )

    fixture_dir = ensure_demo_rasters()
    px = read_geotiff_long(spark, fixture_dir, drop_nodata=False, overview=1)
    out = px.select(F.date_format("day", "yyyy-MM-dd").alias("day"), "y", "x", "value")
    return round_floats(out)


# ---------------------------------------------------------------------------
# Shapefile ingestion round-trip (the TIGER boundary contract,
# pipelines/prism/county_daily_aggregate.yml:11-13 county_path=.shp with
# GEOID/NAME attrs, stage-ts-ppt-day-state.yml:31 key=STUSPS): the demo
# polygons are written as a real .shp/.dbf pair by sources.vector, read
# back through the pure-python parser, and clipped — same oracle as
# geo_clip_polygon, so the binary vector path is value-hash-verified.
# ---------------------------------------------------------------------------
@defquery(
    "shapefile_clip",
    f"""
    WITH cells AS ({_CELLS_SQL})
    SELECT l_orderkey, l_linenumber, cx, cy, ROUND(value, 4) AS value
    FROM cells
    WHERE {_WEST_SQL} OR {_EASTL_SQL}
    """,
    doc="G1 clip with polygons ingested from a TIGER-format .shp/.dbf "
    "fixture (pure-python shapefile reader)",
    tags=("geo", "G1", "shapefile", "source"),
)
def q_shapefile_clip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from shared_etl_pipelines_spark.operators.geo import Polygon
    from shared_etl_pipelines_spark.sources.vector import (
        read_shapefile,
        write_shapefile,
    )

    base = os.path.join(tempfile.gettempdir(), "spark_graft_shp_demo_v1", "zones")
    os.makedirs(os.path.dirname(base), exist_ok=True)
    if not os.path.exists(base + ".shp"):
        write_shapefile(
            base,
            [
                Polygon(p.zone_id, p.ring, {"NAME": p.zone_id, "STUSPS": p.attrs["stusps"]})
                for p in POLYGONS
            ],
            fields=[("NAME", "C", 16, 0), ("STUSPS", "C", 2, 0)],
        )
    polys = read_shapefile(base + ".shp", id_field="NAME")
    out = clip_by_polygon(_cells(spark, sf_dir), polys, key="STUSPS", value="MI")
    return round_floats(out.select("l_orderkey", "l_linenumber", "cx", "cy", "value"))


# ---------------------------------------------------------------------------
# G4, distributed-exact formulation: same oracle as zonal_stats, but the
# quantiles come from ranked_quantiles (sketched bucket bounds, cumulative
# counts, a broadcast range probe of the hit buckets) instead of
# percentile()'s one-buffer-per-group. Exactness AND
# parallelism: a group larger than executor memory still computes, and
# per-group work spreads over partitions x groups tasks.
# ---------------------------------------------------------------------------
@defquery(
    "zonal_stats_ranked",
    """
    SELECT o_orderpriority AS zone,
           ROUND(MIN(l_extendedprice), 4)                     AS price_min,
           ROUND(quantile_cont(l_extendedprice, 0.05), 4)     AS price_p5,
           ROUND(quantile_cont(l_extendedprice, 0.25), 4)     AS price_q1,
           ROUND(quantile_cont(l_extendedprice, 0.50), 4)     AS price_med,
           ROUND(AVG(l_extendedprice), 4)                     AS price_avg,
           ROUND(quantile_cont(l_extendedprice, 0.75), 4)     AS price_q3,
           ROUND(quantile_cont(l_extendedprice, 0.95), 4)     AS price_p95,
           ROUND(MAX(l_extendedprice), 4)                     AS price_max,
           COUNT(*)                                           AS n_cells
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
    doc="G4 zonal statistics via distributed-exact ranked quantiles "
    "(no per-group sort buffer; parallel within groups)",
    tags=("G4", "aggregate", "percentile", "scale-path", "exact"),
)
def q_zonal_stats_ranked(spark: SparkSession, sf_dir: str) -> DataFrame:
    from shared_etl_pipelines_spark.operators.aggregates import ranked_quantiles
    from shared_etl_pipelines_spark.queries import _t

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    cells = li.join(F.broadcast(orders), li.l_orderkey == orders.o_orderkey).select(
        F.col("o_orderpriority").alias("zone"), "l_extendedprice"
    )
    out = ranked_quantiles(
        cells,
        ["zone"],
        "l_extendedprice",
        "min,p5,q1,med,avg,q3,p95,max,count",
        value_prefix="price",
    ).withColumnRenamed("price_count", "n_cells")
    return round_floats(out)


@defquery(
    "zonal_stats_disc",
    """
    SELECT o_orderpriority AS zone,
           ROUND(quantile_disc(l_extendedprice, 0.05), 4) AS price_p5_disc,
           ROUND(quantile_disc(l_extendedprice, 0.50), 4) AS price_med_disc,
           ROUND(quantile_disc(l_extendedprice, 0.95), 4) AS price_p95_disc,
           COUNT(*) AS n_cells
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
    doc="G4 discrete quantiles (value at rank ceil(q*n), no interpolation) "
    "via the distributed ranked path — quantile_disc parity",
    tags=("G4", "aggregate", "percentile", "disc", "exact"),
)
def q_zonal_stats_disc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from shared_etl_pipelines_spark.operators.aggregates import ranked_quantiles

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    cells = li.join(F.broadcast(orders), li.l_orderkey == orders.o_orderkey).select(
        F.col("o_orderpriority").alias("zone"), "l_extendedprice"
    )
    out = ranked_quantiles(
        cells,
        ["zone"],
        "l_extendedprice",
        "p5_disc,med_disc,p95_disc,count",
        value_prefix="price",
    ).withColumnRenamed("price_count", "n_cells")
    return round_floats(out)


# ---------------------------------------------------------------------------
# Haversine radius join: customers within 500 km of each supplier, on
# synthetic-but-deterministic coordinates derived from the keys (same
# integer formula in both engines). The scale path is the G1-bucketed
# pattern generalized to great-circle distance: points land in 5-degree
# grid cells, each supplier probes the 3x5 neighborhood guaranteed to
# contain every point within R (4.49 deg lat; 8.98 deg lon at the
# worst-case |lat| = 60), the cell equi-join yields candidates, and an
# exact haversine refine keeps true matches. Candidate generation is an
# equi-join — never the O(n^2) cross product the naive form plans.
# Boundary safety measured: min |dist - 500| = 0.197 km (sf0.01) /
# 0.019 km (sf0.1), ~8 orders above cross-engine libm ulp.
# ---------------------------------------------------------------------------
@defquery(
    "geo_radius_join",
    """
    WITH c AS (
      SELECT c_custkey,
             (c_custkey * 9973 % 1200) / 10.0 - 60 AS lat,
             (c_custkey * 7919 % 1800) / 10.0 - 90 AS lon
      FROM customer
    ),
    s AS (
      SELECT s_suppkey,
             (s_suppkey * 6007 % 1200) / 10.0 - 60 AS lat,
             (s_suppkey * 4999 % 1800) / 10.0 - 90 AS lon
      FROM supplier
    ),
    d AS (
      SELECT s.s_suppkey,
             2 * 6371.0 * ASIN(SQRT(
               POWER(SIN(RADIANS(c.lat - s.lat) / 2), 2) +
               COS(RADIANS(s.lat)) * COS(RADIANS(c.lat)) *
               POWER(SIN(RADIANS(c.lon - s.lon) / 2), 2))) AS dist
      FROM s, c
    )
    SELECT s_suppkey, COUNT(*) AS n_within,
           ROUND(AVG(dist), 4) AS avg_dist_km
    FROM d WHERE dist < 500 GROUP BY s_suppkey
    """,
    doc="haversine radius join (customers within 500 km per supplier): "
    "5-degree grid-cell equi-join candidates + exact great-circle "
    "refine — linear candidate generation vs the oracle's cross product",
    tags=("geo", "join", "radius", "bucketed", "scale"),
)
def q_geo_radius_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        ((F.col("c_custkey") * 9973 % 1200) / 10.0 - 60).alias("clat"),
        ((F.col("c_custkey") * 7919 % 1800) / 10.0 - 90).alias("clon"),
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey",
        ((F.col("s_suppkey") * 6007 % 1200) / 10.0 - 60).alias("slat"),
        ((F.col("s_suppkey") * 4999 % 1800) / 10.0 - 90).alias("slon"),
    )
    cell = 5.0
    cust = cust.withColumn(
        "gy", F.floor(F.col("clat") / cell).cast("int")
    ).withColumn("gx", F.floor(F.col("clon") / cell).cast("int"))
    # every point within 500 km of a supplier lies in lat +-4.49deg /
    # lon +-8.98deg (at |lat|<=60) => the 3x5 neighbor-cell probe covers it
    probe = supp.select(
        "s_suppkey",
        "slat",
        "slon",
        F.explode(
            F.array(*[F.lit(dy) for dy in (-1, 0, 1)])
        ).alias("dy"),
    ).select(
        "s_suppkey",
        "slat",
        "slon",
        (F.floor(F.col("slat") / cell).cast("int") + F.col("dy")).alias("gy"),
        F.explode(F.array(*[F.lit(dx) for dx in (-2, -1, 0, 1, 2)])).alias("dx"),
    ).withColumn(
        "gx", F.floor(F.col("slon") / cell).cast("int") + F.col("dx")
    ).drop("dx", "dy")
    cand = probe.join(cust, ["gy", "gx"])
    dist = 2 * 6371.0 * F.asin(
        F.sqrt(
            F.pow(F.sin(F.radians(F.col("clat") - F.col("slat")) / 2), 2)
            + F.cos(F.radians("slat"))
            * F.cos(F.radians("clat"))
            * F.pow(F.sin(F.radians(F.col("clon") - F.col("slon")) / 2), 2)
        )
    )
    hits = cand.withColumn("dist", dist).filter(F.col("dist") < 500)
    return hits.groupBy("s_suppkey").agg(
        F.count(F.lit(1)).alias("n_within"),
        F.round(F.avg("dist"), 4).alias("avg_dist_km"),
    )


# ---------------------------------------------------------------------------
# Focal (neighborhood) statistics — the spatial complement of G2's
# temporal rolling window: per cell, the mean of its 3x3 neighborhood
# among present cells (nodata holes simply don't contribute), per day.
# Standard raster smoothing/slope machinery (GDAL focal ops) expressed
# relationally: each cell CONTRIBUTES its value to its 9 neighbor
# positions (a 9-way explode — linear, no self-join of the raster with
# itself per offset), one (day, y, x) groupBy sums contributions, and an
# equi-join back to present cells keeps only real targets. Two shuffles
# on the same key at any scale. Values are integers in doubles, so
# sum/count division is order-exact in both engines.
# ---------------------------------------------------------------------------
@defquery(
    "raster_focal_mean",
    """
    WITH days AS (SELECT CAST(d AS INTEGER) AS d FROM range(10) t(d)),
    cells AS (
      SELECT CAST(y.y AS INTEGER) AS y, CAST(x.x AS INTEGER) AS x
      FROM range(16) y(y) CROSS JOIN range(16) x(x)
    ),
    px AS (
      SELECT d, y, x, (d * 7919 + y * 31 + x * 17) % 1000 AS v
      FROM days CROSS JOIN cells
    ),
    kept AS (SELECT d, y, x, CAST(v AS DOUBLE) AS value FROM px WHERE v <> 999),
    offs AS (SELECT CAST(a.dy AS INTEGER) AS dy, CAST(b.dx AS INTEGER) AS dx
             FROM range(-1, 2) a(dy) CROSS JOIN range(-1, 2) b(dx)),
    contrib AS (
      SELECT d, y + dy AS ty, x + dx AS tx, value
      FROM kept CROSS JOIN offs
    ),
    sums AS (
      SELECT d, ty, tx, SUM(value) AS s, COUNT(*) AS n
      FROM contrib GROUP BY d, ty, tx
    )
    SELECT strftime(DATE '2024-03-01' + INTERVAL (k.d) DAY, '%Y-%m-%d') AS day,
           k.y, k.x, ROUND(k.value, 4) AS value,
           ROUND(s.s / s.n, 4) AS focal_mean,
           CAST(s.n AS BIGINT) AS n_neighbors
    FROM kept k JOIN sums s ON k.d = s.d AND k.y = s.ty AND k.x = s.tx
    """,
    doc="focal 3x3 neighborhood mean per cell per day (GeoTIFF fixture "
    "corpus): contribute-to-neighbors explode + one groupBy + join back "
    "— the spatial twin of G2's temporal rolling sum",
    tags=("geo", "raster", "focal", "G2", "aggregate"),
)
def q_raster_focal_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    from shared_etl_pipelines_spark.sources.raster import (
        ensure_demo_rasters,
        read_geotiff_long,
    )

    fixture_dir = ensure_demo_rasters()
    px = read_geotiff_long(spark, fixture_dir, drop_nodata=True).select(
        "day", "y", "x", "value"
    )
    offs = F.array(
        *[
            F.struct(F.lit(dy).alias("dy"), F.lit(dx).alias("dx"))
            for dy in (-1, 0, 1)
            for dx in (-1, 0, 1)
        ]
    )
    contrib = px.select(
        "day", "y", "x", "value", F.explode(offs).alias("o")
    ).select(
        "day",
        (F.col("y") + F.col("o.dy")).alias("ty"),
        (F.col("x") + F.col("o.dx")).alias("tx"),
        "value",
    )
    sums = contrib.groupBy("day", "ty", "tx").agg(
        F.sum("value").alias("s"), F.count(F.lit(1)).alias("n")
    )
    tgt = px.select(
        F.col("day").alias("kday"),
        F.col("y").alias("ky"),
        F.col("x").alias("kx"),
        F.col("value").alias("kval"),
    )
    out = tgt.join(
        sums,
        (tgt.kday == sums.day)
        & (tgt.ky == sums.ty)
        & (tgt.kx == sums.tx),
    ).select(
        F.date_format("kday", "yyyy-MM-dd").alias("day"),
        F.col("ky").alias("y"),
        F.col("kx").alias("x"),
        F.round("kval", 4).alias("value"),
        F.round(F.col("s") / F.col("n"), 4).alias("focal_mean"),
        F.col("n").cast("long").alias("n_neighbors"),
    )
    return out


# ---------------------------------------------------------------------------
# Radius-bounded nearest neighbor: each customer's closest supplier
# within 500 km (customers with none drop out — the bounded form is what
# scales; unbounded NN needs expanding-ring probes). Same grid-cell
# candidate machinery as geo_radius_join, then an argmin window per
# customer. Rank stability measured: min (2nd - 1st) distance gap
# 3.54 km (sf0.01) / 0.023 km (sf0.1).
# ---------------------------------------------------------------------------
@defquery(
    "geo_nearest_supplier",
    """
    WITH c AS (
      SELECT c_custkey,
             (c_custkey * 9973 % 1200) / 10.0 - 60 AS lat,
             (c_custkey * 7919 % 1800) / 10.0 - 90 AS lon
      FROM customer
    ),
    s AS (
      SELECT s_suppkey,
             (s_suppkey * 6007 % 1200) / 10.0 - 60 AS lat,
             (s_suppkey * 4999 % 1800) / 10.0 - 90 AS lon
      FROM supplier
    ),
    d AS (
      SELECT c.c_custkey, s.s_suppkey,
             2 * 6371.0 * ASIN(SQRT(
               POWER(SIN(RADIANS(c.lat - s.lat) / 2), 2) +
               COS(RADIANS(s.lat)) * COS(RADIANS(c.lat)) *
               POWER(SIN(RADIANS(c.lon - s.lon) / 2), 2))) AS dist
      FROM c, s
    ),
    r AS (
      SELECT c_custkey, s_suppkey, dist,
             ROW_NUMBER() OVER (PARTITION BY c_custkey
                                ORDER BY dist, s_suppkey) AS rn
      FROM d WHERE dist < 500
    )
    SELECT c_custkey, s_suppkey AS nearest_suppkey,
           ROUND(dist, 4) AS dist_km
    FROM r WHERE rn = 1
    """,
    doc="radius-bounded nearest supplier per customer: grid-cell "
    "candidates + exact refine + per-customer argmin window — the "
    "scale-safe NN form (oracle does the cross product)",
    tags=("geo", "join", "nearest-neighbor", "bucketed", "scale"),
)
def q_geo_nearest_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        ((F.col("c_custkey") * 9973 % 1200) / 10.0 - 60).alias("clat"),
        ((F.col("c_custkey") * 7919 % 1800) / 10.0 - 90).alias("clon"),
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey",
        ((F.col("s_suppkey") * 6007 % 1200) / 10.0 - 60).alias("slat"),
        ((F.col("s_suppkey") * 4999 % 1800) / 10.0 - 90).alias("slon"),
    )
    cell = 5.0
    cust = cust.withColumn(
        "gy", F.floor(F.col("clat") / cell).cast("int")
    ).withColumn("gx", F.floor(F.col("clon") / cell).cast("int"))
    probe = supp.select(
        "s_suppkey",
        "slat",
        "slon",
        F.explode(F.array(*[F.lit(dy) for dy in (-1, 0, 1)])).alias("dy"),
    ).select(
        "s_suppkey",
        "slat",
        "slon",
        (F.floor(F.col("slat") / cell).cast("int") + F.col("dy")).alias("gy"),
        F.explode(F.array(*[F.lit(dx) for dx in (-2, -1, 0, 1, 2)])).alias("dx"),
    ).withColumn(
        "gx", F.floor(F.col("slon") / cell).cast("int") + F.col("dx")
    ).drop("dx", "dy")
    cand = probe.join(cust, ["gy", "gx"])
    dist = 2 * 6371.0 * F.asin(
        F.sqrt(
            F.pow(F.sin(F.radians(F.col("clat") - F.col("slat")) / 2), 2)
            + F.cos(F.radians("slat"))
            * F.cos(F.radians("clat"))
            * F.pow(F.sin(F.radians(F.col("clon") - F.col("slon")) / 2), 2)
        )
    )
    hits = cand.withColumn("dist", dist).filter(F.col("dist") < 500)
    w = Window.partitionBy("c_custkey").orderBy("dist", "s_suppkey")
    return (
        hits.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "c_custkey",
            F.col("s_suppkey").alias("nearest_suppkey"),
            F.round("dist", 4).alias("dist_km"),
        )
    )


# ---------------------------------------------------------------------------
# Polygon metrics through the real .shp round-trip: the fixture zones
# are written as an actual shapefile, re-read by the pure-python parser
# (sources/vector.py), and their shoelace area / perimeter / centroid
# are computed RELATIONALLY — vertices become rows, each edge is
# (v_i, v_{i+1 mod n}) via a lead window with wraparound, and the
# closed forms are plain aggregations. The oracle recomputes from the
# fixture's literal vertex list, so a single vertex mis-parsed anywhere
# in the .shp binary path flips the hash. Integer vertices keep area
# and centroid rational-exact in both engines.
# ---------------------------------------------------------------------------
@defquery(
    "shapefile_zone_metrics",
    """
    WITH v(zone, i, x, y) AS (VALUES
      ('west', 0, 0.0, 0.0), ('west', 1, 12.0, 0.0),
      ('west', 2, 12.0, 32.0), ('west', 3, 0.0, 32.0),
      ('east_L', 0, 12.0, 0.0), ('east_L', 1, 32.0, 0.0),
      ('east_L', 2, 32.0, 16.0), ('east_L', 3, 20.0, 16.0),
      ('east_L', 4, 20.0, 32.0), ('east_L', 5, 12.0, 32.0),
      ('north', 0, 0.0, 32.0), ('north', 1, 32.0, 32.0),
      ('north', 2, 32.0, 40.0), ('north', 3, 0.0, 40.0)
    ),
    n AS (SELECT zone, COUNT(*) AS nv FROM v GROUP BY zone),
    e AS (
      SELECT v.zone, v.x, v.y, w.x AS x2, w.y AS y2
      FROM v JOIN n ON v.zone = n.zone
      JOIN v w ON w.zone = v.zone AND w.i = (v.i + 1) % n.nv
    ),
    agg AS (
      SELECT zone,
             SUM(x * y2 - x2 * y) AS cross2,
             SUM(SQRT((x2 - x) * (x2 - x) + (y2 - y) * (y2 - y))) AS perim,
             SUM((x + x2) * (x * y2 - x2 * y)) AS cx6a,
             SUM((y + y2) * (x * y2 - x2 * y)) AS cy6a
      FROM e GROUP BY zone
    )
    SELECT a.zone, CAST(n.nv AS BIGINT) AS n_vertices,
           ROUND(ABS(cross2) / 2, 4) AS area,
           ROUND(perim, 4) AS perimeter,
           ROUND(cx6a / (3 * cross2), 4) AS centroid_x,
           ROUND(cy6a / (3 * cross2), 4) AS centroid_y
    FROM agg a JOIN n ON a.zone = n.zone
    """,
    doc="polygon shoelace area/perimeter/centroid computed relationally "
    "from .shp-round-tripped vertices (vertex rows + modular lead edge "
    "pairing) — any mis-parsed vertex in the binary path flips the hash",
    tags=("geo", "shapefile", "vector", "aggregate"),
)
def q_shapefile_zone_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from shared_etl_pipelines_spark.operators.geo import Polygon
    from shared_etl_pipelines_spark.sources.vector import (
        read_shapefile,
        write_shapefile,
    )

    base = os.path.join(tempfile.gettempdir(), "spark_graft_shp_demo_v1", "zones")
    os.makedirs(os.path.dirname(base), exist_ok=True)
    if not os.path.exists(base + ".shp"):
        write_shapefile(
            base,
            [
                Polygon(p.zone_id, p.ring, {"NAME": p.zone_id, "STUSPS": p.attrs["stusps"]})
                for p in POLYGONS
            ],
            fields=[("NAME", "C", 16, 0), ("STUSPS", "C", 2, 0)],
        )
    polys = read_shapefile(base + ".shp", id_field="NAME")
    rows = [
        (p.zone_id, i, float(x), float(y))
        for p in polys
        for i, (x, y) in enumerate(p.ring)
    ]
    v = spark.createDataFrame(rows, ["zone", "i", "x", "y"])
    n = v.groupBy("zone").agg(F.count(F.lit(1)).alias("nv"))
    w = v.select(
        F.col("zone").alias("wz"), F.col("i").alias("wi"),
        F.col("x").alias("x2"), F.col("y").alias("y2"),
    )
    e = (
        v.join(n, "zone")
        .join(
            w,
            (F.col("wz") == F.col("zone"))
            & (F.col("wi") == (F.col("i") + 1) % F.col("nv")),
        )
    )
    cross = F.col("x") * F.col("y2") - F.col("x2") * F.col("y")
    agg = e.groupBy("zone").agg(
        F.sum(cross).alias("cross2"),
        F.sum(
            F.sqrt(
                (F.col("x2") - F.col("x")) * (F.col("x2") - F.col("x"))
                + (F.col("y2") - F.col("y")) * (F.col("y2") - F.col("y"))
            )
        ).alias("perim"),
        F.sum((F.col("x") + F.col("x2")) * cross).alias("cx6a"),
        F.sum((F.col("y") + F.col("y2")) * cross).alias("cy6a"),
    )
    return agg.join(n, "zone").select(
        "zone",
        F.col("nv").cast("long").alias("n_vertices"),
        F.round(F.abs(F.col("cross2")) / 2, 4).alias("area"),
        F.round("perim", 4).alias("perimeter"),
        F.round(F.col("cx6a") / (3 * F.col("cross2")), 4).alias("centroid_x"),
        F.round(F.col("cy6a") / (3 * F.col("cross2")), 4).alias("centroid_y"),
    )


# ---------------------------------------------------------------------------
# Zonal MAJORITY class, weight-aware — the categorical-raster companion
# of G4's numeric zonal stats. The reference's CDL pipelines mask
# specific crop codes (include_values "1"/"5",
# pipelines/prism/prism-mi-corn-ppt-county.yml:46) and weight PRISM
# cells by crop fraction (G8); this operator answers the upstream
# question those masks came from: WHICH class dominates each zone, by
# total cell weight (area fraction), not raw cell count. One exact
# integer-cents aggregation per (zone, class), then a single
# max(struct(weight, -class)) per zone — no window, two shuffles, both
# on bounded keys. Deterministic tie-break: heavier weight, then
# smaller class code.
# ---------------------------------------------------------------------------
@defquery(
    "zonal_majority_class",
    """
    WITH cells AS (
      SELECT o_orderpriority AS zone,
             CAST(l_quantity AS BIGINT) % 8 AS class,
             CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS wc
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    per_class AS (
      SELECT zone, class, SUM(wc) AS class_cents
      FROM cells GROUP BY zone, class
    ),
    best AS (
      SELECT zone,
             MAX(struct_pack(w := class_cents, negc := -class)) AS m
      FROM per_class GROUP BY zone
    )
    SELECT b.zone, CAST(-(b.m).negc AS BIGINT) AS majority_class,
           ROUND(CAST((b.m).w AS DOUBLE) / 100, 4) AS class_weight
    FROM best b
    """,
    doc="zonal majority class by total cell weight (CDL majority-crop per "
    "county shape): exact integer-cents weights, argmax via one "
    "max(struct) aggregate, deterministic smaller-class tie-break",
    tags=("geo", "G4", "categorical", "aggregate"),
)
def q_zonal_majority_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = spread(load_table(spark, sf_dir, "lineitem"))
    orders = load_table(spark, sf_dir, "orders")
    cells = li.join(
        orders.select("o_orderkey", "o_orderpriority"),
        li.l_orderkey == orders.o_orderkey,
    ).select(
        F.col("o_orderpriority").alias("zone"),
        (F.col("l_quantity").cast("long") % 8).alias("class"),
        F.round(F.col("l_extendedprice") * 100, 0).cast("long").alias("wc"),
    )
    per_class = cells.groupBy("zone", "class").agg(F.sum("wc").alias("class_cents"))
    best = per_class.groupBy("zone").agg(
        F.max(F.struct(F.col("class_cents"), (-F.col("class")).alias("neg"))).alias("m")
    )
    return best.select(
        "zone",
        (-F.col("m.neg")).cast("long").alias("majority_class"),
        F.round(F.col("m.class_cents").cast("double") / 100, 4).alias("class_weight"),
    )


# ---------------------------------------------------------------------------
# Growing degree days — THE agronomic accumulation the reference's
# PRISM tmax/tmin pipelines exist to feed (pipelines/prism/README.md
# lists tmax/tmin alongside ppt). GDD_day = max(0, (tmax+tmin)/2 - base)
# per cell per day, accumulated per zone per month. Exactness: daily
# temperatures become integer centi-degrees BEFORE any aggregation, the
# daily GDD numerator max(0, tmax_c + tmin_c - 2*base_c) stays integer,
# and only the final accumulated sum sees one division — so both
# engines sum identical integers in any order. Two shuffles: daily
# extremes per (zone, day), then the monthly rollup.
# ---------------------------------------------------------------------------
@defquery(
    "growing_degree_days",
    """
    WITH daily AS (
      SELECT user_id % 5 AS zone,
             CAST(ts AS DATE) AS day,
             MAX(CAST(ROUND(value * 100) AS BIGINT) % 4000) AS tmax_c,
             MIN(CAST(ROUND(value * 100) AS BIGINT) % 4000) AS tmin_c
      FROM events
      GROUP BY user_id % 5, CAST(ts AS DATE)
    )
    SELECT zone,
           CAST(EXTRACT(month FROM day) AS BIGINT) AS month,
           ROUND(CAST(SUM(GREATEST(0, tmax_c + tmin_c - 2000)) AS DOUBLE)
                 / 200, 4) AS gdd,
           CAST(COUNT(*) AS BIGINT) AS n_days
    FROM daily GROUP BY zone, EXTRACT(month FROM day)
    """,
    doc="growing degree days per zone per month from daily tmax/tmin "
    "extremes (base 10C): integer centi-degree arithmetic end-to-end, "
    "one division at the very end — the PRISM tmax/tmin consumer",
    tags=("geo", "climate", "window", "aggregate"),
)
def q_growing_degree_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    t_c = F.round(F.col("value") * 100, 0).cast("long") % 4000
    daily = (
        ev.select(
            (F.col("user_id") % 5).alias("zone"),
            F.to_date("ts").alias("day"),
            t_c.alias("t_c"),
        )
        .groupBy("zone", "day")
        .agg(F.max("t_c").alias("tmax_c"), F.min("t_c").alias("tmin_c"))
    )
    return daily.groupBy(
        "zone", F.month("day").cast("long").alias("month")
    ).agg(
        F.round(
            F.sum(F.greatest(F.lit(0), F.col("tmax_c") + F.col("tmin_c") - 2000))
            .cast("double")
            / 200,
            4,
        ).alias("gdd"),
        F.count(F.lit(1)).cast("long").alias("n_days"),
    )


# ---------------------------------------------------------------------------
# Cell-polygon overlap weights — the GENERATOR of the area-fraction
# weights G8's weighted zonal aggregate consumes (the reference's crop
# fraction rasters play this role). Cells are 3x3 boxes centered at
# (i+.5, j+.5); zones decompose into axis-aligned rectangles (west is
# one, east_L is two), so the exact overlap is a sum of clipped
# rectangle areas — closed form in both engines, no geometry library.
# The cell table is the bounded distinct grid (1024 rows here; at any
# scale it is the raster's cell domain, not the observation count), and
# the zone rectangles are literals — this is a pure projection over the
# grid, zero shuffles beyond the distinct.
# ---------------------------------------------------------------------------
_RECTS = [
    ("west", 0.0, 12.0, 0.0, 32.0),
    ("east_L", 12.0, 32.0, 0.0, 16.0),
    ("east_L", 12.0, 20.0, 16.0, 32.0),
]


def _overlap_sql() -> str:
    terms = []
    for zid, x1, x2, y1, y2 in _RECTS:
        terms.append(
            f"SELECT '{zid}' AS zone_id, {x1} AS rx1, {x2} AS rx2, "
            f"{y1} AS ry1, {y2} AS ry2"
        )
    rects = " UNION ALL ".join(terms)
    return f"""
    WITH grid AS (
      SELECT DISTINCT CAST(l_orderkey % 32 AS BIGINT) AS gx,
                      CAST(l_suppkey % 32 AS BIGINT) AS gy
      FROM lineitem
    ),
    rects AS ({rects}),
    ov AS (
      SELECT gx, gy, zone_id,
             GREATEST(0.0, LEAST(gx + 2.0, rx2) - GREATEST(gx - 1.0, rx1))
               * GREATEST(0.0, LEAST(gy + 2.0, ry2) - GREATEST(gy - 1.0, ry1))
               AS a
      FROM grid CROSS JOIN rects
    )
    SELECT gx, gy, zone_id, ROUND(SUM(a) / 9.0, 4) AS w
    FROM ov GROUP BY gx, gy, zone_id
    HAVING SUM(a) > 0
    """


@defquery(
    "cell_overlap_weights",
    _overlap_sql(),
    doc="exact cell-polygon area-fraction weights (the G8 weight "
    "generator): 3x3 cell boxes vs rectangle-decomposed zones, clipped "
    "rectangle areas in closed form, projection over the bounded grid",
    tags=("geo", "G8", "weights"),
)
def q_cell_overlap_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = spread(load_table(spark, sf_dir, "lineitem"))
    grid = li.select(
        (F.col("l_orderkey") % 32).cast("long").alias("gx"),
        (F.col("l_suppkey") % 32).cast("long").alias("gy"),
    ).distinct()
    rows = [
        F.struct(
            F.lit(zid).alias("zone_id"),
            F.lit(x1).alias("rx1"),
            F.lit(x2).alias("rx2"),
            F.lit(y1).alias("ry1"),
            F.lit(y2).alias("ry2"),
        )
        for zid, x1, x2, y1, y2 in _RECTS
    ]
    rects = grid.sparkSession.range(1).select(
        F.explode(F.array(*rows)).alias("r")
    ).select("r.*")
    ov = grid.crossJoin(F.broadcast(rects)).select(
        "gx",
        "gy",
        "zone_id",
        (
            F.greatest(
                F.lit(0.0),
                F.least(F.col("gx") + 2.0, F.col("rx2"))
                - F.greatest(F.col("gx") - 1.0, F.col("rx1")),
            )
            * F.greatest(
                F.lit(0.0),
                F.least(F.col("gy") + 2.0, F.col("ry2"))
                - F.greatest(F.col("gy") - 1.0, F.col("ry1")),
            )
        ).alias("a"),
    )
    return (
        ov.groupBy("gx", "gy", "zone_id")
        .agg(F.sum("a").alias("sa"))
        .filter(F.col("sa") > 0)
        .select("gx", "gy", "zone_id", F.round(F.col("sa") / 9.0, 4).alias("w"))
    )


# ---------------------------------------------------------------------------
# True affine/CRS regrid over a ROTATED source grid (VERDICT r4 #8) —
# the non-aligned generalization of G6 that rasterio's `reproject`
# covers and regrid_average cannot: a unit-resolution source grid
# rotated by the 3-4-5 angle (cos=0.6, sin=0.8) is resampled onto an
# axis-aligned 2-unit destination grid via operators/resample.py
# affine_regrid (supersampled point mapping, one shuffle). The oracle
# replays the mapping in INTEGER arithmetic: with s=2 the subpoint
# numerators u = 4*gx + 2k+1, v = 4*gy + 2j+1 are odd, so the dst
# pixel index floor((3u - 4v + 520)/40) (resp. (4u + 3v + 20)/40)
# never sits on a cell boundary — the float path and the rational path
# agree exactly, making a rotated-reprojection hash-checkable.
# ---------------------------------------------------------------------------
@defquery(
    "affine_regrid_rotated",
    """
    WITH grid AS (
      SELECT DISTINCT CAST(l_orderkey % 32 AS BIGINT) AS gx,
                      CAST(l_suppkey % 32 AS BIGINT) AS gy
      FROM lineitem
    ),
    sub AS (
      SELECT gx, gy,
             CAST((gx * 31 + gy * 17) % 100 AS DOUBLE) AS val,
             4 * gx + 2 * k.k + 1 AS u,
             4 * gy + 2 * j.j + 1 AS v
      FROM grid CROSS JOIN range(2) k(k) CROSS JOIN range(2) j(j)
    ),
    mapped AS (
      SELECT CAST(FLOOR((4 * u + 3 * v + 20) / 40.0) AS BIGINT) AS dy,
             CAST(FLOOR((3 * u - 4 * v + 520) / 40.0) AS BIGINT) AS dx,
             val
      FROM sub
    )
    SELECT dy, dx, CAST(COUNT(*) AS BIGINT) AS n_pts,
           ROUND(AVG(val), 4) AS avg_value
    FROM mapped
    WHERE dy >= 0 AND dy < 24 AND dx >= 0 AND dx < 24
    GROUP BY dy, dx
    """,
    doc="average-resample a rotated source grid onto an axis-aligned "
    "coarser grid through general affine transforms (the rasterio "
    "reproject semantic G6 needs for non-aligned CRS pairs); "
    "integer-exact oracle via the 3-4-5 rational rotation",
    tags=("geo", "G6", "scale-path", "resample"),
)
def q_affine_regrid_rotated(spark: SparkSession, sf_dir: str) -> DataFrame:
    from shared_etl_pipelines_spark.operators.resample import affine_regrid

    li = spread(load_table(spark, sf_dir, "lineitem"))
    grid = li.select(
        (F.col("l_orderkey") % 32).cast("long").alias("gx"),
        (F.col("l_suppkey") % 32).cast("long").alias("gy"),
    ).distinct()
    src = grid.withColumn(
        "val", ((F.col("gx") * 31 + F.col("gy") * 17) % 100).cast("double")
    )
    out = affine_regrid(
        src,
        value_col="val",
        # source pixel -> world: unit resolution rotated by the 3-4-5
        # angle, translated to (10, 5)
        src_transform=(0.6, -0.8, 10.0, 0.8, 0.6, 5.0),
        # dst pixel -> world: axis-aligned, 2-unit cells, origin (-16, 4)
        dst_transform=(2.0, 0.0, -16.0, 0.0, 2.0, 4.0),
        dst_shape=(24, 24),
        src_cols=("gy", "gx"),
        supersample=2,
    )
    return out.select("dy", "dx", "n_pts", F.round("avg_value", 4).alias("avg_value"))


# ---------------------------------------------------------------------------
# GeoParquet (r11): the OGC cloud-native vector format — plain parquet
# plus 'geo' footer metadata and a WKB geometry column
# (sources/geoparquet.py, WKB codec in sources/vector.py). The footer
# is a driver-side metadata read; the geometry decode is a vectorized
# pass inside the distributed parquet scan. Both WKB byte orders and
# polygon holes land in the hash.
# ---------------------------------------------------------------------------
@defquery(
    "geoparquet_feature_audit",
    """
    WITH f AS (SELECT doc_id AS fid FROM documents)
    SELECT fid AS feat_id, TRUE AS ok,
           CASE CAST(fid % 3 AS INT) WHEN 0 THEN 'Point'
                WHEN 1 THEN 'LineString' ELSE 'Polygon' END AS gtype,
           CAST(CASE CAST(fid % 3 AS INT)
                WHEN 0 THEN 1
                WHEN 1 THEN fid % 4 + 2
                ELSE CASE WHEN fid % 2 = 0 THEN 10 ELSE 5 END END AS INT)
             AS n_points,
           ROUND(CASE WHEN fid % 3 = 2
                 THEN (fid % 4 + 1) * (fid % 4 + 1)
                      - CASE WHEN fid % 2 = 0 THEN 0.25 ELSE 0 END
                 ELSE 0 END, 4) AS area,
           ROUND(CASE CAST(fid % 3 AS INT)
                 WHEN 0 THEN 0
                 WHEN 1 THEN fid % 4 + 1
                 ELSE fid % 4 + 1 END, 4) AS bbox_w
    FROM f
    """,
    doc="GeoParquet feature audit: per-geometry type / point count / "
    "shoelace area (holes subtract) / bbox width through the WKB "
    "decode, with big-endian points on the f%15==0 class",
    tags=("geo", "source", "codec", "vector"),
)
def q_geoparquet_feature_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from shared_etl_pipelines_spark.queries import round_floats
    from shared_etl_pipelines_spark.sources.geoparquet import (
        ensure_demo_geoparquet,
        scan_geoparquet,
    )

    path = ensure_demo_geoparquet(sf_dir)
    out = scan_geoparquet(spark, path)
    return round_floats(
        out.select("feat_id", "ok", "gtype", "n_points", "area", "bbox_w")
    )
