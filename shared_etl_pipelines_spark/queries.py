"""Named query registry: every operator exposed as (Spark builder, oracle SQL).

This is the engine's correctness surface. Each entry pairs a PySpark
DataFrame builder with the ANSI-SQL statement DuckDB runs over the same
parquet tables; the driver hash-compares the two at sf0.01
(order-insensitive, columns sorted by name). Conventions that make the
hashes line up:

- every computed column is aliased IDENTICALLY in both forms;
- every floating-point output is rounded to 4 decimals on BOTH sides
  (different engines sum in different orders — semantics identical,
  last-ulp noise removed);
- timestamps are projected as DATE or epoch seconds (Spark session TZ is
  pinned UTC to match DuckDB's naive timestamps);
- window orderings always carry a unique tie-breaker column;
- rounded outputs that can straddle zero add ``+ 0.0`` in BOTH engines:
  IEEE negative zero stringifies as "-0.0" and breaks the gate's
  sort-by-string row alignment (embedding_jl_project).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from shared_etl_pipelines_spark.operators.aggregates import (
    agg_exprs,
    weighted_zonal_aggregate,
    zonal_aggregate,
)
from shared_etl_pipelines_spark.operators.filters import value_mask
from shared_etl_pipelines_spark.operators.joins import clip_semi_join, multiply_join
from shared_etl_pipelines_spark.operators.resample import regrid_average
from shared_etl_pipelines_spark.operators.setops import union_all
from shared_etl_pipelines_spark.operators.windows import rolling_metric, zscore
from shared_etl_pipelines_spark.sources.tables import load_table, spread


@dataclass
class QueryDef:
    fn: Callable[[SparkSession, str], DataFrame]
    sql: str | None  # None => non-SQL-expressible; driver does rows-only check
    doc: str = ""
    tags: tuple[str, ...] = field(default=())


REGISTRY: dict[str, QueryDef] = {}


def defquery(name: str, sql: str | None, doc: str = "", tags: tuple[str, ...] = ()):
    def deco(fn):
        # Last-writer-wins would let a rename silently swap an oracle-checked
        # query for an unchecked one (the shadowed-k_anonymity_audit class),
        # so duplicate registration is a hard error.
        if name in REGISTRY:
            raise ValueError(
                f"duplicate @defquery registration: {name!r} "
                f"(already defined by {REGISTRY[name].fn.__module__}."
                f"{REGISTRY[name].fn.__qualname__})"
            )
        REGISTRY[name] = QueryDef(fn=fn, sql=sql, doc=doc, tags=tags)
        return fn

    return deco


def round_floats(df: DataFrame, ndigits: int = 4) -> DataFrame:
    """Round every float/double column — applied to all query outputs so the
    DuckDB comparison is insensitive to summation order."""
    cols = []
    for f_ in df.schema.fields:
        if isinstance(f_.dataType, (T.DoubleType, T.FloatType)):
            cols.append(F.round(F.col(f_.name).cast("double"), ndigits).alias(f_.name))
        else:
            cols.append(F.col(f_.name))
    return df.select(*cols)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# G4 — zonal statistics (FLAGSHIP): join + groupBy + declared multi-agg list
# Reference: geo_county_raster_aggregate.py,
# pipelines/prism/county_daily_aggregate.yml:24-36 (agg list at :15:
# "min, p5, q1, med, avg, q3, p95, max"; output cols {value_prefix}_{agg}).
# TPC-H casting: cells = lineitem prices, zones = order priorities.
# ---------------------------------------------------------------------------
@defquery(
    "zonal_stats",
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
    doc="G4 zonal statistics: exact-percentile multi-agg per zone",
    tags=("G4", "aggregate", "percentile", "join"),
)
def q_zonal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread: exact percentiles buffer every value — build the buffers on
    # all cores, not in the (single-file) scan task. No-op on real datasets.
    li = spread(_t(spark, sf_dir, "lineitem"))
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    cells = li.join(F.broadcast(orders), li.l_orderkey == orders.o_orderkey, "inner")
    out = zonal_aggregate(
        cells.withColumn("zone", F.col("o_orderpriority")),
        ["zone"],
        "l_extendedprice",
        "min,p5,q1,med,avg,q3,p95,max",
        value_prefix="price",
        extra_aggs={"n_cells": F.count(F.lit(1))},
    )
    return round_floats(out)


# ---------------------------------------------------------------------------
# G1 — clip: attribute-selected semi-join
# Reference: geo_clip_raster_by_polygon.py (selector key=value, STUSPS='MI'),
# pipelines/prism/stage-ts-ppt-day-state.yml:24-35. Cast: keep orders whose
# customer is in the 'BUILDING' segment; zone side broadcast, left_semi.
# ---------------------------------------------------------------------------
@defquery(
    "clip_semi_join",
    """
    SELECT o_orderkey, o_custkey, ROUND(o_totalprice, 4) AS o_totalprice,
           strftime(o_orderdate, '%Y-%m-%d') AS o_date
    FROM orders
    WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
    """,
    doc="G1 clip: semi-join against attribute-filtered zone table",
    tags=("G1", "semi-join", "filter"),
)
def q_clip_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    zones = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    out = clip_semi_join(orders, zones, on=["o_custkey"], key="c_mktsegment", value="BUILDING")
    return round_floats(
        out.select(
            "o_orderkey",
            "o_custkey",
            "o_totalprice",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_date"),
        )
    )


# ---------------------------------------------------------------------------
# G5 — categorical IN-predicate -> 0/1 indicator
# Reference: geo_raster_value_mask.py include_values "1"/"5" (corn/soy),
# pipelines/prism/prism-mi-corn-ppt-county.yml:41-49.
# ---------------------------------------------------------------------------
@defquery(
    "value_mask",
    """
    SELECT l_orderkey, l_linenumber, l_returnflag,
           CASE WHEN l_returnflag IN ('R', 'A') THEN 1 ELSE 0 END AS mask
    FROM lineitem
    """,
    doc="G5 value mask: IN-list -> indicator column",
    tags=("G5", "predicate"),
)
def q_value_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return value_mask(li, "l_returnflag", ["R", "A"]).select(
        "l_orderkey", "l_linenumber", "l_returnflag", "mask"
    )


# ---------------------------------------------------------------------------
# G7 — cell-aligned equi-join + elementwise product
# Reference: geo_raster_multiply.py (daily raster × static weight raster),
# pipelines/prism/prism-mi-corn-ppt-county.yml:61-70. Weight side broadcast.
# ---------------------------------------------------------------------------
@defquery(
    "multiply_join",
    """
    SELECT l_orderkey, l_linenumber, p_partkey,
           ROUND(l_quantity * p_retailprice, 4) AS weighted_value
    FROM lineitem JOIN part ON l_partkey = p_partkey
    """,
    doc="G7 multiply: broadcast equi-join + elementwise product",
    tags=("G7", "join"),
)
def q_multiply_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").withColumnRenamed("l_partkey", "p_partkey")
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_retailprice")
    out = multiply_join(
        li, part, on=["p_partkey"], value_col="l_quantity", weight_col="p_retailprice"
    )
    return round_floats(
        out.select("l_orderkey", "l_linenumber", "p_partkey", "weighted_value")
    )


# ---------------------------------------------------------------------------
# G8 — weighted zonal aggregate: sum(v*w)/sum(w) per zone
# Reference: geo_county_weighted_raster_aggregate.py,
# pipelines/prism/prism-mi-corn-ppt-county.yml:71-85 (crop-fraction-weighted
# county precipitation). Cast: quantity-weighted mean price per supplier nation.
# ---------------------------------------------------------------------------
@defquery(
    "weighted_zonal",
    """
    WITH c AS (
      SELECT l_suppkey,
             CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS pc,
             CAST(l_quantity AS BIGINT) AS q
      FROM lineitem
    )
    SELECT n_name AS zone,
           ROUND((CAST(SUM(pc * q) AS DOUBLE) / SUM(q)) / 100.0, 4) AS wavg,
           ROUND(CAST(SUM(q) AS DOUBLE), 4) AS wavg_weight
    FROM c
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    GROUP BY n_name
    """,
    doc="G8 weighted zonal: sum(v*w)/sum(w) per zone",
    tags=("G8", "aggregate", "join"),
)
def q_weighted_zonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    # exact integer partials (2-decimal price x integral quantity): the
    # weighted sum never depends on double summation order at any scale
    li = _t(spark, sf_dir, "lineitem").select(
        "l_suppkey",
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("pc"),
        F.col("l_quantity").cast("long").alias("q"),
    )
    sup = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    cells = li.join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey).join(
        F.broadcast(nat), sup.s_nationkey == nat.n_nationkey
    )
    out = weighted_zonal_aggregate(
        cells.withColumnRenamed("n_name", "zone"),
        ["zone"],
        value_col="pc",
        weight_col="q",
        out_col="wavg",
    )
    out = out.select(
        "zone",
        (F.col("wavg") / 100.0).alias("wavg"),
        F.col("wavg_weight").cast("double").alias("wavg_weight"),
    )
    return round_floats(out)


# ---------------------------------------------------------------------------
# G6 — average-resample a fine grid onto a coarser grid (fraction in [0,1])
# Reference: geo_raster_reproject.py resampling=average (30 m mask -> 800 m
# fraction), pipelines/prism/prism-mi-corn-ppt-county.yml:50-60.
# Cast: part keys laid out on a 16×16 grid, mask = p_size IN (1,5), factor 4.
# ---------------------------------------------------------------------------
@defquery(
    "regrid_fraction",
    """
    WITH fine AS (
      SELECT p_partkey % 16 AS fy,
             CAST(FLOOR(p_partkey / 16) AS BIGINT) % 16 AS fx,
             CASE WHEN p_size IN (1, 5) THEN 1 ELSE 0 END AS mask
      FROM part
    )
    SELECT CAST(FLOOR(fy / 4) AS BIGINT) AS cy,
           CAST(FLOOR(fx / 4) AS BIGINT) AS cx,
           ROUND(AVG(mask), 4) AS fraction
    FROM fine GROUP BY 1, 2
    """,
    doc="G6 regrid: avg-resample fine mask to coarse fraction",
    tags=("G6", "aggregate"),
)
def q_regrid_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part")
    fine = part.select(
        (F.col("p_partkey") % 16).alias("fy"),
        (F.floor(F.col("p_partkey") / 16).cast("long") % 16).alias("fx"),
        F.when(F.col("p_size").isin([1, 5]), F.lit(1)).otherwise(F.lit(0)).alias("mask"),
    )
    out = regrid_average(fine, ("fy", "fx"), factor=4, value_col="mask")
    return round_floats(out)


# ---------------------------------------------------------------------------
# G2 — trailing rolling windows w ∈ {3,7,30} with post-window temporal filter
# Reference: geo_raster_running_window.py (w-day rolling sum per cell; input
# spans all history, output restricted to target period so the window looks
# back across the boundary), pipelines/prism/stage-ts-ppt-day-mi-rollsum-*.yml.
# Cast: per-user trailing sums over the events stream, output ≥ Jan 15.
# ---------------------------------------------------------------------------
@defquery(
    "rolling_sums",
    """
    WITH w AS (
      SELECT event_id, user_id, ts, value,
        SUM(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)  AS sum_3,
        SUM(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)  AS sum_7,
        SUM(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS sum_14,
        SUM(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN 29 PRECEDING AND CURRENT ROW) AS sum_30
      FROM events
    )
    SELECT event_id, user_id,
           ROUND(value, 4) AS value, ROUND(sum_3, 4) AS sum_3,
           ROUND(sum_7, 4) AS sum_7, ROUND(sum_14, 4) AS sum_14,
           ROUND(sum_30, 4) AS sum_30
    FROM w WHERE ts >= TIMESTAMP '2024-01-15 00:00:00'
    """,
    doc="G2 rolling: trailing w-row sums, w in {3,7,14,30} (the reference's "
    "full window set), with cross-boundary lookback",
    tags=("G2", "window"),
)
def q_rolling_sums(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    # unique tie-breaker (event_id) in the ordering => deterministic frames
    ev = ev.withColumn("_ord", F.struct(F.col("ts"), F.col("event_id")))
    out = ev
    for w_size, name in [(3, "sum_3"), (7, "sum_7"), (14, "sum_14"), (30, "sum_30")]:
        out = rolling_metric(
            out, ["user_id"], "_ord", "value", window=w_size, metric="sum", out_col=name
        )
    out = out.filter(F.col("ts") >= F.lit("2024-01-15 00:00:00").cast("timestamp"))
    return round_floats(
        out.select("event_id", "user_id", "value", "sum_3", "sum_7", "sum_14", "sum_30")
    )


# ---------------------------------------------------------------------------
# G3 — standardized anomaly (z-score) against a climatology partition
# Reference: geo_raster_spi.py method=zscore,
# pipelines/prism/stage-ts-ppt-day-mi-spi-3d.yml:20-30. The climatology key
# here is (event_type, day-of-month) — the analog of (cell, day-of-year).
# ---------------------------------------------------------------------------
@defquery(
    "spi_zscore",
    """
    SELECT event_id, event_type,
           ROUND((value - AVG(value)    OVER (PARTITION BY event_type, EXTRACT(day FROM ts)))
               / STDDEV_SAMP(value) OVER (PARTITION BY event_type, EXTRACT(day FROM ts)), 4)
           AS zscore
    FROM events
    """,
    doc="G3 SPI: z-score against per-group climatology",
    tags=("G3", "window"),
)
def q_spi_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").withColumn("dom", F.dayofmonth("ts"))
    out = zscore(ev, ["event_type", "dom"], "value", out_col="zscore")
    return round_floats(out.select("event_id", "event_type", "zscore"))


# ---------------------------------------------------------------------------
# S6 — combine/union: UNION ALL of same-schema slices
# Reference: combine_files.py (concat CSVs per day into per-year files),
# pipelines/prism/county_daily_aggregate.yml:38-44.
# ---------------------------------------------------------------------------
@defquery(
    "union_combine",
    """
    SELECT o_orderstatus, COUNT(*) AS n,
           ROUND(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) / 100.0, 4) AS total
    FROM (
      SELECT * FROM orders WHERE o_orderstatus = 'O'
      UNION ALL
      SELECT * FROM orders WHERE o_orderstatus = 'F'
    )
    GROUP BY o_orderstatus
    """,
    doc="S6 combine: unionByName then aggregate",
    tags=("S6", "setop"),
)
def q_union_combine(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    u = union_all(
        [
            orders.filter(F.col("o_orderstatus") == "O"),
            orders.filter(F.col("o_orderstatus") == "F"),
        ]
    )
    out = u.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum(F.round(F.col("o_totalprice") * 100).cast("long")) / 100.0).alias("total"),
    )
    return round_floats(out)


# ---------------------------------------------------------------------------
# Top-K per group — ranking window (beyond-reference relational coverage;
# the reference's only limit is STAC page_size/max_items, SURVEY.md §2.5).
# ---------------------------------------------------------------------------
@defquery(
    "topk_per_group",
    """
    SELECT event_type, event_id, value, rn FROM (
      SELECT event_type, event_id, value,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY value DESC, event_id) AS rn
      FROM events
    ) WHERE rn <= 5
    """,
    doc="top-k per group via row_number ranking window",
    tags=("window", "topk"),
)
def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(F.col("value").desc(), F.col("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("event_type", "event_id", "value", "rn")
    )


# ---------------------------------------------------------------------------
# Scalar utilities — date-from-filename regex extraction
# Reference: day_from_filename_regex "(\d{8})" in
# geo_county_weighted_raster_aggregate (prism-mi-corn-ppt-county.yml:82);
# filenames like prism_ppt_us_30s_YYYYMMDD.tif (stage-ts-ppt-day-*.yml:14).
# ---------------------------------------------------------------------------
@defquery(
    "date_from_filename",
    r"""
    WITH files AS (
      SELECT 'data/stage/prism/' || strftime(o_orderdate, '%Y')
             || '/prism_ppt_us_30s_' || strftime(o_orderdate, '%Y%m%d') || '.tif' AS path
      FROM orders
    )
    SELECT strftime(strptime(regexp_extract(path, '(\d{8})', 1), '%Y%m%d'), '%Y-%m-%d') AS day,
           COUNT(*) AS n_files
    FROM files GROUP BY 1
    """,
    doc="regex date-from-filename extraction + parse",
    tags=("scalar", "regex"),
)
def q_date_from_filename(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    files = orders.select(
        F.concat(
            F.lit("data/stage/prism/"),
            F.date_format("o_orderdate", "yyyy"),
            F.lit("/prism_ppt_us_30s_"),
            F.date_format("o_orderdate", "yyyyMMdd"),
            F.lit(".tif"),
        ).alias("path")
    )
    return (
        files.select(
            F.date_format(
                F.to_date(F.regexp_extract("path", r"(\d{8})", 1), "yyyyMMdd"),
                "yyyy-MM-dd",
            ).alias("day")
        )
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("n_files"))
    )


# ---------------------------------------------------------------------------
# §3.3 flagship dataflow — the corn-weighted-precipitation pipeline as ONE
# lazy plan: mask (G5) -> avg-regrid (G6) -> multiply (G7) -> weighted zonal
# agg (G8). Reference: pipelines/prism/prism-mi-corn-ppt-county.yml end-to-end
# (five steps, five intermediate directories; here: zero materializations).
# ---------------------------------------------------------------------------
@defquery(
    "crop_weighted_pipeline",
    """
    WITH fine AS (
      SELECT p_partkey % 16 AS fy,
             CAST(FLOOR(p_partkey / 16) AS BIGINT) % 16 AS fx,
             CASE WHEN p_size IN (1, 5) THEN 1 ELSE 0 END AS mask
      FROM part
    ),
    weights AS (
      SELECT CAST(FLOOR(fy / 4) AS BIGINT) AS y,
             CAST(FLOOR(fx / 4) AS BIGINT) AS x,
             AVG(mask) AS w
      FROM fine GROUP BY 1, 2
    ),
    daily AS (
      SELECT l_orderkey % 4 AS y, l_suppkey % 4 AS x,
             CAST(l_shipdate AS DATE) AS day, l_quantity AS v
      FROM lineitem
    )
    SELECT d.y AS zone, EXTRACT(year FROM d.day) AS yr,
           ROUND(SUM(d.v * w.w) / SUM(w.w), 4) AS crop_wavg,
           ROUND(SUM(w.w), 4) AS crop_wavg_weight
    FROM daily d JOIN weights w ON d.y = w.y AND d.x = w.x
    GROUP BY 1, 2
    """,
    doc="§3.3 multi-stage pipeline: mask->regrid->multiply->weighted zonal, one plan",
    tags=("pipeline", "G5", "G6", "G7", "G8"),
)
def q_crop_weighted_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part")
    fine = part.select(
        (F.col("p_partkey") % 16).alias("fy"),
        (F.floor(F.col("p_partkey") / 16).cast("long") % 16).alias("fx"),
        F.when(F.col("p_size").isin([1, 5]), F.lit(1)).otherwise(F.lit(0)).alias("mask"),
    )
    weights = regrid_average(
        fine, ("fy", "fx"), factor=4, value_col="mask", coarse_cols=("y", "x"), out_col="w"
    )
    li = _t(spark, sf_dir, "lineitem")
    daily = li.select(
        (F.col("l_orderkey") % 4).alias("y"),
        (F.col("l_suppkey") % 4).alias("x"),
        F.col("l_shipdate").cast("date").alias("day"),
        F.col("l_quantity").alias("v"),
    )
    cells = multiply_join(daily, weights, on=["y", "x"], value_col="v", weight_col="w")
    out = (
        cells.withColumn("zone", F.col("y"))
        .withColumn("yr", F.year("day").cast("long"))
        .groupBy("zone", "yr")
        .agg(
            (F.sum(F.col("v") * F.col("w")) / F.sum("w")).alias("crop_wavg"),
            F.sum("w").alias("crop_wavg_weight"),
        )
    )
    return round_floats(out)


# ---------------------------------------------------------------------------
# Pricing summary — TPC-H Q1 shape (groupBy + 8 aggregates); the canonical
# multi-agg scan the reference's declared-agg-list generalizes to.
# ---------------------------------------------------------------------------
@defquery(
    "pricing_summary",
    """
    WITH c AS (
      SELECT l_returnflag, l_linestatus,
             CAST(l_quantity AS BIGINT) AS q,
             CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS pc,
             CAST(ROUND((1 - l_discount) * 100) AS BIGINT) AS d100,
             CAST(ROUND((1 + l_tax) * 100) AS BIGINT) AS t100,
             CAST(ROUND(l_discount * 100) AS BIGINT) AS disc100
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    )
    SELECT l_returnflag, l_linestatus,
           ROUND(CAST(SUM(q) AS DOUBLE), 4)                        AS sum_qty,
           ROUND(SUM(pc) / 100.0, 4)                               AS sum_base,
           ROUND(SUM(pc * d100) / 10000.0, 4)                      AS sum_disc_price,
           ROUND(SUM(pc * d100 * t100) / 1000000.0, 4)             AS sum_charge,
           ROUND(CAST(SUM(q) AS DOUBLE) / COUNT(*), 4)             AS avg_qty,
           ROUND((CAST(SUM(pc) AS DOUBLE) / COUNT(*)) / 100.0, 4)  AS avg_price,
           ROUND((CAST(SUM(disc100) AS DOUBLE) / COUNT(*)) / 100.0, 4) AS avg_disc,
           COUNT(*)                                                AS count_order
    FROM c
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="TPC-H Q1-shaped pricing summary: filtered scan + 8-agg groupBy",
    tags=("aggregate", "scan"),
)
def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H money is fixed-point (2-decimal price, 2-decimal rates,
    # integral quantity): every sum aggregates exact scaled integers with
    # ONE division at the end, so results are bit-identical under any
    # partitioning at any scale
    li = _t(spark, sf_dir, "lineitem")
    c = li.filter(
        F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp")
    ).select(
        "l_returnflag",
        "l_linestatus",
        F.col("l_quantity").cast("long").alias("q"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("pc"),
        F.round((1 - F.col("l_discount")) * 100).cast("long").alias("d100"),
        F.round((1 + F.col("l_tax")) * 100).cast("long").alias("t100"),
        F.round(F.col("l_discount") * 100).cast("long").alias("disc100"),
    )
    n = F.count(F.lit(1))
    out = c.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum("q").cast("double").alias("sum_qty"),
        (F.sum("pc") / 100.0).alias("sum_base"),
        (F.sum(F.col("pc") * F.col("d100")) / 10000.0).alias("sum_disc_price"),
        (F.sum(F.col("pc") * F.col("d100") * F.col("t100")) / 1000000.0).alias("sum_charge"),
        (F.sum("q").cast("double") / n).alias("avg_qty"),
        ((F.sum("pc").cast("double") / n) / 100.0).alias("avg_price"),
        ((F.sum("disc100").cast("double") / n) / 100.0).alias("avg_disc"),
        n.alias("count_order"),
    )
    return round_floats(out)


# Register the LLM-data operator queries (dedup / similarity / text /
# multimodal) and the streaming queries — these modules append to REGISTRY
# on import. Imports sit at the bottom so defquery/round_floats exist when
# they re-enter this module.
from shared_etl_pipelines_spark import queries_analytics  # noqa: E402,F401
from shared_etl_pipelines_spark import queries_geo  # noqa: E402,F401
from shared_etl_pipelines_spark import queries_llm  # noqa: E402,F401
from shared_etl_pipelines_spark import queries_relational  # noqa: E402,F401
from shared_etl_pipelines_spark import queries_streaming  # noqa: E402,F401

# ---------------------------------------------------------------------------
# Top-K per group, map-side-combine form — operators/windows.py
# partial_topk: per-batch per-key top-k pruning before the ranking
# window, so the shuffle carries k rows per (key, batch) instead of
# whole groups. Same result as topk_per_group (same oracle), different
# physical shape — the one that survives a hot key at 100 TB.
# ---------------------------------------------------------------------------
@defquery(
    "topk_per_group_partial",
    """
    SELECT event_type, event_id, value, rn FROM (
      SELECT event_type, event_id, value,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY value DESC, event_id) AS rn
      FROM events
    ) WHERE rn <= 5
    """,
    doc="top-k per group with per-batch partial pruning before the "
    "ranking window: shuffle volume k per (key, batch), never whole "
    "groups — the map-side-combine form of topk_per_group",
    tags=("window", "topk", "scale-path"),
)
def q_topk_per_group_partial(spark: SparkSession, sf_dir: str) -> DataFrame:
    from shared_etl_pipelines_spark.operators.windows import partial_topk

    ev = _t(spark, sf_dir, "events").select("event_type", "event_id", "value")
    out = partial_topk(ev, ["event_type"], "value", "event_id", 5)
    return out.select("event_type", "event_id", "value", "rn")
