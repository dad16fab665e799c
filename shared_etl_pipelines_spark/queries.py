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

import os
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
# Driver-gate ordering. The external correctness gate walks REGISTRY in
# insertion order under a time budget (~50 entries/round). Three blocks:
#
#   1. FRONT  — oracle-bearing queries with no green verdict yet: the 23
#      never-judged relational/analytics entries, queries whose code
#      changed since their last verdict, and anything new this round.
#   2. BACK   — the cumulative judged-green set (r1+r2): re-confirmable,
#      but lowest information value per gate slot.
#   3. LAST   — sql=None entries. The driver scores these "err:
#      no_oracle" every time they are judged (rows-only at best), so
#      they must never displace an oracle-bearing query from the window.
#      Exception: _FORCE_FRONT pins entries that need a fresh rows-only
#      verdict (embedding_pca_project crashed the r2 canonicalizer on an
#      array column; its output is now scalarized).
#
# _JUDGED_GREEN must only contain queries UNCHANGED since their verdict —
# tests/test_registry_meta.py pins each entry's (sql, builder-source)
# fingerprint against tools/query_fingerprints.json and fails if a listed
# query was edited without being removed from this set (the rolling_sums
# b7648b7 staleness class).
# ---------------------------------------------------------------------------
_R1_GREEN = frozenset(
    {
        "zonal_stats", "clip_semi_join", "value_mask", "multiply_join",
        "weighted_zonal", "regrid_fraction", "spi_zscore",
        "union_combine", "topk_per_group", "date_from_filename",
        "crop_weighted_pipeline", "pricing_summary", "event_funnel",
        "mode_event_type", "qty_price_regression",
        "dedup_keep_latest", "embedding_quantize_int8",
        "customer_order_distribution", "zorder_clustering_key",
        "revenue_share_of_region", "customer_order_trajectory",
        "cohort_retention", "weighted_median",
        "gap_fill_interpolated", "heavy_hitters_topk", "ewma_daily_value",
        "hll_daily_distinct", "trimmed_mean_price",
        # "geo_clip_polygon", "geo_zonal_polygons" and "geo_clip_bucketed"
        # were r1-green but operators/geo.py changed since (tag_zones'
        # lattice path, bucket_clip's bbox relation) — re-fronted.
        "dedup_exact", "dedup_normalized", "minhash_signature",
        # "near_dup_minhash_lsh" was r1-green but minhash_lsh_pairs
        # gained the hot-bucket guard this round — re-fronted.
        "ngram_jaccard_pairs", "simhash_fingerprint",
        # "near_dup_simhash" was r1-green but its banded machinery was
        # touched in r7 after its last verdict (VERDICT r7 item 7) —
        # re-fronted for a fresh driver verdict.
        "text_metrics", "lang_id", "token_counts",
        # "rolling_sums" was r1-green but modified by b7648b7 (sum_14
        # added) — needs a fresh verdict, so it is NOT in this set.
    }
)

# CORRECTNESS_r02.json greens: all 50 judged entries except
# corpus_curation (hash fail — oracle SQL fixed this round, needs
# re-verdict), embedding_pca_project (canonicalizer crash — output
# scalarized this round), and the two no_oracle rows (sql=None,
# handled by the LAST block).
_R2_GREEN = frozenset(
    {
        "recursive_ancestor_depths", "props_variant_stats",
        "expectations_check", "time_range_rolling",
        # "data_quality_profile" was r2-green but profile_columns was
        # rewritten this round (Expand-free union-of-branches) — re-fronted
        # for a fresh verdict.
        # "raster_tif_rollsum" re-fronted: its fixture corpus now rotates
        # TIFF-LZW in with DEFLATE/uncompressed (decoded values identical,
        # locally re-verified) — a fresh verdict should cover the new codec.
        # "shapefile_clip" was r2-green but tag_zones (operators/geo.py)
        # changed since — re-fronted.
        "doc_fingerprint", "similarity_topk",
        "embedding_near_dup",
        # "similarity_topk_lsh" was r2-green but lsh_bucket_topk's
        # query-side probe construction was refactored for multi-probe
        # this round (behavior-identical for single probe, locally
        # re-verified) — re-fronted for a fresh verdict.
        "similarity_topk_ivf",
        "multimodal_decode", "multimodal_frame_sample", "multimodal_features",
        "stratified_sample_docs", "multimodal_resize", "vocab_top_terms",
        "fuzzy_name_pairs", "embedding_label_stats",
        # "dedup_clusters" was r2-green but connected_components gained
        # path halving this session (result verified identical by the
        # local oracle) — re-fronted for a fresh verdict.
        "tfidf_top_terms", "user_value_iqr", "text_scrub_redactions",
        "embedding_dim_stats", "chunk_documents", "doc_repetition_metrics",
        # "embedding_covariance" and "similarity_topk_lsh_indexed" were
        # r2-green but modified this round (ragged-input guard; index
        # cache fingerprint) — re-fronted for fresh verdicts.
        # "embedding_near_dup_lsh" was r2-green but touched in r7 after
        # its last verdict (VERDICT r7 item 7) — re-fronted.
        "rollup_pricing", "cube_order_counts",
        "distinct_aggs", "intersect_except", "asof_purchase_view",
        "salted_hot_key_agg", "spi_doy_climatology",
        "pipeline_crop_weighted_yaml", "sessionize_events",
        "range_join_campaigns", "hypertable_rollup",
        "anti_join_inactive_customers",
    }
)

# CORRECTNESS_r03.json greens: all 50 judged entries passed
# rows+schema+hash — the 23 r1/r2 carryovers, the 8 judged-then-modified
# re-fronts, and 19 of the r3 additions.
_R3_GREEN = frozenset(
    {
        "regional_revenue", "salted_skew_join", "grouping_sets_pricing",
        "global_top_orders", "json_props_rollup", "pivot_status_by_month",
        "daily_revenue_deltas", "gap_fill_user_days", "scd2_customer_merge",
        "above_customer_avg_orders", "ntile_order_quartiles",
        "price_histogram", "value_distribution_ranks", "rolling_median_7",
        "priority_extremes", "exists_late_orders", "not_in_null_aware",
        "having_large_orders", "top_revenue_suppliers", "lateral_top_orders",
        "null_safe_join", "setops_multiset", "unpivot_flag_metrics",
        # "similarity_topk_lsh_indexed" was r3-green but re-fronted this
        # round: lsh_topk_from_index gained the upsert tombstone
        # liveness join (no-tombstone reads bit-identical, locally
        # re-verified).
        "rolling_sums",
        # "embedding_covariance" was r3-green but its oracle SQL gained
        # the CAST(embedding AS DOUBLE[]) quantization fix in r9 (the
        # float32-multiply half-boundary bug found via
        # embedding_pca_project at sf0.001) — re-fronted.
        "corpus_curation", "data_quality_profile",
        # "similarity_topk_lsh" was r3-green but flipped to the Arrow
        # bucket path this round (bit-identical buckets, 1.7x faster —
        # VERDICT r4 #4) — re-fronted for a fresh verdict.
        # "raster_tif_rollsum" was r3-green but re-fronted this round:
        # its fixture corpus now rotates BigTIFF containers + chained
        # overview IFDs in (same pixel values, locally re-verified).
        # "dedup_clusters" was r3-green but its pair source
        # (minhash_lsh_pairs) gained the hot-bucket guard — re-fronted.
        "label_prop_communities",
        "kcore_peeling", "hard_negative_mining",
        # "embedding_jl_project" was r3-green but its oracle SQL changed
        # this round (multiply-by-reciprocal to match the operator's
        # arithmetic exactly, ADVICE r3) — re-fronted for a fresh verdict.
        "kmv_distinct_intersection", "kaplan_meier_conversion",
        "similarity_topk_blocked",
        # semantic_dedup: builder optimized in the r13 optimization round
        # (min_by argmin + persisted assignment; identical output,
        # oracle-verified at all three SFs) — re-fronted for a fresh
        # driver verdict
        # "multimodal_gif_decode" was r3-green but its fixture corpus
        # now rotates 4-pass INTERLACED GIFs in (odd doc_ids; same
        # pixels, locally hash-green) — re-fronted (r8).
        "topk_per_group_partial", "dsir_importance_weights",
        # langid_confusion: r3-green, builder restructured in r13
        # (broadcast bigram model + per-doc pre-aggregation) —
        # re-fronted pending a fresh driver verdict
        "theil_sen_trend", "seasonal_decompose_daily",
        "ts_pattern_match", "correlation_matrix", "chi2_event_dow",
        "incremental_rollup_refresh", "copurchase_triangles",
    }
)

# CORRECTNESS_r04.json greens: all 50 judged entries passed
# rows+schema+hash except embedding_pca_project, which is sql=None and
# scored "err: no_oracle" (ran, 4000 rows) — it stays out of this set
# and out of _FORCE_FRONT (VERDICT r4: stop spending slots on sql=None).
_R4_GREEN = frozenset(
    {
        "stream_tumbling_daily", "stream_running_totals", "stream_sliding_3d",
        "stream_session_windows", "stream_dedup_hashes",
        "stream_static_enrichment", "stream_interval_join",
        # "stream_new_doc_dedup" was r4-green but touched in r7 after
        # its last verdict (VERDICT r7 item 7) — re-fronted.
        "stream_raster_daily",
        "gopher_quality_rules", "rendezvous_shard_stats", "ann_recall_eval",
        "bpe_encode_apply", "bpe_learn_merges", "k_anonymity_audit",
        "url_canonicalize", "warc_ingest_stats", "warc_curation_funnel",
        "html_extract_text", "pca_project_fixed_basis",
        # "incremental_near_dup" was r4-green but incremental_minhash_lsh
        # gained the overlapping-doc_id guard this round (ADVICE r4 #1;
        # disjoint-fixture output locally re-verified identical) —
        # re-fronted for a fresh verdict.
        "waiting_supplier_blame", "idle_rich_customers",
        "snapshot_diff_orders", "fk_integrity_check", "pit_dimension_join",
        "pk_uniqueness_check", "local_supplier_revenue",
        "promo_revenue_disjunctive", "min_cost_supplier_region",
        "nation_pair_trade_volume", "nation_market_share",
        "product_type_profit", "important_stock_value",
        "ship_lag_priority_counts", "part_supplier_variety",
        "small_qty_order_revenue", "large_volume_customers",
        "excess_shipper_names", "shipping_priority_top10",
        "forecast_revenue_change", "returned_item_customers",
        "promo_revenue_share", "embedding_jl_project",
        # "incremental_dedup" shares the guarded helper — re-fronted too.
        # "multimodal_png_decode" was r4-green but its fixture corpus now
        # rotates Adam7 INTERLACED streams in (odd doc_ids; same pixels,
        # locally hash-green) — re-fronted for a verdict on the new mix.
        # "multimodal_wav_decode" was r4-green but WAV gained the mu-law
        # + ADPCM paths in r7 after its last verdict (VERDICT r7 item 7)
        # — re-fronted.
        # "multimodal_avi_frames" was r4-green but decode_avi gained the
        # MJPEG ('00dc') path this round — re-fronted.
        "multimodal_bmp_decode",
    }
)

# CORRECTNESS_r05.json greens: all 50 judged entries passed
# rows+schema+hash — the first perfect round. Entries later re-fronted
# this round (code/fixture changes) must be REMOVED from this set per
# the re-fronting convention (tests/test_registry_meta.py enforces it).
_R5_GREEN = frozenset(
    {
        "affine_regrid_rotated",
        # "ann_index_upsert_topk" and "similarity_topk_lsh_indexed" were
        # r5-green but the shared upsert/probe machinery changed this
        # round (data-before-tombstone crash ordering, fail-loud writer
        # lock, Hadoop-FS tombstone resolution, reader max-seq-per-id
        # dedup — ADVICE r5 #1/#2; normal-path results locally
        # re-verified identical) — re-fronted for fresh verdicts.
        "audio_fingerprint_neardup", "bigram_lm_quality",
        "bloom_prefilter_join", "bm25_search", "bpe_top_pairs",
        "code_detect_heuristic", "curation_funnel", "dup_span_profile",
        # "dup_spans" and "hilbert_layout_audit" were r5-green but
        # touched in r7 after their last verdicts (VERDICT r7 item 7) —
        # re-fronted.
        # "embedding_dbscan" was green here but its builder switched
        # persist -> localCheckpoint in r11 (floor cut, VERDICT r10
        # task #6) — re-fronted for a fresh verdict.
        "embedding_kmeans_assign",
        "image_ahash_neardup",
        # "incremental_near_dup", "near_dup_levenshtein" and
        # "near_dup_lsh_eval" were r5-green but their shared banded-LSH
        # machinery gained the hot-bucket guard — re-fronted.
        # "incremental_dedup" was r5-green but touched in r7 after its
        # last verdict (VERDICT r7 item 7) — re-fronted.
        "jsonl_nested_ingest",
        # "mor_orders_state" was r5-green but mor_apply_changes/mor_read
        # changed this round (same hardening as above) — re-fronted.
        # "multimodal_jpeg_decode" and "image_ahash_neardup_jpeg" were
        # r5-green but their fixture corpora now rotate PROGRESSIVE
        # (SOF2) streams in (odd doc_ids; same closed-form pixel values,
        # locally hash-green) — re-fronted for verdicts on the new
        # container mix.
        # "multimodal_resize_real" was r5-green but shares the PNG
        # fixture corpus that now rotates Adam7 in — re-fronted.
        # "near_dup_prefix_filter" was r5-green but touched in r7 after
        # its last verdict (VERDICT r7 item 7) — re-fronted.
        # "pagerank_one_step" stays: it does NOT call the pagerank
        # operator (self-contained integer one-step builder).
        "pagerank_one_step",
        "per_source_cap", "phrase_search", "pii_scan_events",
        "pmi_collocations", "pq_assign_codes", "quality_band_filter",
        "raster_overview_scan", "raster_tif_rollsum", "sequence_pack",
        "similarity_topk_pq",
        "sorted_neighborhood_pairs", "source_mixing_weights",
        "tfidf_cosine_pairs", "token_budget_pack", "token_entropy_quality",
        "train_val_test_split", "url_domain_stats",
        # "video_keyframe_detect" was r5-green but its fixture corpus now
        # mixes MJPEG containers in (odd doc_ids, half DHT-less; same
        # closed-form deltas, locally hash-green) — re-fronted.
        "vocab_zipf_stats", "weighted_sample_docs",
    }
)

# CORRECTNESS_r06.json greens: 49 of 50 judged entries passed
# rows+schema+hash (the 50th, pagerank_copurchase, is sql=None and got
# its rows-only verdict — cumulative driver coverage of the pre-r6
# registry is complete). Entries re-fronted THIS round (ADVICE r6
# fixes touched their builders/shared operators; results locally
# re-verified identical) are NOT in this set per the re-fronting
# convention: near_dup_minhash_lsh, dedup_clusters, near_dup_lsh_eval
# (banded-LSH hot-bucket guard now collects the hot set instead of
# persisting it), mor_orders_state (fixture .done-marker gating),
# ann_index_upsert_topk (shared upsert fixture factored + .done gate).
_R6_GREEN = frozenset(
    {
        "acf_daily_revenue", "attribution_last_touch", "basket_lift_pairs",
        "benford_first_digit", "brand_rank_shift", "cell_overlap_weights",
        "churn_score_logistic", "conversion_latency", "conversion_wilson_ci",
        "cusum_changepoint", "embedding_quantile_normalize",
        "forget_cascade_audit", "funnel_within_windows",
        "geo_nearest_supplier", "geo_radius_join", "growing_degree_days",
        "hashed_features", "incremental_join_refresh",
        "interval_union_coverage", "join_fanout_audit", "key_skew_report",
        "label_centroid_similarity", "largest_remainder_alloc",
        "longest_user_streak", "markov_event_transitions",
        "max_concurrent_open_orders",
        # "mor_orders_state_bucketed" was r6-green but touched in r7
        # after its last verdict AND the bucketed-MoR writer lock moved
        # to a sibling path this round (ADVICE r7 #1) — re-fronted.
        "mutual_information_bins", "nb_train_langid", "new_vs_returning",
        "pareto_frontier", "profile_drift", "psi_drift_check",
        "raster_focal_mean", "rle_compression_stats", "roc_auc_exact",
        "rolling_corr_14", "rolling_wau", "sax_window_vocab",
        "sequential_patterns", "shapefile_zone_metrics",
        # "similarity_topk_lsh_indexed" was r6-green but touched in r7
        # after its last verdict (VERDICT r7 item 7) — re-fronted.
        "target_encode_loo",
        "zonal_majority_class",
    }
)

# CORRECTNESS_r07.json greens: all 50 judged entries passed
# rows+schema+hash (the third perfect file in a row). Entries re-fronted
# in round 8 are NOT in this set per the re-fronting convention:
# ann_index_upsert_topk / ann_index_asof_topk / stream_ann_index_upsert
# (the ANN maintenance lock moved to a swap-surviving sibling path,
# ADVICE r7 #1), mor_orders_state / _time_travel / _changelog /
# mor_history_audit / mor_schema_evolution / stream_mor_cdc_apply (same
# for the MoR lock), holt_linear_daily (typed order-column fold, ADVICE
# r7 #2), gif_animated_frames (background-index disposal restore,
# ADVICE r7 #3), record_linkage_fs (re-blocked onto sub-quadratic
# sorted-neighborhood candidates, VERDICT r7 item 2). zonal_stats
# (re-judged r7) already sits in _R1_GREEN.
_R7_GREEN = frozenset(
    {
        # "incremental_near_dup" was r7-green but the fixture-batch
        # probe path changes in the r14 optimization round — re-fronted.
        "near_dup_levenshtein",
        "multimodal_jpeg_decode", "image_ahash_neardup_jpeg",
        "video_keyframe_detect",
        # "multimodal_avi_frames" was r7-green but sample_video_frames
        # gained the MP4 dispatch branch in r8 (AVI path byte-identical,
        # locally re-verified) — re-fronted.
        "audio_spectral_tones", "ks_drift_exact", "gini_customer_spend",
        "orc_roundtrip_pricing", "jpeg_marker_scan",
        "csv_quarantine_ingest", "similarity_topk_ivfpq",
        "ab_welch_ttest", "ts_subsequence_search",
        # "near_dup_lsh_eval" was r7-green but its operator
        # (minhash_lsh_pairs) changed in the r13 optimization round
        # (conditional sig-count skip) — re-fronted per ADVICE r13 #1.
        "xml_nested_ingest",
        "kn_bigram_lm_quality", "mann_whitney_u",
        "partition_evolution_read", "multimodal_mulaw_decode",
        "multimodal_png_decode", "multimodal_resize_real",
        # "stream_custom_state_alarms" was green, but its builder now
        # reads its parquet schema through engine.parquet_schema —
        # re-fronted.
        "spearman_spend_orders",
        "anova_priority_f", "stream_interval_join_outer",
        "clustering_coefficient", "multimodal_adpcm_decode",
        "near_dup_containment", "twap_event_value", "oov_rate_split",
        "cart_stump_returnflag", "periodogram_daily_revenue",
    }
)

# CORRECTNESS_r08.json greens: all 50 judged entries passed
# rows+schema+hash (the fourth perfect file in a row; the nine geo
# re-judges already sit in their original sets). Entries touched in
# round 9 are NOT in this set per the re-fronting convention:
# mp4_track_scan / multimodal_mp4_frames / curation_drop_audit (the
# MP4 fixtures now carry real avcC/esds extradata and parse_mp4 gained
# the stsd-children walk — outputs locally re-verified identical),
# pdf_extract_text (resolve()/pages() circular-reference guards,
# ADVICE r8 #1), multimodal_flac_decode (flac_audio_stats docstring
# corrected, ADVICE r8 #3 — code path unchanged),
# stream_webdataset_ingest (basename+first-dot member keys, ADVICE r8
# #2), record_linkage_fs_blocked (block-occupancy cap, VERDICT r8
# item 3), webdataset_ingest / corpus_shard_manifest /
# zipdataset_ingest (the shard writers were refactored through
# _write_one_tar / gained the zip64 flag — bytes locally re-verified
# identical).
_R8_GREEN = frozenset(
    {
        "multimodal_wav_decode", "mor_orders_state_bucketed",
        # near_dup_prefix_filter: r8-green, but its operator was edited
        # in r12 (freq groupBy+join -> window count, the 5.1 -> 4.5 s
        # floor cut) — removed pending a fresh driver verdict
        # "similarity_topk_lsh_indexed" was r8-green, but its operator
        # lsh_topk_from_index gained a probe-side persist in r14 after
        # the verdict (ADVICE r14 #3) — re-fronted.
        # "incremental_dedup" was r8-green but the fixture-batch probe
        # path changes in the r14 optimization round — re-fronted.
        "dup_spans", "near_dup_simhash",
        "hilbert_layout_audit",
        # "ann_index_upsert_topk" / "ann_index_asof_topk" were r8-green
        # but lsh_topk_from_index's probe side changes in the r14
        # optimization round — re-fronted.
        # "stream_ann_index_upsert" was r8-green, but it reads through
        # lsh_topk_from_index (changed in r14) and calls
        # ann_index_upsert, whose writes now count through observed
        # metrics instead of persist + count barriers — re-fronted.
        # "stream_new_doc_dedup" / "stream_mor_cdc_apply" were green,
        # but their builders now read parquet through
        # engine.read_parquet / parquet_schema — re-fronted.
        "mor_orders_state", "mor_orders_time_travel",
        "mor_orders_changelog", "mor_history_audit",
        "mor_schema_evolution",
        "holt_linear_daily", "gif_animated_frames", "record_linkage_fs",
        "pagerank_copurchase", "multimodal_avi_frames", "mp3_stream_scan",
        "mann_kendall_trend", "dp_noisy_group_counts", "kruskal_wallis_h",
        "link_prediction_jaccard", "multimodal_gif_decode",
        "multimodal_alaw_decode",
    }
)

# CORRECTNESS_r09.json: 50 judged, 50 green (ninth consecutive
# zero-regression round; fourth perfect sample).
_R9_GREEN = frozenset(
    {
        "av1_codec_params", "avro_ingest_stats", "caption_cue_extract",
        "compression_codec_audit", "corpus_reshard_plan",
        "corpus_shard_manifest", "crawl_coverage_audit",
        # "curation_drop_audit" was r9-green but the LSH-audit and
        # containment legs share one shingle-hash frame from the r14
        # optimization round (VERDICT r13 task #4) — re-fronted.
        "email_mime_audit", "embedding_covariance",
        "embedding_kmeans", "embedding_pca_project", "feed_entry_audit",
        "heic_exif_gps_audit", "heif_item_audit", "hevc_codec_params",
        "jpeg_exif_gps_audit", "jsonld_entity_extract",
        "linkage_block_audit", "markdown_structure_audit",
        "mkv_subtitle_cues", "mkv_track_scan", "mojibake_repair",
        "mp3_id3_tags", "mp4_codec_params", "mp4_track_scan",
        "multimodal_flac_decode", "multimodal_mp4_frames", "ogg_page_scan",
        "paragraph_dedup_profile", "parquet_layout_audit",
        "pdf_extract_text", "pdf_info_audit", "record_linkage_fs_blocked",
        "robots_crawl_audit", "similarity_topk_ivf_trained",
        "sitemap_url_audit", "stream_tfrecord_ingest",
        "stream_webdataset_ingest", "stream_zipdataset_ingest",
        "svg_image_audit", "tensor_manifest_audit",
        "tfrecord_example_stats", "unicode_normalization_audit",
        "url_canonical_dedup", "webdataset_ingest", "webm_codec_params",
        "webm_vp8_keyframes", "webp_image_audit", "zipdataset_ingest",
    }
)

# CORRECTNESS_r10.json: 50 judged, 50 green (tenth consecutive
# zero-regression round; fifth perfect sample — with this set, every
# registry query has a cumulative green driver verdict).
_R10_GREEN = frozenset(
    {
        "arrow_ipc_audit", "cbor_manifest_audit", "clip_semi_join",
        "crop_weighted_pipeline", "date_from_filename",
        "delta_log_history", "delta_snapshot_audit",
        "delta_time_travel_audit", "delta_vacuum_plan",
        "distinct_users_approx", "event_funnel", "geojson_feature_audit",
        "hudi_snapshot_slices", "hudi_timeline_audit", "ical_event_audit",
        "iceberg_expire_plan", "iceberg_manifest_churn",
        "iceberg_snapshot_audit", "iceberg_time_travel_audit",
        "jsonschema_contract_audit", "jwt_token_audit",
        "lfs_pointer_census", "license_detect_audit", "mode_event_type",
        "msgpack_log_audit", "multimodal_mjpeg_frames", "multiply_join",
        "notebook_conversion_audit",
        "parquet_rowgroup_prune_plan", "pricing_summary",
        "prom_scrape_audit", "protobuf_wire_audit",
        "qty_price_regression", "regrid_fraction", "rolling_sums",
        "secret_scan_audit", "spi_zscore", "stream_delta_log_cdc",
        "topk_per_group", "torrent_metainfo_audit",
        "union_combine", "value_mask",
        "vcard_pii_census", "weighted_zonal", "zonal_stats",
        # zonal_stats_approx: builder edited in r11 (small-zone band
        # guard, ADVICE r10) — removed pending a fresh driver verdict
    }
)

# CORRECTNESS_r11.json: 50 judged, 49 green, 1 hash fail.
_R11_GREEN = frozenset(
    {
        "avro_schema_evolution_audit", "bitmap_index_slice",
        "clip_semi_join", "crop_weighted_pipeline",
        "date_from_filename", "dedup_keep_latest", "delta_dv_purge_plan",
        "delta_dv_read", "embedding_quantize_int8",
        "event_funnel", "geoparquet_feature_audit", "gguf_model_audit",
        "hudi_compaction_plan", "hudi_mor_read", "iceberg_rewrite_plan",
        "iceberg_v2_delete_read", "mode_event_type",
        "multimodal_vp8_frames", "multiply_join", "pricing_summary",
        "qty_price_regression", "recursive_ancestor_depths",
        "regrid_fraction", "rolling_sums", "spi_zscore",
        "sqlite_table_scan", "stream_hudi_timeline_cdc", "topk_per_group",
        "union_combine", "value_mask", "weighted_zonal",
        "zarr_chunk_prune_plan", "zarr_datasource_bbox",
        "zarr_zonal_rollup", "zonal_stats", "zonal_stats_approx",
        "zorder_layout_plan",
    }
)

# CORRECTNESS_r12.json: 50 judged, 48 green, 2 hash fails.
_R12_GREEN = frozenset(
    {
        "bitmap_index_slice_wide", "clip_semi_join",
        "cohort_retention", "crop_weighted_pipeline",
        "customer_order_distribution", "customer_order_trajectory",
        "data_quality_profile", "date_from_filename",
        "dedup_keep_latest", "distinct_users_approx", "event_funnel",
        "expectations_check", "embedding_quantize_int8",
        "gap_fill_interpolated", "heavy_hitters_topk",
        "hilbert_layout_audit", "mode_event_type",
        "multimodal_vp8_pframes", "multiply_join",
        # near_dup_prefix_filter: r12-green, but its operator was
        # rewritten in r13 (two-sided PPJoin prefix probe + positional
        # filter) — removed pending a fresh driver verdict
        # outlier_mad: builder optimized in the r13 optimization round
        # (persisted group medians; identical output, oracle-verified) —
        # re-fronted for a fresh driver verdict
        "pricing_summary",
        "props_variant_stats", "puffin_bitmap_sidecar_slice",
        "qty_price_regression", "recursive_ancestor_depths",
        "regrid_fraction", "revenue_share_of_region", "rolling_sums",
        "spi_zscore", "sqlite_without_rowid_scan",
        # stream_delta_dv_cdc: builder now reads its parquet schema
        # through engine.parquet_schema — re-fronted
        "time_range_rolling", "topk_per_group",
        "union_combine", "value_mask", "weighted_median",
        "weighted_zonal", "zonal_stats", "zorder_clustering_key",
    }
)

# CORRECTNESS_r13.json: 50 judged, 47 green, 3 hash fails. Green
# entries whose compute path changes in the r14 optimization round are
# removed from this set and re-fronted as they are touched.
_R13_GREEN = frozenset(
    {
        "clip_semi_join", "crop_weighted_pipeline",
        "customer_order_distribution", "date_from_filename",
        "dedup_cluster_best_keeper", "dedup_clusters",
        "dedup_keep_latest",
        # embedding_near_dup_lsh: r13-green, but r14 switched its bucket
        # build to the (bit-identical) Arrow GEMM path — re-fronted
        "embedding_quantize_int8", "event_funnel",
        "heavy_demand_parts_sketch", "langid_confusion",
        "mode_event_type", "multimodal_vp8_residuals", "multiply_join",
        # outlier_mad: r13-green, but its eager med.count() barrier
        # was dropped after the verdict — re-fronted
        "near_dup_minhash_lsh", "near_dup_prefix_filter",
        "pricing_summary", "props_variant_stats", "ql_dirichlet_topk",
        "qty_price_regression", "recursive_ancestor_depths",
        "regrid_fraction", "rolling_sums", "semantic_dedup",
        # similarity_topk_lsh / similarity_topk_lsh_multiprobe:
        # r13-green, but lsh_bucket_topk dropped its eager corpus count
        # after the verdict — re-fronted
        # stream_iceberg_delete_cdc: r13-green, but its builder now
        # reads parquet through engine.read_parquet — re-fronted
        "spi_zscore", "topk_per_group",
        # unigram_lm_train / unigram_segment_stats: r13-green, but the
        # r14 round capped the per-task Viterbi memos (VERDICT r13
        # minor #6) — identical output, re-fronted per the compute-path
        # precedent
        "union_combine",
        "value_mask", "weighted_zonal", "zonal_stats",
        # r13-green entries NOT listed here because their compute path
        # changes again in the r14 optimization round (re-fronted for a
        # fresh driver verdict as each change lands):
        # benchmark_contamination, bigram_nll_score, bm25_topk,
        # embedding_dbscan, hybrid_rrf_topk,
        # zonal_stats_disc, zonal_stats_ranked
    }
)

_JUDGED_GREEN = (
    _R1_GREEN | _R2_GREEN | _R3_GREEN | _R4_GREEN | _R5_GREEN | _R6_GREEN
    | _R7_GREEN | _R8_GREEN | _R9_GREEN | _R10_GREEN | _R11_GREEN
    | _R12_GREEN | _R13_GREEN
)

# Round 10: zero sql=None entries remain — the last two approx sketches
# were converted to oracle-backed error bands (VERDICT r9 task #2).
_FORCE_FRONT: frozenset[str] = frozenset()

# Round-14 judging window: queries whose green verdicts predate a
# change to their compute path lead, appended as the changes land.
_CARRYOVER_FIRST: tuple[str, ...] = (
    # r7-green but its operator (minhash_lsh_pairs) changed in the r13
    # optimization round — re-fronted per ADVICE r13 #1
    "near_dup_lsh_eval",
    # r13-green entries whose compute path changes again in r14
    # (VERDICT r13 task #2: lighten the O(N)/O(tokens) persists):
    "zonal_stats_ranked",
    "zonal_stats_disc",
    "hybrid_rrf_topk",
    # bm25_topk / bigram_nll_score: r13-green, but the r14 round
    # removed their O(tokens) persists (one-pass conditional-count
    # scorer; array-sliced bigrams) — re-fronted
    "bm25_topk",
    "bigram_nll_score",
    # VERDICT r13 task #3: de-skewed rarity guard (partial-agg form)
    "benchmark_contamination",
    # curation_drop_audit: one lazy plan since its r9 green verdict;
    # the LSH-audit and containment legs reuse one shingle exchange and
    # its nine counts fold into one grouped aggregate
    "curation_drop_audit",
    # VERDICT r13 task #5/#6: reuse the verified-pairs frame across the
    # degree + CC passes; share the prepped corpus across batch probes.
    # embedding_near_dup_lsh (and so embedding_dbscan) changed again
    # since: it verifies each collision in the self-join's stage and
    # persists nothing
    "embedding_dbscan",
    "embedding_near_dup_lsh",
    "incremental_dedup",
    "incremental_near_dup",
    # VERDICT r13 task #7: probe-side reuse inside lsh_topk_from_index
    "ann_index_upsert_topk",
    "ann_index_asof_topk",
    # per-task Viterbi memo caps (identical output, compute path touched)
    "unigram_lm_train",
    "unigram_segment_stats",
    # green verdicts older than a change to their operators:
    # lsh_topk_from_index's r14 probe-side persist (ADVICE r14 #3), and
    # the eager count barriers dropped from lsh_bucket_topk and
    # ann_index_upsert since. All the LSH/ANN entries above and below
    # changed again with the broadcast index probe: the tbl_bucket
    # index layout, tombstones after the probe join, one-shuffle
    # rerank, and indexes built from load_table without spread()
    "similarity_topk_lsh_indexed",
    "stream_ann_index_upsert",
    "similarity_topk_lsh",
    "similarity_topk_lsh_multiprobe",
    # green verdicts older than their builder's edits: outlier_mad's
    # eager count barrier went; the streaming builders read parquet
    # (or its schema) through engine.read_parquet / parquet_schema
    "outlier_mad",
    "stream_custom_state_alarms",
    "stream_new_doc_dedup",
    "stream_mor_cdc_apply",
    "stream_delta_dv_cdc",
    "stream_iceberg_delete_cdc",
    # green verdicts older than operators/geo.py's change: tag_zones
    # looks integral coordinates up in a driver-built lattice (these
    # double-coordinate queries keep the UDF, now over the shared
    # first_hit routine), and bucket_clip's bboxes became a local relation
    "geo_clip_polygon",
    "geo_zonal_polygons",
    "shapefile_clip",
    "geo_clip_bucketed",
)


def _rotate_registry() -> None:
    first: dict[str, QueryDef] = {}
    front: dict[str, QueryDef] = {}
    back: dict[str, QueryDef] = {}
    last: dict[str, QueryDef] = {}
    for name in _CARRYOVER_FIRST:
        if name in REGISTRY and (
            REGISTRY[name].sql is not None or name in _FORCE_FRONT
        ):
            first[name] = REGISTRY[name]
    for k, v in REGISTRY.items():
        if k in first:
            continue
        if k in _FORCE_FRONT:
            front[k] = v
        elif v.sql is None:
            last[k] = v
        elif k in _JUDGED_GREEN:
            back[k] = v
        else:
            front[k] = v
    REGISTRY.clear()
    REGISTRY.update(first)
    REGISTRY.update(front)
    REGISTRY.update(back)
    REGISTRY.update(last)


_rotate_registry()


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


# queries defined below the first _rotate_registry() call (this module's
# own late additions) would otherwise trail the sql=None block; re-sort.
_rotate_registry()
