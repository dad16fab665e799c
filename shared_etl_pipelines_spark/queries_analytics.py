"""Event-analytics + robust-statistics coverage, each with a DuckDB oracle.

Operators a reference user running event/telemetry pipelines would need
next, beyond SURVEY.md §2's inventory: staged conversion funnels,
deterministic per-key mode, MAD-based robust outlier flagging,
regression/correlation aggregates, CDC keep-latest dedup, and linear
gap-fill interpolation (the TimescaleDB `interpolate()` analog to the
existing LOCF query).

Scale posture: every query here is shuffle-minimal by construction —
funnel stages reuse the user_id hash partitioning across all three
stage joins (AQE coalesces them); mode and keep-latest are single
window passes over one exchange; MAD is the unavoidable two-pass
median (each pass a tiny per-group reduce); the regression aggregates
are one map-side-combinable pass (Welford-style merge states).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from shared_etl_pipelines_spark.queries import defquery, round_floats
from shared_etl_pipelines_spark.sources.tables import load_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# Staged conversion funnel: view -> click -> purchase, strictly ordered in
# event time per user. Each stage's timestamp must be strictly after the
# previous stage's (a re-ordered click does not count). Generalizes the
# reference's step-DAG sequencing (SURVEY.md §2.4 L1) from pipeline steps
# to per-entity event sequences.
# ---------------------------------------------------------------------------
@defquery(
    "event_funnel",
    """
    WITH v AS (
      SELECT user_id, MIN(ts) AS t_view
      FROM events WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, MIN(e.ts) AS t_click
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND e.ts > v.t_view
      GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, MIN(e.ts) AS t_purchase
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.t_click
      GROUP BY e.user_id
    )
    SELECT v.user_id,
           1 + (CASE WHEN c.user_id IS NOT NULL THEN 1 ELSE 0 END)
             + (CASE WHEN p.user_id IS NOT NULL THEN 1 ELSE 0 END) AS stage
    FROM v
    LEFT JOIN c ON v.user_id = c.user_id
    LEFT JOIN p ON v.user_id = p.user_id
    """,
    doc="ordered view->click->purchase funnel: deepest stage reached per user",
    tags=("events", "funnel", "join"),
)
def q_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    out = (
        v.join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .select(
            "user_id",
            (
                F.lit(1)
                + F.when(F.col("t_click").isNotNull(), 1).otherwise(0)
                + F.when(F.col("t_purchase").isNotNull(), 1).otherwise(0)
            ).cast("long").alias("stage"),
        )
    )
    return out


# ---------------------------------------------------------------------------
# Deterministic per-key MODE. Built-in mode() has engine-specific tie
# behavior, so both sides compute it explicitly: count per (key, value),
# rank by (count DESC, value ASC) — reproducible under any partitioning.
# ---------------------------------------------------------------------------
@defquery(
    "mode_event_type",
    """
    WITH counts AS (
      SELECT user_id, event_type, COUNT(*) AS n
      FROM events GROUP BY user_id, event_type
    ),
    ranked AS (
      SELECT user_id, event_type, n,
             ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY n DESC, event_type
             ) AS rn
      FROM counts
    )
    SELECT user_id, event_type AS mode_type, n AS n_events
    FROM ranked WHERE rn = 1
    """,
    doc="deterministic per-user modal event type (count desc, value asc tie-break)",
    tags=("events", "aggregate", "window"),
)
def q_mode_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    counts = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("user_id").orderBy(F.col("n").desc(), F.col("event_type"))
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("event_type").alias("mode_type"), F.col("n").alias("n_events"))
    )


# ---------------------------------------------------------------------------
# Robust outlier detection: median absolute deviation per group, flag
# |x - med| > 3 * 1.4826 * MAD. Two exact-percentile passes (median, then
# median of absolute deviations) — the structure matches on both sides so
# the double arithmetic is bit-identical.
# ---------------------------------------------------------------------------
@defquery(
    "outlier_mad",
    """
    WITH base AS (
      SELECT l_returnflag AS grp, l_extendedprice AS v FROM lineitem
    ),
    med AS (
      SELECT grp, quantile_cont(v, 0.5) AS med FROM base GROUP BY grp
    ),
    mad AS (
      SELECT b.grp, quantile_cont(ABS(b.v - m.med), 0.5) AS mad
      FROM base b JOIN med m ON b.grp = m.grp GROUP BY b.grp
    )
    SELECT b.grp AS returnflag,
           ROUND(m.med, 4) AS med,
           ROUND(d.mad, 4) AS mad,
           CAST(SUM(CASE WHEN ABS(b.v - m.med) > 3 * 1.4826 * d.mad
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           COUNT(*) AS n
    FROM base b
    JOIN med m ON b.grp = m.grp
    JOIN mad d ON b.grp = d.grp
    GROUP BY b.grp, m.med, d.mad
    """,
    doc="per-group MAD robust outlier count (3-sigma-equivalent fence)",
    tags=("aggregate", "percentile", "quality"),
)
def q_outlier_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = _t(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("grp"), F.col("l_extendedprice").alias("v")
    )
    med = base.groupBy("grp").agg(F.percentile("v", F.lit(0.5)).alias("med"))
    # The med subtree feeds two consumers (the mad pass and the final
    # aggregate). Both broadcast it, and the executed plan reuses that
    # broadcast exchange (ReusedExchange), so the percentile pass runs
    # once with no persist and no job before the caller's action.
    with_med = base.join(F.broadcast(med), "grp")
    mad = (
        with_med.withColumn("adev", F.abs(F.col("v") - F.col("med")))
        .groupBy("grp")
        .agg(F.percentile("adev", F.lit(0.5)).alias("mad"))
    )
    out = (
        with_med.join(F.broadcast(mad), "grp")
        .groupBy("grp", "med", "mad")
        .agg(
            F.sum(
                F.when(
                    F.abs(F.col("v") - F.col("med"))
                    > F.lit(3) * F.lit(1.4826) * F.col("mad"),
                    1,
                ).otherwise(0)
            ).alias("n_outliers"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            F.col("grp").alias("returnflag"), "med", "mad", "n_outliers", "n"
        )
    )
    return round_floats(out)


# ---------------------------------------------------------------------------
# Regression / correlation aggregates: one map-side-combinable pass
# (Welford merge states in both engines).
# ---------------------------------------------------------------------------
@defquery(
    "qty_price_regression",
    """
    SELECT l_returnflag AS returnflag,
           ROUND(corr(l_quantity, l_extendedprice), 4)            AS qp_corr,
           ROUND(covar_samp(l_quantity, l_extendedprice), 4)      AS qp_covar,
           ROUND(regr_slope(l_extendedprice, l_quantity), 4)      AS price_per_qty,
           ROUND(regr_intercept(l_extendedprice, l_quantity), 4)  AS price_at_zero,
           COUNT(*) AS n
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="per-group Pearson corr, sample covariance, OLS slope/intercept",
    tags=("aggregate", "statistics"),
)
def q_qty_price_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    out = li.groupBy(F.col("l_returnflag").alias("returnflag")).agg(
        F.corr("l_quantity", "l_extendedprice").alias("qp_corr"),
        F.covar_samp("l_quantity", "l_extendedprice").alias("qp_covar"),
        F.regr_slope("l_extendedprice", "l_quantity").alias("price_per_qty"),
        F.regr_intercept("l_extendedprice", "l_quantity").alias("price_at_zero"),
        F.count(F.lit(1)).alias("n"),
    )
    return round_floats(out)


# ---------------------------------------------------------------------------
# CDC keep-latest dedup: collapse an event stream to each key's most
# recent record (ties broken by event_id — total order). The row-level
# generalization of the reference's catalog upsert (SURVEY.md §2.3 O5):
# same keyed-latest-wins semantics the merge applies at file granularity.
# ---------------------------------------------------------------------------
@defquery(
    "dedup_keep_latest",
    """
    WITH ranked AS (
      SELECT user_id, event_id, event_type, value, ts,
             ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY ts DESC, event_id DESC
             ) AS rn
      FROM events
    )
    SELECT user_id,
           event_id AS last_event_id,
           event_type AS last_type,
           ROUND(value, 4) AS last_value,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS last_ts
    FROM ranked WHERE rn = 1
    """,
    doc="CDC-style keep-latest-per-key dedup (ts desc, id desc tie-break)",
    tags=("dedup", "window", "cdc"),
)
def q_dedup_keep_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    out = (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            F.col("event_type").alias("last_type"),
            F.col("value").alias("last_value"),
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("last_ts"),
        )
    )
    return round_floats(out)


# ---------------------------------------------------------------------------
# Int8 embedding quantization: per-dimension min/max scaling to [0,255]
# codes — 4x storage reduction for the ANN scale path (codes join the
# LSH/IVF searches; exact rerank reads the float vectors for candidates
# only). All arithmetic is integer-exact after the micro-scaling floor
# (same discipline as embedding_dim_stats): quantize to micro ints, then
# (micro - lo) * 255 // range via double floor-div of exact integers.
# ---------------------------------------------------------------------------
@defquery(
    "embedding_quantize_int8",
    """
    WITH e AS (
      SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS dim,
             CAST(FLOOR(CAST(UNNEST(embedding) AS DOUBLE) * 1000000) AS BIGINT)
               AS micro
      FROM embeddings
    ),
    m AS (SELECT dim, MIN(micro) AS lo, MAX(micro) AS hi FROM e GROUP BY dim)
    SELECT e.vec_id, e.dim,
           CASE WHEN m.hi = m.lo THEN 0
                ELSE CAST(FLOOR(CAST((e.micro - m.lo) * 255 AS DOUBLE)
                                / (m.hi - m.lo)) AS BIGINT)
           END AS code
    FROM e JOIN m ON e.dim = m.dim
    """,
    doc="per-dimension int8 quantization codes (min/max scaling, exact ints)",
    tags=("llm", "vector", "quantization", "scale-path"),
)
def q_embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("dim", "x"),
    ).select(
        "vec_id",
        F.col("dim").cast("long").alias("dim"),
        F.floor(F.col("x") * 1000000).cast("long").alias("micro"),
    )
    m = e.groupBy("dim").agg(F.min("micro").alias("lo"), F.max("micro").alias("hi"))
    out = e.join(F.broadcast(m), "dim").select(
        "vec_id",
        "dim",
        F.when(F.col("hi") == F.col("lo"), F.lit(0))
        .otherwise(
            F.floor(
                ((F.col("micro") - F.col("lo")) * 255).cast("double")
                / (F.col("hi") - F.col("lo"))
            ).cast("long")
        )
        .alias("code"),
    )
    return out


# ---------------------------------------------------------------------------
# Recursive CTE (Spark 4): ancestor-chain depth histogram over the
# deterministic decimal-tree hierarchy parent(k) = floor(k/10). The
# declarative twin of the iterative connected-components operator —
# recursion expressed IN the plan, identical SQL on both engines.
# ---------------------------------------------------------------------------
_RECURSIVE_SQL = """
    WITH RECURSIVE up AS (
      SELECT c_custkey AS node, c_custkey AS ancestor, 0 AS depth
      FROM customer
      UNION ALL
      SELECT node, CAST(FLOOR(ancestor / 10.0) AS BIGINT), depth + 1
      FROM up WHERE ancestor > 0
    )
    SELECT depth, COUNT(*) AS n_nodes, CAST(SUM(ancestor) AS BIGINT) AS ancestor_sum
    FROM up GROUP BY depth
"""


@defquery(
    "recursive_ancestor_depths",
    _RECURSIVE_SQL,
    doc="recursive CTE: decimal-tree ancestor chains per depth (Spark 4)",
    tags=("recursive", "hierarchy", "spark4"),
)
def q_recursive_ancestor_depths(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "customer").createOrReplaceTempView("customer_rec_v")
    return spark.sql(_RECURSIVE_SQL.replace("FROM customer", "FROM customer_rec_v"))


# ---------------------------------------------------------------------------
# VARIANT type (Spark 4): JSON props parsed ONCE into the binary variant
# encoding, then typed path access — the scale path for repeated
# semi-structured access (per-path string re-parsing is the slow way;
# the existing json_props_rollup keeps the portable get_json_object
# form). Oracle extracts the same path with DuckDB's JSON functions.
# ---------------------------------------------------------------------------
@defquery(
    "props_variant_stats",
    """
    SELECT event_type,
           CAST(SUM(k) AS BIGINT) AS k_sum, MIN(k) AS k_min, MAX(k) AS k_max, COUNT(*) AS n
    FROM (
      SELECT event_type,
             CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      FROM events
    )
    GROUP BY event_type
    """,
    doc="typed stats over a VARIANT path (parse_json once, variant_get)",
    tags=("json", "variant", "spark4", "aggregate"),
)
def q_props_variant_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    k = F.expr("variant_get(parse_json(props), '$.k', 'long')")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.sum("k").alias("k_sum"),
            F.min("k").alias("k_min"),
            F.max("k").alias("k_max"),
            F.count(F.lit(1)).alias("n"),
        )
    )


# ---------------------------------------------------------------------------
# Distribution-of-distribution (TPC-H Q13 shape): LEFT OUTER join keeps
# customers with zero orders, first GROUP BY counts orders per customer,
# second GROUP BY counts customers per order-count. Two shuffles, the
# second over a tiny domain — the classic two-level aggregation plan.
# ---------------------------------------------------------------------------
@defquery(
    "customer_order_distribution",
    """
    WITH per_cust AS (
      SELECT c.c_custkey, COUNT(o.o_orderkey) AS n_orders
      FROM customer c
      LEFT JOIN orders o
        ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c.c_custkey
    )
    SELECT n_orders, COUNT(*) AS n_customers
    FROM per_cust GROUP BY n_orders
    """,
    doc="TPC-H Q13 shape: customers-per-order-count histogram via outer join",
    tags=("join", "outer", "aggregate", "tpch"),
)
def q_customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    ).select("o_custkey", "o_orderkey")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return per_cust.groupBy("n_orders").agg(F.count(F.lit(1)).alias("n_customers"))


# ---------------------------------------------------------------------------
# Z-order (Morton) clustering key: bit-for-bit parity with the SQL
# formulation — the write-layout primitive behind multi-column data
# skipping (operators/layout.py; skipping effect proven on parquet
# row-group stats in tests/test_analytics.py).
# ---------------------------------------------------------------------------
def _zorder_oracle() -> str:
    from shared_etl_pipelines_spark.operators.layout import zorder_sql

    return f"""
    SELECT p_partkey, p_size,
           {zorder_sql(['p_partkey', 'p_size'], bits=11)} AS zkey
    FROM part
    """


@defquery(
    "zorder_clustering_key",
    _zorder_oracle(),
    doc="Morton bit-interleave clustering key over (p_partkey, p_size)",
    tags=("layout", "zorder", "scale-path"),
)
def q_zorder_clustering_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    from shared_etl_pipelines_spark.operators.layout import zorder_key

    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        "p_size",
        zorder_key(["p_partkey", "p_size"], bits=11).alias("zkey"),
    )


# ---------------------------------------------------------------------------
# Hilbert-curve clustering key + locality audit: the better-locality
# sibling of the Z-order key (operators/layout.py with_hilbert_key).
# Consecutive Hilbert indices are always Manhattan-adjacent cells, so
# equal index ranges cover tighter bounding boxes than the Z-curve's
# seam-jumping ranges — which is exactly what parquet row-group min/max
# pruning rewards. The query computes BOTH keys over the dense 32x32
# grid, buckets each curve into 16 contiguous 64-cell index ranges, and
# emits the per-range bounding boxes; the Hilbert rows bound every
# range at area 64 (perfect squares at this order) while Z-order ranges
# straddle seams. Bit-for-bit SQL parity via the same unrolled xy2d
# walk (hilbert_sql_ctes).
# ---------------------------------------------------------------------------
def _hilbert_oracle() -> str:
    from shared_etl_pipelines_spark.operators.layout import (
        hilbert_sql_ctes,
        zorder_sql,
    )

    ctes = hilbert_sql_ctes("gx", "gy", 5, "grid", ["gx", "gy"], out="hkey")
    return f"""
    WITH grid AS (
      SELECT DISTINCT CAST(l_orderkey % 32 AS BIGINT) AS gx,
                      CAST(l_suppkey % 32 AS BIGINT) AS gy
      FROM lineitem
    ),
    {ctes},
    both_curves AS (
      SELECT 'hilbert' AS curve, hkey >> 6 AS range_id, gx, gy FROM hfinal
      UNION ALL
      SELECT 'zorder', ({zorder_sql(['gx', 'gy'], bits=5)}) >> 6, gx, gy
      FROM grid
    )
    SELECT curve, CAST(range_id AS BIGINT) AS range_id,
           CAST(COUNT(*) AS BIGINT) AS n_cells,
           CAST(MAX(gx) - MIN(gx) + 1 AS BIGINT) AS bbox_w,
           CAST(MAX(gy) - MIN(gy) + 1 AS BIGINT) AS bbox_h,
           CAST((MAX(gx) - MIN(gx) + 1) * (MAX(gy) - MIN(gy) + 1) AS BIGINT)
           AS bbox_area
    FROM both_curves
    GROUP BY curve, range_id
    """


@defquery(
    "hilbert_layout_audit",
    _hilbert_oracle(),
    doc="Hilbert vs Z-order clustering locality: per-64-cell-range "
    "bounding boxes over the dense grid (Hilbert ranges are perfect "
    "8x8 squares; Z-order ranges straddle power-of-two seams) — the "
    "data-skipping rationale, bit-for-bit SQL parity on both curves",
    tags=("layout", "zorder", "scale-path"),
)
def q_hilbert_layout_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from shared_etl_pipelines_spark.operators.layout import (
        with_hilbert_key,
        zorder_key,
    )

    li = _t(spark, sf_dir, "lineitem")
    grid = li.select(
        (F.col("l_orderkey") % 32).cast("long").alias("gx"),
        (F.col("l_suppkey") % 32).cast("long").alias("gy"),
    ).distinct()
    h = with_hilbert_key(grid, "gx", "gy", order=5, out="hkey").select(
        F.lit("hilbert").alias("curve"),
        F.shiftright("hkey", 6).alias("range_id"),
        "gx",
        "gy",
    )
    z = grid.select(
        F.lit("zorder").alias("curve"),
        F.shiftright(zorder_key(["gx", "gy"], bits=5), 6).alias("range_id"),
        "gx",
        "gy",
    )
    return (
        h.unionByName(z)
        .groupBy("curve", "range_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_cells"),
            (F.max("gx") - F.min("gx") + 1).cast("long").alias("bbox_w"),
            (F.max("gy") - F.min("gy") + 1).cast("long").alias("bbox_h"),
            ((F.max("gx") - F.min("gx") + 1) * (F.max("gy") - F.min("gy") + 1))
            .cast("long")
            .alias("bbox_area"),
        )
    )


# ---------------------------------------------------------------------------
# Ratio-to-report: each nation's share of its region's revenue — the
# aggregate-over-aggregate window shape. Revenue sums as exact integer
# cents; only the final share division is floating point, and it is the
# same two operands on both engines.
# ---------------------------------------------------------------------------
@defquery(
    "revenue_share_of_region",
    """
    WITH rev AS (
      SELECT n.n_regionkey AS regionkey, n.n_name AS nation,
             SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS cents
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY 1, 2
    )
    SELECT nation,
           ROUND(cents / 100.0, 4) AS revenue,
           ROUND(CAST(cents AS DOUBLE)
                 / SUM(cents) OVER (PARTITION BY regionkey), 4) AS share_of_region
    FROM rev
    """,
    doc="ratio-to-report: nation revenue share within region (window over agg)",
    tags=("window", "aggregate", "ratio"),
)
def q_revenue_share_of_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").select(
        "o_custkey", F.round(F.col("o_totalprice") * 100).cast("long").alias("cents")
    )
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey"), F.col("n_regionkey").alias("regionkey"), F.col("n_name").alias("nation")
    )
    rev = (
        o.join(F.broadcast(c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)),
               o.o_custkey == F.col("c_custkey"))
        .groupBy("regionkey", "nation")
        .agg(F.sum("cents").alias("cents"))
    )
    w = Window.partitionBy("regionkey")
    out = rev.select(
        "nation",
        (F.col("cents") / 100.0).alias("revenue"),
        (F.col("cents").cast("double") / F.sum("cents").over(w)).alias("share_of_region"),
    )
    return round_floats(out)


# ---------------------------------------------------------------------------
# first/last/nth_value full-frame windows: each customer's order-value
# trajectory (first, second, latest order). Ordering carries the unique
# o_orderkey tie-break so every engine picks the same rows.
# ---------------------------------------------------------------------------
@defquery(
    "customer_order_trajectory",
    """
    SELECT DISTINCT o_custkey,
           ROUND(FIRST_VALUE(o_totalprice) OVER w, 4) AS first_order,
           ROUND(NTH_VALUE(o_totalprice, 2) OVER w, 4) AS second_order,
           ROUND(LAST_VALUE(o_totalprice) OVER w, 4) AS latest_order,
           COUNT(*) OVER w AS n_orders
    FROM orders
    WINDOW w AS (
      PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
    )
    """,
    doc="first/second/latest order value per customer (full-frame windows)",
    tags=("window", "nth-value"),
)
def q_customer_order_trajectory(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    out = o.select(
        "o_custkey",
        F.first("o_totalprice").over(w).alias("first_order"),
        F.nth_value("o_totalprice", 2).over(w).alias("second_order"),
        F.last("o_totalprice").over(w).alias("latest_order"),
        F.count(F.lit(1)).over(w).alias("n_orders"),
    ).distinct()
    return round_floats(out)


# ---------------------------------------------------------------------------
# Column profiling: every column's null/distinct/min/max in ONE scan
# (engine-native form of the reference's vector_facts post-hoc profiler,
# pipelines/tiger/county.yml:36-41). Exact multi-distinct expands the
# aggregate; the sketch path for profiling at 100 TB swaps count_distinct
# for approx_count_distinct (see distinct_users_approx).
# ---------------------------------------------------------------------------
_PROFILE_SQL_ONE = """
    SELECT '{c}' AS col, COUNT(*) AS n,
           CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
           COUNT(DISTINCT {c}) AS n_distinct,
           {minx} AS min_str, {maxx} AS max_str
    FROM orders
"""


def _profile_sql(col: str, numeric: bool) -> str:
    if numeric:
        minx = f"CAST(ROUND(CAST(MIN({col}) AS DOUBLE), 4) AS VARCHAR)"
        maxx = f"CAST(ROUND(CAST(MAX({col}) AS DOUBLE), 4) AS VARCHAR)"
    else:
        minx, maxx = f"CAST(MIN({col}) AS VARCHAR)", f"CAST(MAX({col}) AS VARCHAR)"
    return _PROFILE_SQL_ONE.format(c=col, minx=minx, maxx=maxx)


@defquery(
    "data_quality_profile",
    " UNION ALL ".join(
        [
            _profile_sql("o_orderkey", True),
            _profile_sql("o_custkey", True),
            _profile_sql("o_totalprice", True),
            _profile_sql("o_orderstatus", False),
            _profile_sql("o_orderpriority", False),
        ]
    ),
    doc="single-pass column profile: n/null/distinct/min/max per column",
    tags=("quality", "profiling", "aggregate"),
)
def q_data_quality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from shared_etl_pipelines_spark.operators.quality import profile_columns

    o = _t(spark, sf_dir, "orders")
    return profile_columns(
        o, ["o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus", "o_orderpriority"]
    )


# ---------------------------------------------------------------------------
# Declarative expectations: named row-level invariants folded into ONE
# aggregation pass — the publish-gate a warehouse pipeline runs before
# every write (engine-native form of the reference's ON_ERROR_STOP /
# skip-if-exists run discipline). NULL predicate results count as
# violations.
# ---------------------------------------------------------------------------
_EXPECT_CASES = {
    "qty_positive": "l_quantity > 0",
    "discount_unit_interval": "l_discount >= 0 AND l_discount <= 1",
    "tax_nonneg": "l_tax >= 0",
    "price_positive": "l_extendedprice > 0",
    "returnflag_domain": "l_returnflag IN ('A', 'N', 'R')",
    "shipdate_not_null": "l_shipdate IS NOT NULL",
}


@defquery(
    "expectations_check",
    " UNION ALL ".join(
        f"""
        SELECT '{name}' AS check_name, COUNT(*) AS n_rows,
               CAST(SUM(CASE WHEN {cond} THEN 0 ELSE 1 END) AS BIGINT) AS n_violations,
               CAST(CAST(SUM(CASE WHEN {cond} THEN 0 ELSE 1 END) AS BIGINT) = 0
                    AS BOOLEAN) AS pass
        FROM lineitem
        """
        for name, cond in _EXPECT_CASES.items()
    ),
    doc="declarative row-level expectations, all folded into one pass",
    tags=("quality", "expectations", "aggregate"),
)
def q_expectations_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    from shared_etl_pipelines_spark.operators.quality import check_expectations

    li = _t(spark, sf_dir, "lineitem")
    return check_expectations(li, {name: F.expr(cond) for name, cond in _EXPECT_CASES.items()})


# ---------------------------------------------------------------------------
# 100 TB path for COUNT(DISTINCT): HyperLogLog++ sketches. The exact twin
# (`distinct_aggs`) is oracle-checked; this registers the mergeable
# bounded-memory formulation a 1000-executor cluster would actually run —
# one map-side-combinable pass, no per-group value buffering. The sketch
# VALUE is engine-specific (DuckDB cannot replay Spark's HLL++ registers),
# so the hash-checked surface is the ERROR BAND (VERDICT r9 task #2): the
# Spark side computes abs(approx - exact)/exact against a 5x-rsd bound and
# emits the verdict; the oracle asserts TRUE — a sketch drifting past the
# band flips the boolean and fails the value hash. The raw sketch count
# stays observable via the exact columns + band, never silently wrong.
# ---------------------------------------------------------------------------
@defquery(
    "distinct_users_approx",
    """
    SELECT event_type,
           COUNT(DISTINCT user_id) AS n_users_exact,
           COUNT(*) AS n_events,
           TRUE AS within_5rsd
    FROM events GROUP BY event_type
    """,
    doc="approx_count_distinct (HLL++, rsd=0.01) per event_type — the "
    "mergeable scale path for the exact distinct_aggs twin; hash-checked "
    "via the relative-error band (|approx-exact|/exact <= 5*rsd), which "
    "the Spark side computes and the oracle pins to TRUE",
    tags=("aggregate", "approx", "scale-path", "sketch"),
)
def q_distinct_users_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.01).alias("n_users_approx"),
        F.count_distinct("user_id").alias("n_users_exact"),
        F.count(F.lit(1)).alias("n_events"),
    )
    rel_err = F.abs(
        F.col("n_users_approx").cast("double") - F.col("n_users_exact")
    ) / F.col("n_users_exact")
    return agg.select(
        "event_type",
        "n_users_exact",
        "n_events",
        (rel_err <= F.lit(0.05)).alias("within_5rsd"),
    )


# ---------------------------------------------------------------------------
# Weekly cohort retention: users grouped by first-activity week, counted
# per week-offset of later activity. Two shuffles total (per-user first
# day, then distinct per cohort cell) — both on keys the 100 TB layout
# would already bucket by.
# ---------------------------------------------------------------------------
@defquery(
    "cohort_retention",
    """
    WITH firsts AS (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS first_day
      FROM events GROUP BY user_id
    ),
    activity AS (
      SELECT DISTINCT e.user_id,
             CAST(DATE_TRUNC('week', f.first_day) AS DATE) AS cohort_week,
             CAST(FLOOR(DATE_DIFF('day', f.first_day, CAST(e.ts AS DATE)) / 7.0)
                  AS BIGINT) AS week_offset
      FROM events e JOIN firsts f ON e.user_id = f.user_id
    )
    SELECT strftime(cohort_week, '%Y-%m-%d') AS cohort_week,
           week_offset,
           COUNT(*) AS n_active
    FROM activity GROUP BY cohort_week, week_offset
    """,
    doc="weekly cohort x week-offset retention matrix",
    tags=("events", "cohort", "aggregate"),
)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select("user_id", F.col("ts").cast("date").alias("day"))
    firsts = ev.groupBy("user_id").agg(F.min("day").alias("first_day"))
    activity = (
        ev.join(firsts, "user_id")
        .select(
            "user_id",
            F.date_trunc("week", "first_day").cast("date").alias("cohort_week"),
            F.floor(F.datediff("day", "first_day") / F.lit(7.0)).alias("week_offset"),
        )
        .distinct()
    )
    return activity.groupBy(
        F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort_week"),
        "week_offset",
    ).agg(F.count(F.lit(1)).alias("n_active"))


# ---------------------------------------------------------------------------
# Weighted median (weighted percentile): G8's weighting vocabulary fused
# with G4's percentile vocabulary. No engine builtin on either side, so
# both compute the same deterministic plan: pre-aggregate ties on the
# value, cumulative-weight window, first value whose cumulative weight
# crosses half the total. Quantities are whole numbers, so every sum is
# exact and the crossing comparison is engine-independent.
# ---------------------------------------------------------------------------
@defquery(
    "weighted_median",
    """
    WITH w AS (
      SELECT l_returnflag AS grp, l_extendedprice AS v,
             SUM(l_quantity) AS wt
      FROM lineitem GROUP BY 1, 2
    ),
    c AS (
      SELECT grp, v, wt,
             SUM(wt) OVER (PARTITION BY grp ORDER BY v) AS cum_w,
             SUM(wt) OVER (PARTITION BY grp) AS tot_w
      FROM w
    )
    SELECT grp AS returnflag,
           ROUND(MIN(v), 4) AS weighted_median,
           ROUND(MAX(tot_w), 4) AS total_weight
    FROM c WHERE cum_w >= 0.5 * tot_w GROUP BY grp
    """,
    doc="qty-weighted median price per group via cumulative-weight crossing",
    tags=("aggregate", "percentile", "weighted"),
)
def q_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    w = li.groupBy(
        F.col("l_returnflag").alias("grp"), F.col("l_extendedprice").alias("v")
    ).agg(F.sum("l_quantity").alias("wt"))
    win_cum = (
        Window.partitionBy("grp")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    win_all = Window.partitionBy("grp")
    c = w.select(
        "grp",
        "v",
        F.sum("wt").over(win_cum).alias("cum_w"),
        F.sum("wt").over(win_all).alias("tot_w"),
    )
    out = (
        c.filter(F.col("cum_w") >= 0.5 * F.col("tot_w"))
        .groupBy(F.col("grp").alias("returnflag"))
        .agg(
            F.min("v").alias("weighted_median"),
            F.max("tot_w").alias("total_weight"),
        )
    )
    return round_floats(out)


# ---------------------------------------------------------------------------
# True time-RANGE trailing window: per-user trailing-24h sum by actual
# event-time range (rangeBetween on epoch seconds), not row frames — the
# irregular-cadence complement to G2's row-frame rolling sums. Ties in
# the order key are range-peers on both engines, so the frame is
# deterministic; cents keep the sums exact.
# ---------------------------------------------------------------------------
@defquery(
    "time_range_rolling",
    """
    WITH e AS (
      SELECT user_id, event_id,
             CAST(FLOOR(epoch(ts)) AS BIGINT) AS epoch_s,
             CAST(ROUND(value * 100) AS BIGINT) AS cents
      FROM events
    )
    SELECT user_id, event_id,
           ROUND(SUM(cents) OVER (
             PARTITION BY user_id ORDER BY epoch_s
             RANGE BETWEEN 86399 PRECEDING AND CURRENT ROW) / 100.0, 4)
           AS trailing_24h
    FROM e
    """,
    doc="per-user trailing-24h sum over a time-range frame (irregular cadence)",
    tags=("window", "timeseries", "range-frame"),
)
def q_time_range_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.col("ts").cast("long").alias("epoch_s"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    w = Window.partitionBy("user_id").orderBy("epoch_s").rangeBetween(-86399, 0)
    out = ev.select(
        "user_id",
        "event_id",
        (F.sum("cents").over(w) / 100.0).alias("trailing_24h"),
    )
    return round_floats(out)


# ---------------------------------------------------------------------------
# Gap fill + LINEAR interpolation (TimescaleDB interpolate() analog;
# complements the LOCF query). Daily cents per user on a dense spine;
# gaps filled by the line between the two surrounding observations;
# edges (no neighbor on one side) stay NULL — never extrapolates.
# ---------------------------------------------------------------------------
@defquery(
    "gap_fill_interpolated",
    """
    WITH daily AS (
      SELECT user_id, CAST(ts AS DATE) AS day,
             SUM(CAST(ROUND(value * 100) AS BIGINT)) AS cents
      FROM events GROUP BY 1, 2
    ),
    spine AS (
      SELECT u.user_id, CAST(d.day AS DATE) AS day
      FROM (SELECT DISTINCT user_id FROM events) u
      CROSS JOIN (
        SELECT UNNEST(generate_series(DATE '2024-01-01', DATE '2024-01-30',
                                      INTERVAL 1 DAY)) AS day
      ) d
    ),
    j AS (
      SELECT s.user_id, s.day, dl.cents,
             LAST_VALUE(dl.cents IGNORE NULLS) OVER (
               PARTITION BY s.user_id ORDER BY s.day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_v,
             LAST_VALUE(CASE WHEN dl.cents IS NOT NULL THEN s.day END
                        IGNORE NULLS) OVER (
               PARTITION BY s.user_id ORDER BY s.day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_d,
             FIRST_VALUE(dl.cents IGNORE NULLS) OVER (
               PARTITION BY s.user_id ORDER BY s.day
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_v,
             FIRST_VALUE(CASE WHEN dl.cents IS NOT NULL THEN s.day END
                         IGNORE NULLS) OVER (
               PARTITION BY s.user_id ORDER BY s.day
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_d
      FROM spine s LEFT JOIN daily dl
        ON s.user_id = dl.user_id AND s.day = dl.day
    )
    SELECT user_id,
           strftime(day, '%Y-%m-%d') AS day,
           ROUND(CASE WHEN cents IS NOT NULL THEN CAST(cents AS DOUBLE)
                      ELSE prev_v + (next_v - prev_v)
                           * DATE_DIFF('day', prev_d, day)
                           / DATE_DIFF('day', prev_d, next_d)
                 END / 100.0, 4) AS cents_interp,
           CASE WHEN cents IS NULL THEN 1 ELSE 0 END AS was_gap
    FROM j
    """,
    doc="gap fill + linear interpolation over a dense per-key daily spine",
    tags=("timeseries", "gap-fill", "window", "hypertable"),
)
def q_gap_fill_interpolated(spark: SparkSession, sf_dir: str) -> DataFrame:
    from shared_etl_pipelines_spark.operators.hypertable import gap_fill_interpolate

    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "user_id", F.col("ts").cast("date").alias("day")
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"))
    filled = gap_fill_interpolate(
        daily, "user_id", "day", "cents", "2024-01-01", "2024-01-30"
    )
    out = filled.select(
        "user_id",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        (F.col("cents_interp") / 100.0).alias("cents_interp"),
        "was_gap",
    )
    return round_floats(out)


# ---------------------------------------------------------------------------
# Heavy hitters via the approx_top_k sketch (Spark 4). The sketch tracks up
# to maxItemsTracked items with exact counts and degrades to approximate
# only past that — so with tracked >= distinct cardinality the result is
# provably exact and can face the exact-SQL oracle. That is this query's
# regime; at 10^9-distinct scale the same expression runs approximate with
# bounded memory (the scale path), trading the oracle for fixed state —
# same pattern as zonal exact-vs-approx percentiles.
# ---------------------------------------------------------------------------
@defquery(
    "heavy_hitters_topk",
    """
    SELECT event_type AS item, COUNT(*) AS cnt
    FROM events GROUP BY event_type
    ORDER BY cnt DESC LIMIT 3
    """,
    doc="top-k heavy hitters via approx_top_k sketch (exact-regime oracle)",
    tags=("sketch", "topk", "spark4"),
)
def q_heavy_hitters_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    out = ev.select("event_type").agg(
        F.expr("approx_top_k(event_type, 3, 100)").alias("tk")
    )
    return out.select(F.inline("tk")).select(
        F.col("item"), F.col("count").alias("cnt")
    )


# ---------------------------------------------------------------------------
# EWMA (exponential smoothing) over each user's daily series. The
# recurrence y_t = a*x_t + (1-a)*y_{t-1} (zero-init) is not a SQL window
# aggregate, but for a = 1/2 it has an INTEGER-EXACT closed form:
#     2^t * y_t = SUM_i( x_i * 2^(i-1) )   for i <= t
# i.e. one BIGINT running-sum window over bit-shifted daily cents — a
# single shuffle per user, no UDF, no iterative loop, and no float
# summation to drift between engines (a float formulation measurably
# breaks 4-decimal rounding at the boundaries). The final >> t and one
# division are identical IEEE ops on identical integers. Safe while the
# per-partition sequence length stays under ~45 (shift headroom in 63
# bits); calendar partition resets (here: one month) keep any data size
# in that regime.
# ---------------------------------------------------------------------------
@defquery(
    "ewma_daily_value",
    """
    WITH daily AS (
      SELECT user_id, CAST(ts AS DATE) AS day,
             SUM(CAST(ROUND(value * 100) AS BIGINT)) AS cents
      FROM events GROUP BY 1, 2),
    seq AS (
      SELECT user_id, day, cents,
             CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day)
                  AS INTEGER) AS t
      FROM daily),
    acc AS (
      SELECT user_id, day, t,
             SUM(cents * (CAST(1 AS BIGINT) << (t - 1))) OVER (
               PARTITION BY user_id ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
      FROM seq)
    SELECT user_id, CAST(day AS VARCHAR) AS day,
           ((s * 100) >> t) / 10000.0 AS ewma
    FROM acc
    """,
    doc="per-user daily EWMA via integer-exact running-sum window (no UDF)",
    tags=("window", "timeseries", "ewma"),
)
def q_ewma_daily_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "user_id", F.col("ts").cast("date").alias("day")
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"))
    seq = daily.select(
        "user_id",
        "day",
        "cents",
        F.row_number()
        .over(Window.partitionBy("user_id").orderBy("day"))
        .alias("t"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    acc = seq.select(
        "user_id",
        "day",
        "t",
        F.sum(
            F.col("cents") * F.expr("shiftleft(CAST(1 AS BIGINT), t - 1)")
        )
        .over(w)
        .alias("s"),
    )
    return acc.select(
        "user_id",
        F.col("day").cast("string").alias("day"),
        (F.expr("shiftright(s * 100, t)") / 10000.0).alias("ewma"),
    )


# ---------------------------------------------------------------------------
# Mergeable distinct-count rollup via Apache DataSketches HLL (Spark 4):
# one sketch per day, per-day estimates AND a union-merged total from the
# same sketches. This is the 100 TB pattern — store daily sketches with
# the partition, answer ANY date-range distinct by merging a handful of
# sketches instead of rescanning the fact table. At this cardinality the
# sketch is in its exact (sparse) regime, so it faces the exact
# COUNT(DISTINCT) oracle; at high cardinality the same query runs with
# ~1.6% error and fixed state (same exact-regime pattern as
# heavy_hitters_topk).
# ---------------------------------------------------------------------------
@defquery(
    "hll_daily_distinct",
    """
    SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
           COUNT(DISTINCT user_id) AS n_users
    FROM events GROUP BY 1
    UNION ALL
    SELECT '<all>' AS day, COUNT(DISTINCT user_id) AS n_users FROM events
    """,
    doc="daily HLL sketches + union-merged total (exact-regime oracle)",
    tags=("sketch", "distinct", "rollup", "spark4"),
)
def q_hll_daily_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.expr("hll_sketch_agg(user_id)").alias("sk")
    )
    per_day = daily.select(
        F.col("day").cast("string").alias("day"),
        F.expr("hll_sketch_estimate(sk)").alias("n_users"),
    )
    total = daily.agg(
        F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias("n_users")
    ).select(F.lit("<all>").alias("day"), "n_users")
    return per_day.unionByName(total)


# ---------------------------------------------------------------------------
# Trimmed mean via a grouped-aggregate pandas UDF — the UDAF member of
# the UDF family (Arrow-batched, one Python call per group, never
# row-at-a-time). Integer-cents arithmetic end to end: the kept-range
# sum is an exact int64 and the mean a single floor division, so the
# Python aggregate is bit-identical to the SQL oracle. Trim bounds are
# linear-interpolated p10/p90 (pandas quantile == quantile_cont).
# ---------------------------------------------------------------------------
@defquery(
    "trimmed_mean_price",
    """
    WITH c AS (SELECT l_returnflag AS g,
                      CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents
               FROM lineitem),
    q AS (SELECT g, quantile_cont(cents, 0.10) AS lo,
                 quantile_cont(cents, 0.90) AS hi
          FROM c GROUP BY g)
    SELECT c.g AS returnflag,
           ((SUM(c.cents) * 10000) // COUNT(*)) / 1000000.0 AS trimmed_avg,
           COUNT(*) AS n_kept
    FROM c JOIN q ON c.g = q.g
    WHERE c.cents >= q.lo AND c.cents <= q.hi
    GROUP BY c.g
    """,
    doc="p10/p90 trimmed mean via grouped-agg pandas UDF (integer-exact)",
    tags=("udaf", "pandas-udf", "robust-stats"),
)
def q_trimmed_mean_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    # real annotation objects (module-wide `from __future__ import
    # annotations` would stringify inline hints and break UDF inference)
    def _trimmed_avg(v):
        lo, hi = v.quantile(0.10), v.quantile(0.90)
        kept = v[(v >= lo) & (v <= hi)]
        return (int(kept.sum()) * 10000 // len(kept)) / 1e6

    def _n_kept(v):
        lo, hi = v.quantile(0.10), v.quantile(0.90)
        return int(((v >= lo) & (v <= hi)).sum())

    _trimmed_avg.__annotations__ = {"v": pd.Series, "return": float}
    _n_kept.__annotations__ = {"v": pd.Series, "return": int}
    trimmed_avg = pandas_udf(_trimmed_avg, "double")
    n_kept = pandas_udf(_n_kept, "long")

    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("returnflag"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
    )
    return li.groupBy("returnflag").agg(
        trimmed_avg("cents").alias("trimmed_avg"),
        n_kept("cents").alias("n_kept"),
    )


# ---------------------------------------------------------------------------
# Seasonal decomposition (STL-lite): daily series -> centered 7-day
# moving-average trend, day-of-week seasonal means of the detrended
# series, remainder. The TimescaleDB-flavored time-series analysis a
# monitoring pipeline runs on its continuous aggregates. Two window
# passes + one 7-row broadcast join; edges where the centered window is
# incomplete stay NULL (never extrapolated, same discipline as
# gap_fill_interpolate).
# ---------------------------------------------------------------------------
@defquery(
    "seasonal_decompose_daily",
    """
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS DOUBLE) / 100
               AS v
      FROM events GROUP BY CAST(ts AS DATE)
    ),
    tr AS (
      SELECT day, v,
             CASE WHEN COUNT(*) OVER w = 7
                  THEN AVG(v) OVER w END AS trend
      FROM daily
      WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ),
    se AS (
      SELECT dayofweek(day) AS dow, AVG(v - trend) AS seasonal
      FROM tr WHERE trend IS NOT NULL GROUP BY dayofweek(day)
    )
    SELECT CAST(day AS VARCHAR) AS day, ROUND(v, 4) AS value,
           ROUND(trend, 4) AS trend,
           ROUND(seasonal, 4) AS seasonal,
           ROUND(v - trend - seasonal, 4) AS resid
    FROM tr JOIN se ON se.dow = dayofweek(tr.day)
    """,
    doc="STL-lite seasonal decomposition: centered 7-day MA trend, "
    "day-of-week seasonal means, remainder; incomplete edge windows "
    "stay NULL",
    tags=("timeseries", "window", "aggregate"),
)
def q_seasonal_decompose_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        (
            F.sum(F.round(F.col("value") * 100, 0).cast("long")).cast("double") / 100
        ).alias("v")
    )
    w = Window.orderBy("day").rowsBetween(-3, 3)
    tr = daily.select(
        "day", "v",
        F.when(F.count(F.lit(1)).over(w) == 7, F.avg("v").over(w)).alias("trend"),
    )
    se = (
        tr.filter(F.col("trend").isNotNull())
        .groupBy(F.dayofweek("day").alias("dow"))
        .agg(F.avg(F.col("v") - F.col("trend")).alias("seasonal"))
    )
    out = tr.join(F.broadcast(se), F.dayofweek(tr["day"]) == se["dow"]).select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.round("v", 4).alias("value"),
        F.round("trend", 4).alias("trend"),
        F.round("seasonal", 4).alias("seasonal"),
        F.round(F.col("v") - F.col("trend") - F.col("seasonal"), 4).alias("resid"),
    )
    return out


# ---------------------------------------------------------------------------
# Time-series subsequence similarity search (UCR-style z-normalized
# Euclidean; cf. "Time Series Similarity Search for Streaming Data in
# Distributed Systems", EDBT 2019): find the per-user 7-day windows
# whose z-normalized shape best matches a spike pattern. Windows come
# from 6 lead() columns over one (user, day) exchange — no per-series
# collection, no UDF; the top-10 is a distributed TakeOrdered. The
# pattern's z-normalized values are inlined as identical literals in
# both engines (spike [0,0,0,1,0,0,0] -> lo=-0.4082482905 x6,
# hi=2.4494897428).
# ---------------------------------------------------------------------------
_TSS_P = ["-0.4082482905"] * 3 + ["2.4494897428"] + ["-0.4082482905"] * 3


def _tss_sql() -> str:
    ls = ", ".join(
        f"LEAD(v, {j}) OVER (PARTITION BY user_id ORDER BY day) AS l{j}"
        for j in range(1, 7)
    )
    vs = ["v"] + [f"l{j}" for j in range(1, 7)]
    m = f"(({' + '.join(vs)}) / 7)"
    var = f"(({' + '.join(f'({x} - {m}) * ({x} - {m})' for x in vs)}) / 7)"
    dist = " + ".join(
        f"((({x} - {m}) / sd - ({p})) * (({x} - {m}) / sd - ({p})))"
        for x, p in zip(vs, _TSS_P)
    )
    return f"""
    WITH daily AS (
      SELECT user_id, CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS DOUBLE) / 100 AS v
      FROM events GROUP BY 1, 2
    ),
    win AS (SELECT user_id, day, v, {ls} FROM daily),
    stats AS (
      SELECT user_id, day, v, l1, l2, l3, l4, l5, l6, sqrt({var}) AS sd
      FROM win WHERE l6 IS NOT NULL
    ),
    dists AS (
      SELECT user_id, CAST(day AS VARCHAR) AS day, ROUND({dist}, 4) AS dist
      FROM stats WHERE sd > 0
    )
    SELECT user_id, day, dist FROM dists
    ORDER BY dist, user_id, day LIMIT 10
    """


@defquery(
    "ts_pattern_match",
    _tss_sql(),
    doc="z-normalized 7-day subsequence similarity search: lead() "
    "windows, inline z-norm + Euclidean distance to a spike pattern, "
    "distributed top-10 (UCR-style, EDBT'19 lineage)",
    tags=("timeseries", "similarity", "window"),
)
def q_ts_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "user_id", F.col("ts").cast("date").alias("day")
    ).agg(
        (
            F.sum(F.round(F.col("value") * 100, 0).cast("long")).cast("double") / 100
        ).alias("v")
    )
    w = Window.partitionBy("user_id").orderBy("day")
    cols = [F.col("v")] + [F.lead("v", j).over(w).alias(f"l{j}") for j in range(1, 7)]
    win = daily.select("user_id", "day", *cols).filter(F.col("l6").isNotNull())
    vs = [F.col("v")] + [F.col(f"l{j}") for j in range(1, 7)]
    m = sum(vs[1:], vs[0]) / 7
    var = sum(((x - m) * (x - m) for x in vs[1:]), (vs[0] - m) * (vs[0] - m)) / 7
    sd = F.sqrt(var)
    zp = [F.lit(float(p)) for p in _TSS_P]
    terms = [((x - m) / sd - p) for x, p in zip(vs, zp)]
    dist = sum((t * t for t in terms[1:]), terms[0] * terms[0])
    out = (
        win.withColumn("sd", sd)
        .filter(F.col("sd") > 0)
        .select(
            "user_id",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.round(dist, 4).alias("dist"),
        )
        .orderBy("dist", "user_id", "day")
        .limit(10)
    )
    return out


# ---------------------------------------------------------------------------
# Pairwise correlation matrix over the lineitem measures in ONE
# aggregation pass (six corr() aggregates — mergeable moment partials,
# no Expand, no per-pair scan), scalarized to (col_a, col_b, corr) rows.
# The feature-correlation profile an ML pipeline computes before
# training; the single-pair regression twin is qty_price_regression.
# ---------------------------------------------------------------------------
_CORR_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
_CORR_PAIRS = [
    (a, b) for i, a in enumerate(_CORR_COLS) for b in _CORR_COLS[i + 1:]
]


@defquery(
    "correlation_matrix",
    " UNION ALL ".join(
        f"""
        SELECT '{a}' AS col_a, '{b}' AS col_b,
               ROUND(corr({a}, {b}), 4) AS corr
        FROM lineitem
        """
        for a, b in _CORR_PAIRS
    ),
    doc="pairwise correlation matrix of the lineitem measures: six "
    "corr() aggregates in one mergeable pass, scalar long-form output",
    tags=("statistics", "aggregate", "profiling"),
)
def q_correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    aggs = [
        F.round(F.corr(a, b), 4).alias(f"c_{i}")
        for i, (a, b) in enumerate(_CORR_PAIRS)
    ]
    one = li.agg(*aggs)
    stacked = [
        F.struct(
            F.lit(a).alias("col_a"), F.lit(b).alias("col_b"),
            F.col(f"c_{i}").alias("corr"),
        )
        for i, (a, b) in enumerate(_CORR_PAIRS)
    ]
    return one.select(F.explode(F.array(*stacked)).alias("s")).select("s.*")


# ---------------------------------------------------------------------------
# Chi-square independence test: event_type x day-of-week contingency,
# expected counts from broadcast marginals, X^2 = sum (obs-exp)^2/exp.
# All aggregates are mergeable; the marginals are tiny broadcast joins
# (5 types x 7 days), so the plan is one scan + three small rollups.
# dow classes are engine-local (Spark Sunday=1, DuckDB Sunday=0) but
# partition identically, so the statistic matches.
# ---------------------------------------------------------------------------
@defquery(
    "chi2_event_dow",
    """
    WITH obs AS (
      SELECT event_type AS e, dayofweek(CAST(ts AS DATE)) AS d,
             CAST(COUNT(*) AS DOUBLE) AS o
      FROM events GROUP BY 1, 2
    ),
    rowt AS (SELECT e, SUM(o) AS rt FROM obs GROUP BY e),
    colt AS (SELECT d, SUM(o) AS ct FROM obs GROUP BY d),
    tot AS (SELECT SUM(o) AS n FROM obs)
    SELECT ROUND(SUM((o - rt * ct / n) * (o - rt * ct / n) / (rt * ct / n)), 4)
             AS chi2,
           CAST((COUNT(DISTINCT e) - 1) * (COUNT(DISTINCT d) - 1) AS BIGINT)
             AS dof,
           CAST(MAX(n) AS BIGINT) AS n
    FROM obs JOIN rowt USING (e) JOIN colt USING (d) CROSS JOIN tot
    """,
    doc="chi-square independence test of event_type vs day-of-week: "
    "contingency + broadcast marginals, mergeable aggregates only",
    tags=("statistics", "aggregate"),
)
def q_chi2_event_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    obs = ev.groupBy(
        F.col("event_type").alias("e"),
        F.dayofweek(F.col("ts").cast("date")).alias("d"),
    ).agg(F.count(F.lit(1)).cast("double").alias("o"))
    rowt = obs.groupBy("e").agg(F.sum("o").alias("rt"))
    colt = obs.groupBy("d").agg(F.sum("o").alias("ct"))
    tot = obs.agg(F.sum("o").alias("n"))
    j = (
        obs.join(F.broadcast(rowt), "e")
        .join(F.broadcast(colt), "d")
        .crossJoin(F.broadcast(tot))
    )
    exp = F.col("rt") * F.col("ct") / F.col("n")
    return j.agg(
        F.round(F.sum((F.col("o") - exp) * (F.col("o") - exp) / exp), 4).alias("chi2"),
        (
            (F.countDistinct("e") - 1) * (F.countDistinct("d") - 1)
        ).cast("long").alias("dof"),
        F.max("n").cast("long").alias("n"),
    )


# ---------------------------------------------------------------------------
# Incremental materialized-view refresh: merge EXISTING day-level
# partials with a raw delta instead of recomputing the view. The
# partials here are derived in-plan (days < 2024-01-20) so both engines
# see identical inputs; the oracle is the FULL recompute by month —
# green means merge-of-partials == recompute, the invariant every
# incremental view maintenance scheme rests on. All aggregates are
# mergeable (sum/count); at 100 TB the partials come off the
# hypertable's stored daily layer (operators/hypertable.py) and only
# the delta touches raw data.
# ---------------------------------------------------------------------------
@defquery(
    "incremental_rollup_refresh",
    """
    WITH monthly AS (
      SELECT strftime(CAST(ts AS DATE), '%Y-%m') AS month,
             event_type,
             CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT)
               AS cents,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    )
    SELECT month, event_type, cents, n FROM monthly
    """,
    doc="incremental view refresh: stored daily partials + raw delta "
    "merged into the month rollup; oracle is the full recompute, so "
    "green pins merge == recompute",
    tags=("warehouse", "aggregate", "incremental"),
)
def q_incremental_rollup_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100, 0).cast("long")
    cutoff = F.lit("2024-01-20").cast("date")
    day = F.col("ts").cast("date")
    # the "materialized" daily layer: partial states for days before the
    # cutoff (in production: read back from the hypertable daily table)
    partials = (
        ev.filter(day < cutoff)
        .groupBy(day.alias("day"), "event_type")
        .agg(F.sum(cents).alias("cents"), F.count(F.lit(1)).alias("n"))
    )
    # the delta: raw rows at/after the cutoff, aggregated to the same grain
    delta = (
        ev.filter(day >= cutoff)
        .groupBy(day.alias("day"), "event_type")
        .agg(F.sum(cents).alias("cents"), F.count(F.lit(1)).alias("n"))
    )
    merged = partials.unionByName(delta)
    return (
        merged.groupBy(
            F.date_format("day", "yyyy-MM").alias("month"), "event_type"
        )
        .agg(
            F.sum("cents").cast("long").alias("cents"),
            F.sum("n").cast("long").alias("n"),
        )
    )


# ---------------------------------------------------------------------------
# Triangle counting on the co-purchase graph (parts appearing in the
# same order). Edges are ORIENTED low-id -> high-id before the
# triangle join — the classic trick that makes distributed triangle
# counting tractable: each triangle is generated exactly once (a<b<c),
# and the two-hop join fans out only along the orientation, bounding
# the intermediate by sum(out-degree^2) instead of sum(degree^2).
# The graph is thinned to high-quantity lines (l_quantity >= 40) — the
# filter reaches the parquet scan, and the oriented two-hop stays
# ~25x smaller than the full co-purchase graph while leaving thousands
# of triangles at every SF. Companion shape to connected_components
# (dedup clustering): the other canonical graph pattern expressed as
# pure DataFrame joins.
# ---------------------------------------------------------------------------
@defquery(
    "copurchase_triangles",
    """
    WITH li AS (
      SELECT l_orderkey, l_partkey FROM lineitem WHERE l_quantity >= 40
    ),
    e AS (
      SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
      FROM li l1 JOIN li l2
        ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey
    ),
    tri AS (
      SELECT COUNT(*) AS n_triangles
      FROM e e1
      JOIN e e2 ON e2.a = e1.b
      JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
    )
    SELECT CAST((SELECT COUNT(DISTINCT a) FROM (SELECT a FROM e UNION ALL SELECT b FROM e)) AS BIGINT) AS n_nodes,
           CAST((SELECT COUNT(*) FROM e) AS BIGINT) AS n_edges,
           CAST(n_triangles AS BIGINT) AS n_triangles
    FROM tri
    """,
    doc="triangle count on the part co-purchase graph: edges oriented "
    "low->high so each triangle is counted once and the two-hop join "
    "is out-degree-bounded",
    tags=("graph", "join", "analytics"),
)
def q_copurchase_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") >= 40)
        .select("l_orderkey", "l_partkey")
    )
    l2 = li.select(
        F.col("l_orderkey").alias("k2"), F.col("l_partkey").alias("p2")
    )
    e = (
        li.join(l2, (li["l_orderkey"] == l2["k2"]) & (li["l_partkey"] < l2["p2"]))
        .select(F.col("l_partkey").alias("a"), F.col("p2").alias("b"))
        .distinct()
    )
    e.persist()
    e1 = e
    e2 = e.select(F.col("a").alias("b_"), F.col("b").alias("c"))
    e3 = e.select(F.col("a").alias("a3"), F.col("b").alias("c3"))
    tri = (
        e1.join(e2, e1["b"] == e2["b_"])
        .join(e3, (e1["a"] == e3["a3"]) & (e2["c"] == e3["c3"]))
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    nodes = (
        e.select(F.col("a").alias("n"))
        .unionByName(e.select(F.col("b").alias("n")))
        .agg(F.countDistinct("n").alias("n_nodes"))
    )
    edges = e.agg(F.count(F.lit(1)).alias("n_edges"))
    out = (
        nodes.crossJoin(edges)
        .crossJoin(tri)
        .select(
            F.col("n_nodes").cast("long").alias("n_nodes"),
            F.col("n_edges").cast("long").alias("n_edges"),
            F.col("n_triangles").cast("long").alias("n_triangles"),
        )
    )
    return out


# ---------------------------------------------------------------------------
# Per-node clustering coefficient — the local-density companion to the
# global triangle count: cc(v) = 2*T(v) / (deg(v)*(deg(v)-1)). Same
# oriented edge set and out-degree-bounded two-hop as
# copurchase_triangles; each (a<b<c) triangle then credits all three
# corners (one explode), degrees come from one grouped count over the
# undirected incidence — everything exact integers until the final
# division.
# ---------------------------------------------------------------------------
@defquery(
    "clustering_coefficient",
    """
    WITH li AS (
      SELECT l_orderkey, l_partkey FROM lineitem WHERE l_quantity >= 40
    ),
    e AS (
      SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
      FROM li l1 JOIN li l2
        ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey
    ),
    tri AS (
      SELECT e1.a AS a, e1.b AS b, e2.b AS c
      FROM e e1
      JOIN e e2 ON e2.a = e1.b
      JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    tcnt AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS t FROM (
        SELECT a AS node FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri
      ) GROUP BY node
    ),
    deg AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM (
        SELECT a AS node FROM e UNION ALL SELECT b FROM e
      ) GROUP BY node
    )
    SELECT deg.node AS part, deg.d AS degree,
           COALESCE(tcnt.t, 0) AS triangles,
           ROUND(2.0 * COALESCE(tcnt.t, 0) / (deg.d * (deg.d - 1)), 4) AS cc
    FROM deg LEFT JOIN tcnt ON tcnt.node = deg.node
    WHERE deg.d >= 2
    """,
    doc="per-node clustering coefficient on the co-purchase graph: "
    "oriented triangles credit all three corners, degrees from the "
    "undirected incidence, exact integers until the final ratio",
    tags=("graph", "join", "analytics"),
)
def q_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") >= 40)
        .select("l_orderkey", "l_partkey")
    )
    l2 = li.select(
        F.col("l_orderkey").alias("k2"), F.col("l_partkey").alias("p2")
    )
    e = (
        li.join(l2, (li["l_orderkey"] == l2["k2"]) & (li["l_partkey"] < l2["p2"]))
        .select(F.col("l_partkey").alias("a"), F.col("p2").alias("b"))
        .distinct()
    )
    e1 = e
    e2 = e.select(F.col("a").alias("b_"), F.col("b").alias("c"))
    e3 = e.select(F.col("a").alias("a3"), F.col("b").alias("c3"))
    tri = (
        e1.join(e2, e1["b"] == e2["b_"])
        .join(e3, (e1["a"] == e3["a3"]) & (e2["c"] == e3["c3"]))
        .select("a", "b", "c")
    )
    tcnt = (
        tri.select(F.col("a").alias("node"))
        .unionByName(tri.select(F.col("b").alias("node")))
        .unionByName(tri.select(F.col("c").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("t"))
    )
    deg = (
        e.select(F.col("a").alias("node"))
        .unionByName(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    )
    out = (
        deg.join(tcnt, "node", "left")
        .filter(F.col("d") >= 2)
        .select(
            F.col("node").alias("part"),
            F.col("d").alias("degree"),
            F.coalesce(F.col("t"), F.lit(0)).cast("long").alias("triangles"),
            F.round(
                2.0 * F.coalesce(F.col("t"), F.lit(0))
                / (F.col("d") * (F.col("d") - 1)),
                4,
            ).alias("cc"),
        )
    )
    return out


# ---------------------------------------------------------------------------
# PageRank on the (thinned) co-purchase graph — operators/graph.py.
# pagerank_one_step pins the damped-propagation arithmetic;
# pagerank_copurchase runs the fixed-10-round fit in exact integer
# micro-units (pagerank_exact), so the whole fixpoint is summation-
# order-free and gets a FULL hash oracle: one chained CTE per round,
# the label_prop_communities technique (VERDICT r7 item 4 — was
# rows-only while it used double ranks).
# ---------------------------------------------------------------------------
_PR_EDGES_SQL = """
    li AS (
      SELECT l_orderkey, l_partkey FROM lineitem WHERE l_quantity >= 40
    ),
    e0 AS (
      SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
      FROM li l1 JOIN li l2
        ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey
    ),
    e AS (SELECT a AS s, b AS d FROM e0 UNION ALL SELECT b AS s, a AS d FROM e0),
    deg AS (SELECT s, COUNT(*) AS outdeg FROM e GROUP BY s)
"""


def _pr_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") >= 40)
        .select("l_orderkey", "l_partkey")
    )
    l2 = li.select(F.col("l_orderkey").alias("k2"), F.col("l_partkey").alias("p2"))
    return (
        li.join(l2, (li["l_orderkey"] == l2["k2"]) & (li["l_partkey"] < l2["p2"]))
        .select(F.col("l_partkey").alias("src"), F.col("p2").alias("dst"))
        .distinct()
    )


@defquery(
    "pagerank_one_step",
    f"""
    WITH {_PR_EDGES_SQL},
    inflow AS (
      SELECT e.d AS node,
             SUM(CAST(FLOOR(850000.0 / deg.outdeg) AS BIGINT)) AS m
      FROM e JOIN deg ON e.s = deg.s GROUP BY e.d
    )
    SELECT node, CAST(150000 + m AS BIGINT) AS rank_micro FROM inflow
    """,
    doc="one damped PageRank step from uniform ranks over the co-purchase "
    "graph, in exact integer micro-units (per-edge contribution "
    "FLOOR(0.85e6/outdeg); integer sums are summation-order-free, so "
    "the statistic is hash-exact) — the gate twin of the double-"
    "precision iterative fit",
    tags=("graph", "join", "aggregate"),
)
def q_pagerank_one_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _pr_edges(spark, sf_dir)
    und = e.select(F.col("src").alias("s"), F.col("dst").alias("d")).unionByName(
        e.select(F.col("dst").alias("s"), F.col("src").alias("d"))
    )
    deg = und.groupBy("s").agg(F.count(F.lit(1)).alias("outdeg"))
    contrib = und.join(deg, "s").select(
        "d", F.floor(F.lit(850000.0) / F.col("outdeg")).cast("long").alias("c")
    )
    return contrib.groupBy(F.col("d").alias("node")).agg(
        (F.lit(150000) + F.sum("c")).cast("long").alias("rank_micro")
    )


_PR_ITERS = 10

_PR_CHAIN_SQL = ",\n    ".join(
    ["pr0 AS (SELECT s AS node, CAST(1000000 AS BIGINT) AS r FROM deg)"]
    + [
        f"""pr{i} AS (
      SELECT e.d AS node,
             CAST(150000 + SUM((85 * p.r) // (100 * dg.outdeg)) AS BIGINT) AS r
      FROM e JOIN pr{i - 1} p ON e.s = p.node JOIN deg dg ON dg.s = e.s
      GROUP BY e.d
    )"""
        for i in range(1, _PR_ITERS + 1)
    ]
)


@defquery(
    "pagerank_copurchase",
    f"""
    WITH {_PR_EDGES_SQL},
    {_PR_CHAIN_SQL}
    SELECT node, r AS rank_micro FROM pr{_PR_ITERS}
    """,
    doc="PageRank (10 damped rounds) on the co-purchase graph in exact "
    "integer micro-units: one join + one aggregation per round, "
    "localCheckpoint lineage cuts, zero driver traffic until "
    "materialization; integer damping makes the fixpoint summation-"
    "order-free, so the oracle replays all 10 rounds as chained CTEs "
    "and the result is hash-checked (was rows-only)",
    tags=("graph", "iterative", "scale-path"),
)
def q_pagerank_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    from shared_etl_pipelines_spark.operators.graph import pagerank_exact

    return pagerank_exact(
        _pr_edges(spark, sf_dir), iterations=_PR_ITERS, num_partitions=8
    )


# ---------------------------------------------------------------------------
# SAX symbolization (Lin et al.; the iSAX indexing primitive): each
# user's 8-day window -> z-normalize -> PAA to 4 two-day segments ->
# map segments to a 4-letter alphabet at the N(0,1) quartile
# breakpoints (+-0.6745, 0). Output: corpus vocabulary of window
# shapes (sax_word, n) — the discretization a symbolic time-series
# index stores instead of raw floats. Arithmetic is written in the
# same association order in both engines, so symbol boundaries see
# bit-identical doubles.
# ---------------------------------------------------------------------------
_SAX_BP = ("-0.6745", "0.0", "0.6745")


def _sax_sql() -> str:
    ls = ", ".join(
        f"LEAD(v, {j}) OVER (PARTITION BY user_id ORDER BY day) AS l{j}"
        for j in range(1, 8)
    )
    vs = ["v"] + [f"l{j}" for j in range(1, 8)]
    m = f"(({' + '.join(vs)}) / 8)"
    var = f"(({' + '.join(f'({x} - {m}) * ({x} - {m})' for x in vs)}) / 8)"
    segs = [f"((({vs[2*i]} - {m}) + ({vs[2*i+1]} - {m})) / 2 / sd)" for i in range(4)]
    sym = lambda e: (  # noqa: E731
        f"CASE WHEN {e} < {_SAX_BP[0]} THEN 'a' WHEN {e} < {_SAX_BP[1]} THEN 'b' "
        f"WHEN {e} < {_SAX_BP[2]} THEN 'c' ELSE 'd' END"
    )
    word = " || ".join(sym(s) for s in segs)
    return f"""
    WITH daily AS (
      SELECT user_id, CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS DOUBLE) / 100 AS v
      FROM events GROUP BY 1, 2
    ),
    win AS (SELECT user_id, day, v, {ls} FROM daily),
    stats AS (
      SELECT *, sqrt({var}) AS sd FROM win WHERE l7 IS NOT NULL
    )
    SELECT {word} AS sax_word, CAST(COUNT(*) AS BIGINT) AS n
    FROM stats WHERE sd > 0 GROUP BY 1
    """


@defquery(
    "sax_window_vocab",
    _sax_sql(),
    doc="SAX symbolization of 8-day windows (PAA-4, alphabet-4 at N(0,1) "
    "quartiles): the vocabulary of window shapes a symbolic index "
    "(iSAX) stores in place of raw series",
    tags=("timeseries", "window", "symbolic"),
)
def q_sax_window_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "user_id", F.col("ts").cast("date").alias("day")
    ).agg(
        (
            F.sum(F.round(F.col("value") * 100, 0).cast("long")).cast("double") / 100
        ).alias("v")
    )
    w = Window.partitionBy("user_id").orderBy("day")
    cols = [F.col("v")] + [F.lead("v", j).over(w).alias(f"l{j}") for j in range(1, 8)]
    win = daily.select("user_id", "day", *cols).filter(F.col("l7").isNotNull())
    vs = [F.col("v")] + [F.col(f"l{j}") for j in range(1, 8)]
    m = sum(vs[1:], vs[0]) / 8
    var = sum(((x - m) * (x - m) for x in vs[1:]), (vs[0] - m) * (vs[0] - m)) / 8
    sd = F.sqrt(var)
    bp = [float(b) for b in _SAX_BP]

    def sym(e):
        return (
            F.when(e < bp[0], F.lit("a"))
            .when(e < bp[1], F.lit("b"))
            .when(e < bp[2], F.lit("c"))
            .otherwise(F.lit("d"))
        )

    segs = [((vs[2 * i] - m) + (vs[2 * i + 1] - m)) / 2 / sd for i in range(4)]
    word = F.concat(*[sym(s) for s in segs])
    return (
        win.withColumn("sd", sd)
        .filter(F.col("sd") > 0)
        .groupBy(word.alias("sax_word"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


# ---------------------------------------------------------------------------
# Rolling correlation: 14-day trailing corr() between the daily click
# and purchase revenue series — corr as a WINDOW aggregate over a
# pivoted two-column frame, the co-movement monitor a metrics pipeline
# ships next to the global correlation_matrix. One pivot scan + one
# ordered window; windows shorter than 4 days are suppressed (corr of
# a near-empty frame is noise in any engine).
# ---------------------------------------------------------------------------
@defquery(
    "rolling_corr_14",
    """
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(SUM(CASE WHEN event_type = 'click'
                  THEN CAST(ROUND(value * 100, 0) AS BIGINT) ELSE 0 END) AS DOUBLE)
               AS click_v,
             CAST(SUM(CASE WHEN event_type = 'purchase'
                  THEN CAST(ROUND(value * 100, 0) AS BIGINT) ELSE 0 END) AS DOUBLE)
               AS buy_v
      FROM events GROUP BY 1
    ),
    w AS (
      SELECT day, click_v, buy_v,
             corr(click_v, buy_v) OVER
               (ORDER BY day ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS c,
             COUNT(*) OVER
               (ORDER BY day ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS nw
      FROM daily
    )
    SELECT CAST(day AS VARCHAR) AS day, ROUND(c, 4) AS corr14
    FROM w WHERE nw >= 4
    """,
    doc="14-day rolling correlation between click and purchase daily "
    "revenue: corr as a window aggregate over one pivoted scan",
    tags=("timeseries", "statistics", "window"),
)
def q_rolling_corr_14(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100, 0).cast("long")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.sum(F.when(F.col("event_type") == "click", cents).otherwise(0))
        .cast("double")
        .alias("click_v"),
        F.sum(F.when(F.col("event_type") == "purchase", cents).otherwise(0))
        .cast("double")
        .alias("buy_v"),
    )
    w = Window.orderBy("day").rowsBetween(-13, 0)
    out = daily.select(
        "day",
        F.corr("click_v", "buy_v").over(w).alias("c"),
        F.count(F.lit(1)).over(w).alias("nw"),
    ).filter(F.col("nw") >= 4)
    return out.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.round("c", 4).alias("corr14"),
    )


# ---------------------------------------------------------------------------
# Distribution-drift detection: PSI (population stability index) of
# order prices, current period vs baseline period, over decile bins cut
# from the BASELINE distribution — the monitoring gate a production
# data pipeline runs before accepting a new batch (PSI > 0.2 = major
# shift). Scale shape: one exact-percentile pass over the baseline for
# the 9 edges (a 9-row broadcast), then bin assignment is a broadcast
# join + conditional count — all mergeable, no global sort, no
# per-value window (contrast a KS statistic, which needs a full-order
# cumsum).
# ---------------------------------------------------------------------------
@defquery(
    "psi_drift_check",
    """
    WITH base AS (
      SELECT o_totalprice AS v FROM orders WHERE o_orderdate < '1998-01-01'
    ),
    cur AS (
      SELECT o_totalprice AS v FROM orders WHERE o_orderdate >= '1998-01-01'
    ),
    edges AS (
      SELECT unnest(quantile_cont(v, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9])) AS e
      FROM base
    ),
    bb AS (
      SELECT (SELECT COUNT(*) FROM edges WHERE v > e) AS bin FROM base
    ),
    cb AS (
      SELECT (SELECT COUNT(*) FROM edges WHERE v > e) AS bin FROM cur
    ),
    counts AS (
      SELECT b.bin,
             CAST(COUNT(*) AS DOUBLE) / (SELECT COUNT(*) FROM base) AS pa,
             CAST(COALESCE(c.n, 0) AS DOUBLE) / (SELECT COUNT(*) FROM cur) AS pb
      FROM bb b
      LEFT JOIN (SELECT bin, COUNT(*) AS n FROM cb GROUP BY bin) c USING (bin)
      GROUP BY b.bin, c.n
    )
    SELECT CAST(bin AS BIGINT) AS bin, ROUND(pa, 4) AS frac_base,
           ROUND(pb, 4) AS frac_cur,
           ROUND((pb - pa) * ln(GREATEST(pb, 0.0001) / GREATEST(pa, 0.0001)), 4)
             AS psi_term
    FROM counts
    """,
    doc="PSI drift check: current-vs-baseline order prices over decile "
    "bins cut from the baseline; per-bin PSI terms (sum > 0.2 = major "
    "shift) — 9-row broadcast edges, mergeable counts, no global sort",
    tags=("statistics", "quality", "drift"),
)
def q_psi_drift_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_totalprice").alias("v"), F.col("o_orderdate").cast("date").alias("d")
    )
    cutoff = F.lit("1998-01-01").cast("date")
    base = o.filter(F.col("d") < cutoff).select("v")
    cur = o.filter(F.col("d") >= cutoff).select("v")
    edges = base.agg(
        F.percentile("v", F.array(*[F.lit(x / 10) for x in range(1, 10)])).alias("es")
    ).select(F.explode("es").alias("e"))

    # bin per DISTINCT value (multiplicity carried as n), so the 9-row
    # broadcast join fans out over value cardinality, not row count
    vb = (
        base.groupBy("v").agg(F.count(F.lit(1)).alias("n"))
        .crossJoin(F.broadcast(edges))
        .groupBy("v", "n")
        .agg(F.sum(F.when(F.col("v") > F.col("e"), 1).otherwise(0)).alias("bin"))
    )
    cb = (
        cur.groupBy("v").agg(F.count(F.lit(1)).alias("n"))
        .crossJoin(F.broadcast(edges))
        .groupBy("v", "n")
        .agg(F.sum(F.when(F.col("v") > F.col("e"), 1).otherwise(0)).alias("bin"))
    )
    # two bounded scalar collects (row counts), same discipline as the
    # convergence scalars in connected_components
    nb = base.count()
    nc = cur.count()
    pa = vb.groupBy("bin").agg((F.sum("n").cast("double") / nb).alias("pa"))
    pb = cb.groupBy("bin").agg((F.sum("n").cast("double") / nc).alias("pb"))
    j = pa.join(pb, "bin", "left").select(
        "bin", "pa", F.coalesce("pb", F.lit(0.0)).alias("pb")
    )
    return j.select(
        F.col("bin").cast("long").alias("bin"),
        F.round("pa", 4).alias("frac_base"),
        F.round("pb", 4).alias("frac_cur"),
        F.round(
            (F.col("pb") - F.col("pa"))
            * F.log(
                F.greatest(F.col("pb"), F.lit(0.0001))
                / F.greatest(F.col("pa"), F.lit(0.0001))
            ),
            4,
        ).alias("psi_term"),
    )


# ---------------------------------------------------------------------------
# Rolling 7-day distinct users (the WAU curve). COUNT(DISTINCT) is not
# a window aggregate in any engine at scale; the scalable exact form:
# collapse to distinct (day, user) pairs (one mergeable groupBy), then
# for each day of the spine count pairs within its trailing window via
# a range-condition join — |pairs| x 7 intermediate, linear in data,
# no per-day re-scan, no window state. The approximate twin at extreme
# cardinality is hll_daily_distinct (sketch union over the window).
# ---------------------------------------------------------------------------
@defquery(
    "rolling_wau",
    """
    WITH du AS (
      SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
    ),
    days AS (SELECT DISTINCT day FROM du)
    SELECT CAST(d.day AS VARCHAR) AS day,
           CAST(COUNT(DISTINCT u.user_id) AS BIGINT) AS wau
    FROM days d
    JOIN du u ON u.day BETWEEN d.day - INTERVAL 6 DAY AND d.day
    GROUP BY d.day
    """,
    doc="rolling 7-day distinct users (WAU): distinct (day,user) pairs "
    "joined to the day spine on a trailing range — exact, linear, no "
    "window distinct state; hll_daily_distinct is the sketch twin",
    tags=("timeseries", "aggregate", "distinct"),
)
def q_rolling_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    du = ev.select(
        F.col("ts").cast("date").alias("day"), "user_id"
    ).distinct()
    days = du.select(F.col("day").alias("d")).distinct()
    j = days.join(
        du,
        (F.col("day") >= F.date_sub(F.col("d"), 6)) & (F.col("day") <= F.col("d")),
    )
    return j.groupBy(F.col("d")).agg(
        F.countDistinct("user_id").cast("long").alias("wau")
    ).select(F.date_format("d", "yyyy-MM-dd").alias("day"), "wau")


# ---------------------------------------------------------------------------
# Column-profile drift: the schema/quality companion of the PSI value
# check — per column, null-rate and distinct-cardinality change between
# the baseline and current periods. Runs the Expand-free profile
# (operators/quality.py) once per period and joins the two one-row-per-
# column frames; the oracle recomputes both profiles directly.
# ---------------------------------------------------------------------------
_DRIFT_COLS = ["o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"]


def _drift_side_sql(pred: str, alias: str) -> str:
    parts = []
    for c in _DRIFT_COLS:
        parts.append(f"""
        SELECT '{c}' AS col,
               CAST(COUNT(*) AS BIGINT) AS n_{alias},
               CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                 AS null_{alias},
               CAST(COUNT(DISTINCT {c}) AS BIGINT) AS dist_{alias}
        FROM orders WHERE {pred}
        """)
    return " UNION ALL ".join(parts)


@defquery(
    "profile_drift",
    f"""
    WITH b AS ({_drift_side_sql("o_orderdate < '1998-01-01'", 'b')}),
    c AS ({_drift_side_sql("o_orderdate >= '1998-01-01'", 'c')})
    SELECT b.col,
           ROUND(CAST(null_b AS DOUBLE) / n_b, 4) AS null_rate_base,
           ROUND(CAST(null_c AS DOUBLE) / n_c, 4) AS null_rate_cur,
           dist_b, dist_c,
           ROUND(CAST(dist_c AS DOUBLE) * n_b / (CAST(dist_b AS DOUBLE) * n_c), 4)
             AS dist_density_ratio
    FROM b JOIN c USING (col)
    """,
    doc="column-profile drift: null-rate and distinct-density change "
    "between baseline and current periods (schema/quality companion of "
    "psi_drift_check)",
    tags=("quality", "drift", "profiling"),
)
def q_profile_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from shared_etl_pipelines_spark.operators.quality import profile_columns

    o = _t(spark, sf_dir, "orders")
    cutoff = F.lit("1998-01-01").cast("date")
    d = F.col("o_orderdate").cast("date")
    base = profile_columns(o.filter(d < cutoff), _DRIFT_COLS).select(
        "col",
        F.col("n").alias("n_b"),
        F.col("n_null").alias("null_b"),
        F.col("n_distinct").alias("dist_b"),
    )
    cur = profile_columns(o.filter(d >= cutoff), _DRIFT_COLS).select(
        "col",
        F.col("n").alias("n_c"),
        F.col("n_null").alias("null_c"),
        F.col("n_distinct").alias("dist_c"),
    )
    j = base.join(cur, "col")
    return j.select(
        "col",
        F.round(F.col("null_b").cast("double") / F.col("n_b"), 4).alias(
            "null_rate_base"
        ),
        F.round(F.col("null_c").cast("double") / F.col("n_c"), 4).alias(
            "null_rate_cur"
        ),
        F.col("dist_b"),
        F.col("dist_c"),
        F.round(
            F.col("dist_c").cast("double")
            * F.col("n_b")
            / (F.col("dist_b").cast("double") * F.col("n_c")),
            4,
        ).alias("dist_density_ratio"),
    )


# ---------------------------------------------------------------------------
# Conversion latency: the time-to-convert distribution (view -> first
# qualifying purchase per user), p50/p90 in minutes — the metric next
# to event_funnel's stage counts. Exact percentiles over per-user
# scalars (one row per converting user — tiny), integer minutes so the
# hashes are summation-order-free.
# ---------------------------------------------------------------------------
@defquery(
    "conversion_latency",
    """
    WITH v AS (
      SELECT user_id, MIN(ts) AS t_view FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    p AS (
      SELECT e.user_id, MIN(e.ts) AS t_buy
      FROM events e JOIN v ON e.user_id = v.user_id AND e.ts > v.t_view
      WHERE e.event_type = 'purchase'
      GROUP BY e.user_id
    ),
    lat AS (
      SELECT CAST(FLOOR(date_diff('second', v.t_view, p.t_buy) / 60.0) AS BIGINT)
               AS mins
      FROM v JOIN p ON v.user_id = p.user_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_converted,
           CAST(FLOOR(quantile_cont(mins, 0.5)) AS BIGINT) AS p50_mins,
           CAST(FLOOR(quantile_cont(mins, 0.9)) AS BIGINT) AS p90_mins,
           CAST(MAX(mins) AS BIGINT) AS max_mins
    FROM lat
    """,
    doc="conversion latency: minutes from first view to first subsequent "
    "purchase per user; floored continuous p50/p90 over integer minutes",
    tags=("analytics", "funnel", "percentile"),
)
def q_conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    v = ev.filter(F.col("event_type") == "view").groupBy("user_id").agg(
        F.min("ts").alias("t_view")
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_buy"))
    )
    lat = v.join(p, "user_id").select(
        F.floor(
            (F.unix_timestamp("t_buy") - F.unix_timestamp("t_view")) / 60.0
        ).cast("long").alias("mins")
    )
    return lat.agg(
        F.count(F.lit(1)).alias("n_converted"),
        F.floor(F.percentile("mins", F.lit(0.5))).cast("long").alias("p50_mins"),
        F.floor(F.percentile("mins", F.lit(0.9))).cast("long").alias("p90_mins"),
        F.max("mins").cast("long").alias("max_mins"),
    )


# ---------------------------------------------------------------------------
# Last-touch attribution: credit each purchase to the most recent
# preceding non-purchase event of the same user. One window pass per
# user (LAG over the filtered union is wrong — the previous event may
# be any type, so the window runs over ALL events ordered by ts with
# event_id as the deterministic tie-breaker), then aggregate credited
# touch types. Scale: single hash-partition-by-user exchange; the
# window state is O(1) per user (last non-purchase seen).
# ---------------------------------------------------------------------------
@defquery(
    "attribution_last_touch",
    """
    WITH seq AS (
      SELECT user_id, event_type, value, ts, event_id,
             LAST_VALUE(CASE WHEN event_type <> 'purchase'
                             THEN event_type END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS touch_type
      FROM events
    )
    SELECT touch_type,
           CAST(COUNT(*) AS BIGINT) AS n_conversions,
           CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT)
             AS credited_value_cents
    FROM seq
    WHERE event_type = 'purchase' AND touch_type IS NOT NULL
    GROUP BY touch_type
    """,
    doc="last-touch attribution: each purchase credited to the user's most "
    "recent preceding non-purchase event type — one window pass, exact "
    "integer-cents credited value",
    tags=("window", "aggregate", "funnel"),
)
def q_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events").select(
        "user_id", "event_type", "value", "ts", "event_id"
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.last(
        F.when(F.col("event_type") != "purchase", F.col("event_type")),
        ignorenulls=True,
    ).over(w)
    seq = e.withColumn("touch_type", touch)
    return (
        seq.filter(
            (F.col("event_type") == "purchase") & F.col("touch_type").isNotNull()
        )
        .groupBy("touch_type")
        .agg(
            F.count(F.lit(1)).alias("n_conversions"),
            F.sum(F.round(F.col("value") * 100, 0).cast("long"))
            .cast("long")
            .alias("credited_value_cents"),
        )
    )


# ---------------------------------------------------------------------------
# First-order Markov transition matrix over event types: consecutive
# event pairs per user (LAG window), counts and per-from-state
# probabilities. Probabilities divide two exact integer counts, so the
# 4-decimal rounding is deterministic across engines.
# ---------------------------------------------------------------------------
@defquery(
    "markov_event_transitions",
    """
    WITH pairs AS (
      SELECT LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS from_type,
             event_type AS to_type
      FROM events
    ),
    cnt AS (
      SELECT from_type, to_type, COUNT(*) AS n
      FROM pairs WHERE from_type IS NOT NULL
      GROUP BY from_type, to_type
    )
    SELECT from_type, to_type,
           CAST(n AS BIGINT) AS n_transitions,
           ROUND(CAST(n AS DOUBLE) /
                 SUM(n) OVER (PARTITION BY from_type), 4) AS p_transition
    FROM cnt
    """,
    doc="first-order Markov transition matrix of user event sequences — "
    "LAG pairs, exact counts, deterministic probability rounding",
    tags=("window", "aggregate", "statistics"),
)
def q_markov_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events").select("user_id", "event_type", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = e.select(
        F.lag("event_type").over(w).alias("from_type"),
        F.col("event_type").alias("to_type"),
    ).filter(F.col("from_type").isNotNull())
    cnt = pairs.groupBy("from_type", "to_type").agg(F.count(F.lit(1)).alias("n"))
    wf = Window.partitionBy("from_type")
    return cnt.select(
        "from_type",
        "to_type",
        F.col("n").cast("long").alias("n_transitions"),
        F.round(F.col("n").cast("double") / F.sum("n").over(wf), 4).alias(
            "p_transition"
        ),
    )


# ---------------------------------------------------------------------------
# Count-min-prefiltered exact heavy hitters over part demand. The
# answer equals the plain GROUP BY / HAVING oracle; the sketch only
# prunes the exact-count shuffle to candidate keys (see
# operators/sketches.py for the two-pass exactness argument and the
# bounded depth*width driver collect).
# ---------------------------------------------------------------------------
@defquery(
    "heavy_demand_parts_sketch",
    """
    SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n
    FROM lineitem
    GROUP BY l_partkey
    HAVING COUNT(*) >= 40
    """,
    doc="exact heavy-demand parts (count >= 40) behind a count-min sketch "
    "prefilter: bounded-memory candidate pruning before the exact shuffle",
    tags=("aggregate", "sketch", "scale-path"),
)
def q_heavy_demand_parts_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from shared_etl_pipelines_spark.operators.sketches import (
        count_min_heavy_hitters,
    )

    li = _t(spark, sf_dir, "lineitem").select("l_partkey")
    return count_min_heavy_hitters(li, "l_partkey", threshold=40)


# ---------------------------------------------------------------------------
# Holt double exponential smoothing (operators/hypertable.py
# holt_linear_smooth): level+trend forecasting per event-type daily
# series — the short-horizon forecaster one step past ewma_daily_value.
# The recursion is sequential within a series, so each bounded series
# folds in ONE JVM-side F.aggregate pass (no Python, no per-row
# window); the oracle replays the identical IEEE walk as a recursive
# CTE. alpha=beta=0.5 are exact in binary, daily inputs are exact
# integer cents, and both engines evaluate the same expression tree in
# the same order, so the doubles agree bit-for-bit before rounding.
# ---------------------------------------------------------------------------
@defquery(
    "holt_linear_daily",
    """
    WITH RECURSIVE daily AS (
      SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
             CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS DOUBLE) AS v,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY strftime(ts, '%Y-%m-%d')) AS i
      FROM events GROUP BY event_type, strftime(ts, '%Y-%m-%d')
    ),
    rec AS (
      SELECT event_type, i, day, v, v AS l, CAST(0.0 AS DOUBLE) AS b,
             CAST(NULL AS DOUBLE) AS f
      FROM daily WHERE i = 1
      UNION ALL
      SELECT d.event_type, d.i, d.day, d.v,
             0.5 * d.v + 0.5 * (r.l + r.b),
             0.5 * ((0.5 * d.v + 0.5 * (r.l + r.b)) - r.l) + 0.5 * r.b,
             r.l + r.b
      FROM rec r JOIN daily d ON d.event_type = r.event_type AND d.i = r.i + 1
    )
    SELECT event_type, day, ROUND(v, 4) AS y, ROUND(f, 4) AS fitted,
           ROUND(l, 4) AS level, ROUND(b, 4) AS trend
    FROM rec WHERE i >= 2
    """,
    doc="Holt level+trend smoothing per event-type daily-cents series "
    "(alpha=beta=0.5, l1=y1, b1=0): one-step-ahead fitted forecast and "
    "post-update level/trend per day, folded in one JVM aggregate pass "
    "and replayed by the oracle's recursive CTE",
    tags=("timeseries", "forecast", "aggregate", "higher-order"),
)
def q_holt_linear_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    from shared_etl_pipelines_spark.operators.hypertable import (
        holt_linear_smooth,
    )

    e = _t(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.date_format("ts", "yyyy-MM-dd").alias("day")
    ).agg(
        F.sum(F.round(F.col("value") * 100, 0).cast("long"))
        .cast("double")
        .alias("v")
    )
    out = holt_linear_smooth(daily, ["event_type"], "day", "v")
    return round_floats(out)


# ---------------------------------------------------------------------------
# CUSUM changepoint detection per event type: cumulative sum of daily
# deviations from the series mean; the |S| argmax is the classic
# single-changepoint estimate. Daily values are integer cents (exact),
# the mean is exact-sum/count, and the running window sum accumulates
# in day order in both engines, so every float is deterministic.
# ---------------------------------------------------------------------------
@defquery(
    "cusum_changepoint",
    """
    WITH daily AS (
      SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
             SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS v_cents
      FROM events GROUP BY event_type, strftime(ts, '%Y-%m-%d')
    ),
    stats AS (
      SELECT event_type, AVG(CAST(v_cents AS DOUBLE)) AS mu
      FROM daily GROUP BY event_type
    ),
    cs AS (
      SELECT d.event_type, day,
             SUM(CAST(v_cents AS DOUBLE) - mu)
               OVER (PARTITION BY d.event_type ORDER BY day) AS s
      FROM daily d JOIN stats USING (event_type)
    )
    SELECT event_type, day AS change_day, ROUND(ABS(s), 4) AS cusum_abs
    FROM cs
    QUALIFY ROW_NUMBER() OVER (PARTITION BY event_type
                               ORDER BY ABS(s) DESC, day) = 1
    """,
    doc="CUSUM changepoint per event type: argmax |cumsum(daily - mean)| "
    "— exact integer daily sums, order-deterministic running sum",
    tags=("window", "timeseries", "statistics"),
)
def q_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.date_format("ts", "yyyy-MM-dd").alias("day")
    ).agg(
        F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("v_cents")
    )
    stats = daily.groupBy("event_type").agg(
        F.avg(F.col("v_cents").cast("double")).alias("mu")
    )
    wcs = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cs = daily.join(stats, "event_type").withColumn(
        "s", F.sum(F.col("v_cents").cast("double") - F.col("mu")).over(wcs)
    )
    wr = Window.partitionBy("event_type").orderBy(F.abs("s").desc(), "day")
    return (
        cs.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("day").alias("change_day"),
            F.round(F.abs("s"), 4).alias("cusum_abs"),
        )
    )


# ---------------------------------------------------------------------------
# Gaps-and-islands: longest consecutive-active-day streak per user via
# the date-minus-row_number grouping trick (one window + one aggregate,
# both on the user partition — a single exchange reused).
# ---------------------------------------------------------------------------
@defquery(
    "longest_user_streak",
    """
    WITH days AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
    g AS (
      SELECT user_id, d,
             d - CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d)
                      AS INTEGER) AS grp
      FROM days
    ),
    streaks AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS streak_len,
             strftime(MIN(d), '%Y-%m-%d') AS streak_start
      FROM g GROUP BY user_id, grp
    )
    SELECT user_id, streak_len, streak_start
    FROM streaks
    QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id
                               ORDER BY streak_len DESC, streak_start) = 1
    """,
    doc="gaps-and-islands: longest consecutive-day activity streak per "
    "user (date minus row_number grouping), earliest on ties",
    tags=("window", "timeseries"),
)
def q_longest_user_streak(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    days = e.select("user_id", F.to_date("ts").alias("d")).distinct()
    wd = Window.partitionBy("user_id").orderBy("d")
    g = days.withColumn(
        "grp", F.date_sub(F.col("d"), F.row_number().over(wd))
    )
    streaks = g.groupBy("user_id", "grp").agg(
        F.count(F.lit(1)).alias("streak_len"),
        F.date_format(F.min("d"), "yyyy-MM-dd").alias("streak_start"),
    )
    wr = Window.partitionBy("user_id").orderBy(
        F.col("streak_len").desc(), "streak_start"
    )
    return (
        streaks.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("streak_len").cast("long").alias("streak_len"), "streak_start")
    )


# ---------------------------------------------------------------------------
# Market-basket association rules at the brand grain: co-occurrence of
# brand pairs within an order, with support / confidence / lift from
# exact integer counts (deterministic ratios). The pair generation is a
# self-join on the order key — fanout is bounded by brands-per-order
# (<= 25), so the join output is linear in orders at any scale, not
# quadratic in the catalog.
# ---------------------------------------------------------------------------
@defquery(
    "basket_lift_pairs",
    """
    WITH ob AS (
      SELECT DISTINCT l_orderkey AS ok, p_brand AS b
      FROM lineitem, part WHERE p_partkey = l_partkey
    ),
    n AS (SELECT COUNT(DISTINCT ok) AS n_orders FROM ob),
    cb AS (SELECT b, COUNT(*) AS nb FROM ob GROUP BY b),
    pairs AS (
      SELECT a.b AS brand_a, c.b AS brand_b, COUNT(*) AS n_both
      FROM ob a JOIN ob c ON a.ok = c.ok AND a.b < c.b
      GROUP BY a.b, c.b
    )
    SELECT brand_a, brand_b,
           CAST(n_both AS BIGINT) AS n_both,
           ROUND(CAST(n_both AS DOUBLE) / n_orders, 4) AS support,
           ROUND(CAST(n_both AS DOUBLE) / ca.nb, 4) AS confidence,
           ROUND(CAST(n_both AS DOUBLE) * n_orders / (ca.nb * cc.nb), 4)
             AS lift
    FROM pairs, n, cb ca, cb cc
    WHERE ca.b = brand_a AND cc.b = brand_b AND n_both >= 3
    """,
    doc="market-basket association rules over brand pairs per order: "
    "support/confidence/lift from exact counts; pair fanout bounded by "
    "brands-per-order",
    tags=("join", "aggregate", "statistics"),
)
def q_basket_lift_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    ob = (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .select(F.col("l_orderkey").alias("ok"), F.col("p_brand").alias("b"))
        .distinct()
    )
    n = ob.agg(F.count_distinct("ok").alias("n_orders"))
    cb = ob.groupBy("b").agg(F.count(F.lit(1)).alias("nb"))
    a = ob.select(F.col("ok"), F.col("b").alias("brand_a"))
    c = ob.select(F.col("ok"), F.col("b").alias("brand_b"))
    pairs = (
        a.join(c, "ok")
        .filter(F.col("brand_a") < F.col("brand_b"))
        .groupBy("brand_a", "brand_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
        .filter(F.col("n_both") >= 3)
    )
    ca = cb.select(F.col("b").alias("brand_a"), F.col("nb").alias("na_"))
    cc = cb.select(F.col("b").alias("brand_b"), F.col("nb").alias("nb_"))
    j = (
        pairs.join(F.broadcast(ca), "brand_a")
        .join(F.broadcast(cc), "brand_b")
        .crossJoin(F.broadcast(n))
    )
    return j.select(
        "brand_a",
        "brand_b",
        F.col("n_both").cast("long").alias("n_both"),
        F.round(F.col("n_both").cast("double") / F.col("n_orders"), 4).alias(
            "support"
        ),
        F.round(F.col("n_both").cast("double") / F.col("na_"), 4).alias(
            "confidence"
        ),
        F.round(
            F.col("n_both").cast("double") * F.col("n_orders")
            / (F.col("na_") * F.col("nb_")),
            4,
        ).alias("lift"),
    )


# ---------------------------------------------------------------------------
# Sweep-line interval concurrency: how many orders are OPEN (ordered but
# not yet fully shipped) on the busiest day of each month. The classic
# "max concurrent calls" operator. Scale shape: the sweep never sorts raw
# rows globally — deltas are pre-aggregated per DAY first (bounded by the
# date domain, ~2.5k rows at any data scale), so the one ordered cumsum
# runs over the compressed day table, not the 100 TB fact table.
# ---------------------------------------------------------------------------
@defquery(
    "max_concurrent_open_orders",
    """
    WITH spans AS (
      SELECT o_orderkey,
             CAST(o_orderdate AS DATE) AS d0,
             CAST(MAX(l_shipdate) AS DATE) AS d1
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey
      GROUP BY o_orderkey, CAST(o_orderdate AS DATE)
    ),
    deltas AS (
      SELECT d0 AS day, COUNT(*) AS delta FROM spans GROUP BY d0
      UNION ALL
      SELECT d1 + INTERVAL 1 DAY AS day, -COUNT(*) AS delta
      FROM spans GROUP BY d1
    ),
    byday AS (SELECT day, SUM(delta) AS delta FROM deltas GROUP BY day),
    swept AS (
      SELECT day, SUM(delta) OVER (ORDER BY day) AS open_orders FROM byday
    )
    SELECT strftime(day, '%Y-%m') AS month,
           CAST(MAX(open_orders) AS BIGINT) AS max_open,
           strftime(MIN(CASE WHEN open_orders = mx THEN day END),
                    '%Y-%m-%d') AS peak_day
    FROM (SELECT *, MAX(open_orders) OVER
            (PARTITION BY strftime(day, '%Y-%m')) AS mx
          FROM swept)
    GROUP BY 1
    """,
    doc="sweep-line max concurrency: open orders per month peak, deltas "
    "pre-aggregated per day so the ordered cumsum runs over the bounded "
    "date domain, never the raw fact table",
    tags=("window", "sweep-line", "timeseries", "interval"),
)
def q_max_concurrent_open_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_orderdate").cast("date").alias("d0")
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    spans = (
        li.groupBy("l_orderkey")
        .agg(F.max(F.col("l_shipdate").cast("date")).alias("d1"))
        .join(o, F.col("l_orderkey") == o.o_orderkey)
    )
    starts = spans.groupBy(F.col("d0").alias("day")).agg(
        F.count(F.lit(1)).alias("delta")
    )
    ends = spans.groupBy(F.date_add("d1", 1).alias("day")).agg(
        (-F.count(F.lit(1))).alias("delta")
    )
    byday = (
        starts.unionByName(ends).groupBy("day").agg(F.sum("delta").alias("delta"))
    )
    # cumsum over the ~2.5k-row day table: bounded single partition by
    # construction (date-domain cardinality, not data cardinality)
    swept = byday.withColumn(
        "open_orders", F.sum("delta").over(Window.orderBy("day"))
    ).withColumn("month", F.date_format("day", "yyyy-MM"))
    mx = swept.withColumn(
        "mx", F.max("open_orders").over(Window.partitionBy("month"))
    )
    return mx.groupBy("month").agg(
        F.max("open_orders").cast("long").alias("max_open"),
        F.date_format(
            F.min(F.when(F.col("open_orders") == F.col("mx"), F.col("day"))),
            "yyyy-MM-dd",
        ).alias("peak_day"),
    )


# ---------------------------------------------------------------------------
# Autocorrelation function of the daily-revenue series at lags 1,2,3,7.
# Money is summed as exact integer cents (summation-order-proof), the
# series is the bounded per-day table, and each lag is a Pearson corr of
# (rev_t, rev_{t-lag}) pairs over the observed-day sequence (documented:
# row-lag over days present, not calendar-lag — both engines identical).
# ---------------------------------------------------------------------------
@defquery(
    "acf_daily_revenue",
    """
    WITH daily AS (
      SELECT CAST(l_shipdate AS DATE) AS day,
             SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100)
                 AS BIGINT)) AS cents
      FROM lineitem GROUP BY 1
    ),
    lagged AS (
      SELECT cents / 100.0 AS rev,
             LAG(cents, 1) OVER (ORDER BY day) / 100.0 AS rev_1,
             LAG(cents, 2) OVER (ORDER BY day) / 100.0 AS rev_2,
             LAG(cents, 3) OVER (ORDER BY day) / 100.0 AS rev_3,
             LAG(cents, 7) OVER (ORDER BY day) / 100.0 AS rev_7
      FROM daily
    )
    SELECT 1 AS lag, ROUND(CORR(rev, rev_1), 4) AS acf FROM lagged
    UNION ALL SELECT 2, ROUND(CORR(rev, rev_2), 4) FROM lagged
    UNION ALL SELECT 3, ROUND(CORR(rev, rev_3), 4) FROM lagged
    UNION ALL SELECT 7, ROUND(CORR(rev, rev_7), 4) FROM lagged
    """,
    doc="ACF of daily revenue at lags 1,2,3,7: exact-cents daily series, "
    "Pearson corr per lag — seasonality detector for forecast features",
    tags=("window", "statistics", "timeseries"),
)
def q_acf_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    daily = li.groupBy(F.col("l_shipdate").cast("date").alias("day")).agg(
        F.sum(
            F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100)
            .cast("long")
        ).alias("cents")
    )
    # bounded day table (~date-domain rows): single ordered window is safe
    w = Window.orderBy("day")
    lagged = daily.select(
        (F.col("cents") / 100.0).alias("rev"),
        (F.lag("cents", 1).over(w) / 100.0).alias("rev_1"),
        (F.lag("cents", 2).over(w) / 100.0).alias("rev_2"),
        (F.lag("cents", 3).over(w) / 100.0).alias("rev_3"),
        (F.lag("cents", 7).over(w) / 100.0).alias("rev_7"),
    )
    parts = [
        lagged.agg(
            F.lit(k).alias("lag"), F.round(F.corr("rev", f"rev_{k}"), 4).alias("acf")
        )
        for k in (1, 2, 3, 7)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# ---------------------------------------------------------------------------
# Pareto frontier (skyline): parts not dominated on (price low, size
# high). Never the O(n^2) dominance anti-join — two running-max window
# passes over the DISTINCT-price table: M_strict(p) = best size at any
# strictly lower price, M_tie(p) = best size at the same price. A part is
# on the frontier iff nothing strictly cheaper is at least as large and
# nothing at the same price is strictly larger. Distinct prices are the
# window's input (bounded by the price domain), joined back to parts.
# ---------------------------------------------------------------------------
@defquery(
    "pareto_frontier",
    """
    WITH pp AS (
      SELECT p_retailprice AS price, MAX(p_size) AS msize
      FROM part GROUP BY p_retailprice
    ),
    runs AS (
      SELECT price, msize,
             MAX(msize) OVER (ORDER BY price
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS m_strict
      FROM pp
    )
    SELECT p_partkey, ROUND(p_retailprice, 4) AS price,
           CAST(p_size AS BIGINT) AS size
    FROM part JOIN runs ON p_retailprice = runs.price
    WHERE (m_strict IS NULL OR m_strict < p_size) AND msize <= p_size
    """,
    doc="Pareto frontier / skyline on (min price, max size): running-max "
    "over distinct prices instead of the O(n^2) dominance anti-join",
    tags=("window", "skyline", "optimization"),
)
def q_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part")
    pp = part.groupBy(F.col("p_retailprice").alias("price")).agg(
        F.max("p_size").alias("msize")
    )
    # distinct-price table is bounded by the price domain; the ordered
    # running max runs over it, not over parts
    runs = pp.withColumn(
        "m_strict",
        F.max("msize").over(
            Window.orderBy("price").rowsBetween(Window.unboundedPreceding, -1)
        ),
    )
    j = part.join(runs, part.p_retailprice == runs.price)
    return j.filter(
        (F.col("m_strict").isNull() | (F.col("m_strict") < F.col("p_size")))
        & (F.col("msize") <= F.col("p_size"))
    ).select(
        "p_partkey",
        F.round("p_retailprice", 4).alias("price"),
        F.col("p_size").cast("long").alias("size"),
    )


# ---------------------------------------------------------------------------
# Run-length layout audit: how compressible is each column under the
# table's physical sort order (shipdate, orderkey, linenumber)? Parquet
# RLE/dict efficiency is determined by run counts, so this is the 100 TB
# layout-tuning companion to the z-order writer (operators/layout.py).
# Scale shape: the global lag never plans a single-partition window —
# rows are partitioned by year(shipdate) and each year's last row is
# copied into the next year's partition (the G2 cross-boundary trick),
# so every change-count is exact and fully parallel.
# ---------------------------------------------------------------------------
@defquery(
    "rle_compression_stats",
    """
    WITH ordered AS (
      SELECT l_returnflag, l_linestatus, CAST(l_shipdate AS DATE) AS sd,
             l_suppkey, l_partkey,
             LAG(l_returnflag)  OVER w AS p_rf,
             LAG(l_linestatus)  OVER w AS p_ls,
             LAG(CAST(l_shipdate AS DATE)) OVER w AS p_sd,
             LAG(l_suppkey)     OVER w AS p_sk,
             LAG(l_partkey)     OVER w AS p_pk
      FROM lineitem
      WINDOW w AS (ORDER BY l_shipdate, l_orderkey, l_linenumber)
    ),
    runs AS (
      SELECT
        SUM(CASE WHEN p_rf IS NULL OR l_returnflag != p_rf THEN 1 ELSE 0 END) AS r_rf,
        SUM(CASE WHEN p_ls IS NULL OR l_linestatus != p_ls THEN 1 ELSE 0 END) AS r_ls,
        SUM(CASE WHEN p_sd IS NULL OR sd != p_sd THEN 1 ELSE 0 END) AS r_sd,
        SUM(CASE WHEN p_sk IS NULL OR l_suppkey != p_sk THEN 1 ELSE 0 END) AS r_sk,
        SUM(CASE WHEN p_pk IS NULL OR l_partkey != p_pk THEN 1 ELSE 0 END) AS r_pk,
        COUNT(*) AS n
      FROM ordered
    )
    SELECT col, CAST(n_runs AS BIGINT) AS n_runs, CAST(n AS BIGINT) AS n_rows,
           ROUND(CAST(n AS DOUBLE) / n_runs, 4) AS avg_run_len
    FROM (
      SELECT 'l_returnflag' AS col, r_rf AS n_runs, n FROM runs
      UNION ALL SELECT 'l_linestatus', r_ls, n FROM runs
      UNION ALL SELECT 'l_shipdate', r_sd, n FROM runs
      UNION ALL SELECT 'l_suppkey', r_sk, n FROM runs
      UNION ALL SELECT 'l_partkey', r_pk, n FROM runs
    )
    """,
    doc="RLE layout audit: exact run counts per column under the sort "
    "order (shipdate, orderkey, linenumber) — year-partitioned lag with "
    "boundary-row copies, no single-partition window",
    tags=("window", "layout", "compression"),
)
def q_rle_compression_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        "l_linestatus",
        F.col("l_shipdate").cast("date").alias("sd"),
        "l_suppkey",
        "l_partkey",
        "l_orderkey",
        "l_linenumber",
    )
    cols = ["l_returnflag", "l_linestatus", "sd", "l_suppkey", "l_partkey"]
    li = li.withColumn("yr", F.year("sd"))
    # copy each year's last row (by the sort key) into the NEXT year's
    # partition so its first own row sees the correct predecessor
    w_desc = Window.partitionBy("yr").orderBy(
        F.col("sd").desc(), F.col("l_orderkey").desc(), F.col("l_linenumber").desc()
    )
    own = li.withColumn("part", F.col("yr")).withColumn("own", F.lit(1))
    boundary = (
        li.withColumn("rn", F.row_number().over(w_desc))
        .filter(F.col("rn") == 1)
        .drop("rn")
        .withColumn("part", F.col("yr") + 1)
        .withColumn("own", F.lit(0))
    )
    aug = own.unionByName(boundary)
    w = Window.partitionBy("part").orderBy("sd", "l_orderkey", "l_linenumber")
    lagged = aug.select(
        "own",
        *cols,
        *[F.lag(c).over(w).alias(f"p_{c}") for c in cols],
    ).filter(F.col("own") == 1)
    change = [
        F.sum(
            F.when(
                F.col(f"p_{c}").isNull() | (F.col(c) != F.col(f"p_{c}")), 1
            ).otherwise(0)
        ).alias(f"r_{c}")
        for c in cols
    ]
    runs = lagged.agg(*change, F.count(F.lit(1)).alias("n"))
    names = {
        "l_returnflag": "l_returnflag",
        "l_linestatus": "l_linestatus",
        "sd": "l_shipdate",
        "l_suppkey": "l_suppkey",
        "l_partkey": "l_partkey",
    }
    stack_args = ", ".join(f"'{names[c]}', r_{c}" for c in cols)
    out = runs.selectExpr(
        f"stack({len(cols)}, {stack_args}) AS (col, n_runs)", "n"
    )
    return out.select(
        "col",
        F.col("n_runs").cast("long").alias("n_runs"),
        F.col("n").cast("long").alias("n_rows"),
        F.round(F.col("n").cast("double") / F.col("n_runs"), 4).alias("avg_run_len"),
    )


# ---------------------------------------------------------------------------
# Sequential pattern mining (PrefixSpan's first level): the most frequent
# ordered event-type trigrams per user journey. One window pass per user
# (lead x2), then a map-side-combinable count — candidate generation is
# linear in events, never a self-join.
# ---------------------------------------------------------------------------
@defquery(
    "sequential_patterns",
    """
    WITH seq AS (
      SELECT event_type AS e1,
             LEAD(event_type, 1) OVER w AS e2,
             LEAD(event_type, 2) OVER w AS e3
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    tri AS (
      SELECT e1, e2, e3, COUNT(*) AS n FROM seq
      WHERE e2 IS NOT NULL AND e3 IS NOT NULL
      GROUP BY e1, e2, e3
    )
    SELECT e1, e2, e3, CAST(n AS BIGINT) AS n,
           CAST(ROW_NUMBER() OVER (ORDER BY n DESC, e1, e2, e3) AS BIGINT) AS rnk
    FROM tri QUALIFY rnk <= 25
    """,
    doc="sequential patterns: top-25 ordered event-type trigrams across "
    "user journeys — lead-window candidate generation, linear in events",
    tags=("window", "sequence", "mining"),
)
def q_sequential_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    ).filter(F.col("e2").isNotNull() & F.col("e3").isNotNull())
    tri = seq.groupBy("e1", "e2", "e3").agg(F.count(F.lit(1)).alias("n"))
    ranked = tri.withColumn(
        "rnk",
        F.row_number().over(Window.orderBy(F.col("n").desc(), "e1", "e2", "e3")),
    ).filter(F.col("rnk") <= 25)
    return ranked.select(
        "e1", "e2", "e3", F.col("n").cast("long"), F.col("rnk").cast("long")
    )


# ---------------------------------------------------------------------------
# Bloom-prefiltered semi-join (operators/bloom.py): monthly order volume
# for one customer segment. The bloom (built from the selective dim side
# in one bit_or aggregation pass, m/64 longs — a bounded, broadcast-sized
# driver roundtrip) filters the fact side inside whole-stage codegen
# BEFORE the shuffle; the exact semi-join then removes false positives,
# so the result is exactly the plain semi-join while only survivors are
# shuffled. The explicit form of Spark's AQE runtime filter, usable
# across operator boundaries AQE won't cross.
# ---------------------------------------------------------------------------
@defquery(
    "bloom_prefilter_join",
    """
    SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS month,
           COUNT(*) AS n_orders,
           ROUND(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) / 100.0, 4)
             AS revenue
    FROM orders
    WHERE o_custkey IN (SELECT c_custkey FROM customer
                        WHERE c_mktsegment = 'BUILDING')
    GROUP BY 1
    """,
    doc="bloom-prefiltered semi-join: explicit runtime filter (bit_or "
    "bloom words, JVM bit-test probe) ahead of the exact semi-join — "
    "identical result, survivor-only shuffle",
    tags=("join", "bloom", "runtime-filter", "scale"),
)
def q_bloom_prefilter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from shared_etl_pipelines_spark.operators.bloom import bloom_semi_join

    orders = _t(spark, sf_dir, "orders")
    dim = _t(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    # ~10-20 bits/key for the segment's customer count: 2^16 bits = 1024
    # words keeps the broadcast literal small and the probe cheap
    matched = bloom_semi_join(
        orders, dim, fact_key="o_custkey", dim_key="c_custkey", m_bits=1 << 16
    )
    return matched.groupBy(
        F.date_format(F.col("o_orderdate").cast("date"), "yyyy-MM").alias("month")
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")) / 100.0, 4
        ).alias("revenue"),
    )


# ---------------------------------------------------------------------------
# Leave-one-out target encoding — the ML feature-engineering op that
# turns a category into the mean target of its OTHER members (self
# excluded, so the feature never leaks the row's own label). Exact
# integer-cents sums make (sum - x_i) / (n - 1) order-deterministic.
# One groupBy + one broadcast join-back; no window, no per-row state.
# ---------------------------------------------------------------------------
@defquery(
    "target_encode_loo",
    """
    WITH g AS (
      SELECT l_returnflag AS cat,
             SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS cents,
             COUNT(*) AS n
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_orderkey, l_linenumber, l_returnflag AS cat,
           CAST(FLOOR((g.cents - CAST(ROUND(l_extendedprice * 100) AS BIGINT))
                      * 100.0 / (g.n - 1)) AS BIGINT) AS loo_mean_e4
    FROM lineitem JOIN g ON l_returnflag = g.cat
    """,
    doc="leave-one-out target encoding: per-category mean target "
    "excluding the row itself (no self-leakage), exact-cents sums, FLOOR-quantized 1e-4 price units",
    tags=("aggregate", "join", "ml-features"),
)
def q_target_encode_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_returnflag").alias("cat"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("x_cents"),
    )
    g = li.groupBy("cat").agg(
        F.sum("x_cents").alias("cents"), F.count(F.lit(1)).alias("n")
    )
    return li.join(F.broadcast(g), "cat").select(
        "l_orderkey",
        "l_linenumber",
        "cat",
        # FLOOR micro-quantization (1e-4 price units), not ROUND: the
        # quotient lands on exact .00005 decimal ties where Spark's
        # BigDecimal HALF_UP and DuckDB's binary-double round disagree;
        # floor of the identical IEEE quotient is engine-exact
        F.floor(
            (F.col("cents") - F.col("x_cents")) * 100.0 / (F.col("n") - 1)
        ).cast("long").alias("loo_mean_e4"),
    )


# ---------------------------------------------------------------------------
# Interval-union coverage (gaps-and-islands over time): each event opens
# a 30-minute activity interval; overlapping intervals merge, and the
# answer is each user's total covered seconds and merged-interval count.
# The "how much wall-clock was this entity active" operator. One window
# pass per user (running max of interval end), everything in exact epoch
# seconds.
# ---------------------------------------------------------------------------
@defquery(
    "interval_union_coverage",
    """
    WITH iv AS (
      -- FLOOR before the cast: DuckDB CAST(double AS BIGINT) rounds to
      -- nearest, Spark's timestamp->long truncates sub-second parts
      SELECT user_id,
             CAST(FLOOR(epoch(ts)) AS BIGINT) AS s0,
             CAST(FLOOR(epoch(ts)) AS BIGINT) + 1800 AS s1,
             event_id
      FROM events
    ),
    flagged AS (
      SELECT user_id, s0, s1, event_id,
             CASE WHEN MAX(s1) OVER (PARTITION BY user_id ORDER BY s0, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) >= s0
                  THEN 0 ELSE 1 END AS new_island
      FROM iv
    ),
    islands AS (
      -- the cumsum MUST share the flag window's total order (s0,
      -- event_id): with a different tie-break, a same-instant pair
      -- (flag 1, flag 0) can attach the 0-row to the PREVIOUS island
      SELECT user_id, s0, s1,
             SUM(new_island) OVER (PARTITION BY user_id ORDER BY s0, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      FROM flagged
    ),
    merged AS (
      SELECT user_id, island, MAX(s1) - MIN(s0) AS span
      FROM islands GROUP BY user_id, island
    )
    SELECT user_id, CAST(SUM(span) AS BIGINT) AS covered_seconds,
           COUNT(*) AS n_intervals
    FROM merged GROUP BY user_id
    """,
    doc="interval-union coverage per user: 30-min event intervals merged "
    "gaps-and-islands style (running-max end), exact epoch seconds",
    tags=("window", "interval", "sessionize"),
)
def q_interval_union_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        F.col("ts").cast("long").alias("s0"),
        (F.col("ts").cast("long") + 1800).alias("s1"),
        "event_id",
    )
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("s0", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = ev.withColumn(
        "new_island",
        F.when(F.max("s1").over(w_prev) >= F.col("s0"), 0).otherwise(1),
    )
    # same total order as the flag window — see the oracle comment
    w_cum = (
        Window.partitionBy("user_id")
        .orderBy("s0", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    islands = flagged.withColumn("island", F.sum("new_island").over(w_cum))
    merged = islands.groupBy("user_id", "island").agg(
        (F.max("s1") - F.min("s0")).alias("span")
    )
    return merged.groupBy("user_id").agg(
        F.sum("span").cast("long").alias("covered_seconds"),
        F.count(F.lit(1)).alias("n_intervals"),
    )


# ---------------------------------------------------------------------------
# Benford first-digit audit — the classic fabricated-numbers detector:
# naturally occurring money amounts follow P(d) = log10(1 + 1/d). The
# first significant digit comes from the exact integer-cents STRING, not
# floor(log10(x)) — log10 on a double at a power-of-ten boundary is an
# engine-dependent ulp coin-flip; substr of an exact integer is not.
# One mergeable aggregation; the chi-square stat says how far the ledger
# deviates.
# ---------------------------------------------------------------------------
@defquery(
    "benford_first_digit",
    """
    WITH d AS (
      SELECT CAST(substr(CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT)
                         AS VARCHAR), 1, 1) AS INTEGER) AS digit
      FROM orders WHERE o_totalprice > 0
    ),
    c AS (SELECT digit, COUNT(*) AS n FROM d GROUP BY digit),
    t AS (SELECT SUM(n) AS total FROM c)
    SELECT digit, CAST(n AS BIGINT) AS n,
           ROUND(CAST(n AS DOUBLE) / total, 4) AS observed_p,
           ROUND(LOG10(1 + 1.0 / digit), 4) AS benford_p,
           ROUND(POWER(CAST(n AS DOUBLE) / total - LOG10(1 + 1.0 / digit), 2)
                 / LOG10(1 + 1.0 / digit) * total, 4) AS chi2_term
    FROM c, t
    """,
    doc="Benford's-law first-digit audit over order totals: digit from "
    "the exact cents string (no log10-on-double boundary), observed vs "
    "expected share + per-digit chi-square contribution",
    tags=("aggregate", "statistics", "quality", "fraud"),
)
def q_benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    d = o.select(
        F.substring(
            F.round(F.col("o_totalprice") * 100).cast("long").cast("string"), 1, 1
        )
        .cast("int")
        .alias("digit")
    )
    c = d.groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    t = c.agg(F.sum("n").alias("total"))
    j = c.crossJoin(F.broadcast(t))
    obs = F.col("n").cast("double") / F.col("total")
    exp = F.log10(1 + 1.0 / F.col("digit"))
    return j.select(
        "digit",
        F.col("n").cast("long").alias("n"),
        F.round(obs, 4).alias("observed_p"),
        F.round(exp, 4).alias("benford_p"),
        F.round(F.pow(obs - exp, 2) / exp * F.col("total"), 4).alias("chi2_term"),
    )


# ---------------------------------------------------------------------------
# Incremental JOIN maintenance — the delta-propagation rule for a
# materialized join view: Δ(A ⋈ B) = ΔA ⋈ B_new ∪ A_old ⋈ ΔB.
# Here the "view" is orders ⋈ customer monthly revenue by segment; the
# simulated batch is orders after a cutoff (ΔA) plus a segment change
# for a slice of customers (ΔB as before/after pairs). The refresh
# merges the old view state with delta terms — never rescanning old
# facts against old dims — and the oracle is the FULL recompute on the
# post-change state, pinning merge == recompute exactly.
# ---------------------------------------------------------------------------
@defquery(
    "incremental_join_refresh",
    """
    WITH cust2 AS (  -- post-change dimension: movers flip to 'MACHINERY'
      SELECT c_custkey,
             CASE WHEN c_custkey % 17 = 0 THEN 'MACHINERY'
                  ELSE c_mktsegment END AS seg
      FROM customer
    )
    SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS month, seg,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS cents,
           COUNT(*) AS n
    FROM orders JOIN cust2 ON o_custkey = c_custkey
    GROUP BY 1, 2
    """,
    doc="incremental materialized-JOIN maintenance: old view + dA><Bnew "
    "+ Aold><dB delta terms merged to the new view state; oracle is the "
    "full recompute, so green pins the delta algebra exactly",
    tags=("warehouse", "join", "incremental"),
)
def q_incremental_join_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").select(
        "o_custkey",
        F.col("o_orderdate").cast("date").alias("day"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    cust_old = _t(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_mktsegment").alias("seg")
    )
    mover = F.col("c_custkey") % 17 == 0
    cust_new = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        F.when(mover, "MACHINERY").otherwise(F.col("c_mktsegment")).alias("seg"),
    )
    cutoff = F.lit("2000-01-01").cast("date")
    a_old = orders.filter(F.col("day") < cutoff)
    d_a = orders.filter(F.col("day") >= cutoff)

    month = F.date_format("day", "yyyy-MM").alias("month")
    agg = lambda df: df.groupBy(month, "seg").agg(  # noqa: E731
        F.sum("cents").alias("cents"), F.count(F.lit(1)).alias("n")
    )
    # stored view state (built against the OLD dimension, as it would be)
    view_old = agg(a_old.join(F.broadcast(cust_old), orders.o_custkey == cust_old.c_custkey))
    # delta term 1: new facts against the NEW dimension
    t1 = agg(d_a.join(F.broadcast(cust_new), orders.o_custkey == cust_new.c_custkey))
    # delta term 2: old facts of CHANGED dim rows — retract the old
    # attribution (negative) and add the new one, without a full rescan
    movers_old = cust_old.filter(mover)
    movers_new = cust_new.filter(mover)
    retract = agg(
        a_old.join(F.broadcast(movers_old), orders.o_custkey == movers_old.c_custkey)
    ).select("month", "seg", (-F.col("cents")).alias("cents"), (-F.col("n")).alias("n"))
    attach = agg(
        a_old.join(F.broadcast(movers_new), orders.o_custkey == movers_new.c_custkey)
    )
    merged = view_old.unionByName(t1).unionByName(retract).unionByName(attach)
    return (
        merged.groupBy("month", "seg")
        .agg(F.sum("cents").cast("long").alias("cents"),
             F.sum("n").alias("n"))
        .filter(F.col("n") > 0)
    )


# ---------------------------------------------------------------------------
# Rank-movement report: each brand's monthly revenue rank and its shift
# vs the previous month. Windows run over the bounded (month x brand)
# aggregate, never raw rows; the rank and the lag share one partition
# layout.
# ---------------------------------------------------------------------------
@defquery(
    "brand_rank_shift",
    """
    WITH m AS (
      SELECT strftime(CAST(l_shipdate AS DATE), '%Y-%m') AS month, p_brand,
             SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100)
                 AS BIGINT)) AS cents
      FROM lineitem JOIN part ON l_partkey = p_partkey
      GROUP BY 1, 2
    ),
    r AS (
      SELECT month, p_brand, cents,
             ROW_NUMBER() OVER (PARTITION BY month
                                ORDER BY cents DESC, p_brand) AS rnk
      FROM m
    )
    SELECT month, p_brand, revenue, rnk, rank_gain FROM (
      -- lag BEFORE the top-5 filter: the shift is against the brand's
      -- true previous rank, not its previous top-5 appearance
      SELECT month, p_brand, ROUND(cents / 100.0, 4) AS revenue,
             CAST(rnk AS BIGINT) AS rnk,
             CAST(LAG(rnk) OVER (PARTITION BY p_brand ORDER BY month)
                  - rnk AS BIGINT) AS rank_gain
      FROM r
    ) WHERE rnk <= 5
    """,
    doc="rank-movement BI report: top-5 brands per month by revenue with "
    "rank shift vs previous month — windows over the bounded aggregate",
    tags=("window", "ranking", "timeseries"),
)
def q_brand_rank_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    m = (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .groupBy(
            F.date_format(F.col("l_shipdate").cast("date"), "yyyy-MM").alias(
                "month"
            ),
            "p_brand",
        )
        .agg(
            F.sum(
                F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100)
                .cast("long")
            ).alias("cents")
        )
    )
    w_rank = Window.partitionBy("month").orderBy(F.col("cents").desc(), "p_brand")
    r = m.withColumn("rnk", F.row_number().over(w_rank))
    w_lag = Window.partitionBy("p_brand").orderBy("month")
    return (
        r.withColumn("rank_gain", (F.lag("rnk").over(w_lag) - F.col("rnk")).cast("long"))
        .filter(F.col("rnk") <= 5)
        .select(
            "month",
            "p_brand",
            F.round(F.col("cents") / 100.0, 4).alias("revenue"),
            F.col("rnk").cast("long").alias("rnk"),
            "rank_gain",
        )
    )


# ---------------------------------------------------------------------------
# New-vs-returning split per day — the growth dashboard's base metric.
# First-touch day per user is one pre-aggregation; the daily split is a
# conditional count against it. No window over raw events.
# ---------------------------------------------------------------------------
@defquery(
    "new_vs_returning",
    """
    WITH first_touch AS (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS d0 FROM events GROUP BY user_id
    ),
    daily AS (
      SELECT CAST(ts AS DATE) AS day, e.user_id, f.d0
      FROM events e JOIN first_touch f ON e.user_id = f.user_id
      GROUP BY CAST(ts AS DATE), e.user_id, f.d0
    )
    SELECT strftime(day, '%Y-%m-%d') AS day,
           CAST(COUNT(*) FILTER (WHERE day = d0) AS BIGINT) AS new_users,
           CAST(COUNT(*) FILTER (WHERE day > d0) AS BIGINT) AS returning_users
    FROM daily GROUP BY day
    """,
    doc="daily new-vs-returning user split: first-touch pre-aggregation "
    "+ conditional counts — no window over raw events",
    tags=("aggregate", "timeseries", "growth"),
)
def q_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.col("ts").cast("date").alias("day")
    )
    first = ev.groupBy("user_id").agg(F.min("day").alias("d0"))
    daily = ev.distinct().join(first, "user_id")
    return daily.groupBy(
        F.date_format("day", "yyyy-MM-dd").alias("day")
    ).agg(
        F.count(F.when(F.col("day") == F.col("d0"), 1)).cast("long").alias("new_users"),
        F.count(F.when(F.col("day") > F.col("d0"), 1))
        .cast("long")
        .alias("returning_users"),
    )


# ---------------------------------------------------------------------------
# Wilson score interval for per-type conversion rates — the A/B-test
# readout that stays valid at small n (a plain normal interval lies).
# Deterministic closed form over exact integer counts; one aggregation.
# ---------------------------------------------------------------------------
@defquery(
    "conversion_wilson_ci",
    """
    WITH peruser AS (
      SELECT user_id,
             MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS saw,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS bought
      FROM events GROUP BY user_id
    ),
    agg AS (
      SELECT CAST(SUM(saw) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN saw = 1 AND bought = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS k
      FROM peruser
    )
    SELECT n, k,
           ROUND(CAST(k AS DOUBLE) / n, 4) AS p_hat,
           ROUND((k + 1.9208) / (n + 3.8416)
                 - 1.96 * SQRT((CAST(k AS DOUBLE) * (n - k)) / n + 0.9604)
                   / (n + 3.8416), 4) AS wilson_lo,
           ROUND((k + 1.9208) / (n + 3.8416)
                 + 1.96 * SQRT((CAST(k AS DOUBLE) * (n - k)) / n + 0.9604)
                   / (n + 3.8416), 4) AS wilson_hi
    FROM agg
    """,
    doc="Wilson 95% score interval for view->purchase conversion: exact "
    "integer counts, closed-form bounds identical in both engines",
    tags=("aggregate", "statistics", "ab-test"),
)
def q_conversion_wilson_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    peruser = ev.groupBy("user_id").agg(
        F.max(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias("saw"),
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "bought"
        ),
    )
    agg = peruser.agg(
        F.sum("saw").cast("long").alias("n"),
        F.sum(
            F.when((F.col("saw") == 1) & (F.col("bought") == 1), 1).otherwise(0)
        )
        .cast("long")
        .alias("k"),
    )
    n = F.col("n")
    k = F.col("k").cast("double")
    center = (k + 1.9208) / (n + 3.8416)
    half = 1.96 * F.sqrt((k * (n - F.col("k"))) / n + 0.9604) / (n + 3.8416)
    return agg.select(
        "n",
        "k",
        F.round(k / n, 4).alias("p_hat"),
        F.round(center - half, 4).alias("wilson_lo"),
        F.round(center + half, 4).alias("wilson_hi"),
    )


# ---------------------------------------------------------------------------
# Key-skew diagnosis — the report you run BEFORE picking a partitioning
# key at 100 TB: per-key share of the biggest keys, decile concentration
# and the Gini coefficient of the key-frequency distribution. Everything
# windows over the bounded distinct-key table (one groupBy of the fact,
# then key-domain-sized math), never raw rows.
# ---------------------------------------------------------------------------
@defquery(
    "key_skew_report",
    """
    WITH kc AS (
      SELECT l_suppkey AS key, COUNT(*) AS n FROM lineitem GROUP BY l_suppkey
    ),
    ranked AS (
      SELECT key, n,
             ROW_NUMBER() OVER (ORDER BY n, key) AS r,
             COUNT(*) OVER () AS nk,
             SUM(n) OVER () AS total
      FROM kc
    ),
    g AS (
      SELECT MAX(nk) AS nk, MAX(total) AS total,
             SUM(CAST(r AS DOUBLE) * n) AS rn_sum,
             MAX(CASE WHEN r = nk THEN n END) AS top1,
             SUM(CASE WHEN r > nk - 10 THEN n ELSE 0 END) AS top10
      FROM ranked
    )
    SELECT CAST(nk AS BIGINT) AS n_keys,
           CAST(total AS BIGINT) AS n_rows,
           ROUND(CAST(top1 AS DOUBLE) / total, 4) AS top1_share,
           ROUND(CAST(top10 AS DOUBLE) / total, 4) AS top10_share,
           ROUND(2 * rn_sum / (nk * total) - CAST(nk + 1 AS DOUBLE) / nk, 4)
             AS gini
    FROM g
    """,
    doc="partitioning-key skew report: top-1/top-10 share and Gini "
    "coefficient of the key-frequency distribution — windows over the "
    "bounded distinct-key table only",
    tags=("aggregate", "skew", "diagnostics", "scale"),
)
def q_key_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    kc = li.groupBy(F.col("l_suppkey").alias("key")).agg(
        F.count(F.lit(1)).alias("n")
    )
    # distinct-key table is bounded; single-partition windows acceptable
    ranked = (
        kc.withColumn("r", F.row_number().over(Window.orderBy("n", "key")))
        .withColumn("nk", F.count(F.lit(1)).over(Window.partitionBy()))
        .withColumn("total", F.sum("n").over(Window.partitionBy()))
    )
    g = ranked.agg(
        F.max("nk").alias("nk"),
        F.max("total").alias("total"),
        F.sum(F.col("r").cast("double") * F.col("n")).alias("rn_sum"),
        F.max(F.when(F.col("r") == F.col("nk"), F.col("n"))).alias("top1"),
        F.sum(
            F.when(F.col("r") > F.col("nk") - 10, F.col("n")).otherwise(0)
        ).alias("top10"),
    )
    return g.select(
        F.col("nk").cast("long").alias("n_keys"),
        F.col("total").cast("long").alias("n_rows"),
        F.round(F.col("top1").cast("double") / F.col("total"), 4).alias(
            "top1_share"
        ),
        F.round(F.col("top10").cast("double") / F.col("total"), 4).alias(
            "top10_share"
        ),
        F.round(
            2 * F.col("rn_sum") / (F.col("nk") * F.col("total"))
            - (F.col("nk") + 1).cast("double") / F.col("nk"),
            4,
        ).alias("gini"),
    )


# ---------------------------------------------------------------------------
# Conversion funnel with per-stage time windows — the realistic funnel:
# a click only counts within 1 hour of the first view, a purchase only
# within 24 hours of that click. Same one-aggregation-per-stage shape
# as event_funnel (user-partitioned joins, no window over raw events),
# plus the interval predicates on exact epoch seconds.
# ---------------------------------------------------------------------------
@defquery(
    "funnel_within_windows",
    """
    WITH v AS (
      SELECT user_id, MIN(CAST(FLOOR(epoch(ts)) AS BIGINT)) AS t_view
      FROM events WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, MIN(CAST(FLOOR(epoch(ts)) AS BIGINT)) AS t_click
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE event_type = 'click'
        AND CAST(FLOOR(epoch(ts)) AS BIGINT) > v.t_view
        AND CAST(FLOOR(epoch(ts)) AS BIGINT) <= v.t_view + 3600
      GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, MIN(CAST(FLOOR(epoch(ts)) AS BIGINT)) AS t_buy
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE event_type = 'purchase'
        AND CAST(FLOOR(epoch(ts)) AS BIGINT) > c.t_click
        AND CAST(FLOOR(epoch(ts)) AS BIGINT) <= c.t_click + 86400
      GROUP BY e.user_id
    )
    SELECT 'view' AS stage, COUNT(*) AS users FROM v
    UNION ALL SELECT 'click_1h', COUNT(*) FROM c
    UNION ALL SELECT 'purchase_24h', COUNT(*) FROM p
    """,
    doc="time-window funnel: click within 1h of first view, purchase "
    "within 24h of that click — stage joins reuse the user partitioning, "
    "exact epoch-second interval predicates",
    tags=("join", "funnel", "timeseries"),
)
def q_funnel_within_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_type", F.col("ts").cast("long").alias("s")
    )
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("s").alias("t_view"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter((F.col("s") > F.col("t_view")) & (F.col("s") <= F.col("t_view") + 3600))
        .groupBy("user_id")
        .agg(F.min("s").alias("t_click"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(
            (F.col("s") > F.col("t_click")) & (F.col("s") <= F.col("t_click") + 86400)
        )
        .groupBy("user_id")
        .agg(F.min("s").alias("t_buy"))
    )
    out = (
        v.agg(F.lit("view").alias("stage"), F.count(F.lit(1)).alias("users"))
        .unionByName(
            c.agg(F.lit("click_1h").alias("stage"), F.count(F.lit(1)).alias("users"))
        )
        .unionByName(
            p.agg(
                F.lit("purchase_24h").alias("stage"), F.count(F.lit(1)).alias("users")
            )
        )
    )
    return out


# ---------------------------------------------------------------------------
# Join-fanout audit — the guard you run before shipping a new join at
# 100 TB: per declared relationship, the max and mean fan-out per key on
# the many side. A key whose fan-out exploded (bad dedup upstream, a
# changed grain) multiplies the join output; this catches it in one
# aggregation per relationship, over the bounded key domain.
# ---------------------------------------------------------------------------
@defquery(
    "join_fanout_audit",
    """
    WITH lo AS (
      SELECT l_orderkey AS key, COUNT(*) AS n FROM lineitem GROUP BY 1
    ),
    oc AS (
      SELECT o_custkey AS key, COUNT(*) AS n FROM orders GROUP BY 1
    ),
    lp AS (
      SELECT l_partkey AS key, COUNT(*) AS n FROM lineitem GROUP BY 1
    )
    SELECT 'lineitem->orders' AS relation, COUNT(*) AS n_keys,
           CAST(MAX(n) AS BIGINT) AS max_fanout,
           ROUND(AVG(CAST(n AS DOUBLE)), 4) AS avg_fanout FROM lo
    UNION ALL
    SELECT 'orders->customer', COUNT(*), CAST(MAX(n) AS BIGINT),
           ROUND(AVG(CAST(n AS DOUBLE)), 4) FROM oc
    UNION ALL
    SELECT 'lineitem->part', COUNT(*), CAST(MAX(n) AS BIGINT),
           ROUND(AVG(CAST(n AS DOUBLE)), 4) FROM lp
    """,
    doc="join-fanout audit: per-relationship max/mean rows per key on "
    "the many side — the pre-flight multiplier check for new joins",
    tags=("aggregate", "quality", "diagnostics", "join"),
)
def q_join_fanout_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")

    def fanout(df, key, name):
        kc = df.groupBy(F.col(key).alias("key")).agg(
            F.count(F.lit(1)).alias("n")
        )
        return kc.agg(
            F.lit(name).alias("relation"),
            F.count(F.lit(1)).alias("n_keys"),
            F.max("n").cast("long").alias("max_fanout"),
            F.round(F.avg(F.col("n").cast("double")), 4).alias("avg_fanout"),
        )

    return (
        fanout(li, "l_orderkey", "lineitem->orders")
        .unionByName(fanout(o, "o_custkey", "orders->customer"))
        .unionByName(fanout(li, "l_partkey", "lineitem->part"))
    )


# ---------------------------------------------------------------------------
# Largest-remainder allocation (Hamilton apportionment) — distribute an
# integer budget across groups proportionally WITHOUT fractional drift:
# floor shares first, then the leftover units go to the largest
# fractional remainders (deterministic tie-break). The finance/quota
# primitive; everything is exact integer math, and the remainder rank
# runs over the bounded group table.
# ---------------------------------------------------------------------------
@defquery(
    "largest_remainder_alloc",
    """
    WITH g AS (
      SELECT n_name AS nation,
             SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS cents
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      GROUP BY n_name
    ),
    t AS (SELECT SUM(cents) AS total FROM g),
    shares AS (
      SELECT nation, cents,
             (cents * 10000) // total AS base_units,
             (cents * 10000) % total AS rem
      FROM g, t
    ),
    leftover AS (
      SELECT 10000 - SUM(base_units) AS extra FROM shares
    ),
    ranked AS (
      SELECT nation, cents, base_units,
             ROW_NUMBER() OVER (ORDER BY rem DESC, nation) AS rr
      FROM shares
    )
    SELECT nation,
           CAST(base_units + CASE WHEN rr <= extra THEN 1 ELSE 0 END
                AS BIGINT) AS units,
           CAST(cents AS BIGINT) AS cents
    FROM ranked, leftover
    """,
    doc="largest-remainder (Hamilton) allocation of a 10000-unit budget "
    "across nations by exact revenue cents: floor shares + remainder "
    "rank — allocations always sum exactly to the budget",
    tags=("aggregate", "window", "finance", "allocation"),
)
def q_largest_remainder_alloc(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").select(
        "o_custkey", F.round(F.col("o_totalprice") * 100).cast("long").alias("cents")
    )
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    g = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.sum("cents").alias("cents"))
    )
    t = g.agg(F.sum("cents").alias("total"))
    shares = g.crossJoin(F.broadcast(t)).select(
        "nation",
        "cents",
        # integer `div`, not double-divide-then-cast: a double quotient
        # one ulp under an exact integer would floor off by one
        F.expr("(cents * 10000L) div total").alias("base_units"),
        ((F.col("cents") * 10000) % F.col("total")).alias("rem"),
    )
    extra = shares.agg((F.lit(10000) - F.sum("base_units")).alias("extra"))
    ranked = shares.withColumn(
        "rr", F.row_number().over(Window.orderBy(F.col("rem").desc(), "nation"))
    )
    return ranked.crossJoin(F.broadcast(extra)).select(
        "nation",
        (
            F.col("base_units")
            + F.when(F.col("rr") <= F.col("extra"), 1).otherwise(0)
        )
        .cast("long")
        .alias("units"),
        F.col("cents").cast("long").alias("cents"),
    )


# ---------------------------------------------------------------------------
# Label propagation communities on the co-purchase graph — the third
# canonical distributed graph pattern next to connected components
# (dedup_clusters) and PageRank. Fully deterministic: synchronous
# schedule, (max count, min label) tie-break — so the FIXED 3-round run
# has an exact ANSI-SQL oracle (one CTE pair per round), unlike the
# PageRank fixpoint whose oracle covers only one step. Operator:
# operators/graph.py label_propagation.
# ---------------------------------------------------------------------------
def _lpa_sql(rounds: int = 3) -> str:
    ctes = [
        "l0 AS (SELECT DISTINCT s AS node, s AS label FROM e)",
    ]
    for r in range(1, rounds + 1):
        ctes.append(
            f"""c{r} AS (
      SELECT e.d AS node, l.label, COUNT(*) AS cnt
      FROM e JOIN l{r - 1} l ON e.s = l.node GROUP BY e.d, l.label
    ),
    l{r} AS (
      SELECT node, MIN(label) AS label FROM (
        SELECT node, label, cnt, MAX(cnt) OVER (PARTITION BY node) AS mx
        FROM c{r}
      ) WHERE cnt = mx GROUP BY node
    )"""
        )
    body = ",\n    ".join(ctes)
    return f"""
    WITH {_PR_EDGES_SQL.rstrip()},
    {body}
    SELECT CAST(node AS BIGINT) AS node, CAST(label AS BIGINT) AS label
    FROM l{rounds}
    """


@defquery(
    "label_prop_communities",
    _lpa_sql(3),
    doc="community detection by synchronous label propagation, 3 rounds, "
    "deterministic (max-count, min-label) tie-break; one join + one "
    "aggregation per round, argmax as a single max(struct) aggregate — "
    "hash-exact against a 3-round nested-CTE SQL oracle",
    tags=("graph", "iterative", "aggregate"),
)
def q_label_prop_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    from shared_etl_pipelines_spark.operators.graph import label_propagation

    out = label_propagation(_pr_edges(spark, sf_dir), iterations=3)
    return out.select(
        F.col("node").cast("long").alias("node"),
        F.col("label").cast("long").alias("label"),
    )


# ---------------------------------------------------------------------------
# k-core peeling on the co-purchase graph — the monotone-contraction
# iterative pattern (vs LPA's relabeling and PageRank's value
# iteration). Fixed 3 peel rounds at k=5 (the sf0.01 median degree), so
# the whole result is ANSI-expressible as nested CTEs.
# ---------------------------------------------------------------------------
def _kcore_sql(k: int = 5, rounds: int = 3) -> str:
    ctes = ["a0 AS (SELECT s, d FROM e)"]
    for r in range(1, rounds + 1):
        ctes.append(
            f"""k{r} AS (
      SELECT s FROM a{r - 1} GROUP BY s HAVING COUNT(*) >= {k}
    ),
    a{r} AS (
      SELECT a.s, a.d FROM a{r - 1} a
      WHERE a.s IN (SELECT s FROM k{r}) AND a.d IN (SELECT s FROM k{r})
    )"""
        )
    body = ",\n    ".join(ctes)
    return f"""
    WITH {_PR_EDGES_SQL.rstrip()},
    {body}
    SELECT CAST(s AS BIGINT) AS node, CAST(COUNT(*) AS BIGINT) AS degree
    FROM a{rounds} GROUP BY s
    """


@defquery(
    "kcore_peeling",
    _kcore_sql(5, 3),
    doc="k-core subgraph (k=5, 3 peel rounds): per round one degree "
    "aggregation + two semi-joins dropping nodes under degree k; "
    "monotone contraction makes the fixed-round result deterministic "
    "and fully SQL-expressible",
    tags=("graph", "iterative", "aggregate"),
)
def q_kcore_peeling(spark: SparkSession, sf_dir: str) -> DataFrame:
    from shared_etl_pipelines_spark.operators.graph import k_core

    out = k_core(_pr_edges(spark, sf_dir), k=5, rounds=3)
    return out.select(
        F.col("node").cast("long").alias("node"),
        F.col("degree").cast("long").alias("degree"),
    )


# ---------------------------------------------------------------------------
# KMV distinct sketch + set-operation estimates (Beyer et al. 2007) —
# the mergeable-sketch companion to hll_daily_distinct: where HLL gives
# distinct counts only, KMV additionally estimates UNION and
# INTERSECTION sizes between segments. All hash arithmetic is the house
# 28-bit md5 convention, so the estimates are deterministic and
# hash-exact against the SQL oracle.
# ---------------------------------------------------------------------------
_KMV_K = 128
_KMV_SQL = f"""
    WITH u AS (
      SELECT DISTINCT event_type AS segment,
             CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 7) AS BIGINT) AS h
      FROM events WHERE event_type IN ('view', 'click')
    ),
    sk AS (
      SELECT segment, h,
             ROW_NUMBER() OVER (PARTITION BY segment ORDER BY h) AS rn
      FROM u
    ),
    s AS (SELECT segment, h FROM sk WHERE rn <= {_KMV_K}),
    est AS (
      SELECT segment, COUNT(*) AS n_mem, MAX(h) AS kth,
             CASE WHEN COUNT(*) < {_KMV_K} THEN CAST(COUNT(*) AS DOUBLE)
                  ELSE {float((_KMV_K - 1) * (1 << 28))!r} / MAX(h) END AS est
      FROM s GROUP BY segment
    ),
    un AS (
      SELECT h, COUNT(*) AS sides FROM s GROUP BY h
    ),
    unk AS (
      SELECT h, sides, ROW_NUMBER() OVER (ORDER BY h) AS rn FROM un
    ),
    usk AS (SELECT h, sides FROM unk WHERE rn <= {_KMV_K}),
    uest AS (
      SELECT COUNT(*) AS n_mem, MAX(h) AS kth,
             SUM(CASE WHEN sides = 2 THEN 1 ELSE 0 END) AS n_both,
             CASE WHEN COUNT(*) < {_KMV_K} THEN CAST(COUNT(*) AS DOUBLE)
                  ELSE {float((_KMV_K - 1) * (1 << 28))!r} / MAX(h) END AS est_union
      FROM usk
    )
    SELECT ROUND(a.est, 4) AS est_view,
           ROUND(b.est, 4) AS est_click,
           ROUND(u.est_union, 4) AS est_union,
           ROUND(CAST(u.n_both AS DOUBLE) / u.n_mem * u.est_union, 4)
             AS est_intersection
    FROM est a, est b, uest u
    WHERE a.segment = 'view' AND b.segment = 'click'
    """


@defquery(
    "kmv_distinct_intersection",
    _KMV_SQL,
    doc="KMV (k-minimum-values) sketch, k=128: distinct-user estimates "
    "for the view/click segments plus union and intersection estimates "
    "from the merged sketch — the set-operation capability HLL lacks; "
    "deterministic 28-bit md5 hashes make it oracle-exact",
    tags=("sketch", "approx", "aggregate"),
)
def q_kmv_distinct_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from shared_etl_pipelines_spark.operators.sketches import (
        kmv_estimate,
        kmv_sketches,
    )

    ev = _t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "click")
    )
    # no persist: the sketch frame is tiny (<= 2k rows) and is read by
    # only two branches of one plan — caching it would just leak a
    # session-lifetime storage registration per run
    s = kmv_sketches(ev, "user_id", "event_type", k=_KMV_K).select("segment", "h")
    est = kmv_estimate(s, k=_KMV_K)
    un = s.groupBy("h").agg(F.count(F.lit(1)).alias("sides"))
    wu = Window.orderBy("h")
    usk = un.withColumn("rn", F.row_number().over(wu)).filter(
        F.col("rn") <= _KMV_K
    )
    uest = usk.agg(
        F.count(F.lit(1)).alias("n_mem"),
        F.max("h").alias("kth"),
        F.sum(F.when(F.col("sides") == 2, 1).otherwise(0)).alias("n_both"),
    ).select(
        "n_mem",
        "n_both",
        F.when(F.col("n_mem") < _KMV_K, F.col("n_mem").cast("double"))
        .otherwise(F.lit(float((_KMV_K - 1) * (1 << 28))) / F.col("kth"))
        .alias("est_union"),
    )
    a = est.filter(F.col("segment") == "view").select(
        F.col("est_distinct").alias("est_view")
    )
    b = est.filter(F.col("segment") == "click").select(
        F.col("est_distinct").alias("est_click")
    )
    out = (
        a.crossJoin(b)
        .crossJoin(uest)
        .select(
            F.round("est_view", 4).alias("est_view"),
            F.round("est_click", 4).alias("est_click"),
            F.round("est_union", 4).alias("est_union"),
            F.round(
                F.col("n_both").cast("double") / F.col("n_mem") * F.col("est_union"),
                4,
            ).alias("est_intersection"),
        )
    )
    return out


# ---------------------------------------------------------------------------
# Kaplan-Meier survival curve — time from first view to first purchase
# with right-censoring at the study end (global max event day). The
# whole estimator is integer event tables (durations, risk counts,
# event counts) plus ONE float step: the cumulative product
# prod(1 - d_i/n_i). Both engines fold that product over the SAME
# t-ordered list (Spark: collect_list window + F.aggregate fold;
# DuckDB: list(...) window + list_aggregate 'product'), so every factor
# and the multiplication order are bit-identical — no exp/sum/ln
# round-trip, whose libm last-ulp differences would leak through.
# ---------------------------------------------------------------------------
@defquery(
    "kaplan_meier_conversion",
    """
    WITH v AS (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS d0
      FROM events WHERE event_type = 'view' GROUP BY user_id
    ),
    p AS (
      SELECT e.user_id, MIN(CAST(e.ts AS DATE)) AS dp
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'purchase' AND CAST(e.ts AS DATE) >= v.d0
      GROUP BY e.user_id
    ),
    study AS (SELECT MAX(CAST(ts AS DATE)) AS dend FROM events),
    dur AS (
      SELECT v.user_id,
             CASE WHEN p.dp IS NOT NULL THEN datediff('day', v.d0, p.dp)
                  ELSE datediff('day', v.d0, study.dend) END AS t,
             CASE WHEN p.dp IS NOT NULL THEN 1 ELSE 0 END AS ev
      FROM v LEFT JOIN p ON v.user_id = p.user_id CROSS JOIN study
    ),
    byt AS (
      SELECT t, CAST(SUM(ev) AS BIGINT) AS d_i, CAST(COUNT(*) AS BIGINT) AS c_i
      FROM dur GROUP BY t
    ),
    risk AS (
      SELECT t, d_i,
             CAST(SUM(c_i) OVER (ORDER BY t DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS n_i
      FROM byt
    ),
    km AS (
      SELECT t, d_i, n_i,
             list(1.0 - CAST(d_i AS DOUBLE) / n_i)
               OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW) AS fs
      FROM risk WHERE d_i > 0
    )
    SELECT t AS t_days, n_i AS n_risk, d_i AS n_events,
           ROUND(list_aggregate(fs, 'product'), 4) AS surv
    FROM km
    """,
    doc="Kaplan-Meier survival: first-view -> first-purchase durations, "
    "right-censored at the study end; risk sets by reverse cumulative "
    "sum, survival as a t-ordered fold product so both engines multiply "
    "bit-identical factors in the same order",
    tags=("analytics", "survival", "window", "aggregate"),
)
def q_kaplan_meier_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min(F.to_date("ts")).alias("d0"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id", F.to_date("ts").alias("dpe"))
        .join(v, "user_id")
        .filter(F.col("dpe") >= F.col("d0"))
        .groupBy("user_id")
        .agg(F.min("dpe").alias("dp"))
    )
    dend = ev.agg(F.max(F.to_date("ts")).alias("dend"))
    dur = (
        v.join(p, "user_id", "left")
        .crossJoin(F.broadcast(dend))
        .select(
            F.when(
                F.col("dp").isNotNull(), F.datediff("dp", "d0")
            )
            .otherwise(F.datediff("dend", "d0"))
            .alias("t"),
            F.when(F.col("dp").isNotNull(), 1).otherwise(0).alias("ev"),
        )
    )
    byt = dur.groupBy("t").agg(
        F.sum("ev").cast("long").alias("d_i"),
        F.count(F.lit(1)).cast("long").alias("c_i"),
    )
    w_desc = (
        Window.orderBy(F.col("t").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    risk = byt.select(
        "t", "d_i", F.sum("c_i").over(w_desc).cast("long").alias("n_i")
    ).filter(F.col("d_i") > 0)
    w_asc = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    factors = risk.withColumn(
        "fs",
        F.collect_list(
            F.lit(1.0) - F.col("d_i").cast("double") / F.col("n_i")
        ).over(w_asc),
    )
    out = factors.select(
        F.col("t").alias("t_days"),
        F.col("n_i").alias("n_risk"),
        F.col("d_i").alias("n_events"),
        F.round(
            F.aggregate("fs", F.lit(1.0), lambda acc, x: acc * x), 4
        ).alias("surv"),
    )
    return out


# ---------------------------------------------------------------------------
# Theil-Sen robust trend — the robust-regression sibling of outlier_mad
# (median fences) and qty_price_regression (OLS): slope = exact median
# of all pairwise slopes of the per-type daily series, intercept =
# median(y - slope*x). A 29% contamination of wild days cannot move it,
# unlike OLS. Daily values are exact integer cents; the pairwise frame
# is bounded (days^2 per type) and both engines use exact interpolated
# medians (the zonal_stats precedent).
# ---------------------------------------------------------------------------
@defquery(
    "theil_sen_trend",
    """
    WITH daily AS (
      SELECT event_type,
             datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS x,
             SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS cents
      FROM events GROUP BY 1, 2
    ),
    pairs AS (
      SELECT a.event_type,
             CAST(b.cents - a.cents AS DOUBLE) / (b.x - a.x) AS slope
      FROM daily a JOIN daily b
        ON a.event_type = b.event_type AND a.x < b.x
    ),
    m AS (
      SELECT event_type, quantile_cont(slope, 0.5) AS slope
      FROM pairs GROUP BY event_type
    )
    SELECT d.event_type,
           ROUND(m.slope, 4) AS slope_cents_per_day,
           ROUND(quantile_cont(d.cents - m.slope * d.x, 0.5), 4)
             AS intercept_cents,
           CAST(COUNT(*) AS BIGINT) AS n_days
    FROM daily d JOIN m ON d.event_type = m.event_type
    GROUP BY d.event_type, m.slope
    """,
    doc="Theil-Sen robust trend per event type: exact median of all "
    "pairwise slopes of the daily cents series, median-residual "
    "intercept — a 29% outlier fraction cannot move it, unlike OLS",
    tags=("analytics", "robust", "regression", "aggregate"),
)
def q_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    daily = (
        ev.select(
            "event_type",
            F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date")).alias("x"),
            F.round(F.col("value") * 100, 0).cast("long").alias("c"),
        )
        .groupBy("event_type", "x")
        .agg(F.sum("c").alias("cents"))
    )
    b = daily.select(
        F.col("event_type").alias("et2"),
        F.col("x").alias("x2"),
        F.col("cents").alias("c2"),
    )
    pairs = daily.join(
        b, (daily.event_type == b.et2) & (daily.x < b.x2)
    ).select(
        "event_type",
        ((F.col("c2") - F.col("cents")).cast("double") / (F.col("x2") - F.col("x"))).alias(
            "slope"
        ),
    )
    m = pairs.groupBy("event_type").agg(
        F.percentile("slope", F.lit(0.5)).alias("slope")
    )
    resid = daily.join(m, "event_type").select(
        "event_type",
        "slope",
        (F.col("cents") - F.col("slope") * F.col("x")).alias("r"),
        "cents",
    )
    return resid.groupBy("event_type", "slope").agg(
        F.round(F.first("slope"), 4).alias("slope_cents_per_day"),
        F.round(F.percentile("r", F.lit(0.5)), 4).alias("intercept_cents"),
        F.count(F.lit(1)).cast("long").alias("n_days"),
    ).select("event_type", "slope_cents_per_day", "intercept_cents", "n_days")


# ---------------------------------------------------------------------------
# Exact ROC-AUC as a rank statistic — the standard evaluation aggregate
# for any scored binary label (quality classifiers, churn scores, dedup
# verdicts). AUC = P(score_pos > score_neg) + 0.5 * P(tie), computed
# WITHOUT materializing pairs: group rows by integer score (exact cents,
# so group keys are never floats), then one cumulative window over the
# bounded distinct-score table:
#     numer2 = sum_s pos(s) * (2 * negatives_below(s) + neg(s))
#     AUC    = numer2 / (2 * P * N)
# Everything up to the final division is 64-bit integer arithmetic, so
# both engines produce the identical rational; one division + round is
# all the float exposure. The window runs over distinct scores only
# (bounded by the score codomain, not the row count) — no raw-row
# global sort at any scale.
# ---------------------------------------------------------------------------
@defquery(
    "roc_auc_exact",
    """
    WITH scored AS (
      SELECT CAST(ROUND(value * 100) AS BIGINT) AS s,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      FROM events
    ),
    per_score AS (
      SELECT s, CAST(SUM(y) AS BIGINT) AS pos,
             CAST(COUNT(*) - SUM(y) AS BIGINT) AS neg
      FROM scored GROUP BY s
    ),
    cum AS (
      SELECT s, pos, neg,
             COALESCE(SUM(neg) OVER (ORDER BY s
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS neg_below
      FROM per_score
    )
    SELECT CAST(SUM(pos) AS BIGINT) AS n_pos,
           CAST(SUM(neg) AS BIGINT) AS n_neg,
           ROUND(CAST(SUM(pos * (2 * neg_below + neg)) AS DOUBLE)
                 / (2.0 * SUM(pos) * SUM(neg)), 4) AS auc
    FROM cum
    """,
    doc="exact ROC-AUC of value predicting the purchase label, as a rank "
    "statistic over the bounded distinct-score table: integer numerator "
    "(ties get half credit), one division at the end — no pair "
    "materialization, no raw-row global sort",
    tags=("analytics", "ml-eval", "window", "aggregate"),
)
def q_roc_auc_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    scored = ev.select(
        F.round(F.col("value") * 100, 0).cast("long").alias("s"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    per_score = scored.groupBy("s").agg(
        F.sum("y").cast("long").alias("pos"),
        (F.count(F.lit(1)) - F.sum("y")).cast("long").alias("neg"),
    )
    w = Window.orderBy("s").rowsBetween(Window.unboundedPreceding, -1)
    cum = per_score.withColumn(
        "neg_below", F.coalesce(F.sum("neg").over(w), F.lit(0))
    )
    return cum.agg(
        F.sum("pos").cast("long").alias("n_pos"),
        F.sum("neg").cast("long").alias("n_neg"),
        F.round(
            F.sum(F.col("pos") * (2 * F.col("neg_below") + F.col("neg"))).cast(
                "double"
            )
            / (F.lit(2.0) * F.sum("pos") * F.sum("neg")),
            4,
        ).alias("auc"),
    )


# ---------------------------------------------------------------------------
# Mutual information between a categorical column and a binned numeric —
# the feature-relevance screen run before training on tabular data.
# Bins are FIXED-WIDTH deciles cut from the global max (one 1-row
# broadcast), not ntile: ntile ranks every raw row through one global
# sort, fixed-width bins are a pure projection. All probabilities come
# from exact integer counts; MI = sum p(x,y) * log2(p(x,y)/(p(x)p(y)))
# evaluated with the same operation order in both engines, rounded.
# ---------------------------------------------------------------------------
@defquery(
    "mutual_information_bins",
    """
    WITH mx AS (SELECT MAX(value) AS maxv FROM events),
    binned AS (
      SELECT event_type AS x,
             LEAST(9, CAST(FLOOR(value * 10.0 / (SELECT maxv FROM mx))
                           AS BIGINT)) AS b
      FROM events
    ),
    joint AS (SELECT x, b, COUNT(*) AS cxy FROM binned GROUP BY x, b),
    rx AS (SELECT x, SUM(cxy) AS cx FROM joint GROUP BY x),
    cy AS (SELECT b, SUM(cxy) AS cb FROM joint GROUP BY b),
    n AS (SELECT SUM(cxy) AS n FROM joint)
    SELECT ROUND(SUM((CAST(cxy AS DOUBLE) / n.n)
                     * LOG2(CAST(cxy AS DOUBLE) * n.n / (rx.cx * cy.cb))), 4)
             AS mi_bits,
           CAST(COUNT(*) AS BIGINT) AS n_joint_cells,
           CAST(MAX(n.n) AS BIGINT) AS n_rows
    FROM joint JOIN rx USING (x) JOIN cy USING (b) CROSS JOIN n
    """,
    doc="mutual information (bits) between event_type and fixed-width "
    "value deciles: exact integer contingency counts, one 1-row "
    "broadcast max, no global sort (the ntile-free binning)",
    tags=("analytics", "ml-eval", "aggregate"),
)
def q_mutual_information_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    mx = ev.agg(F.max("value").alias("maxv"))
    binned = ev.join(F.broadcast(mx)).select(
        F.col("event_type").alias("x"),
        F.least(
            F.lit(9),
            F.floor(F.col("value") * 10.0 / F.col("maxv")).cast("long"),
        ).alias("b"),
    )
    joint = binned.groupBy("x", "b").agg(F.count(F.lit(1)).alias("cxy"))
    rx = joint.groupBy("x").agg(F.sum("cxy").alias("cx"))
    cyt = joint.groupBy("b").agg(F.sum("cxy").alias("cb"))
    n = joint.agg(F.sum("cxy").alias("n"))
    j = (
        joint.join(F.broadcast(rx), "x")
        .join(F.broadcast(cyt), "b")
        .join(F.broadcast(n))
    )
    return j.agg(
        F.round(
            F.sum(
                (F.col("cxy").cast("double") / F.col("n"))
                * F.log2(
                    F.col("cxy").cast("double") * F.col("n")
                    / (F.col("cx") * F.col("cb"))
                )
            ),
            4,
        ).alias("mi_bits"),
        F.count(F.lit(1)).cast("long").alias("n_joint_cells"),
        F.max("n").cast("long").alias("n_rows"),
    )


# ---------------------------------------------------------------------------
# Right-to-be-forgotten cascade audit — the pre-flight for a GDPR/CCPA
# delete: given a forget-set of customers, count every dependent row
# that the cascade must remove, per table. The forget set is tiny by
# nature (explicit broadcast); orders resolve by customer key, line
# items by the affected order keys (re-broadcast of an already-filtered
# set), events by the shared user/customer id domain. Read-only:
# the audit runs BEFORE any destructive write, and its per-table counts
# are what the deletion job reconciles against afterwards.
# ---------------------------------------------------------------------------
@defquery(
    "forget_cascade_audit",
    """
    WITH forget AS (
      SELECT c_custkey FROM customer WHERE c_custkey % 50 = 7
    ),
    ords AS (
      SELECT o_orderkey FROM orders
      WHERE o_custkey IN (SELECT c_custkey FROM forget)
    )
    SELECT 'customer' AS tbl, CAST(COUNT(*) AS BIGINT) AS rows_to_delete
      FROM forget
    UNION ALL
    SELECT 'orders', CAST(COUNT(*) AS BIGINT) FROM ords
    UNION ALL
    SELECT 'lineitem', CAST(COUNT(*) AS BIGINT) FROM lineitem
      WHERE l_orderkey IN (SELECT o_orderkey FROM ords)
    UNION ALL
    SELECT 'events', CAST(COUNT(*) AS BIGINT) FROM events
      WHERE user_id IN (SELECT c_custkey FROM forget)
    """,
    doc="GDPR delete-cascade audit: rows per table a forget-set of "
    "customers would remove (semi-join counts, forget set broadcast; "
    "read-only pre-flight for the destructive job)",
    tags=("analytics", "governance", "semi-join"),
)
def q_forget_cascade_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    ev = _t(spark, sf_dir, "events")
    forget = cust.filter(F.col("c_custkey") % 50 == 7).select("c_custkey")
    ords = orders.join(
        F.broadcast(forget), orders.o_custkey == forget.c_custkey, "left_semi"
    ).select("o_orderkey")
    li_hit = li.join(
        F.broadcast(ords), li.l_orderkey == ords.o_orderkey, "left_semi"
    )
    ev_hit = ev.join(
        F.broadcast(forget), ev.user_id == forget.c_custkey, "left_semi"
    )

    def one(name: str, df: DataFrame) -> DataFrame:
        return df.agg(
            F.lit(name).alias("tbl"),
            F.count(F.lit(1)).cast("long").alias("rows_to_delete"),
        )

    return (
        one("customer", forget)
        .unionByName(one("orders", ords))
        .unionByName(one("lineitem", li_hit))
        .unionByName(one("events", ev_hit))
    )


# ---------------------------------------------------------------------------
# k-anonymity / l-diversity audit — the privacy pre-flight a governed
# corpus release runs (Sweeney 2002; Machanavajjhala et al. 2007): group
# records by the quasi-identifier tuple, flag groups smaller than k and
# groups whose sensitive attribute lacks diversity. One map-side-
# combinable aggregation; at 100 TB this is a single shuffle on the QI
# tuple with partial counts, the same shape as any rollup.
# ---------------------------------------------------------------------------
@defquery(
    "k_anonymity_audit",
    """
    SELECT c_mktsegment AS segment,
           CAST(c_nationkey AS BIGINT) AS nation,
           CAST(FLOOR(c_acctbal / 2000) AS BIGINT) AS bal_band,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(DISTINCT c_custkey % 7) AS BIGINT) AS l_div,
           CAST(COUNT(*) < 5 AS INT) AS k_violation,
           CAST(COUNT(DISTINCT c_custkey % 7) < 2 AS INT) AS l_violation
    FROM customer
    GROUP BY 1, 2, 3
    """,
    doc="k-anonymity/l-diversity audit over the quasi-identifier tuple "
    "(segment, nation, balance band): group sizes, distinct sensitive "
    "values (a synthetic 7-way plan-tier stands in for the sensitive "
    "column the fixture lacks), and the k<5 / l<2 violation flags — the "
    "read-only privacy pre-flight before a governed release",
    tags=("analytics", "governance", "privacy", "aggregate"),
)
def q_k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    g = cust.groupBy(
        F.col("c_mktsegment").alias("segment"),
        F.col("c_nationkey").cast("long").alias("nation"),
        F.floor(F.col("c_acctbal") / 2000).cast("long").alias("bal_band"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.countDistinct(F.col("c_custkey") % 7).cast("long").alias("l_div"),
    )
    return g.select(
        "segment",
        "nation",
        "bal_band",
        "n",
        "l_div",
        (F.col("n") < 5).cast("int").alias("k_violation"),
        (F.col("l_div") < 2).cast("int").alias("l_violation"),
    )


# ---------------------------------------------------------------------------
# Exact two-sample Kolmogorov–Smirnov drift — the distribution-shift
# alarm run between a baseline and a current window before retraining
# (the nonparametric sibling of psi_drift_check's binned PSI). D =
# sup_x |F_base(x) - F_cur(x)| evaluated exactly at every distinct
# value of the pooled sample: per-value integer counts, one cumulative
# window over the BOUNDED distinct-cents table (the roc_auc_exact
# pattern — never a raw-row global sort), one double division per
# side at the end. 100 TB: the distinct table is |values|-sized, the
# heavy input collapses in the grouped count.
# ---------------------------------------------------------------------------
@defquery(
    "ks_drift_exact",
    """
    WITH scored AS (
      SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS v,
             CASE WHEN CAST(o_orderdate AS DATE) < DATE '1997-01-01'
                  THEN 1 ELSE 0 END AS grp
      FROM orders
    ),
    per_v AS (
      SELECT v, CAST(SUM(grp) AS BIGINT) AS ca,
             CAST(COUNT(*) - SUM(grp) AS BIGINT) AS cb
      FROM scored GROUP BY v
    ),
    tot AS (SELECT SUM(ca) AS na, SUM(cb) AS nb FROM per_v),
    cum AS (
      SELECT SUM(ca) OVER (ORDER BY v) AS cuma,
             SUM(cb) OVER (ORDER BY v) AS cumb
      FROM per_v
    )
    SELECT ROUND(MAX(ABS(CAST(cuma AS DOUBLE) / (SELECT na FROM tot)
                         - CAST(cumb AS DOUBLE) / (SELECT nb FROM tot))), 4)
             AS ks_d,
           (SELECT CAST(na AS BIGINT) FROM tot) AS n_base,
           (SELECT CAST(nb AS BIGINT) FROM tot) AS n_current
    FROM cum
    """,
    doc="exact two-sample Kolmogorov-Smirnov statistic between pre-1997 "
    "and 1997+ order totals: sup-norm ECDF distance over the bounded "
    "distinct-value table, integer counts until two final divisions",
    tags=("analytics", "drift", "window", "aggregate"),
)
def q_ks_drift_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    scored = o.select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("v"),
        F.when(
            F.col("o_orderdate").cast("date") < F.lit("1997-01-01").cast("date"), 1
        ).otherwise(0).alias("grp"),
    )
    per_v = scored.groupBy("v").agg(
        F.sum("grp").cast("long").alias("ca"),
        (F.count(F.lit(1)) - F.sum("grp")).cast("long").alias("cb"),
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cum = per_v.select(
        F.sum("ca").over(w).alias("cuma"), F.sum("cb").over(w).alias("cumb")
    )
    tot = per_v.agg(
        F.sum("ca").cast("long").alias("na"), F.sum("cb").cast("long").alias("nb")
    )
    out = cum.crossJoin(F.broadcast(tot)).agg(  # tot: 1-row broadcast frame
        F.round(
            F.max(
                F.abs(
                    F.col("cuma").cast("double") / F.col("na")
                    - F.col("cumb").cast("double") / F.col("nb")
                )
            ),
            4,
        ).alias("ks_d"),
        F.max("na").cast("long").alias("n_base"),
        F.max("nb").cast("long").alias("n_current"),
    )
    return round_floats(out)


# ---------------------------------------------------------------------------
# Gini coefficient + Lorenz bottom-half share of per-customer spend —
# the inequality profile of a long-tailed key (customer revenue, source
# contribution, token share) that decides capping/mixing policy. Rank
# formulation: with spend sorted ascending and rn = 1..n (ties broken
# by custkey so both engines rank identically), Gini = 2*Σ(rn·x)/(n·Σx)
# - (n+1)/n — every sum an exact BIGINT over the bounded per-customer
# aggregate, two double divisions at the end. The Lorenz point is the
# spend share of the bottom half (rn*2 <= n).
# ---------------------------------------------------------------------------
@defquery(
    "gini_customer_spend",
    """
    WITH spend AS (
      SELECT o_custkey,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders GROUP BY o_custkey
    ),
    ranked AS (
      SELECT cents,
             ROW_NUMBER() OVER (ORDER BY cents, o_custkey) AS rn
      FROM spend
    ),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM ranked),
    agg AS (
      SELECT (SELECT n FROM nn) AS n,
             CAST(SUM(cents) AS BIGINT) AS t,
             CAST(SUM(rn * cents) AS BIGINT) AS s,
             CAST(SUM(CASE WHEN rn * 2 <= (SELECT n FROM nn)
                           THEN cents ELSE 0 END) AS BIGINT) AS bottom
      FROM ranked
    )
    SELECT ROUND(2.0 * s / (CAST(n AS DOUBLE) * t)
                 - (CAST(n AS DOUBLE) + 1.0) / n, 4) AS gini,
           ROUND(CAST(bottom AS DOUBLE) / t, 4) AS bottom_half_share,
           n AS n_customers,
           ROUND(t / 100.0, 4) AS total_spend
    FROM agg
    """,
    doc="Gini coefficient and Lorenz bottom-half share of per-customer "
    "spend: exact integer rank sums over the bounded customer "
    "aggregate, deterministic tie-break, two final divisions",
    tags=("analytics", "inequality", "window", "aggregate"),
)
def q_gini_customer_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    spend = o.groupBy("o_custkey").agg(F.sum(cents).cast("long").alias("cents"))
    rw = Window.orderBy("cents", "o_custkey")
    ranked = spend.select(
        "cents", F.row_number().over(rw).alias("rn")
    )
    nw = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    agg = ranked.select(
        "cents",
        "rn",
        F.count(F.lit(1)).over(nw).alias("n_all"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("long").alias("t"),
        F.sum(F.col("rn") * F.col("cents")).cast("long").alias("s"),
        F.sum(
            F.when(F.col("rn") * 2 <= F.col("n_all"), F.col("cents")).otherwise(0)
        ).cast("long").alias("bottom"),
    )
    out = agg.select(
        F.round(
            2.0 * F.col("s") / (F.col("n").cast("double") * F.col("t"))
            - (F.col("n").cast("double") + 1.0) / F.col("n"),
            4,
        ).alias("gini"),
        F.round(F.col("bottom").cast("double") / F.col("t"), 4).alias(
            "bottom_half_share"
        ),
        F.col("n").alias("n_customers"),
        F.round(F.col("t") / 100.0, 4).alias("total_spend"),
    )
    return round_floats(out)


# ---------------------------------------------------------------------------
# Periodogram of the daily-revenue series — the frequency-domain
# seasonality detector beside acf_daily_revenue's lag domain: a direct
# DFT at the first 10 harmonics as one grouped aggregate over the
# (bounded days) x (10 frequencies) frame. Angles use the identical
# 2*pi literal and expression order in both engines; outputs are
# RELATIVE powers, so the only float noise (1-ulp cos/sin differences
# and summation order) enters at ~1e-12 relative — four orders of
# magnitude below the 4-dp rounding. 100 TB: the raw table collapses
# to per-day cents first; the DFT frame is O(days x harmonics).
# ---------------------------------------------------------------------------
@defquery(
    "periodogram_daily_revenue",
    """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS v
      FROM orders GROUP BY 1
    ),
    idx AS (
      SELECT v, ROW_NUMBER() OVER (ORDER BY day) - 1 AS j,
             COUNT(*) OVER () AS n
      FROM daily
    ),
    f AS (SELECT unnest(range(1, 11)) AS k),
    terms AS (
      SELECT k,
             SUM(CAST(v AS DOUBLE)
                 * cos(6.283185307179586 * k * j / n)) AS ck,
             SUM(CAST(v AS DOUBLE)
                 * sin(6.283185307179586 * k * j / n)) AS sk
      FROM idx CROSS JOIN f GROUP BY k
    ),
    p AS (SELECT k, ck * ck + sk * sk AS pw FROM terms)
    SELECT CAST(k AS INT) AS k, ROUND(pw / SUM(pw) OVER (), 4) AS rel_power
    FROM p
    """,
    doc="daily-revenue periodogram: direct DFT at the first 10 harmonics "
    "over the bounded per-day cents series, reported as relative powers "
    "(float noise ~1e-12 relative, 4-dp rounded) — the frequency-domain "
    "twin of acf_daily_revenue",
    tags=("timeseries", "spectral", "aggregate"),
)
def q_periodogram_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("v")
    )
    wj = Window.orderBy("day")
    idx = daily.select(
        "v",
        (F.row_number().over(wj) - 1).alias("j"),
        F.count(F.lit(1)).over(
            Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        ).alias("n"),
    )
    f = idx.sparkSession.range(1, 11).select(F.col("id").alias("k"))
    ang = F.lit(6.283185307179586) * F.col("k") * F.col("j") / F.col("n")
    terms = (
        idx.crossJoin(F.broadcast(f))
        .groupBy("k")
        .agg(
            F.sum(F.col("v").cast("double") * F.cos(ang)).alias("ck"),
            F.sum(F.col("v").cast("double") * F.sin(ang)).alias("sk"),
        )
    )
    p = terms.select(
        "k", (F.col("ck") * F.col("ck") + F.col("sk") * F.col("sk")).alias("pw")
    )
    wall = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return p.select(
        F.col("k").cast("int").alias("k"),
        F.round(F.col("pw") / F.sum("pw").over(wall), 4).alias("rel_power"),
    )


# ---------------------------------------------------------------------------
# Exact CART decision-stump induction — the split-finding kernel of
# tree ensembles, distributed: every candidate threshold is evaluated
# from per-distinct-value label counts + one cumulative window (the
# roc_auc_exact shape — the raw table collapses into the bounded
# distinct-cents table, never a global sort of rows), and the argmin
# of weighted Gini picks the split. All counts are exact BIGINTs below
# 2^53, so the Gini doubles are computed from exactly-representable
# integers with one IEEE-basic-ops expression (identical tree in both
# engines -> bit-identical doubles -> the argmin can never disagree);
# ties break on the smaller threshold.
# ---------------------------------------------------------------------------
@defquery(
    "cart_stump_returnflag",
    """
    WITH s AS (
      SELECT CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS v,
             CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
      FROM lineitem
    ),
    d AS (
      SELECT v, CAST(COUNT(*) AS BIGINT) AS c, CAST(SUM(y) AS BIGINT) AS p
      FROM s GROUP BY v
    ),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n, CAST(SUM(p) AS BIGINT) AS pt
            FROM d),
    cum AS (
      SELECT v, CAST(SUM(c) OVER w AS BIGINT) AS nl,
             CAST(SUM(p) OVER w AS BIGINT) AS pl
      FROM d WINDOW w AS (ORDER BY v ROWS UNBOUNDED PRECEDING)
    ),
    sc AS (
      SELECT v, nl, pl, n - nl AS nr, pt - pl AS pr, n, pt,
             (CAST(nl AS DOUBLE)
              - (CAST(pl AS DOUBLE) * pl
                 + CAST(nl - pl AS DOUBLE) * (nl - pl)) / nl
              + CAST(n - nl AS DOUBLE)
              - (CAST(pt - pl AS DOUBLE) * (pt - pl)
                 + CAST((n - nl) - (pt - pl) AS DOUBLE)
                   * ((n - nl) - (pt - pl))) / (n - nl)) / n AS wg
      FROM cum CROSS JOIN tot WHERE nl < n
    )
    SELECT ROUND(v / 100.0, 4) AS threshold,
           nl AS n_left, CAST(nr AS BIGINT) AS n_right,
           pl AS pos_left, CAST(pr AS BIGINT) AS pos_right,
           ROUND(wg, 4) AS weighted_gini,
           ROUND(1.0 - (CAST(pt AS DOUBLE) / n) * (CAST(pt AS DOUBLE) / n)
                     - (CAST(n - pt AS DOUBLE) / n)
                       * (CAST(n - pt AS DOUBLE) / n), 4) AS root_gini
    FROM sc
    QUALIFY ROW_NUMBER() OVER (ORDER BY wg, v) = 1
    """,
    doc="exact distributed CART decision stump (predict l_returnflag='R' "
    "from price): per-distinct-value label counts + one cumulative "
    "window evaluate every threshold; argmin of weighted Gini with "
    "smaller-threshold tie-break, Gini doubles built only from exactly "
    "representable integers so both engines agree bit-for-bit",
    tags=("analytics", "ml", "tree", "window", "aggregate"),
)
def q_cart_stump_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    s = li.select(
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("v"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("y"),
    )
    d = s.groupBy("v").agg(
        F.count(F.lit(1)).cast("long").alias("c"),
        F.sum("y").cast("long").alias("p"),
    )
    tot = d.agg(
        F.sum("c").cast("long").alias("n"), F.sum("p").cast("long").alias("pt")
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cum = d.select(
        "v",
        F.sum("c").over(w).cast("long").alias("nl"),
        F.sum("p").over(w).cast("long").alias("pl"),
    )
    sc = cum.crossJoin(F.broadcast(tot)).filter(F.col("nl") < F.col("n"))
    nl, pl, n, pt = F.col("nl"), F.col("pl"), F.col("n"), F.col("pt")
    nr, pr = n - nl, pt - pl
    wg = (
        nl.cast("double")
        - (pl.cast("double") * pl + (nl - pl).cast("double") * (nl - pl)) / nl
        + nr.cast("double")
        - (pr.cast("double") * pr + (nr - pr).cast("double") * (nr - pr)) / nr
    ) / n
    sc = sc.select(
        "v", "nl", "pl", nr.alias("nr"), pr.alias("pr"), "n", "pt",
        wg.alias("wg"),
    )
    wr = Window.orderBy("wg", "v")
    best = sc.withColumn("rn", F.row_number().over(wr)).filter(F.col("rn") == 1)
    root_gini = (
        F.lit(1.0)
        - (pt.cast("double") / n) * (pt.cast("double") / n)
        - ((n - pt).cast("double") / n) * ((n - pt).cast("double") / n)
    )
    return best.select(
        F.round(F.col("v") / 100.0, 4).alias("threshold"),
        F.col("nl").alias("n_left"),
        F.col("nr").cast("long").alias("n_right"),
        F.col("pl").alias("pos_left"),
        F.col("pr").cast("long").alias("pos_right"),
        F.round(F.col("wg"), 4).alias("weighted_gini"),
        F.round(root_gini, 4).alias("root_gini"),
    )


# ---------------------------------------------------------------------------
# Time-weighted average (TWAP) per event type — the hypertable metric
# plain AVG gets wrong on irregular samples (a value that held for an
# hour must weigh 60x one that held a minute). Step-function weighting:
# value v_i holds over [t_i, t_{i+1}); TWAP = sum(v_i * gap_i) /
# (t_last - t_first). Everything exact integers (cents x epoch-micros
# gaps: bounded by max_cents * total_span ~ 5e16 through sf1) until
# one final division; one lead() window per type, no driver state.
# ---------------------------------------------------------------------------
@defquery(
    "twap_event_value",
    """
    WITH s AS (
      SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS v,
             epoch_us(ts) AS t,
             LEAD(epoch_us(ts)) OVER (PARTITION BY event_type
                                      ORDER BY ts, event_id) AS t_next
      FROM events
    ),
    a AS (
      SELECT event_type,
             CAST(SUM(CASE WHEN t_next IS NULL THEN 0
                           ELSE v * (t_next - t) END) AS BIGINT) AS wsum,
             CAST(MAX(t) - MIN(t) AS BIGINT) AS span,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(SUM(v) AS BIGINT) AS vsum
      FROM s GROUP BY event_type
    )
    SELECT event_type, n_events,
           ROUND(CAST(wsum AS DOUBLE) / span / 100.0, 4) AS twap,
           ROUND(CAST(vsum AS DOUBLE) / n_events / 100.0, 4) AS plain_avg
    FROM a
    """,
    doc="time-weighted average value per event type (step-function "
    "weighting over irregular event gaps, exact integer cents x "
    "epoch-micros until the final division) beside the plain average "
    "it corrects",
    tags=("timeseries", "window", "aggregate", "hypertable"),
)
def q_twap_event_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    s = e.select(
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("v"),
        F.unix_micros("ts").alias("t"),
        F.lead(F.unix_micros("ts")).over(w).alias("t_next"),
    )
    a = s.groupBy("event_type").agg(
        F.sum(
            F.when(F.col("t_next").isNull(), F.lit(0)).otherwise(
                F.col("v") * (F.col("t_next") - F.col("t"))
            )
        )
        .cast("long")
        .alias("wsum"),
        (F.max("t") - F.min("t")).cast("long").alias("span"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum("v").cast("long").alias("vsum"),
    )
    return a.select(
        "event_type",
        "n_events",
        F.round(F.col("wsum").cast("double") / F.col("span") / 100.0, 4).alias(
            "twap"
        ),
        F.round(
            F.col("vsum").cast("double") / F.col("n_events") / 100.0, 4
        ).alias("plain_avg"),
    )


# ---------------------------------------------------------------------------
# Spearman rank correlation — the nonparametric dependence measure
# (Pearson on tie-averaged ranks) between per-customer spend and order
# count. Ranks come from the bounded distinct-value tables in the 2R
# integer form (average ranks are half-integers, so 2R stays BIGINT —
# the mann_whitney_u discipline, once per variable); the rank-moment
# sums are exact BIGINTs through sf1 (max ~4n^3 ≈ 1.4e16 at n=150k),
# and only the final rho is computed in doubles, with the identical
# expression in both engines. 100 TB: two grouped counts + two bounded
# cumulative windows + equi-joins back — the raw table never sorts.
# ---------------------------------------------------------------------------
@defquery(
    "spearman_spend_orders",
    """
    WITH per_c AS (
      SELECT o_custkey AS k,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS x,
             CAST(COUNT(*) AS BIGINT) AS y
      FROM orders GROUP BY o_custkey
    ),
    rx AS (SELECT x, CAST(COUNT(*) AS BIGINT) AS c FROM per_c GROUP BY x),
    rx2 AS (
      SELECT x, CAST(2 * COALESCE(SUM(c) OVER (
               ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) + c + 1 AS BIGINT) AS r2x
      FROM rx
    ),
    ry AS (SELECT y, CAST(COUNT(*) AS BIGINT) AS c FROM per_c GROUP BY y),
    ry2 AS (
      SELECT y, CAST(2 * COALESCE(SUM(c) OVER (
               ORDER BY y ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) + c + 1 AS BIGINT) AS r2y
      FROM ry
    ),
    j AS (SELECT r2x, r2y FROM per_c JOIN rx2 USING (x) JOIN ry2 USING (y)),
    a AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(r2x * r2y) AS BIGINT) AS sxy,
             CAST(SUM(r2x) AS BIGINT) AS sx, CAST(SUM(r2y) AS BIGINT) AS sy,
             CAST(SUM(r2x * r2x) AS BIGINT) AS sxx,
             CAST(SUM(r2y * r2y) AS BIGINT) AS syy
      FROM j
    )
    SELECT n,
           ROUND((CAST(sxy AS DOUBLE) * n - CAST(sx AS DOUBLE) * sy)
                 / sqrt((CAST(sxx AS DOUBLE) * n - CAST(sx AS DOUBLE) * sx)
                        * (CAST(syy AS DOUBLE) * n - CAST(sy AS DOUBLE) * sy)),
                 4) AS spearman_rho
    FROM a
    """,
    doc="Spearman rank correlation between per-customer total spend and "
    "order count: tie-averaged ranks in exact 2R BIGINT form over "
    "bounded distinct tables, one double expression at the end",
    tags=("analytics", "rank", "correlation", "window", "aggregate"),
)
def q_spearman_spend_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    per_c = o.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("x"),
        F.count(F.lit(1)).cast("long").alias("y"),
    )

    def ranks2(col: str) -> DataFrame:
        d = per_c.groupBy(col).agg(F.count(F.lit(1)).cast("long").alias("c"))
        w = Window.orderBy(col).rowsBetween(Window.unboundedPreceding, -1)
        return d.select(
            col,
            (
                2 * F.coalesce(F.sum("c").over(w), F.lit(0))
                + F.col("c")
                + 1
            ).cast("long").alias(f"r2{col}"),
        )

    j = per_c.join(ranks2("x"), ["x"]).join(ranks2("y"), ["y"])
    a = j.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("r2x") * F.col("r2y")).cast("long").alias("sxy"),
        F.sum("r2x").cast("long").alias("sx"),
        F.sum("r2y").cast("long").alias("sy"),
        F.sum(F.col("r2x") * F.col("r2x")).cast("long").alias("sxx"),
        F.sum(F.col("r2y") * F.col("r2y")).cast("long").alias("syy"),
    )
    num = F.col("sxy").cast("double") * F.col("n") - F.col("sx").cast(
        "double"
    ) * F.col("sy")
    den = F.sqrt(
        (F.col("sxx").cast("double") * F.col("n") - F.col("sx").cast("double") * F.col("sx"))
        * (F.col("syy").cast("double") * F.col("n") - F.col("sy").cast("double") * F.col("sy"))
    )
    return a.select("n", F.round(num / den, 4).alias("spearman_rho"))


# ---------------------------------------------------------------------------
# One-way ANOVA F — does order value differ across the five priority
# classes? The k-group generalization of ab_welch_ttest, from the same
# exact whole-dollar integer moments (n_g, S_g, Sxx_g are BIGINTs; the
# squared group sums would pass 2^63 at sf1 so every product is done in
# doubles with the identical expression order in both engines).
# ---------------------------------------------------------------------------
@defquery(
    "anova_priority_f",
    """
    WITH g AS (
      SELECT o_orderpriority,
             CAST(COUNT(*) AS BIGINT) AS n_g,
             CAST(SUM(CAST(ROUND(o_totalprice) AS BIGINT)) AS BIGINT) AS s_g,
             CAST(SUM(CAST(ROUND(o_totalprice) AS BIGINT)
                      * CAST(ROUND(o_totalprice) AS BIGINT)) AS BIGINT) AS sxx_g
      FROM orders GROUP BY o_orderpriority
    ),
    a AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(n_g) AS BIGINT) AS n,
             CAST(SUM(s_g) AS BIGINT) AS s,
             CAST(SUM(sxx_g) AS BIGINT) AS sxx,
             SUM(CAST(s_g AS DOUBLE) * s_g / n_g) AS sb
      FROM g
    )
    SELECT k, n,
           ROUND(((sb - CAST(s AS DOUBLE) * s / n) / (k - 1))
                 / ((CAST(sxx AS DOUBLE) - sb) / (n - k)), 4) AS f_stat,
           ROUND((sb - CAST(s AS DOUBLE) * s / n)
                 / (CAST(sxx AS DOUBLE) - CAST(s AS DOUBLE) * s / n), 4)
             AS eta_sq
    FROM a
    """,
    doc="one-way ANOVA F across the five order priorities from exact "
    "whole-dollar integer moments, plus eta-squared effect size — the "
    "k-group member of the exact-moment test family (welch/chi2/ks)",
    tags=("analytics", "ab-test", "aggregate"),
)
def q_anova_priority_f(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    xd = F.round(F.col("o_totalprice")).cast("long")
    g = o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n_g"),
        F.sum(xd).cast("long").alias("s_g"),
        F.sum(xd * xd).cast("long").alias("sxx_g"),
    )
    a = g.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("n_g").cast("long").alias("n"),
        F.sum("s_g").cast("long").alias("s"),
        F.sum("sxx_g").cast("long").alias("sxx"),
        F.sum(F.col("s_g").cast("double") * F.col("s_g") / F.col("n_g")).alias(
            "sb"
        ),
    )
    s_d = F.col("s").cast("double")
    ssb = F.col("sb") - s_d * F.col("s") / F.col("n")
    ssw = F.col("sxx").cast("double") - F.col("sb")
    sst = F.col("sxx").cast("double") - s_d * F.col("s") / F.col("n")
    return a.select(
        "k",
        "n",
        F.round((ssb / (F.col("k") - 1)) / (ssw / (F.col("n") - F.col("k"))), 4)
        .alias("f_stat"),
        F.round(ssb / sst, 4).alias("eta_sq"),
    )


# ---------------------------------------------------------------------------
# Mann–Whitney U — the nonparametric A/B readout (rank-sum, no
# normality assumption) beside ab_welch_ttest's t. Exact tie-corrected
# ranks over the BOUNDED distinct-cents table (the roc_auc_exact /
# ks_drift_exact pattern): per-value counts, one cumulative window,
# then 2·R1 = Σ n1_v·(2·cum_before + t_v + 1) stays an exact BIGINT
# (average ranks are half-integers, so the ×2 form never touches a
# double), U likewise via (2R1 − n1(n1+1))/2. The normal z uses the
# standard tie-corrected variance Σ(t³−t); one double expression at
# the end, identical in both engines. 100 TB: the raw rows collapse in
# the grouped count; nothing global-sorts except the distinct table.
# ---------------------------------------------------------------------------
@defquery(
    "mann_whitney_u",
    """
    WITH s AS (
      SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS v,
             CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS g
      FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
    ),
    d AS (
      SELECT v, CAST(SUM(g) AS BIGINT) AS n1v, CAST(COUNT(*) AS BIGINT) AS tv
      FROM s GROUP BY v
    ),
    c AS (
      SELECT v, n1v, tv,
             CAST(COALESCE(SUM(tv) OVER (
               ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS BIGINT) AS cb
      FROM d
    ),
    a AS (
      SELECT CAST(SUM(n1v * (2 * cb + tv + 1)) AS BIGINT) AS r1x2,
             CAST(SUM(tv * tv * tv - tv) AS BIGINT) AS ties,
             CAST(SUM(n1v) AS BIGINT) AS n1,
             CAST(SUM(tv - n1v) AS BIGINT) AS n2,
             CAST(SUM(tv) AS BIGINT) AS n
      FROM c
    )
    SELECT n1, n2,
           ROUND(CAST(r1x2 - n1 * (n1 + 1) AS DOUBLE) / 2.0, 4) AS u1,
           ROUND((CAST(r1x2 - n1 * (n1 + 1) AS DOUBLE) / 2.0
                  - CAST(n1 AS DOUBLE) * n2 / 2.0)
                 / sqrt((CAST(n1 AS DOUBLE) * n2 / 12.0)
                        * ((n + 1) - CAST(ties AS DOUBLE)
                                     / (CAST(n AS DOUBLE) * (n - 1)))), 4) AS z
    FROM a
    """,
    doc="Mann-Whitney U rank-sum test between urgent and low-priority "
    "order totals: exact tie-corrected average ranks via integer "
    "arithmetic over the bounded distinct-value table, tie-corrected "
    "normal z in one final double expression",
    tags=("analytics", "ab-test", "rank", "window", "aggregate"),
)
def q_mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    s = o.filter(F.col("o_orderpriority").isin("1-URGENT", "5-LOW")).select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("v"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0).alias("g"),
    )
    d = s.groupBy("v").agg(
        F.sum("g").cast("long").alias("n1v"),
        F.count(F.lit(1)).cast("long").alias("tv"),
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    c = d.select(
        "n1v", "tv", F.coalesce(F.sum("tv").over(w), F.lit(0)).cast("long").alias("cb")
    )
    a = c.agg(
        F.sum(F.col("n1v") * (2 * F.col("cb") + F.col("tv") + 1))
        .cast("long")
        .alias("r1x2"),
        F.sum(F.col("tv") * F.col("tv") * F.col("tv") - F.col("tv"))
        .cast("long")
        .alias("ties"),
        F.sum("n1v").cast("long").alias("n1"),
        F.sum(F.col("tv") - F.col("n1v")).cast("long").alias("n2"),
        F.sum("tv").cast("long").alias("n"),
    )
    u1 = (F.col("r1x2") - F.col("n1") * (F.col("n1") + 1)).cast("double") / 2.0
    mu = F.col("n1").cast("double") * F.col("n2") / 2.0
    var = (F.col("n1").cast("double") * F.col("n2") / 12.0) * (
        (F.col("n") + 1)
        - F.col("ties").cast("double")
        / (F.col("n").cast("double") * (F.col("n") - 1))
    )
    return a.select(
        "n1",
        "n2",
        F.round(u1, 4).alias("u1"),
        F.round((u1 - mu) / F.sqrt(var), 4).alias("z"),
    )


# ---------------------------------------------------------------------------
# Welch two-sample t-test — the A/B significance readout (unequal
# variances, Welch–Satterthwaite df) between urgent and low-priority
# order values. Values round to whole dollars as BIGINTs first, so the
# per-group moments (n, Σx, Σx²) are exact integers in both engines —
# Σx² stays under int64 through sf1 (6e5² x 1.5e6 ≈ 5e17) — and the t
# statistic is one double expression over six integers, bit-identical
# whatever the partitioning. Same family as chi2_event_dow /
# ks_drift_exact: decision statistics computed exactly, not sampled.
# ---------------------------------------------------------------------------
@defquery(
    "ab_welch_ttest",
    """
    WITH g AS (
      SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 'a' ELSE 'b' END
               AS grp,
             CAST(ROUND(o_totalprice) AS BIGINT) AS x
      FROM orders
      WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
    ),
    m AS (
      SELECT grp, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS s1,
             CAST(SUM(x * x) AS BIGINT) AS s2
      FROM g GROUP BY grp
    ),
    w AS (
      SELECT
        (SELECT n FROM m WHERE grp = 'a') AS na,
        (SELECT n FROM m WHERE grp = 'b') AS nb,
        (SELECT s1 FROM m WHERE grp = 'a') AS sa,
        (SELECT s1 FROM m WHERE grp = 'b') AS sb,
        (SELECT s2 FROM m WHERE grp = 'a') AS qa,
        (SELECT s2 FROM m WHERE grp = 'b') AS qb
    ),
    v AS (
      SELECT na, nb,
             CAST(sa AS DOUBLE) / na AS ma,
             CAST(sb AS DOUBLE) / nb AS mb,
             (CAST(qa AS DOUBLE) - CAST(sa AS DOUBLE) * sa / na) / (na - 1)
               / na AS va,
             (CAST(qb AS DOUBLE) - CAST(sb AS DOUBLE) * sb / nb) / (nb - 1)
               / nb AS vb
      FROM w
    )
    SELECT na AS n_urgent, nb AS n_low,
           ROUND(ma, 4) AS mean_urgent, ROUND(mb, 4) AS mean_low,
           ROUND((ma - mb) / SQRT(va + vb), 4) AS t_stat,
           ROUND((va + vb) * (va + vb)
                 / (va * va / (na - 1) + vb * vb / (nb - 1)), 4) AS df_welch
    FROM v
    """,
    doc="Welch two-sample t-test between urgent and low-priority order "
    "values: exact integer moments per group (whole-dollar BIGINTs), "
    "one double expression for t and the Welch-Satterthwaite df",
    tags=("analytics", "ml-eval", "aggregate"),
)
def q_ab_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority").isin("1-URGENT", "5-LOW")
    )
    x = F.round(F.col("o_totalprice")).cast("long")
    g = o.select(
        F.when(F.col("o_orderpriority") == "1-URGENT", "a").otherwise("b").alias(
            "grp"
        ),
        x.alias("x"),
    )
    m = g.groupBy("grp").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("s1"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("s2"),
    )
    a = m.filter(F.col("grp") == "a").select(
        F.col("n").alias("na"), F.col("s1").alias("sa"), F.col("s2").alias("qa")
    )
    b = m.filter(F.col("grp") == "b").select(
        F.col("n").alias("nb"), F.col("s1").alias("sb"), F.col("s2").alias("qb")
    )
    w = a.crossJoin(b)  # two 1-row group frames
    ma = F.col("sa").cast("double") / F.col("na")
    mb = F.col("sb").cast("double") / F.col("nb")
    va = (
        (F.col("qa").cast("double") - F.col("sa").cast("double") * F.col("sa") / F.col("na"))
        / (F.col("na") - 1) / F.col("na")
    )
    vb = (
        (F.col("qb").cast("double") - F.col("sb").cast("double") * F.col("sb") / F.col("nb"))
        / (F.col("nb") - 1) / F.col("nb")
    )
    out = w.select(
        F.col("na").alias("n_urgent"),
        F.col("nb").alias("n_low"),
        F.round(ma, 4).alias("mean_urgent"),
        F.round(mb, 4).alias("mean_low"),
        F.round((ma - mb) / F.sqrt(va + vb), 4).alias("t_stat"),
        F.round(
            (va + vb) * (va + vb)
            / (va * va / (F.col("na") - 1) + vb * vb / (F.col("nb") - 1)),
            4,
        ).alias("df_welch"),
    )
    return round_floats(out)


# ---------------------------------------------------------------------------
# Time-series subsequence similarity search (the UCR-suite / streaming
# TS-search shape — EDBT'19 "Time Series Similarity Search for
# Streaming Data"): find the windows of the daily-revenue series most
# similar to a query subsequence. Windows are 7 CONSECUTIVE OBSERVED
# days (rows-based over the bounded daily table), the query is the
# window starting at observed day 10, and distance is the EXACT
# integer Euclidean distance on whole-dollar daily totals — BIGINT sums
# of squared diffs (dollars keep diff^2 x 7 far under int64 at any
# gate sf), so ranking is bit-deterministic in both engines. The
# all-windows form is a self-join on a +/-6 row-number band over the
# bounded daily series — O(days x 7), never O(days^2); day 10's own
# window ranks first at distance 0, a built-in sanity pin.
# ---------------------------------------------------------------------------
@defquery(
    "ts_subsequence_search",
    """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(SUM(CAST(ROUND(o_totalprice) AS BIGINT)) AS BIGINT) AS c
      FROM orders GROUP BY 1
    ),
    seq AS (SELECT d, c, ROW_NUMBER() OVER (ORDER BY d) AS i FROM daily),
    win AS (
      SELECT a.i AS s, a.d AS start_date, b.i - a.i AS off, b.c AS c
      FROM seq a JOIN seq b ON b.i BETWEEN a.i AND a.i + 6
    ),
    q AS (SELECT off, c AS qc FROM win WHERE s = 10),
    dist AS (
      SELECT s, start_date,
             CAST(SUM((c - qc) * (c - qc)) AS BIGINT) AS dist
      FROM win JOIN q USING (off)
      GROUP BY s, start_date HAVING COUNT(*) = 7
    ),
    r AS (
      SELECT start_date, dist,
             ROW_NUMBER() OVER (ORDER BY dist, start_date) AS rn
      FROM dist
    )
    SELECT CAST(start_date AS VARCHAR) AS start_date, dist,
           CAST(rn AS BIGINT) AS rn
    FROM r WHERE rn <= 10
    """,
    doc="top-10 most-similar 7-day windows of the daily revenue series "
    "to a query subsequence: exact integer Euclidean distance over a "
    "banded row-number self-join of the bounded daily table — "
    "subsequence search without an O(n^2) pair plan",
    tags=("analytics", "timeseries", "similarity", "window"),
)
def q_ts_subsequence_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.sum(F.round(F.col("o_totalprice")).cast("long")).cast("long").alias("c")
    )
    seq = daily.select(
        "d", "c", F.row_number().over(Window.orderBy("d")).alias("i")
    )
    a = seq.select(
        F.col("i").alias("s"), F.col("d").alias("start_date"), F.col("i").alias("ai")
    )
    b = seq.select(F.col("i").alias("bi"), F.col("c"))
    win = a.join(
        b, (F.col("bi") >= F.col("ai")) & (F.col("bi") <= F.col("ai") + 6)
    ).select("s", "start_date", (F.col("bi") - F.col("ai")).alias("off"), "c")
    q = win.filter(F.col("s") == 10).select("off", F.col("c").alias("qc"))
    dist = (
        win.join(F.broadcast(q), "off")
        .groupBy("s", "start_date")
        .agg(
            F.sum((F.col("c") - F.col("qc")) * (F.col("c") - F.col("qc")))
            .cast("long")
            .alias("dist"),
            F.count(F.lit(1)).alias("_n"),
        )
        .filter(F.col("_n") == 7)
    )
    r = dist.select(
        "start_date",
        "dist",
        F.row_number().over(Window.orderBy("dist", "start_date")).alias("rn"),
    )
    return r.filter(F.col("rn") <= 10).select(
        F.col("start_date").cast("string").alias("start_date"),
        "dist",
        F.col("rn").cast("long").alias("rn"),
    )


# ---------------------------------------------------------------------------
# Mann-Kendall monotonic-trend test + Sen's slope over the daily
# revenue series (r8): the standard nonparametric trend battery entry
# next to theil_sen_trend/cusum/acf. S = sum of pairwise signs
# (integer-exact), tie-corrected variance, continuity-corrected Z, and
# the Sen slope = median pairwise cents/day. The pair domain is the
# BOUNDED day table (a few thousand rows -> millions of codegen-cheap
# pairs), never the raw orders; both engines walk the identical
# integer-cents series, so S/ties are exact and the two float ops
# (z, slope median) are bit-identical before 4-dp rounding.
# ---------------------------------------------------------------------------
@defquery(
    "mann_kendall_trend",
    """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS v
      FROM orders GROUP BY 1
    ),
    idx AS (SELECT v, ROW_NUMBER() OVER (ORDER BY day) - 1 AS i FROM daily),
    pairs AS (
      SELECT a.v AS va, b.v AS vb, b.i - a.i AS di
      FROM idx a JOIN idx b ON a.i < b.i
    ),
    sstat AS (
      SELECT CAST(SUM(CASE WHEN vb > va THEN 1 WHEN vb < va THEN -1
                           ELSE 0 END) AS BIGINT) AS s,
             quantile_cont(CAST(vb - va AS DOUBLE) / di, 0.5) AS slope
      FROM pairs
    ),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM daily),
    ties AS (
      SELECT CAST(COALESCE(SUM(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT)
               AS tt
      FROM (SELECT COUNT(*) AS t FROM daily GROUP BY v) WHERE t > 1
    )
    SELECT CAST(n AS INT) AS n_days, s AS s_stat,
           ROUND((n * (n - 1) * (2 * n + 5) - tt) / 18.0, 4) AS var_s,
           ROUND(CASE WHEN s > 0 THEN (s - 1)
                        / sqrt((n * (n - 1) * (2 * n + 5) - tt) / 18.0)
                      WHEN s < 0 THEN (s + 1)
                        / sqrt((n * (n - 1) * (2 * n + 5) - tt) / 18.0)
                      ELSE 0.0 END, 4) AS z,
           ROUND(slope, 4) AS sen_slope_cents
    FROM sstat, nn, ties
    """,
    doc="Mann-Kendall trend test + Sen's slope on daily revenue: "
    "integer-exact pairwise sign sum over the bounded day table, "
    "tie-corrected variance, continuity-corrected Z, median pairwise "
    "slope in cents/day — the nonparametric trend twin of "
    "theil_sen_trend",
    tags=("timeseries", "trend", "statistics", "aggregate"),
)
def q_mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("v")
    )
    idx = daily.select(
        "v", (F.row_number().over(Window.orderBy("day")) - 1).alias("i")
    )
    # the global row_number window leaves ONE partition; the i<j
    # inequality join is a broadcast nested loop whose parallelism is
    # the STREAM side's partitioning — spread it so the O(n^2/2) pair
    # evaluation runs on all cores instead of one task (11.8 s -> ~1 s
    # at sf0.1)
    a = idx.repartition(32).alias("a")
    b = idx.alias("b")
    pairs = a.join(b, F.col("a.i") < F.col("b.i")).select(
        F.col("a.v").alias("va"),
        F.col("b.v").alias("vb"),
        (F.col("b.i") - F.col("a.i")).alias("di"),
    )
    pairs = pairs.persist()  # consumed twice: the S sum and the median
    sstat = pairs.agg(
        F.sum(
            F.when(F.col("vb") > F.col("va"), 1)
            .when(F.col("vb") < F.col("va"), -1)
            .otherwise(0)
        )
        .cast("long")
        .alias("s"),
        F.count(F.lit(1)).cast("long").alias("np"),
    )
    # Sen slope = EXACT median of millions of pairwise slopes. Spark's
    # exact percentile buffers every value into one final task (9.7 s
    # measured); exact_rank_values selects the two middle ranks with
    # narrow passes instead, using the quantile_cont association so
    # the double replays bit-for-bit in the oracle.
    from shared_etl_pipelines_spark.operators.aggregates import (
        distributed_exact_median,
    )

    srow = sstat.collect()[0]
    slope = distributed_exact_median(
        pairs.select(
            ((F.col("vb") - F.col("va")).cast("double") / F.col("di")).alias(
                "sl"
            )
        ),
        "sl",
        n=int(srow["np"]),
    )
    pairs.unpersist()
    sstat = spark.createDataFrame(
        [(int(srow["s"]), float(slope))], "s long, slope double"
    )
    nn = daily.agg(F.count(F.lit(1)).cast("long").alias("n"))
    ties = (
        daily.groupBy("v")
        .agg(F.count(F.lit(1)).alias("t"))
        .filter(F.col("t") > 1)
        .agg(
            F.coalesce(
                F.sum(
                    F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("tt")
        )
    )
    j = sstat.crossJoin(nn).crossJoin(ties)  # three 1-row frames
    n, s, tt = F.col("n"), F.col("s"), F.col("tt")
    var_expr = (n * (n - 1) * (2 * n + 5) - tt) / 18.0
    return j.select(
        n.cast("int").alias("n_days"),
        s.alias("s_stat"),
        F.round(var_expr, 4).alias("var_s"),
        F.round(
            F.when(s > 0, (s - 1) / F.sqrt(var_expr))
            .when(s < 0, (s + 1) / F.sqrt(var_expr))
            .otherwise(F.lit(0.0)),
            4,
        ).alias("z"),
        F.round(F.col("slope"), 4).alias("sen_slope_cents"),
    )


# ---------------------------------------------------------------------------
# Kruskal-Wallis H (r8): the k-group generalization of mann_whitney_u
# completing the rank-test battery (MW = 2 groups, KW = k). Average
# ranks come from the BOUNDED distinct-cents table (cum-less + half
# the tie block — never a global row window), per-group rank sums are
# exact multiples of 0.5 (order-free in double), and the final 5-term
# H sum follows the anova_priority_f precedent (4-dp rounding absorbs
# the one float reduction).
# ---------------------------------------------------------------------------
@defquery(
    "kruskal_wallis_h",
    """
    WITH vals AS (
      SELECT o_orderpriority AS g,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS v
      FROM orders
    ),
    vc AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS c FROM vals GROUP BY v),
    vr AS (SELECT v, c, SUM(c) OVER (ORDER BY v) - c AS cum_less FROM vc),
    gv AS (SELECT g, v, CAST(COUNT(*) AS BIGINT) AS n_gv
           FROM vals GROUP BY g, v),
    gr AS (
      SELECT g,
             SUM(n_gv * (vr.cum_less + (vr.c + 1) / 2.0)) AS rsum,
             CAST(SUM(n_gv) AS BIGINT) AS n_g
      FROM gv JOIN vr USING (v) GROUP BY g
    ),
    nn AS (SELECT CAST(SUM(n_g) AS BIGINT) AS n,
                  CAST(COUNT(*) AS INT) AS k FROM gr),
    ties AS (
      SELECT CAST(COALESCE(SUM(c * c * c - c), 0) AS BIGINT) AS tt
      FROM vc WHERE c > 1
    ),
    h0 AS (
      SELECT n, k,
             12.0 / (n * (n + 1.0)) * SUM(rsum * rsum / n_g)
               - 3.0 * (n + 1.0) AS h_raw
      FROM gr, nn GROUP BY n, k
    )
    SELECT k AS n_groups, CAST(n AS BIGINT) AS n_rows,
           ROUND(h_raw, 4) AS h_raw,
           ROUND(h_raw / (1.0 - CAST(tt AS DOUBLE)
                                / (CAST(n AS DOUBLE) * n * n - n)), 4)
             AS h_tie_corrected
    FROM h0, ties
    """,
    doc="Kruskal-Wallis H over order totals by priority: tie-averaged "
    "ranks from the bounded distinct-cents table (cum-less + half the "
    "tie block, no global row window), exact per-group rank sums, "
    "tie-corrected H — the k-group member of the rank-test battery",
    tags=("statistics", "rank", "aggregate"),
)
def q_kruskal_wallis_h(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    vals = o.select(
        F.col("o_orderpriority").alias("g"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("v"),
    )
    vc = vals.groupBy("v").agg(F.count(F.lit(1)).cast("long").alias("c"))
    wv = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    vr = vc.select(
        "v", "c", (F.sum("c").over(wv) - F.col("c")).alias("cum_less")
    )
    gv = vals.groupBy("g", "v").agg(
        F.count(F.lit(1)).cast("long").alias("n_gv")
    )
    gr = (
        gv.join(vr, "v")
        .groupBy("g")
        .agg(
            F.sum(
                F.col("n_gv")
                * (F.col("cum_less") + (F.col("c") + 1) / F.lit(2.0))
            ).alias("rsum"),
            F.sum("n_gv").cast("long").alias("n_g"),
        )
    )
    nn = gr.agg(
        F.sum("n_g").cast("long").alias("n"),
        F.count(F.lit(1)).cast("int").alias("k"),
    )
    ties = vc.filter(F.col("c") > 1).agg(
        F.coalesce(
            F.sum(F.col("c") * F.col("c") * F.col("c") - F.col("c")), F.lit(0)
        )
        .cast("long")
        .alias("tt")
    )
    h0 = (
        gr.crossJoin(nn)  # nn is one row
        .groupBy("n", "k")
        .agg(
            (
                F.lit(12.0)
                / (F.col("n") * (F.col("n") + F.lit(1.0)))
                * F.sum(F.col("rsum") * F.col("rsum") / F.col("n_g"))
                - F.lit(3.0) * (F.col("n") + F.lit(1.0))
            ).alias("h_raw")
        )
    )
    out = h0.crossJoin(ties)  # both single-row frames
    return out.select(
        F.col("k").alias("n_groups"),
        F.col("n").cast("long").alias("n_rows"),
        F.round(F.col("h_raw"), 4).alias("h_raw"),
        F.round(
            F.col("h_raw")
            / (
                F.lit(1.0)
                - F.col("tt").cast("double")
                / (
                    F.col("n").cast("double") * F.col("n") * F.col("n")
                    - F.col("n")
                )
            ),
            4,
        ).alias("h_tie_corrected"),
    )


# ---------------------------------------------------------------------------
# Jaccard link prediction on the co-purchase graph (r8): for node
# pairs at distance 2 (sharing a neighbor, not yet connected), score
# |N(a) & N(b)| / |N(a) | N(b)| and emit the top candidate edges — the
# classic neighborhood link predictor, and the recommender primitive
# over the same thinned graph pagerank/triangles/k-core already use.
# Scale shape: the two-hop join is bounded by degree (the
# copurchase_triangles story), the non-edge check is one anti-join on
# the canonical edge list, never all-pairs.
# ---------------------------------------------------------------------------
@defquery(
    "link_prediction_jaccard",
    f"""
    WITH {_PR_EDGES_SQL},
    cand AS (
      SELECT e1.s AS a, e2.s AS b, CAST(COUNT(*) AS BIGINT) AS cn
      FROM e e1 JOIN e e2 ON e1.d = e2.d AND e1.s < e2.s
      GROUP BY 1, 2
    ),
    nonedge AS (
      SELECT cand.a, cand.b, cand.cn
      FROM cand LEFT JOIN e0 ON cand.a = e0.a AND cand.b = e0.b
      WHERE e0.a IS NULL
    ),
    j AS (
      SELECT ne.a, ne.b, ne.cn,
             CAST(ne.cn AS DOUBLE) / (da.outdeg + db.outdeg - ne.cn) AS jac
      FROM nonedge ne
      JOIN deg da ON da.s = ne.a JOIN deg db ON db.s = ne.b
    )
    SELECT a AS part_a, b AS part_b, cn AS common_neighbors,
           ROUND(jac, 4) AS jaccard
    FROM j ORDER BY jac DESC, a, b LIMIT 50
    """,
    doc="Jaccard link prediction: distance-2 co-purchase pairs scored "
    "|N(a)&N(b)|/|N(a)|N(b)| with an anti-join non-edge check, top-50 "
    "candidate edges — degree-bounded two-hop work, never all-pairs",
    tags=("graph", "join", "recommendation", "topk"),
)
def q_link_prediction_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _pr_edges(spark, sf_dir)  # canonical src < dst, distinct
    und = e.select(F.col("src").alias("s"), F.col("dst").alias("d")).unionByName(
        e.select(F.col("dst").alias("s"), F.col("src").alias("d"))
    )
    deg = und.groupBy("s").agg(F.count(F.lit(1)).cast("long").alias("outdeg"))
    u1 = und.alias("u1")
    u2 = und.alias("u2")
    cand = (
        u1.join(
            u2,
            (F.col("u1.d") == F.col("u2.d")) & (F.col("u1.s") < F.col("u2.s")),
        )
        .groupBy(F.col("u1.s").alias("a"), F.col("u2.s").alias("b"))
        .agg(F.count(F.lit(1)).cast("long").alias("cn"))
    )
    nonedge = cand.join(
        e.select(F.col("src").alias("a"), F.col("dst").alias("b")),
        ["a", "b"],
        "left_anti",
    )
    da = deg.select(F.col("s").alias("a"), F.col("outdeg").alias("dega"))
    db = deg.select(F.col("s").alias("b"), F.col("outdeg").alias("degb"))
    j = (
        nonedge.join(da, "a")
        .join(db, "b")
        .withColumn(
            "jac",
            F.col("cn").cast("double")
            / (F.col("dega") + F.col("degb") - F.col("cn")),
        )
    )
    return (
        j.orderBy(F.col("jac").desc(), "a", "b")
        .limit(50)
        .select(
            F.col("a").alias("part_a"),
            F.col("b").alias("part_b"),
            F.col("cn").alias("common_neighbors"),
            F.round("jac", 4).alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# Z-order file-skipping effectiveness audit (r11, VERDICT r10 task #8):
# the layout PLANNER's view. Rows map to planned files by fixed-width
# key ranges (a pure function of the key — oracle-replayable, and no
# global sort: one broadcast scalar + one hash agg), once under the
# Morton key over (p_partkey, p_size) and once under a linear
# p_partkey layout. The audit predicate p_size BETWEEN 10 AND 14
# touches only the SECOND dimension: the linear layout can skip
# nothing (every file spans the full p_size range) while the Z-order
# layout's per-file p_size windows stay tight — the property that makes
# multi-dimensional clustering pay at 100 TB scan time.
# ---------------------------------------------------------------------------
def _zorder_plan_oracle() -> str:
    from shared_etl_pipelines_spark.operators.layout import zorder_sql

    zk = zorder_sql(["p_partkey", "p_size"], bits=11)
    return f"""
    WITH z AS (
      SELECT p_partkey, p_size, ({zk}) AS k FROM part
    ),
    lin AS (SELECT p_partkey, p_size, CAST(p_partkey AS BIGINT) AS k FROM part),
    zf AS (
      SELECT 'zorder' AS layout, k // (SELECT MAX(k) // 16 + 1 FROM z)
               AS file_id, p_partkey, p_size
      FROM z
    ),
    lf AS (
      SELECT 'linear', k // (SELECT MAX(k) // 16 + 1 FROM lin),
             p_partkey, p_size
      FROM lin
    ),
    both_f AS (SELECT * FROM zf UNION ALL SELECT * FROM lf)
    SELECT layout, CAST(file_id AS BIGINT) AS file_id,
           COUNT(*) AS n_rows,
           MIN(p_partkey) AS mn_p_partkey, MAX(p_partkey) AS mx_p_partkey,
           CAST(MIN(p_size) AS INT) AS mn_p_size,
           CAST(MAX(p_size) AS INT) AS mx_p_size,
           (MAX(p_size) < 10 OR MIN(p_size) > 14) AS skippable
    FROM both_f GROUP BY 1, 2
    """


@defquery(
    "zorder_layout_plan",
    _zorder_plan_oracle(),
    doc="file-skipping effectiveness audit: per planned file (16 "
    "fixed-width key ranges), min/max stats and whether the probe "
    "p_size BETWEEN 10 AND 14 can skip it — Z-order layout vs linear "
    "p_partkey layout; only the Morton key yields skippable files "
    "under a second-dimension predicate",
    tags=("layout", "zorder", "scale-path", "plan"),
)
def q_zorder_layout_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from shared_etl_pipelines_spark.operators.layout import (
        plan_clustered_files,
        zorder_key,
    )

    p = _t(spark, sf_dir, "part").select("p_partkey", "p_size")
    plans = []
    for layout, key in (
        ("zorder", zorder_key(["p_partkey", "p_size"], bits=11)),
        ("linear", F.col("p_partkey").cast("long")),
    ):
        plans.append(
            plan_clustered_files(p, key, 16, ["p_partkey", "p_size"])
            .withColumn("layout", F.lit(layout))
        )
    out = plans[0].unionByName(plans[1])
    return out.select(
        "layout",
        "file_id",
        "n_rows",
        "mn_p_partkey",
        "mx_p_partkey",
        F.col("mn_p_size").cast("int").alias("mn_p_size"),
        F.col("mx_p_size").cast("int").alias("mx_p_size"),
        (
            (F.col("mx_p_size") < 10) | (F.col("mn_p_size") > 14)
        ).alias("skippable"),
    )
