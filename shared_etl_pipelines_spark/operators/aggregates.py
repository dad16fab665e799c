"""Aggregation operators.

The reference's zonal-statistics plugins declare their aggregate set as a
comma list ``min, p5, q1, med, avg, q3, p95, max``
(geo_county_raster_aggregate, pipelines/prism/county_daily_aggregate.yml:15)
and name output columns ``{value_prefix}_{agg}``. We implement the same
vocabulary as a parser from that list to Spark aggregate expressions.

Percentiles are EXACT (`F.percentile`, linear interpolation) to match the
reference's analytic intent and the DuckDB oracle (`quantile_cont`). At
100 TB exact percentiles require a full sort per group — pass
``approx=True`` to switch every percentile to `percentile_approx`
(t-digest-style sketch, single pass, mergeable across executors), which is
the cluster-scale default.

Weighted zonal aggregation re-expresses geo_county_weighted_raster_aggregate
(pipelines/prism/prism-mi-corn-ppt-county.yml:71-85): sum(v*w)/sum(w) per
zone — a map-side-combinable pair of sums, no custom UDAF needed.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# aggregate-name -> percentile fraction for the reference's vocabulary
_PCT = {
    "p1": 0.01,
    "p5": 0.05,
    "p10": 0.10,
    "q1": 0.25,
    "med": 0.50,
    "q3": 0.75,
    "p90": 0.90,
    "p95": 0.95,
    "p99": 0.99,
}

_SIMPLE = {
    "min": F.min,
    "max": F.max,
    "avg": F.avg,
    "mean": F.avg,
    "sum": F.sum,
    "count": F.count,
    "stddev": F.stddev_samp,
    "stddev_pop": F.stddev_pop,
    "var": F.var_samp,
    "first": F.first,
    "last": F.last,
}


def parse_agg_list(aggregations: str | list[str]) -> list[str]:
    """Normalize ``"min, p5, q1"`` or a list into clean agg names."""
    if isinstance(aggregations, str):
        parts = aggregations.split(",")
    else:
        parts = list(aggregations)
    return [p.strip().lower() for p in parts if p.strip()]


def _pct_frac(name: str) -> float | None:
    if name in _PCT:
        return _PCT[name]
    if name.startswith("p") and name[1:].replace(".", "", 1).isdigit():
        return float(name[1:]) / 100.0
    return None


def agg_exprs(
    value_col: str,
    aggregations: str | list[str],
    value_prefix: str = "",
    approx: bool = False,
) -> list[Column]:
    """Build aggregate expressions for the reference's declared-agg-list
    contract. Output aliases are ``{value_prefix}_{agg}`` (or ``{agg}``)."""
    cols: list[Column] = []
    v = F.col(value_col)
    for name in parse_agg_list(aggregations):
        alias = f"{value_prefix}_{name}" if value_prefix else name
        frac = _pct_frac(name)
        if frac is not None:
            c = F.percentile_approx(v, frac) if approx else F.percentile(v, frac)
        elif name in _SIMPLE:
            c = _SIMPLE[name](v)
        else:
            raise ValueError(f"unknown aggregation: {name!r}")
        cols.append(c.alias(alias))
    return cols


def agg_plan(
    value_col: str,
    aggregations: str | list[str],
    value_prefix: str = "",
    approx: bool = False,
) -> tuple[list[Column], list[Column]]:
    """Single-pass form of :func:`agg_exprs`: all percentile fractions share
    ONE ``percentile(v, array(...))`` aggregate (one sort buffer per group
    instead of one per fraction), unpacked afterwards by a projection.

    Returns ``(agg_cols, post_cols)``: apply ``agg(*agg_cols)`` then
    ``select(*group_cols, *post_cols)``.
    """
    names = parse_agg_list(aggregations)
    fracs = [f for f in (_pct_frac(n) for n in names) if f is not None]
    v = F.col(value_col)
    pct_alias = f"_pcts_{value_col}"
    aggs: list[Column] = []
    if fracs:
        pfn = F.percentile_approx if approx else F.percentile
        aggs.append(pfn(v, F.array(*[F.lit(f) for f in fracs])).alias(pct_alias))
    post: list[Column] = []
    pct_i = 0
    for name in names:
        alias = f"{value_prefix}_{name}" if value_prefix else name
        if _pct_frac(name) is not None:
            pct_i += 1  # element_at is 1-indexed
            post.append(F.element_at(F.col(pct_alias), pct_i).alias(alias))
        elif name in _SIMPLE:
            aggs.append(_SIMPLE[name](v).alias(alias))
            post.append(F.col(alias))
        else:
            raise ValueError(f"unknown aggregation: {name!r}")
    return aggs, post


def zonal_aggregate(
    cells: DataFrame,
    zone_cols: list[str],
    value_col: str,
    aggregations: str | list[str] = "min,p5,q1,med,avg,q3,p95,max",
    value_prefix: str = "",
    approx: bool = False,
    extra_aggs: dict[str, Column] | None = None,
) -> DataFrame:
    """Zonal statistics = GROUP BY zone + declared multi-aggregate list.

    Reference: geo_county_raster_aggregate.py invocation,
    pipelines/prism/county_daily_aggregate.yml:24-36 (agg list line 15).
    Scale note: one shuffle on the zone key with map-side partial
    aggregation for the algebraic aggs; all percentiles share a single
    sort buffer per group (agg_plan) — use approx=True at cluster scale
    to replace the sort with a mergeable sketch.
    """
    aggs, post = agg_plan(value_col, aggregations, value_prefix, approx)
    extra = {k: c.alias(k) for k, c in (extra_aggs or {}).items()}
    out = cells.groupBy(*zone_cols).agg(*aggs, *extra.values())
    return out.select(*zone_cols, *post, *extra)


def _q(name: str) -> str:
    """Backquote a column name for SQL text."""
    return "`" + name.replace("`", "``") + "`"


def _pos(frac: float) -> str:
    """SQL for the 0-based fractional rank (n - 1) * frac of a group."""
    return f"(CAST(_n - 1 AS DOUBLE) * {frac!r}D)"


def ranked_quantiles(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    aggregations: str | list[str] = "min,p5,q1,med,avg,q3,p95,max",
    value_prefix: str = "",
    num_partitions: int | None = None,
) -> DataFrame:
    """EXACT quantiles with fully distributed selection — the 100 TB
    exact path, built as ONE lazy plan: no action runs until the caller
    collects, and nothing is persisted.

    ``percentile()`` buffers every value of a group inside ONE task, so a
    group bigger than executor memory breaks it and per-group parallelism
    is 1. This formulation never builds a group-sized buffer:

    1. one sketch pass computes per-group APPROXIMATE bucket boundaries
       bs_1 <= ... <= bs_{B-1} (``percentile_approx``) — placement only:
       exactness never depends on where a cut lands, only on every pass
       bucketing identically. The boundaries are broadcast once; both of
       their consumers read that one exchange, so the sketch runs once
       without a cache;
    2. ONE full-width counts pass: per group, the global simple
       aggregates (min/max/avg/sum/count) and the CUMULATIVE bucket
       counts C_i = #values >= bs_i — map-side-combined conditional sums
       over scalar boundary columns, a pure function of the value. Bucket
       b holds the values in [bs_b, bs_{b+1}) (open ends), and n - C_b
       values precede it;
    3. rank r of a group lies in bucket b = #{i : C_i >= n - r + 1}, so
       the rank ledger is one projection of that one-row-per-group frame:
       each group explodes into the DISTINCT buckets holding a bracketing
       rank of some requested quantile (at most 2 x quantiles of them),
       each carried as a VALUE RANGE with its rank offset and the group's
       totals. The final pass keeps hit-range rows via a broadcast range
       probe (the big side never computes a bucket id — a 31-term
       element_at expression knocked that stage out of whole-stage
       codegen, measured 6x slower), ranks the surviving sliver with a
       row_number window (shuffling survivors only), and interpolates
       v_lo + frac * (v_hi - v_lo) — the same expression DuckDB's
       quantile_cont and Spark's percentile evaluate, so results
       hash-match the oracle exactly.

    Three scans of ``df``, no range shuffle, no persist. Shuffled bytes
    are O(groups x buckets + survivors). Survivors are the rows of the
    hit buckets, about 2 x quantiles x n / B per group when values are
    spread — but a bucket cannot split a run of equal values, so in a
    group dominated by ONE value the hit bucket holds that whole run and
    the window shuffles most of the group into one task.

    SQL semantics at the edges: group keys match null-safe, so a NULL
    group is a group on every path; NULL values are ignored; a group
    with no non-NULL value yields count 0 and NULL for everything else.
    """
    names = parse_agg_list(aggregations)
    # "<pct>_disc" = discrete percentile: the value at rank ceil(q*n) (no
    # interpolation) — DuckDB quantile_disc semantics
    disc = {n: _pct_frac(n[: -len("_disc")]) for n in names if n.endswith("_disc")}
    fracs = {n: (None if n in disc else _pct_frac(n)) for n in names}
    unsupported = [
        n for n in names
        if fracs[n] is None
        and disc.get(n) is None
        and n not in ("min", "max", "avg", "mean", "sum", "count")
    ]
    if unsupported:
        raise ValueError(f"ranked_quantiles cannot compute: {unsupported}")

    from pyspark.sql import Window

    spark = df.sparkSession
    p = num_partitions or spark.sparkContext.defaultParallelism
    n_buckets = max(16, min(64, int(p) // 2))
    vq = _q(value_col)
    # NULL values stay in: count/min/max/sum and percentile_approx skip
    # them, and a group holding only NULLs must still come out
    base = df.select(*group_cols, value_col)
    totals = [f"count({vq}) AS _n", f"min({vq}) AS _gmin", f"max({vq}) AS _gmax",
              f"sum({vq}) AS _gsum"]

    if not any(f is not None for f in fracs.values()) and not disc:
        # no quantiles requested: one map-side-combined pass holds
        # everything — no buckets, no windows
        out = base.groupBy(*group_cols).agg(*[F.expr(t) for t in totals])
        return _ranked_post(out, names, fracs, {}, group_cols, value_prefix)

    # the small side of every broadcast join carries the group keys
    # under these names, matched null-safe (a NULL group is a group)
    keys = [f"_k{i}" for i in range(len(group_cols))]

    def bjoin(big: DataFrame, small: DataFrame) -> DataFrame:
        on = [F.col(g).eqNullSafe(F.col(k)) for g, k in zip(group_cols, keys)]
        return big.join(F.broadcast(small), on)

    # 1. sketch pass. Accuracy 200 (vs the 10000 default) cuts the pass
    # ~2x at sf0.1; placement only affects bucket BALANCE. Boundaries
    # become SCALAR columns for the full-width pass below (array access
    # stays on groups-sized frames, see step 3 of the docstring).
    bfr = ",".join(f"{i / n_buckets!r}D" for i in range(1, n_buckets))
    bw = (
        base.groupBy(*group_cols)
        .agg(F.expr(f"percentile_approx({vq}, array({bfr}), 200) AS _bs"))
        .selectExpr(
            *[f"{_q(g)} AS {k}" for g, k in zip(group_cols, keys)],
            *[f"_bs[{i}] AS _bs{i + 1}" for i in range(n_buckets - 1)],
        )
    )

    # 2. ONE full-width counts pass: totals + _cs = [C_1 .. C_{B-1}],
    # one row per group. The boundary array is NOT carried through this
    # aggregate: an array-typed buffer (first(_bs)) turns it into a
    # SortAggregate that sorts every row (2x slower at 2.4M rows)
    cs = ",".join(
        f"sum(CAST({vq} >= _bs{i} AS BIGINT))" for i in range(1, n_buckets)
    )
    stats = (
        bjoin(base, bw)
        .groupBy(*group_cols)
        .agg(*[F.expr(t) for t in totals], F.expr(f"array({cs}) AS _cs"))
    )

    # 3. the rank ledger: one row per (group, hit bucket). For each rank
    # r that brackets a requested quantile, its bucket is the number of
    # cumulative counts >= n - r + 1; C_0 = n and C_B = 0 close the ends.
    rank_sql: dict[str, str] = {}  # label -> SQL of a rank, a function of _n
    for frac in sorted({f for f in fracs.values() if f is not None}):
        h = _pos(frac)
        rank_sql[f"lo{frac!r}"] = f"CAST(floor({h}) + 1 AS BIGINT)"
        rank_sql[f"hi{frac!r}"] = f"CAST(ceil({h}) + 1 AS BIGINT)"
    for frac in sorted(set(disc.values())):
        rank_sql[f"d{frac!r}"] = (
            f"greatest(1L, CAST(ceil(CAST(_n AS DOUBLE) * {frac!r}D) AS BIGINT))"
        )
    hit_b = ",".join(
        f"size(filter(_cs, c -> c >= _n - {r} + 1))" for r in rank_sql.values()
    )
    totals_cols = ["_n", "_gmin", "_gmax", "_gsum"]
    groups_q = [_q(g) for g in group_cols]
    led = stats.selectExpr(
        *groups_q, *totals_cols, "_cs",
        f"explode(array_distinct(array({hit_b}))) AS _b",
    ).selectExpr(
        *groups_q, *totals_cols, "_b",
        "_n - CASE WHEN _b = 0 THEN _n ELSE _cs[_b - 1] END AS _offset",
    )
    # Each hit bucket's value range comes back through the SAME broadcast
    # as step 2's (same columns, so the exchange is reused: the sketch and
    # its build still run once).
    last = n_buckets - 1
    bs = "array(" + ",".join(f"_bs{i}" for i in range(1, n_buckets)) + ")"
    ledger = bjoin(led.filter("_n > 0"), bw).selectExpr(
        *keys, *totals_cols, "_b", "_offset",
        f"CASE WHEN _b > 0 THEN {bs}[_b - 1] END AS _lo",
        f"CASE WHEN _b < {last} THEN {bs}[_b] END AS _hi",
    )

    # final pass: the broadcast range probe keeps hit-bucket rows only,
    # ranks that sliver within its bucket, keeps the bracketing rows and
    # folds them (with the ledger's totals) to one row per group
    w_rank = Window.partitionBy(*group_cols, "_b").orderBy(value_col)
    hits = (
        bjoin(base, ledger)
        .filter(
            f"{vq} IS NOT NULL AND (_lo IS NULL OR {vq} >= _lo)"
            f" AND (_hi IS NULL OR {vq} < _hi)"
        )
        .withColumn("_rank", F.col("_offset") + F.row_number().over(w_rank))
        .filter(" OR ".join(f"_rank = {r}" for r in rank_sql.values()))
    )
    q_aggs = [f"max({c}) AS {c}" for c in totals_cols]
    for name, frac in fracs.items():
        if frac is not None:
            for end in ("lo", "hi"):
                r = rank_sql[f"{end}{frac!r}"]
                alias = _q(f"_{end}_{name}")
                q_aggs.append(f"max(CASE WHEN _rank = {r} THEN {vq} END) AS {alias}")
    for name, frac in disc.items():
        r = rank_sql[f"d{frac!r}"]
        alias = _q(f"_d_{name}")
        q_aggs.append(f"max(CASE WHEN _rank = {r} THEN {vq} END) AS {alias}")
    out = hits.groupBy(*group_cols).agg(*[F.expr(a) for a in q_aggs])
    # a group with no value has no hit rows: it comes straight from the
    # ledger (one row each; the counts exchange is reused, no extra pass)
    empty = led.filter("_n = 0").selectExpr(*groups_q, *totals_cols)
    out = out.unionByName(empty, allowMissingColumns=True)
    return _ranked_post(out, names, fracs, disc, group_cols, value_prefix)


def _ranked_post(
    out: DataFrame,
    names: list[str],
    fracs: dict[str, float | None],
    disc: dict[str, float],
    group_cols: list[str],
    value_prefix: str,
) -> DataFrame:
    simple = {"min": "_gmin", "max": "_gmax", "avg": "_gsum / _n",
              "mean": "_gsum / _n", "sum": "_gsum", "count": "_n"}
    post: list[str] = []
    for name in names:
        alias = _q(f"{value_prefix}_{name}" if value_prefix else name)
        frac = fracs[name]
        if name in disc:
            post.append(f"{_q(f'_d_{name}')} AS {alias}")
        elif frac is not None:
            # DuckDB quantile_cont / Spark percentile interpolation form
            h = _pos(frac)
            lo, hi = _q(f"_lo_{name}"), _q(f"_hi_{name}")
            post.append(f"{lo} + ({h} - floor({h})) * ({hi} - {lo}) AS {alias}")
        else:
            post.append(f"{simple[name]} AS {alias}")
    return out.selectExpr(*[_q(g) for g in group_cols], *post)


def weighted_zonal_aggregate(
    cells: DataFrame,
    zone_cols: list[str],
    value_col: str,
    weight_col: str,
    out_col: str = "wavg",
) -> DataFrame:
    """Weighted mean per zone: sum(v*w)/sum(w).

    Reference: geo_county_weighted_raster_aggregate.py,
    pipelines/prism/prism-mi-corn-ppt-county.yml:71-85. Both sums combine
    map-side, so the shuffle carries two doubles per (zone) group — this
    plan is flat in data volume and survives any scale-up.
    """
    v, w = F.col(value_col), F.col(weight_col)
    return cells.groupBy(*zone_cols).agg(
        (F.sum(v * w) / F.sum(w)).alias(out_col),
        F.sum(w).alias(f"{out_col}_weight"),
    )


def exact_rank_values(
    df: DataFrame, col: str, ranks: list[int], num_partitions: int = 64
) -> dict[int, float]:
    """Exact k-th smallest values (1-based ``ranks``) of a large
    column WITHOUT a global sort or a single-task percentile buffer.

    Spark's exact ``percentile`` aggregate merges every value into one
    final task (9.7 s for 2.9M doubles, measured round 8); selection
    only needs: (1) range-repartition by value — equal values land in
    one partition, partition ids are value-ordered — (2) O(partitions)
    per-partition counts to the driver, (3) collect + sort ONLY the
    partitions holding the requested ranks (~n/partitions values).
    Driver traffic is O(partitions + n/partitions); every heavy step
    is a narrow distributed pass. The multiset's k-th smallest is
    well-defined whatever the partition boundaries, so the (sampled)
    range split affects cost, never the answer.
    """
    # NULLs (e.g. minted by the cast) would silently shift every rank
    # and crash the local sort — ranks are defined over the NON-NULL
    # multiset (review r8 #10)
    s = (
        df.select(F.col(col).cast("double").alias("x"))
        .filter(F.col("x").isNotNull())
        .repartitionByRange(num_partitions, "x")
        .persist()
    )
    try:
        pc = (
            s.groupBy(F.spark_partition_id().alias("pid"))
            .agg(F.count(F.lit(1)).alias("c"))
            .collect()
        )
        parts = sorted((r["pid"], r["c"]) for r in pc)
        out: dict[int, float] = {}
        need = sorted(set(ranks))
        cum = 0
        for pid, c in parts:
            local = [k for k in need if cum < k <= cum + c]
            if local:
                vals = sorted(
                    r["x"]
                    for r in s.withColumn("pid", F.spark_partition_id())
                    .filter(F.col("pid") == pid)
                    .select("x")
                    .collect()
                )
                for k in local:
                    out[k] = vals[k - cum - 1]
            cum += c
        missing = [k for k in need if k not in out]
        if missing:
            raise ValueError(f"ranks {missing} exceed row count {cum}")
        return out
    finally:
        s.unpersist()


def distributed_exact_median(df: DataFrame, col: str, n: int | None = None) -> float:
    """Exact interpolated median via :func:`exact_rank_values`,
    computed with the SQL ``quantile_cont`` association
    ``lo + (hi - lo) * 0.5`` so the double matches an oracle replay
    bit-for-bit. ``n`` (if given) must be the NON-NULL count — the
    default recomputes it with the same null filter the selection
    applies."""
    if n is None:
        n = df.filter(F.col(col).isNotNull()).count()
    if n == 0:
        raise ValueError("median of an empty frame")
    k1, k2 = (n + 1) // 2, n // 2 + 1
    got = exact_rank_values(df, col, [k1, k2])
    lo, hi = got[k1], got[k2]
    return lo + (hi - lo) * 0.5
