"""Unit tests for the analytics operators: hand-computed interpolation,
funnel ordering semantics, deterministic mode, MAD fences."""

import datetime

from pyspark.sql import functions as F

from shared_etl_pipelines_spark.operators.hypertable import gap_fill_interpolate


def _d(s):
    return datetime.date.fromisoformat(s)


def test_interpolate_fills_linear_and_keeps_edges_null(spark):
    df = spark.createDataFrame(
        [
            (1, _d("2024-01-02"), 100),
            (1, _d("2024-01-05"), 400),
            (1, _d("2024-01-06"), 0),
        ],
        "k int, day date, v long",
    )
    out = gap_fill_interpolate(df, "k", "day", "v", "2024-01-01", "2024-01-07")
    rows = {r["day"].isoformat(): (r["v_interp"], r["was_gap"]) for r in out.collect()}
    assert len(rows) == 7
    # edge before first observation: NULL, still flagged as gap
    assert rows["2024-01-01"] == (None, 1)
    # observed days pass through exactly
    assert rows["2024-01-02"] == (100.0, 0)
    assert rows["2024-01-05"] == (400.0, 0)
    assert rows["2024-01-06"] == (0.0, 0)
    # interior gap: linear between (01-02, 100) and (01-05, 400)
    assert rows["2024-01-03"] == (200.0, 1)
    assert rows["2024-01-04"] == (300.0, 1)
    # edge after last observation: NULL (never extrapolates)
    assert rows["2024-01-07"] == (None, 1)


def test_interpolate_empty_input(spark):
    df = spark.createDataFrame([], "k int, day date, v long")
    out = gap_fill_interpolate(df, "k", "day", "v", "2024-01-01", "2024-01-03")
    assert out.count() == 0  # no keys -> empty spine, not an error


def test_interpolate_single_observation_no_fabrication(spark):
    df = spark.createDataFrame([(7, _d("2024-01-02"), 50)], "k int, day date, v long")
    out = gap_fill_interpolate(df, "k", "day", "v", "2024-01-01", "2024-01-03")
    rows = {r["day"].isoformat(): r["v_interp"] for r in out.collect()}
    assert rows == {"2024-01-01": None, "2024-01-02": 50.0, "2024-01-03": None}


def test_funnel_requires_strict_event_order(spark, sf_dir):
    """A click BEFORE the first view must not advance the funnel."""
    from shared_etl_pipelines_spark.queries import REGISTRY

    ts = datetime.datetime
    ev = spark.createDataFrame(
        [
            # user 1: full ordered funnel
            (1, 1, "view", ts(2024, 1, 1, 0, 0)),
            (2, 1, "click", ts(2024, 1, 1, 1, 0)),
            (3, 1, "purchase", ts(2024, 1, 1, 2, 0)),
            # user 2: click precedes the only view -> stuck at stage 1
            (4, 2, "click", ts(2024, 1, 1, 0, 0)),
            (5, 2, "view", ts(2024, 1, 1, 1, 0)),
            # user 3: purchase before click -> stage 2
            (6, 3, "view", ts(2024, 1, 1, 0, 0)),
            (7, 3, "purchase", ts(2024, 1, 1, 1, 0)),
            (8, 3, "click", ts(2024, 1, 1, 2, 0)),
            # user 4: never viewed -> absent from the funnel
            (9, 4, "purchase", ts(2024, 1, 1, 0, 0)),
        ],
        "event_id long, user_id long, event_type string, ts timestamp",
    )
    # rebuild the query body against the synthetic frame
    v = ev.filter(F.col("event_type") == "view").groupBy("user_id").agg(
        F.min("ts").alias("t_view")
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
            ).alias("stage"),
        )
    )
    stages = {r["user_id"]: r["stage"] for r in out.collect()}
    assert stages == {1: 3, 2: 1, 3: 2}

    # and the registry entry runs end-to-end on real data
    df = REGISTRY["event_funnel"].fn(spark, sf_dir)
    assert df.count() > 0
    assert set(df.columns) == {"user_id", "stage"}


def test_mode_deterministic_tiebreak(spark, sf_dir):
    from shared_etl_pipelines_spark.queries import REGISTRY

    df = REGISTRY["mode_event_type"].fn(spark, sf_dir)
    rows = df.collect()
    # one row per user, mode is one of the five types
    assert len(rows) == df.select("user_id").distinct().count()
    assert set(r["mode_type"] for r in rows) <= {
        "view", "click", "purchase", "signup", "error",
    }


def test_outlier_mad_fence(spark):
    """Hand-checkable: 9 points at 0..8 plus one at 1000 -> exactly 1 outlier."""
    data = [("A", float(i)) for i in range(9)] + [("A", 1000.0)]
    df = spark.createDataFrame(data, "grp string, v double")
    med = df.groupBy("grp").agg(F.percentile("v", F.lit(0.5)).alias("med"))
    j = df.join(med, "grp")
    mad = j.withColumn("adev", F.abs(F.col("v") - F.col("med"))).groupBy("grp").agg(
        F.percentile("adev", F.lit(0.5)).alias("mad")
    )
    out = (
        j.join(mad, "grp")
        .groupBy("grp", "med", "mad")
        .agg(
            F.sum(
                F.when(
                    F.abs(F.col("v") - F.col("med"))
                    > F.lit(3) * F.lit(1.4826) * F.col("mad"),
                    1,
                ).otherwise(0)
            ).alias("n_outliers")
        )
        .collect()[0]
    )
    assert out["med"] == 4.5  # even count -> interpolated median
    assert out["n_outliers"] == 1


def test_weighted_median_hand_computed(spark):
    """weights shift the median away from the unweighted one."""
    # values 1..4; weight 10 on value 4 dominates -> weighted median = 4
    df = spark.createDataFrame(
        [("A", 1.0, 1), ("A", 2.0, 1), ("A", 3.0, 1), ("A", 4.0, 10)],
        "grp string, v double, wt long",
    )
    from pyspark.sql import Window

    w = df.groupBy("grp", "v").agg(F.sum("wt").alias("wt"))
    win_cum = (
        Window.partitionBy("grp")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = w.select(
        "grp", "v",
        F.sum("wt").over(win_cum).alias("cum_w"),
        F.sum("wt").over(Window.partitionBy("grp")).alias("tot_w"),
    )
    row = (
        c.filter(F.col("cum_w") >= 0.5 * F.col("tot_w"))
        .groupBy("grp")
        .agg(F.min("v").alias("wm"))
        .collect()[0]
    )
    assert row["wm"] == 4.0


def test_time_range_frame_differs_from_row_frame(spark):
    """Range frame must include peers/time-window, not a fixed row count."""
    from pyspark.sql import Window

    # events at t=0, 10, 100_000 (outside 24h of nothing), values 1,2,4
    df = spark.createDataFrame(
        [(1, 0, 1), (1, 10, 2), (1, 100_000, 4)],
        "user_id long, epoch_s long, cents long",
    )
    w = Window.partitionBy("user_id").orderBy("epoch_s").rangeBetween(-86399, 0)
    rows = {
        r["epoch_s"]: r["s"]
        for r in df.select("epoch_s", F.sum("cents").over(w).alias("s")).collect()
    }
    assert rows == {0: 1, 10: 3, 100_000: 4}  # last event sees only itself


def test_profile_columns_nulls_and_types(spark):
    from shared_etl_pipelines_spark.operators.quality import profile_columns

    df = spark.createDataFrame(
        [(1, "a", 10.5), (2, None, 999.0), (None, "b", None), (2, "a", 0.25)],
        "k long, s string, v double",
    )
    rows = {r["col"]: r for r in profile_columns(df).collect()}
    assert rows["k"]["n"] == 4
    assert rows["k"]["n_null"] == 1
    assert rows["k"]["n_distinct"] == 2  # distinct ignores NULL
    assert rows["k"]["min_str"] == "1.0" and rows["k"]["max_str"] == "2.0"
    # numeric max must be numeric, not lexicographic: 999.0 > 10.5
    assert rows["v"]["max_str"] == "999.0" and rows["v"]["min_str"] == "0.25"
    assert rows["s"]["n_null"] == 1 and rows["s"]["min_str"] == "a"


def test_check_expectations_null_counts_as_violation(spark):
    from shared_etl_pipelines_spark.operators.quality import check_expectations

    df = spark.createDataFrame([(1.0,), (-2.0,), (None,)], "v double")
    rows = {
        r["check_name"]: r
        for r in check_expectations(
            df, {"v_positive": F.col("v") > 0, "v_not_null": F.col("v").isNotNull()}
        ).collect()
    }
    # -2.0 fails, NULL fails (unevaluable check did not hold)
    assert rows["v_positive"]["n_violations"] == 2
    assert rows["v_positive"]["pass"] is False
    assert rows["v_not_null"]["n_violations"] == 1
    assert rows["v_positive"]["n_rows"] == 3


def test_profile_is_expand_free(spark):
    """Exact multi-column COUNT(DISTINCT) in one agg makes Spark plan an
    Expand (every row replicated once per distinct agg — benched 3.6x
    slower). The union-of-branches profile must never contain one; each
    branch is its own column-pruned scan + two-phase distinct."""
    from shared_etl_pipelines_spark.operators.quality import profile_columns

    df = spark.range(100).selectExpr("id AS a", "id % 3 AS b")
    plan = profile_columns(df)._jdf.queryExecution().executedPlan().toString()
    assert "Expand" not in plan
    # one branch (scan) per profiled column, unioned
    assert plan.count("Range") == 2
    assert "Union" in plan


def test_zorder_key_interleaves_bits(spark):
    from shared_etl_pipelines_spark.operators.layout import zorder_key

    df = spark.createDataFrame([(0b101, 0b011)], "a long, b int")
    z = df.select(zorder_key(["a", "b"], bits=3).alias("z")).collect()[0]["z"]
    # a bits land at even positions (0,2,4), b bits at odd (1,3,5):
    # a=101 -> set bits at 0 and 4 ; b=011 -> set bits at 1 and 3
    assert z == 0b011011


def test_zorder_write_improves_multi_column_skipping(spark, tmp_path):
    """Row-group min/max spans must be tight on BOTH clustered columns;
    a single-column sort leaves the other column unclustered."""
    import pyarrow.parquet as pq

    from shared_etl_pipelines_spark.operators.layout import write_zordered

    df = (
        spark.range(20_000)
        .selectExpr("CAST(id % 1024 AS LONG) AS x", "CAST((id * 7) % 1024 AS LONG) AS y")
    )

    def span_fraction(path, col):
        """Mean fraction of the value domain each row group's [min,max] covers."""
        spans, n = 0.0, 0
        for piece in __import__("pathlib").Path(path).glob("*.parquet"):
            f = pq.ParquetFile(str(piece))
            idx = f.schema_arrow.names.index(col)
            for rg in range(f.metadata.num_row_groups):
                st = f.metadata.row_group(rg).column(idx).statistics
                spans += (st.max - st.min) / 1023.0
                n += 1
        return spans / n

    z_path = str(tmp_path / "zordered")
    s_path = str(tmp_path / "xsorted")
    write_zordered(df, z_path, ["x", "y"], bits=10, n_files=8)
    (
        df.repartitionByRange(8, "x")
        .sortWithinPartitions("x")
        .write.mode("overwrite")
        .parquet(s_path)
    )

    # x-sorted layout: x is tight but y spans ~everything per row group
    assert span_fraction(s_path, "y") > 0.9
    # z-ordered layout: BOTH columns' spans shrink substantially (a
    # contiguous z-range of fraction f covers ~sqrt(f) of each axis plus
    # curve-boundary slop — far below the unclustered ~1.0)
    assert span_fraction(z_path, "x") < 0.6
    assert span_fraction(z_path, "y") < 0.6


def test_embedding_quantization_codes_in_range(spark, sf_dir):
    """Codes live in [0,255]; min and max of every dimension hit the rails."""
    from shared_etl_pipelines_spark.queries import REGISTRY

    df = REGISTRY["embedding_quantize_int8"].fn(spark, sf_dir)
    stats = df.groupBy("dim").agg(
        F.min("code").alias("lo"), F.max("code").alias("hi")
    ).collect()
    assert len(stats) == 64
    for r in stats:
        assert r["lo"] == 0  # the dimension minimum quantizes to 0
        assert 250 <= r["hi"] <= 255  # the maximum lands on/near the top rail


def test_ewma_closed_form_matches_recurrence(spark, sf_dir):
    """The bit-shift closed form must equal the textbook recurrence
    y_t = 0.5*x_t + 0.5*y_{t-1} (zero-init) to within the 1e-4 floor
    granularity, per user, across every day."""
    import pandas as pd

    from shared_etl_pipelines_spark.queries import REGISTRY
    from shared_etl_pipelines_spark.sources.tables import load_table

    got = (
        REGISTRY["ewma_daily_value"].fn(spark, sf_dir).toPandas()
        .set_index(["user_id", "day"])["ewma"]
    )
    ev = load_table(spark, sf_dir, "events").toPandas()
    ev["day"] = ev["ts"].dt.date.astype(str)
    ev["cents"] = (ev["value"] * 100).round().astype("int64")
    daily = ev.groupby(["user_id", "day"], as_index=False)["cents"].sum()
    n_checked = 0
    for uid, grp in daily.groupby("user_id"):
        y = 0.0
        for _, row in grp.sort_values("day").iterrows():
            y = 0.5 * (row["cents"] / 100.0) + 0.5 * y
            assert abs(got[(uid, row["day"])] - y) < 2e-4
            n_checked += 1
    assert n_checked == len(got)


def test_hll_union_estimate_bounded_in_approx_regime(spark):
    """Past the sparse-exact regime the merged HLL estimate must stay
    within ~3x the configured rsd of truth AND the union of daily
    sketches must equal a single global sketch's estimate (merge
    consistency — the property range rollups rely on)."""
    from pyspark.sql import functions as F

    df = spark.range(200_000).select(
        (F.col("id") % 30).alias("day"), (F.col("id") % 57_123).alias("uid")
    )
    daily = df.groupBy("day").agg(F.expr("hll_sketch_agg(uid)").alias("sk"))
    merged = daily.agg(
        F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias("est")
    ).collect()[0]["est"]
    direct = df.agg(
        F.expr("hll_sketch_estimate(hll_sketch_agg(uid))").alias("est")
    ).collect()[0]["est"]
    assert merged == direct  # sketch union == sketch of union
    assert abs(merged - 57_123) / 57_123 < 0.05


def test_compact_small_files(spark, tmp_path):
    """64 tiny files -> sized output partitions; data survives exactly;
    sorted variant keeps the clustering column ordered within files."""
    import glob

    from shared_etl_pipelines_spark.operators.layout import compact_small_files

    src = str(tmp_path / "frag")
    dst = str(tmp_path / "compact")
    spark.range(10_000).selectExpr("id", "id % 7 AS k").repartition(64).write.parquet(src)
    n_src = len(glob.glob(src + "/*.parquet"))
    assert n_src == 64
    total = sum(
        __import__("os").path.getsize(p) for p in glob.glob(src + "/*.parquet")
    )
    stats = compact_small_files(spark, src, dst, target_file_bytes=total // 3)
    assert stats["files_in"] == 64 and stats["bytes_in"] == total
    n_dst = len(glob.glob(dst + "/*.parquet"))
    assert n_dst == stats["files_out"] <= 4  # ceil(total / (total//3)) = 3 (+rounding)
    got = spark.read.parquet(dst)
    assert got.count() == 10_000
    assert got.agg({"id": "sum"}).collect()[0][0] == sum(range(10_000))


def test_pagerank_matches_pure_python_replay(spark):
    """The distributed fit must match a dense numpy PageRank on the same
    graph (tolerance: summation-order ulps only), and conserve total
    rank mass exactly (no dangling nodes in an undirected graph)."""
    import numpy as np

    from shared_etl_pipelines_spark.operators.graph import pagerank

    edges = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["rank"] for r in pagerank(df, iterations=10).collect()}

    n = 5
    adj = np.zeros((n, n))
    for a, b in edges:
        adj[a, b] = adj[b, a] = 1
    outdeg = adj.sum(axis=1)
    r = np.ones(n)
    for _ in range(10):
        r = 0.15 + 0.85 * (adj.T @ (r / outdeg))
    for i in range(n):
        assert abs(got[i] - r[i]) < 1e-9, (i, got[i], r[i])
    assert abs(sum(got.values()) - n) < 1e-9  # mass conservation


def test_sweep_line_concurrency_hand_case(spark):
    """Three overlapping intervals -> peak 3 on the day all are open;
    after one closes the count drops (closings take effect next day)."""
    import datetime as dt

    from pyspark.sql import functions as F

    rows = [
        (1, dt.date(2024, 1, 1), dt.date(2024, 1, 5)),
        (2, dt.date(2024, 1, 3), dt.date(2024, 1, 4)),
        (3, dt.date(2024, 1, 4), dt.date(2024, 1, 10)),
    ]
    spans = spark.createDataFrame(rows, ["k", "d0", "d1"])
    starts = spans.groupBy(F.col("d0").alias("day")).agg(
        F.count(F.lit(1)).alias("delta")
    )
    ends = spans.groupBy(F.date_add("d1", 1).alias("day")).agg(
        (-F.count(F.lit(1))).alias("delta")
    )
    from pyspark.sql import Window

    byday = starts.unionByName(ends).groupBy("day").agg(
        F.sum("delta").alias("delta")
    )
    swept = byday.withColumn(
        "open", F.sum("delta").over(Window.orderBy("day"))
    )
    got = {str(r["day"]): r["open"] for r in swept.collect()}
    assert got["2024-01-04"] == 3      # all three open
    assert got["2024-01-05"] == 2      # k=2 closed end-of-Jan-4
    assert got["2024-01-11"] == 0      # everything closed


def test_pareto_frontier_matches_bruteforce(spark):
    """Running-max skyline == O(n^2) dominance anti-join on random data."""
    from pyspark.sql import Window, functions as F

    df = spark.range(500).select(
        F.col("id").alias("k"),
        ((F.col("id") * 7919) % 97).cast("double").alias("price"),
        ((F.col("id") * 104729) % 53).cast("int").alias("size"),
    )
    pp = df.groupBy("price").agg(F.max("size").alias("msize"))
    runs = pp.withColumn(
        "m_strict",
        F.max("msize").over(
            Window.orderBy("price").rowsBetween(Window.unboundedPreceding, -1)
        ),
    )
    sky = (
        df.join(runs, "price")
        .filter(
            (F.col("m_strict").isNull() | (F.col("m_strict") < F.col("size")))
            & (F.col("msize") <= F.col("size"))
        )
        .select("k")
    )
    a = df.alias("a")
    b = df.alias("b")
    dominated = a.join(
        b,
        (F.col("b.price") <= F.col("a.price"))
        & (F.col("b.size") >= F.col("a.size"))
        & (
            (F.col("b.price") < F.col("a.price"))
            | (F.col("b.size") > F.col("a.size"))
        ),
        "left_semi",
    ).select("a.k")
    brute = df.select("k").exceptAll(dominated)
    assert sorted(r["k"] for r in sky.collect()) == sorted(
        r["k"] for r in brute.collect()
    )


def test_label_propagation_replay_and_convergence(spark):
    """3-round synchronous LPA must match a pure-python replay with the
    same (max count, min label) tie-break, and a two-clique graph with
    one bridge must converge to exactly two communities."""
    from shared_etl_pipelines_spark.operators.graph import label_propagation

    # two triangles {0,1,2} and {10,11,12} joined by a single bridge 2-10
    edges = [(0, 1), (1, 2), (0, 2), (10, 11), (11, 12), (10, 12), (2, 10)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["label"] for r in label_propagation(df, iterations=3).collect()}

    # pure-python synchronous replay
    nbrs: dict[int, list[int]] = {}
    for a, b in edges:
        nbrs.setdefault(a, []).append(b)
        nbrs.setdefault(b, []).append(a)
    labels = {n: n for n in nbrs}
    for _ in range(3):
        nxt = {}
        for n in nbrs:
            cnt: dict[int, int] = {}
            for m in nbrs[n]:
                cnt[labels[m]] = cnt.get(labels[m], 0) + 1
            best = max(cnt.items(), key=lambda kv: (kv[1], -kv[0]))
            nxt[n] = best[0]
        labels = nxt
    assert got == labels
    # two communities survive the bridge: one per triangle
    assert got[0] == got[1] == got[2] == 0
    assert got[10] == got[11] == got[12]
    assert got[10] != got[0]


def test_k_core_peels_low_degree_nodes(spark):
    """A 4-clique with two pendant chains: 2-core peeling must keep the
    clique (degree 3 each) and drop the chain nodes — the second round
    removes a node whose degree only fell below k after round one."""
    from shared_etl_pipelines_spark.operators.graph import k_core

    clique = [(0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3)]
    chain = [(3, 4), (4, 5)]  # 5 is degree-1; 4 becomes degree-1 after 5 goes
    df = spark.createDataFrame(clique + chain, "src long, dst long")
    got = {r["node"]: r["degree"] for r in k_core(df, k=2, rounds=3).collect()}
    assert set(got) == {0, 1, 2, 3}
    assert all(v == 3 for v in got.values())


def test_kaplan_meier_hand_computed(spark):
    """4 users, events planted so t=2 has 2/4 conversions and t=4 has
    1/2 among those still at risk: S(2)=0.5, S(4)=0.25; the censored
    user consumes risk without an event."""
    import datetime as dt

    from shared_etl_pipelines_spark import queries_analytics as QA
    from shared_etl_pipelines_spark.queries import REGISTRY

    ts = dt.datetime
    rows = [
        (1, 1, "view", ts(2024, 1, 1)), (2, 1, "purchase", ts(2024, 1, 3)),
        (3, 2, "view", ts(2024, 1, 1)), (4, 2, "purchase", ts(2024, 1, 3)),
        (5, 3, "view", ts(2024, 1, 1)),  # censored at study end (Jan 5)
        (6, 4, "view", ts(2024, 1, 1)), (7, 4, "purchase", ts(2024, 1, 5)),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts timestamp"
    )
    orig = QA.load_table
    try:
        QA.load_table = lambda s, d, n: ev if n == "events" else orig(s, d, n)
        out = {
            r["t_days"]: r
            for r in REGISTRY["kaplan_meier_conversion"].fn(spark, "ignored").collect()
        }
    finally:
        QA.load_table = orig
    assert out[2]["n_risk"] == 4 and out[2]["n_events"] == 2
    assert out[2]["surv"] == 0.5
    assert out[4]["n_risk"] == 2 and out[4]["n_events"] == 1
    assert out[4]["surv"] == 0.25


def test_theil_sen_resists_outliers(spark):
    """A clean slope-2 line with two wild outlier days: OLS slope moves
    far from 2; the Theil-Sen median-of-slopes stays at 2 exactly."""
    from pyspark.sql import functions as F

    rows = [(float(x), 2.0 * x + 5.0) for x in range(20)]
    rows[3] = (3.0, 500.0)
    rows[17] = (17.0, -400.0)
    df = spark.createDataFrame(rows, "x double, y double")
    b = df.select(F.col("x").alias("x2"), F.col("y").alias("y2"))
    pairs = df.join(b, F.col("x") < F.col("x2")).select(
        ((F.col("y2") - F.col("y")) / (F.col("x2") - F.col("x"))).alias("s")
    )
    ts = pairs.agg(F.percentile("s", F.lit(0.5))).collect()[0][0]
    ols = df.agg(F.regr_slope("y", "x")).collect()[0][0]
    assert abs(ts - 2.0) < 1e-9
    assert abs(ols - 2.0) > 1.0


def _xy2d_ref(order: int, x: int, y: int) -> int:
    """Classic iterative Hilbert xy2d (Wikipedia formulation) — the
    independent reference the column walk must reproduce."""
    d = 0
    s = 1 << (order - 1)
    while s > 0:
        rx = 1 if (x & s) > 0 else 0
        ry = 1 if (y & s) > 0 else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x = s - 1 - x
                y = s - 1 - y
            x, y = y, x
        s //= 2
    return d


def test_hilbert_key_matches_reference_and_is_a_space_filling_curve(spark):
    """with_hilbert_key equals the reference xy2d on every cell of a
    16x16 grid, is a bijection onto [0, 256), and consecutive indices
    are ALWAYS Manhattan-adjacent — the locality property Z-order lacks
    (its seam jumps exceed distance 1)."""
    from shared_etl_pipelines_spark.operators.layout import (
        with_hilbert_key,
        zorder_key,
    )

    order = 4
    cells = [(x, y) for x in range(16) for y in range(16)]
    df = spark.createDataFrame(cells, ["x", "y"])
    rows = with_hilbert_key(df, "x", "y", order=order, out="hkey").collect()
    got = {(r["x"], r["y"]): r["hkey"] for r in rows}
    assert got == {(x, y): _xy2d_ref(order, x, y) for x, y in cells}
    assert sorted(got.values()) == list(range(256))  # bijection
    by_d = {d: xy for xy, d in got.items()}
    steps = [
        abs(by_d[d][0] - by_d[d + 1][0]) + abs(by_d[d][1] - by_d[d + 1][1])
        for d in range(255)
    ]
    assert set(steps) == {1}  # unit Manhattan steps everywhere
    # contrast: the Z-curve's max consecutive step on the same grid > 1
    zrows = df.select("x", "y", zorder_key(["x", "y"], bits=4).alias("z")).collect()
    zby_d = {r["z"]: (r["x"], r["y"]) for r in zrows}
    zsteps = [
        abs(zby_d[d][0] - zby_d[d + 1][0]) + abs(zby_d[d][1] - zby_d[d + 1][1])
        for d in range(255)
    ]
    assert max(zsteps) > 1


def test_hilbert_ranges_are_perfect_squares_at_power_boundaries(spark):
    """Splitting the order-5 curve into 16 contiguous 64-cell ranges
    yields 8x8 bounding boxes (area exactly 64) for every range — the
    tight-row-group story the hilbert_layout_audit query exposes."""
    from shared_etl_pipelines_spark.operators.layout import with_hilbert_key

    cells = [(x, y) for x in range(32) for y in range(32)]
    df = spark.createDataFrame(cells, ["x", "y"])
    rows = with_hilbert_key(df, "x", "y", order=5, out="hkey").collect()
    import collections

    boxes = collections.defaultdict(list)
    for r in rows:
        boxes[r["hkey"] >> 6].append((r["x"], r["y"]))
    assert len(boxes) == 16
    for pts in boxes.values():
        xs = [p[0] for p in pts]
        ys = [p[1] for p in pts]
        assert len(pts) == 64
        assert (max(xs) - min(xs) + 1) * (max(ys) - min(ys) + 1) == 64


def test_zorder_plan_skips_only_under_morton_layout(spark, sf_dir):
    """The effectiveness claim itself: under the p_size-only probe the
    linear layout skips NOTHING while the Z-order layout skips files."""
    from shared_etl_pipelines_spark.queries import REGISTRY

    rows = REGISTRY["zorder_layout_plan"].fn(spark, sf_dir).collect()
    by_layout = {}
    for r in rows:
        by_layout.setdefault(r["layout"], []).append(r)
    lin_skips = sum(r["skippable"] for r in by_layout["linear"])
    z_skips = sum(r["skippable"] for r in by_layout["zorder"])
    assert lin_skips == 0
    assert z_skips >= 4  # most 16ths of Morton space miss p_size 10..14
    # every planned file is non-empty and stats are honest windows
    assert all(
        r["n_rows"] > 0 and r["mn_p_size"] <= r["mx_p_size"] for r in rows
    )


def test_outlier_mad_builds_lazily_with_one_median_pass(spark, sf_dir):
    """Building outlier_mad starts no Spark job, and its executed plan
    runs the group-median percentile pass once, with no cache scan."""
    import re

    from shared_etl_pipelines_spark.queries import REGISTRY

    sched = spark.sparkContext._jsc.sc().dagScheduler()
    before = sched.nextJobId()
    out = REGISTRY["outlier_mad"].fn(spark, sf_dir)
    assert sched.nextJobId() == before
    assert len(out.collect()) == 3
    plan = out._jdf.queryExecution().executedPlan().executedPlan().toString()
    assert "InMemoryTableScan" not in plan
    assert len(re.findall(r"functions=\[percentile\(v#", plan)) == 1
