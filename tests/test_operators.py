"""Unit tests for the operator library on tiny hand-checkable frames."""

import math

from pyspark.sql import functions as F

from shared_etl_pipelines_spark.operators.aggregates import (
    agg_exprs,
    parse_agg_list,
    weighted_zonal_aggregate,
    zonal_aggregate,
)
from shared_etl_pipelines_spark.operators.filters import (
    attribute_filter,
    range_filter,
    temporal_filter,
    value_mask,
)
from shared_etl_pipelines_spark.operators.joins import clip_semi_join, multiply_join
from shared_etl_pipelines_spark.operators.resample import regrid_average
from shared_etl_pipelines_spark.operators.setops import union_all
from shared_etl_pipelines_spark.operators.windows import doy_non_leap, rolling_metric, zscore


def test_parse_agg_list():
    assert parse_agg_list("min, p5, q1, med, avg, q3, p95, max") == [
        "min", "p5", "q1", "med", "avg", "q3", "p95", "max",
    ]
    assert parse_agg_list(["MIN", "Max"]) == ["min", "max"]


def test_agg_exprs_prefix_and_percentiles(spark):
    df = spark.createDataFrame([(float(i),) for i in range(1, 101)], ["v"])
    row = df.agg(*agg_exprs("v", "min,p5,med,p95,max,avg", "ppt")).collect()[0]
    assert row["ppt_min"] == 1.0 and row["ppt_max"] == 100.0
    # linear-interpolated exact percentiles (quantile_cont semantics)
    assert math.isclose(row["ppt_med"], 50.5)
    assert math.isclose(row["ppt_p5"], 5.95)
    assert math.isclose(row["ppt_p95"], 95.05)
    assert math.isclose(row["ppt_avg"], 50.5)


def test_zonal_aggregate_single_cell_zone(spark):
    # one zone with a single cell stresses percentile edge cases
    df = spark.createDataFrame(
        [("a", 1.0), ("a", 3.0), ("a", 2.0), ("b", 7.0)], ["zone", "v"]
    )
    rows = {r["zone"]: r for r in zonal_aggregate(df, ["zone"], "v", "min,med,max").collect()}
    assert rows["a"]["med"] == 2.0
    assert rows["b"]["min"] == rows["b"]["med"] == rows["b"]["max"] == 7.0


def test_weighted_zonal_aggregate(spark):
    df = spark.createDataFrame(
        [("z", 10.0, 1.0), ("z", 20.0, 3.0)], ["zone", "v", "w"]
    )
    r = weighted_zonal_aggregate(df, ["zone"], "v", "w").collect()[0]
    assert math.isclose(r["wavg"], (10 * 1 + 20 * 3) / 4.0)
    assert math.isclose(r["wavg_weight"], 4.0)


def test_filters(spark):
    df = spark.createDataFrame(
        [("MI", 1, "2001-02-03"), ("OH", 5, "2002-02-03"), ("MI", 9, "2001-06-01")],
        ["st", "v", "d"],
    ).withColumn("d", F.to_date("d"))
    assert attribute_filter(df, "st", "MI").count() == 2
    masked = {r["v"]: r["mask"] for r in value_mask(df, "v", "1,5").collect()}
    assert masked == {1: 1, 5: 1, 9: 0}
    assert range_filter(df, "v", lo=None, hi=5, hi_inclusive=False).count() == 1
    assert temporal_filter(df, "d", 2001).count() == 2


def test_value_mask_nodata(spark):
    df = spark.createDataFrame([(1,), (5,), (255,)], ["v"])
    rows = {r["v"]: r["mask"] for r in value_mask(df, "v", [1], nodata=255).collect()}
    assert rows[1] == 1 and rows[5] == 0 and rows[255] is None


def test_clip_semi_join(spark):
    cells = spark.createDataFrame([(0, 0, 1.0), (0, 1, 2.0), (9, 9, 3.0)], ["y", "x", "v"])
    zones = spark.createDataFrame(
        [(0, 0, "MI"), (0, 1, "OH"), (9, 9, "MI")], ["y", "x", "stusps"]
    )
    out = clip_semi_join(cells, zones, on=["y", "x"], key="stusps", value="MI")
    assert sorted(r["v"] for r in out.collect()) == [1.0, 3.0]
    assert out.columns == ["y", "x", "v"]  # semi-join adds no zone columns


def test_multiply_join(spark):
    daily = spark.createDataFrame([(0, 0, 10.0), (0, 1, 20.0)], ["y", "x", "v"])
    weights = spark.createDataFrame([(0, 0, 0.5)], ["y", "x", "w"])
    out = multiply_join(daily, weights, ["y", "x"], "v", "w").collect()
    assert len(out) == 1 and out[0]["weighted_value"] == 5.0


def test_regrid_average(spark):
    # 4x4 fine grid, factor 2 -> 2x2 coarse; mask=1 in one quadrant only
    rows = [(fy, fx, 1 if (fy < 2 and fx < 2) else 0) for fy in range(4) for fx in range(4)]
    df = spark.createDataFrame(rows, ["fy", "fx", "mask"])
    out = {(r["cy"], r["cx"]): r["fraction"] for r in
           regrid_average(df, ("fy", "fx"), 2, "mask").collect()}
    assert out[(0, 0)] == 1.0
    assert out[(0, 1)] == out[(1, 0)] == out[(1, 1)] == 0.0


def test_rolling_metric_cross_boundary(spark):
    # 6 consecutive days across a year boundary; w=3 trailing sum
    data = [
        ("c", "2000-12-29", 1.0), ("c", "2000-12-30", 2.0), ("c", "2000-12-31", 3.0),
        ("c", "2001-01-01", 4.0), ("c", "2001-01-02", 5.0), ("c", "2001-01-03", 6.0),
    ]
    df = spark.createDataFrame(data, ["cell", "d", "v"]).withColumn("d", F.to_date("d"))
    out = rolling_metric(df, ["cell"], "d", "v", window=3, metric="sum",
                         out_col="s3", target_year=2001, date_col="d")
    got = {str(r["d"]): r["s3"] for r in out.collect()}
    # Jan 1 looks back into December (cross-year lookback preserved)
    assert got == {"2001-01-01": 9.0, "2001-01-02": 12.0, "2001-01-03": 15.0}


def test_zscore(spark):
    df = spark.createDataFrame([("g", 1.0), ("g", 2.0), ("g", 3.0)], ["g", "v"])
    out = {r["v"]: r["zscore"] for r in zscore(df, ["g"], "v").collect()}
    assert math.isclose(out[2.0], 0.0)
    assert math.isclose(out[3.0], 1.0)  # (3-2)/stddev_samp([1,2,3])=1/1


def test_doy_non_leap(spark):
    df = spark.createDataFrame(
        [("2004-02-28",), ("2004-02-29",), ("2004-03-01",), ("2003-03-01",)], ["d"]
    ).withColumn("d", F.to_date("d"))
    got = {str(r["d"]): r["doy"] for r in df.select("d", doy_non_leap("d").alias("doy")).collect()}
    assert got["2004-02-29"] == got["2004-02-28"] == 59
    assert got["2004-03-01"] == got["2003-03-01"] == 60


def test_union_all_by_name(spark):
    a = spark.createDataFrame([(1, "x")], ["id", "s"])
    b = spark.createDataFrame([("y", 2)], ["s", "id"])
    out = union_all([a, b]).collect()
    assert sorted((r["id"], r["s"]) for r in out) == [(1, "x"), (2, "y")]


def test_ranked_quantiles_matches_percentile_path(spark, sf_dir):
    """ranked_quantiles must agree with the percentile() buffer path to
    the last ulp on every declared aggregate."""
    from pyspark.sql import functions as F

    from shared_etl_pipelines_spark.operators.aggregates import (
        ranked_quantiles,
        zonal_aggregate,
    )
    from shared_etl_pipelines_spark.sources.tables import load_table

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("zone"), "l_extendedprice"
    )
    specs = "min,p5,q1,med,avg,q3,p95,max,count"
    a = {
        r["zone"]: [r[c] for c in r.asDict() if c != "zone"]
        for r in zonal_aggregate(li, ["zone"], "l_extendedprice", specs).collect()
    }
    b = {
        r["zone"]: [r[c] for c in r.asDict() if c != "zone"]
        for r in ranked_quantiles(li, ["zone"], "l_extendedprice", specs).collect()
    }
    assert a.keys() == b.keys()
    for z in a:
        # the driver contract rounds to 4 decimals; summation-order noise
        # below that (different partial-sum trees for avg, interpolation
        # expression form for quantiles) is within the contract
        assert [round(x, 4) for x in a[z]] == [round(x, 4) for x in b[z]], z


def test_ranked_quantiles_single_row_and_tiny_groups(spark):
    from shared_etl_pipelines_spark.operators.aggregates import ranked_quantiles

    df = spark.createDataFrame(
        [("a", 10.0), ("b", 1.0), ("b", 2.0), ("c", 5.0), ("c", 5.0), ("c", 5.0)],
        "zone string, v double",
    )
    got = {
        r["zone"]: (r["med"], r["p5"], r["count"])
        for r in ranked_quantiles(df, ["zone"], "v", "med,p5,count").collect()
    }
    assert got["a"] == (10.0, 10.0, 1)      # n=1: every quantile is the value
    assert got["b"][0] == 1.5               # even n: interpolated middle
    assert got["c"] == (5.0, 5.0, 3)        # ties collapse to the tied value


def test_ranked_quantiles_one_giant_group_is_partition_parallel(spark):
    """The point of the formulation: ONE group spanning many partitions
    still ranks correctly (the percentile() path would funnel it into a
    single task's buffer)."""
    from pyspark.sql import functions as F

    from shared_etl_pipelines_spark.operators.aggregates import ranked_quantiles

    df = spark.range(100001).select(
        F.lit("g").alias("zone"), F.col("id").cast("double").alias("v")
    )
    r = ranked_quantiles(df, ["zone"], "v", "p5,med,p95,min,max", num_partitions=16)
    row = r.collect()[0]
    assert row["med"] == 50000.0
    assert row["p5"] == 5000.0
    assert row["p95"] == 95000.0
    assert row["min"] == 0.0 and row["max"] == 100000.0


def _edge_groups(spark):
    """All-duplicate, single-row, NULL-valued, all-NULL and NULL-keyed
    groups in one frame."""
    rows = (
        [("dup", 7.0)] * 5
        + [("one", 3.5)]
        + [("nulls", v) for v in (None, 3.0, None, 1.0, 2.0, 9.0)]
        + [("allnull", None), ("allnull", None)]
        + [(None, v) for v in (4.0, 1.0, 8.0, 2.0)]
    )
    return spark.createDataFrame(rows, "zone string, v double")


def _by_zone(df):
    return {r["zone"]: [r[c] for c in r.asDict() if c != "zone"] for r in df.collect()}


def test_ranked_quantiles_keeps_null_group_on_both_paths(spark):
    from shared_etl_pipelines_spark.operators.aggregates import ranked_quantiles

    df = _edge_groups(spark)
    with_q = _by_zone(ranked_quantiles(df, ["zone"], "v", "med,count"))
    without_q = _by_zone(ranked_quantiles(df, ["zone"], "v", "min,max,count"))
    assert with_q[None] == [3.0, 4]
    assert without_q[None] == [1.0, 8.0, 4]
    assert set(with_q) == set(without_q) == {"dup", "one", "nulls", "allnull", None}


def test_ranked_quantiles_edge_groups_match_percentile_path(spark):
    """Same answer as the percentile() buffer path on all-duplicate,
    single-row, NULL-valued and all-NULL groups (SQL semantics: NULL
    values are skipped, an all-NULL group has count 0 and NULL stats)."""
    from shared_etl_pipelines_spark.operators.aggregates import (
        ranked_quantiles,
        zonal_aggregate,
    )

    df = _edge_groups(spark)
    specs = "min,p5,q1,med,avg,q3,p95,max,count"
    a = _by_zone(zonal_aggregate(df, ["zone"], "v", specs))
    b = _by_zone(ranked_quantiles(df, ["zone"], "v", specs))
    assert a.keys() == b.keys()
    for z in a:
        assert [None if x is None else round(x, 9) for x in a[z]] == [
            None if x is None else round(x, 9) for x in b[z]
        ], z
    assert b["allnull"] == [None] * 8 + [0]


def test_ranked_quantiles_builds_lazily_without_cache(spark):
    """Building the operator starts no Spark job (no eager count or
    collect), and its executed plan reads no cache and never falls back
    to a sort-based aggregate on the full-width counts pass."""
    from pyspark.sql import functions as F

    from shared_etl_pipelines_spark.operators.aggregates import ranked_quantiles

    df = spark.range(5000).select(
        (F.col("id") % 3).cast("string").alias("zone"),
        (F.col("id") * 7 % 1000).cast("double").alias("v"),
    )
    sched = spark.sparkContext._jsc.sc().dagScheduler()
    before = sched.nextJobId()
    out = ranked_quantiles(df, ["zone"], "v", "p5,med,p95_disc,avg,count")
    assert sched.nextJobId() == before
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" not in plan
    assert "SortAggregate" not in plan


def test_bloom_semi_join_exact_and_filtering(spark):
    """Bloom pre-filter must (a) never drop a true match (no false
    negatives) and (b) actually thin the fact side before the join."""
    from pyspark.sql import functions as F

    from shared_etl_pipelines_spark.operators.bloom import (
        bloom_might_contain,
        bloom_semi_join,
        build_bloom,
    )

    fact = spark.range(10000).select((F.col("id") % 997).alias("k"), "id")
    dim = spark.range(50).select((F.col("id") * 13).alias("d"))

    got = bloom_semi_join(fact, dim, "k", "d", m_bits=1 << 12)
    want = fact.join(
        dim.select(F.col("d").alias("k")).distinct(), "k", "left_semi"
    )
    assert sorted(r["id"] for r in got.collect()) == sorted(
        r["id"] for r in want.collect()
    )

    # the probe predicate alone keeps every true key (no false negatives)
    words = build_bloom(dim, "d", m_bits=1 << 12)
    survivors = fact.filter(
        bloom_might_contain(words, F.col("k"), m_bits=1 << 12)
    ).count()
    assert survivors >= want.count()
    # and discards a meaningful share of the 997 distinct fact keys
    assert survivors < fact.count()


def test_bloom_probe_literal_matches_lit_form(spark, monkeypatch):
    """The probe's one-call array literal must test exactly the bits the
    per-word ``F.lit(words)`` form tests, at the default 2^20-bit filter
    and with words that have bit 63 set (negative longs)."""
    import random

    from pyspark.sql import functions as F

    from shared_etl_pipelines_spark.operators import bloom

    m_bits = 1 << 20
    rng = random.Random(7)
    words = [rng.getrandbits(64) - (1 << 63) for _ in range(m_bits // 64)]
    words[:3] = [-(1 << 63), -1, 0]
    assert sum(w < 0 for w in words) > len(words) // 3
    keys = spark.range(20000)
    new = bloom.bloom_might_contain(words, F.col("id"), m_bits=m_bits)
    monkeypatch.setattr(bloom, "literal_array", lambda values, element_type: F.lit(values))
    old = bloom.bloom_might_contain(words, F.col("id"), m_bits=m_bits)
    rows = keys.select(new.alias("new"), old.alias("old")).collect()
    assert all(r["new"] == r["old"] for r in rows)
    assert 0 < sum(r["new"] for r in rows) < len(rows)


def test_partial_topk_identical_to_window_form(spark, sf_dir):
    """Per-batch pruning must lose nothing: the partial form returns the
    exact same rows/ranks as the plain ranking window, including ties,
    across multiple input partitions."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from shared_etl_pipelines_spark.operators.windows import partial_topk
    from shared_etl_pipelines_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "event_id", "value"
    ).repartition(7)
    got = {
        (r["event_type"], r["rn"]): r["event_id"]
        for r in partial_topk(ev, ["event_type"], "value", "event_id", 5).collect()
    }
    w = Window.partitionBy("event_type").orderBy(
        F.col("value").desc(), F.col("event_id")
    )
    exp = {
        (r["event_type"], r["rn"]): r["event_id"]
        for r in ev.withColumn("rn", F.row_number().over(w))
        .filter("rn <= 5")
        .collect()
    }
    assert got == exp


def test_affine_regrid_aligned_matches_regrid_average(spark):
    """With axis-aligned unit->factor-2 transforms, affine_regrid must
    reproduce regrid_average exactly (any supersample: every subpoint of
    a fine cell lands in the same coarse cell)."""
    from shared_etl_pipelines_spark.operators.resample import affine_regrid

    rows = [
        (fy, fx, float((fy * 7 + fx * 3) % 5))
        for fy in range(8)
        for fx in range(8)
    ]
    df = spark.createDataFrame(rows, ["fy", "fx", "v"])
    want = {
        (r["cy"], r["cx"]): r["fraction"]
        for r in regrid_average(df, ("fy", "fx"), 2, "v").collect()
    }
    out = affine_regrid(
        df,
        value_col="v",
        src_transform=(1.0, 0.0, 0.0, 0.0, 1.0, 0.0),
        dst_transform=(2.0, 0.0, 0.0, 0.0, 2.0, 0.0),
        dst_shape=(4, 4),
        src_cols=("fy", "fx"),
        supersample=3,
    ).collect()
    got = {(r["dy"], r["dx"]): r["avg_value"] for r in out}
    assert got == want
    assert all(r["n_pts"] == 4 * 9 for r in out)


def test_affine_regrid_rotated_mask_fraction_converges(spark):
    """A 45-degree-rotated unit mask square resampled onto a unit grid:
    the mask covers exactly half of cell (0,0)'s area in the limit; the
    supersampled fraction must stay within sampling error of 0.5 (the
    s=4 grid happens to hit it exactly by symmetry) and never leave
    [0, 1]."""
    import math

    from shared_etl_pipelines_spark.operators.resample import affine_regrid

    df = spark.createDataFrame([(0, 0, 1.0)], ["r", "c", "mask"])
    s2 = math.sqrt(2.0) / 2.0
    errs = []
    for s in (4, 16):
        out = affine_regrid(
            df,
            value_col="mask",
            # rotate the unit pixel 45deg about the origin, shift so the
            # diamond straddles dst cell (0, 0)
            src_transform=(s2, -s2, 0.5, s2, s2, -s2),
            dst_transform=(1.0, 0.0, 0.0, 0.0, 1.0, 0.0),
            dst_shape=(2, 2),
            src_cols=("r", "c"),
            supersample=s,
        ).collect()
        got = {(r["dy"], r["dx"]): r["n_pts"] for r in out}
        frac00 = got.get((0, 0), 0) / (s * s)
        assert 0.0 <= frac00 <= 1.0
        errs.append(abs(frac00 - 0.5))
    assert max(errs) < 0.05


def test_exact_rank_values_and_distributed_median(spark):
    """Distributed exact selection: k-th smallest over a multiset with
    duplicates matches a local sort for every requested rank; the
    median uses the quantile_cont association; out-of-range ranks fail
    loud."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from shared_etl_pipelines_spark.operators.aggregates import (
        distributed_exact_median,
        exact_rank_values,
    )

    vals = [(i * 37 % 101) * 0.5 for i in range(1000)]  # duplicates galore
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    want = sorted(vals)
    ranks = [1, 2, 500, 501, 999, 1000]
    got = exact_rank_values(df, "x", ranks, num_partitions=7)
    assert got == {k: want[k - 1] for k in ranks}
    lo, hi = want[499], want[500]
    assert distributed_exact_median(df, "x") == lo + (hi - lo) * 0.5
    # odd count
    df3 = spark.createDataFrame([(v,) for v in vals[:999]], "x double")
    assert distributed_exact_median(df3, "x") == sorted(vals[:999])[499]
    with _pytest.raises(ValueError, match="exceed"):
        exact_rank_values(df, "x", [1001])


def test_exact_rank_values_ignores_nulls(spark):
    """Review r8 #10: NULLs (e.g. minted by the double cast) must not
    shift ranks or crash the local sort — ranks are over the non-null
    multiset, and the median default count applies the same filter."""
    from pyspark.sql import functions as F

    from shared_etl_pipelines_spark.operators.aggregates import (
        distributed_exact_median,
        exact_rank_values,
    )

    df = spark.createDataFrame(
        [(float(v),) for v in range(100)] + [(None,)] * 7, "x double"
    ).select(F.col("x"))
    del F
    got = exact_rank_values(df, "x", [1, 50, 100], num_partitions=5)
    assert got == {1: 0.0, 50: 49.0, 100: 99.0}
    assert distributed_exact_median(df, "x") == 49.5


def test_lsh_bucket_audit_accepts_prebuilt_hash_rows(spark, sf_dir):
    """VERDICT r13 #4: the audit must produce the identical bucket
    census whether it builds its own shingle hashes or consumes a
    prebuilt (id, h) frame — including a DEDUPLICATED one, since the
    min() signature is duplicate-insensitive."""
    from shared_etl_pipelines_spark.operators.dedup import (
        lsh_bucket_audit,
        shingle_hash_rows,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    own = lsh_bucket_audit(docs, "doc_id", "text", n=3, k=8, bands=4)
    pre = shingle_hash_rows(docs, "doc_id", "text", n=3).select(
        "doc_id", "h"
    ).distinct()
    shared = lsh_bucket_audit(
        docs, "doc_id", "text", k=8, bands=4, hash_rows=pre
    )
    assert own.exceptAll(shared).count() == 0
    assert shared.exceptAll(own).count() == 0
