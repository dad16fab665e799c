"""Physical-plan assertions: the properties the 100 TB scale story rests
on must be visible in the plan, not just assumed — filter pushdown into
the parquet scan, column pruning, broadcast joins for dimension sides,
and shuffle reuse across stacked windows (SURVEY.md §4)."""

import pytest

from shared_etl_pipelines_spark.queries import REGISTRY


def phys(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def sf(sf_dir):
    return sf_dir


def test_pricing_summary_pushdown_and_pruning(spark, sf):
    plan = phys(REGISTRY["pricing_summary"].fn(spark, sf))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # column pruning: the scan must not read columns the query never uses
    assert "l_partkey" not in plan.split("ReadSchema")[-1]


def test_zonal_stats_broadcasts_dimension(spark, sf):
    plan = phys(REGISTRY["zonal_stats"].fn(spark, sf))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # the big side must never shuffle


def test_multiply_join_broadcasts_weights(spark, sf):
    plan = phys(REGISTRY["multiply_join"].fn(spark, sf))
    assert "BroadcastHashJoin" in plan


def test_value_mask_no_shuffle(spark, sf):
    plan = phys(REGISTRY["value_mask"].fn(spark, sf))
    assert "Exchange" not in plan  # narrow projection only


def test_rolling_sums_single_window_shuffle(spark, sf):
    # three stacked trailing windows share partitionBy(user_id)+orderBy:
    # one Exchange (plus one optional AQE read), not three
    plan = phys(REGISTRY["rolling_sums"].fn(spark, sf))
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges == 1, f"expected 1 window shuffle, saw {n_exchanges}"


def test_clip_semi_join_is_semi(spark, sf):
    plan = phys(REGISTRY["clip_semi_join"].fn(spark, sf))
    assert "LeftSemi" in plan
    assert "BroadcastHashJoin" in plan


def test_range_join_is_hash_join_not_nested_loop(spark, sf):
    # the bucketed rewrite must plan as an equi-join on _bucket; a naive
    # theta join would appear as BroadcastNestedLoopJoin (quadratic work)
    plan = phys(REGISTRY["range_join_campaigns"].fn(spark, sf))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "HashJoin" in plan


def test_hypertable_cascade_reuses_partials(spark, sf):
    # all three union branches must read the cached hour-level partials,
    # not re-derive from the raw parquet scan (lineage recompute)
    plan = phys(REGISTRY["hypertable_rollup"].fn(spark, sf))
    assert plan.count("InMemoryTableScan") == 3


def test_regional_revenue_all_broadcast(spark, sf):
    # 5-way star join: every dim side broadcast, fact side never shuffles
    # for the joins (the only exchange is the final groupBy)
    plan = phys(REGISTRY["regional_revenue"].fn(spark, sf))
    assert plan.count("BroadcastHashJoin") == 4
    assert "SortMergeJoin" not in plan


def test_anti_join_is_left_anti(spark, sf):
    plan = phys(REGISTRY["anti_join_inactive_customers"].fn(spark, sf))
    assert "LeftAnti" in plan


def test_gap_fill_spine_is_generated_not_scanned(spark, sf):
    """The dense date spine comes from sequence()+explode (Generate node),
    never a driver-side loop or an extra table scan."""
    p = phys(REGISTRY["gap_fill_user_days"].fn(spark, sf))
    assert "Generate explode" in p


def test_stratified_sample_no_shuffle(spark, sf):
    """Hash sampling is a pure filter evaluated at the scan: no
    hash-partition shuffle (the loader's round-robin spread is allowed),
    and the predicate reaches the FileScan's data filters."""
    p = phys(REGISTRY["stratified_sample_docs"].fn(spark, sf))
    assert "hashpartitioning" not in p
    assert "DataFilters: [isnotnull(doc_id" in p


def test_scd2_merge_single_join(spark, sf):
    """One full-outer join decides every row fate; the three fate branches
    must not re-join (union of filters over the same join)."""
    p = phys(REGISTRY["scd2_customer_merge"].fn(spark, sf))
    assert p.count("SortMergeJoin FullOuter") + p.count("ShuffledHashJoin FullOuter") <= 3
    assert "Union" in p


def test_correlated_subquery_decorrelated(spark, sf):
    """Catalyst must rewrite the correlated scalar subquery into
    aggregate+join — no per-row subquery execution."""
    p = phys(REGISTRY["above_customer_avg_orders"].fn(spark, sf))
    assert "Subquery" not in p or "Join" in p


def test_global_ntile_no_single_partition_exchange(spark, sf):
    """Equal-frequency bucketing must never plan the all-rows-to-one-
    partition exchange a global-order window would: range partitioning +
    per-partition-id windows only."""
    p = phys(REGISTRY["ntile_order_quartiles"].fn(spark, sf))
    assert "SinglePartition" not in p
    assert "rangepartitioning" in p


def test_bucket_clip_is_equi_join(spark, sf):
    """The bucketed geo clip must candidate-generate via a hash equi-join
    on grid keys — never a nested-loop over all polygons per point."""
    p = phys(REGISTRY["geo_clip_bucketed"].fn(spark, sf))
    assert "BroadcastNestedLoopJoin" not in p
    assert "HashJoin" in p


def test_dedup_keep_latest_single_exchange(spark, sf):
    # keep-latest is one row_number window: exactly one shuffle on the key
    plan = phys(REGISTRY["dedup_keep_latest"].fn(spark, sf))
    assert plan.count("Exchange hashpartitioning") == 1


def test_time_range_rolling_single_exchange(spark, sf):
    # the range-frame window reuses one user_id shuffle; no join, no sort
    # beyond the window's own
    plan = phys(REGISTRY["time_range_rolling"].fn(spark, sf))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan


def test_weighted_median_two_exchanges(spark, sf):
    # pre-aggregate ties on (grp, v), then both windows share the grp
    # partitioning: two exchanges total, never three
    plan = phys(REGISTRY["weighted_median"].fn(spark, sf))
    assert plan.count("Exchange hashpartitioning") == 2


def test_event_funnel_no_nested_loop(spark, sf):
    # every stage join is an equi-join on user_id (hash-joinable); a theta
    # formulation would plan as BroadcastNestedLoopJoin and die at scale
    plan = phys(REGISTRY["event_funnel"].fn(spark, sf))
    assert "BroadcastNestedLoopJoin" not in plan


def test_exists_rewrites_to_semi_join_with_correlated_condition(spark, sf):
    """EXISTS must become one left-semi hash join carrying the correlated
    date predicate as the join condition — not a per-row subquery."""
    p = phys(REGISTRY["exists_late_orders"].fn(spark, sf))
    join_lines = [ln for ln in p.splitlines() if "LeftSemi" in ln]
    assert join_lines and "l_shipdate" in join_lines[0]


def test_not_in_plans_as_null_aware_anti_join(spark, sf):
    """NOT IN with a nullable LHS must plan as a NULL-aware anti join
    (the trailing `true` NAAJ flag on the BroadcastHashJoin) — a plain
    LeftAnti would keep NULL-key rows and corrupt the result."""
    p = phys(REGISTRY["not_in_null_aware"].fn(spark, sf))
    assert "LeftAnti, BuildRight, true" in p


def test_not_in_null_rows_are_excluded(spark):
    """Three-valued logic micro-check: a NULL LHS key compares UNKNOWN
    against the NOT IN list and the row is dropped, not kept."""
    spark.createDataFrame(
        [(1, None), (2, 10), (3, 99)], "id int, k int"
    ).createOrReplaceTempView("nin_lhs_v")
    spark.createDataFrame([(10,)], "k int").createOrReplaceTempView("nin_rhs_v")
    got = {
        r["id"]
        for r in spark.sql(
            "SELECT id FROM nin_lhs_v WHERE k NOT IN (SELECT k FROM nin_rhs_v)"
        ).collect()
    }
    assert got == {3}  # id=1 (NULL key) and id=2 (matched) both excluded


def test_scalar_max_subquery_is_broadcast_one_row(spark, sf):
    """The Q15-shape scalar MAX joins as a broadcast of a 1-row aggregate;
    the lineitem fact is scanned once (one grouped pass feeds both the
    scalar and the filtered result)."""
    p = phys(REGISTRY["top_revenue_suppliers"].fn(spark, sf))
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    assert p.count("FileScan parquet") <= 3  # lineitem(+reuse), supplier


def test_lateral_topk_decorrelates_with_group_limit_pushdown(spark, sf):
    """The LATERAL per-customer ORDER BY..LIMIT must decorrelate into a
    ranked window with WindowGroupLimit (map-side top-k pruning BEFORE the
    shuffle) and a hash join — never a per-row nested-loop subquery."""
    p = phys(REGISTRY["lateral_top_orders"].fn(spark, sf))
    assert "WindowGroupLimit" in p
    assert "BroadcastNestedLoopJoin" not in p


def test_heavy_hitters_sketch_exact_in_tracked_regime(spark, sf):
    """approx_top_k with maxItemsTracked >= distinct cardinality must equal
    the exact GROUP BY top-k — the property the oracle gate relies on."""
    from pyspark.sql import functions as F

    from shared_etl_pipelines_spark.sources.tables import load_table

    ev = load_table(spark, sf, "events")
    exact = (
        ev.groupBy("event_type").count().orderBy(F.desc("count"), "event_type")
        .limit(3).collect()
    )
    sk = REGISTRY["heavy_hitters_topk"].fn(spark, sf).collect()
    assert [(r["item"], r["cnt"]) for r in sk] == [
        (r["event_type"], r["count"]) for r in exact
    ]


def test_raster_decode_has_no_shuffle_before_mapinpandas(spark, sf):
    """GeoTIFF decode must run where the binaryFile scan runs — one task
    per file, no Exchange between scan and the Python decode stage."""
    from shared_etl_pipelines_spark.sources.raster import (
        ensure_demo_rasters,
        read_geotiff_long,
    )

    df = read_geotiff_long(spark, ensure_demo_rasters())
    plan = phys(df)
    assert "MapInPandas" in plan
    assert "Exchange" not in plan


def test_lsh_rerank_streams_corpus_without_shuffle(spark, sf):
    """The top-k rerank joins the full corpus against the small candidate
    set: the corpus side must be broadcast-joined (possibly via AQE), not
    sort-merge shuffled."""
    df = REGISTRY["similarity_topk_lsh"].fn(spark, sf)
    plan = phys(df)
    assert "SortMergeJoin" not in plan


def test_shapefile_clip_plan_matches_handbuilt_polygon_clip(spark, sf):
    """Shapefile-ingested polygons must produce the same plan shape as
    hand-built ones: zones ride in the UDF closure (no join at all)."""
    plan = phys(REGISTRY["shapefile_clip"].fn(spark, sf))
    assert "ArrowEvalPython" in plan  # vectorized ray-cast UDF
    assert "Join" not in plan  # zones are broadcast data, not a join side


def test_sequence_pack_single_window_shuffle(spark, sf):
    # one running-sum window per source shard: exactly one hash shuffle
    # (plus AQE reads); a global pack would show SinglePartition
    plan = phys(REGISTRY["sequence_pack"].fn(spark, sf))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "SinglePartition" not in plan


def test_token_budget_pack_partitions_by_source(spark, sf):
    plan = phys(REGISTRY["token_budget_pack"].fn(spark, sf))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "SinglePartition" not in plan


def test_token_entropy_no_window_no_single_partition(spark, sf):
    # the log-sum identity keeps entropy as mergeable aggregates: no
    # per-doc Window node, no single-partition exchange
    plan = phys(REGISTRY["token_entropy_quality"].fn(spark, sf))
    assert "Window" not in plan
    assert "SinglePartition" not in plan
    # partial aggregation must run map-side before both shuffles
    assert plan.count("HashAggregate") >= 4


def test_mixing_weights_window_is_post_aggregate(spark, sf):
    # the single-partition window is allowed ONLY because it runs over
    # the |sources| aggregate rows, never over the corpus: the plan must
    # aggregate (HashAggregate) before the SinglePartition exchange
    plan = phys(REGISTRY["source_mixing_weights"].fn(spark, sf))
    agg_pos = plan.find("HashAggregate")
    sp_pos = plan.find("SinglePartition")
    assert agg_pos != -1 and sp_pos != -1
    # physical plans print top-down: the window's exchange appears above
    # (before) the aggregate that feeds it
    assert sp_pos < agg_pos


def test_incremental_dedup_probes_broadcast_batch(spark, sf):
    # every probe join must broadcast the (small) batch side — the
    # corpus is only ever scanned/aggregated, never the shuffled side of
    # a probe join, and nothing plans as a nested loop
    plan = phys(REGISTRY["incremental_dedup"].fn(spark, sf))
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_waiting_supplier_blame_semi_anti_and_broadcast(spark, sf):
    """Q21 shape: the fact self-correlations plan as one LeftSemi and one
    LeftAnti join (no nested loop over the fact), and the supplier
    dimension arrives by broadcast."""
    p = phys(REGISTRY["waiting_supplier_blame"].fn(spark, sf))
    assert "LeftSemi" in p and "LeftAnti" in p
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_idle_rich_customers_scalar_broadcast_and_anti(spark, sf):
    """Q22 shape: the AVG scalar rides a 1-row broadcast (nested-loop on
    a single-row build side is fine and expected); the NOT EXISTS is a
    plain LeftAnti hash join."""
    p = phys(REGISTRY["idle_rich_customers"].fn(spark, sf))
    assert "LeftAnti" in p
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p


def test_dup_spans_two_exchanges_no_join(spark, sf):
    """Substring-level dedup: ONE hash exchange on the shingle hash (the
    window count) + ONE on doc_id (islands + rollup) — no self-join, no
    broadcast of a corpus-sized dup set."""
    p = phys(REGISTRY["dup_spans"].fn(spark, sf))
    assert "SortMergeJoin" not in p and "BroadcastHashJoin" not in p
    assert p.count("Exchange hashpartitioning") <= 3  # h, doc_id(+reuse)


def test_bpe_top_pairs_distributed_topk(spark, sf):
    """The argmax statistic must plan as TakeOrderedAndProject (map-side
    top-k), never a global window over the full pair frame."""
    p = phys(REGISTRY["bpe_top_pairs"].fn(spark, sf))
    assert "TakeOrderedAndProject" in p


def test_snapshot_diff_single_slim_join(spark, sf):
    """The CDC diff must shuffle (key, digest) pairs once — a full-outer
    SortMergeJoin on the key with md5 projected BELOW the exchange."""
    p = phys(REGISTRY["snapshot_diff_orders"].fn(spark, sf))
    assert "FullOuter" in p
    assert p.count("Exchange hashpartitioning") <= 2  # one per side
    # digest computed below the exchange: the join output carries only
    # key + digests, never the wide value columns
    assert "md5" in p


def test_fk_integrity_all_dims_broadcast(spark, sf):
    """Every referenced-keys side is deduped then broadcast — the fact
    tables never shuffle for the audit."""
    p = phys(REGISTRY["fk_integrity_check"].fn(spark, sf))
    assert p.count("BroadcastHashJoin") == 5
    assert "SortMergeJoin" not in p


def test_tpch_shapes_broadcast_dimensions_no_cartesian(spark, sf):
    # The round-3 TPC-H batch: every dimension side must broadcast and no
    # plan may degrade to nested-loop/cartesian. min_cost_supplier_region
    # additionally must keep its correlated MIN as a window, not a
    # self-join of the aggregate.
    for name in (
        "min_cost_supplier_region",
        "nation_pair_trade_volume",
        "nation_market_share",
        "product_type_profit",
        "part_supplier_variety",
        "excess_shipper_names",
    ):
        plan = phys(REGISTRY[name].fn(spark, sf))
        assert "BroadcastHashJoin" in plan, name
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
    plan = phys(REGISTRY["min_cost_supplier_region"].fn(spark, sf))
    assert "Window" in plan


def test_important_stock_threshold_is_one_row_broadcast(spark, sf):
    # Q11: the global-total threshold joins back as a broadcast of ONE
    # row — the only acceptable BroadcastNestedLoopJoin shape (same
    # contract as test_scalar_max_subquery_is_broadcast_one_row); the
    # per-part aggregate side must still be hash joins.
    plan = phys(REGISTRY["important_stock_value"].fn(spark, sf))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_small_qty_avg_join_is_shuffle_not_broadcast_shape(spark, sf):
    # Q17: the per-part AVG table is part-cardinality — it must join as a
    # plain equi-join (sort-merge or shuffled-hash acceptable), never via
    # nested loop; the brand filter must reach the part scan.
    plan = phys(REGISTRY["small_qty_order_revenue"].fn(spark, sf))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "p_brand" in plan and "PushedFilters" in plan


def test_prefix_filter_join_stays_codegen_equi(spark, sf):
    # The exact scale path must be equi-joins end to end (no cartesian
    # fallback) and its shingle construction must not use interpreted
    # array lambdas (LambdaFunction never appears in the plan).
    plan = phys(REGISTRY["near_dup_prefix_filter"].fn(spark, sf))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # positive marker of the codegen shingle path (explode+slice), which
    # replaced the interpreted array-lambda construction
    assert "slice(" in plan


def test_cms_filter_is_map_side_before_exact_shuffle(spark, sf):
    # Pass-2 of the sketch-prefiltered heavy hitters: the hot-cell IN
    # probes must sit under the partial aggregate (map side), so only
    # candidate rows enter the exchange.
    plan = phys(REGISTRY["heavy_demand_parts_sketch"].fn(spark, sf))
    ex = plan.split("Exchange")[-1]  # below the last exchange = map side
    assert "xxhash64" in ex and "INSET" in ex
    assert "CartesianProduct" not in plan


def test_geo_radius_join_is_equi_join(spark, sf):
    """Grid-cell candidates must plan as a hash equi-join — never the
    cartesian/nested-loop product the naive radius filter degrades to."""
    plan = phys(REGISTRY["geo_radius_join"].fn(spark, sf))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bloom_prefilter_probe_below_join(spark, sf):
    """The bloom bit-test must run as a plain Filter on the fact scan
    (before any Exchange), and the exact join must still be present."""
    plan = phys(REGISTRY["bloom_prefilter_join"].fn(spark, sf))
    assert "xxhash64" in plan          # probe predicate is in the plan
    assert "Join" in plan              # exact semi-join still happens
    # the probe filter must sit under the scan side, i.e. appear in the
    # same subtree as the parquet scan of orders (codegen'd filter)
    assert "CartesianProduct" not in plan


def test_pq_codes_single_pass_no_shuffle(spark, sf):
    """Code assignment is a pure projection (argmin over literal
    centroids): no Exchange anywhere in the plan."""
    from shared_etl_pipelines_spark.operators.similarity import pq_codes

    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    plan = phys(pq_codes(emb))
    assert "Exchange" not in plan


def test_pareto_frontier_no_dominance_self_join(spark, sf):
    """The skyline must come from the running-max formulation — no
    nested-loop/cartesian dominance comparison."""
    plan = phys(REGISTRY["pareto_frontier"].fn(spark, sf))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_forecast_revenue_change_full_pushdown(spark, sf):
    """Q6 shape is the pushdown poster child: discount/quantity filters
    must reach the parquet scan and the read schema must stay narrow."""
    plan = phys(REGISTRY["forecast_revenue_change"].fn(spark, sf))
    # toString truncates the filter list — assert the stable prefix
    # (all three columns reached the scan as pushed predicates)
    assert ("PushedFilters: [IsNotNull(l_shipdate), IsNotNull(l_discount), "
            "IsNotNull(l_quantity)") in plan
    read = plan.split("ReadSchema")[-1]
    assert "l_partkey" not in read and "l_returnflag" not in read


def test_topk_queries_use_ordered_limit(spark, sf):
    """Q3/Q10 top-k must plan TakeOrderedAndProject (distributed partial
    top-k), never a global sort of the aggregate output."""
    for name in ("shipping_priority_top10", "returned_item_customers"):
        plan = phys(REGISTRY[name].fn(spark, sf))
        assert "TakeOrderedAndProject" in plan, name


def test_geo_nearest_supplier_equi_join(spark, sf):
    plan = phys(REGISTRY["geo_nearest_supplier"].fn(spark, sf))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_incremental_join_refresh_reuses_exchange(spark, sf):
    """The four delta terms scan orders/customer repeatedly; Spark must
    reuse at least one exchange/subquery instead of four full rescans,
    and every dimension join must stay broadcast."""
    plan = phys(REGISTRY["incremental_join_refresh"].fn(spark, sf))
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_hard_negatives_broadcast_no_cartesian(spark, sf):
    # anchors are broadcast; the label-mismatch predicate is a theta
    # condition, so the join is a broadcast nested-loop over a TINY
    # broadcast side (5 anchors) — what must NOT appear is a shuffled
    # cartesian of corpus x corpus
    plan = phys(REGISTRY["hard_negative_mining"].fn(spark, sf))
    assert "CartesianProduct" not in plan
    assert "Broadcast" in plan


def test_graph_iteratives_no_cartesian_one_agg_per_round(spark, sf):
    # LPA/k-core rounds must stay equi-join + hash aggregate: any
    # cartesian or nested-loop in the per-round body would be O(V*E)
    for q in ("label_prop_communities", "kcore_peeling"):
        plan = phys(REGISTRY[q].fn(spark, sf))
        assert "CartesianProduct" not in plan, q
        assert "BroadcastNestedLoopJoin" not in plan, q


def test_kcore_semi_joins(spark, sf):
    # the registry query checkpoints each round (lineage cut), which
    # truncates executedPlan — build the operator without checkpoints to
    # see the full iterative body: 2 semi-joins per round, no cartesian
    from shared_etl_pipelines_spark.operators.graph import k_core
    from shared_etl_pipelines_spark.queries_analytics import _pr_edges

    plan = phys(k_core(_pr_edges(spark, sf), k=5, rounds=2, checkpoint=False))
    assert plan.count("LeftSemi") >= 4
    assert "CartesianProduct" not in plan


def test_gopher_rules_pure_codegen_no_python(spark, sf):
    # the published quality filter must stay entirely JVM-side: no
    # Python UDF eval nodes, no shuffle (per-row arithmetic only), and
    # only the two referenced columns read from the scan
    plan = phys(REGISTRY["gopher_quality_rules"].fn(spark, sf))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # the only exchange allowed is _t()'s deliberate parallelism spread
    # (RoundRobin repartition); no aggregation/join shuffle may appear
    assert "hashpartitioning" not in plan
    assert "lang" not in plan.split("ReadSchema")[-1]


def test_rendezvous_shard_no_explode(spark, sf):
    # HRW assignment is a single projection (array_max over struct
    # candidates), NOT a 17-way explode + window argmax: the plan must
    # contain no Generate/Expand and exactly the two count aggregations
    plan = phys(REGISTRY["rendezvous_shard_stats"].fn(spark, sf))
    assert "Generate" not in plan and "Expand" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_bpe_encode_udf_sees_vocab_not_corpus(spark, sf):
    # the pandas UDF must run AFTER the word-frequency aggregation
    # (vocabulary rows), never on the exploded corpus: in the plan tree
    # the ArrowEvalPython node must sit above the HashAggregate pair
    plan = phys(REGISTRY["bpe_encode_apply"].fn(spark, sf))
    assert "ArrowEvalPython" in plan
    arrow_at = plan.index("ArrowEvalPython")
    agg_at = plan.index("HashAggregate")
    assert agg_at > arrow_at  # tree prints top-down: UDF above the agg


def test_levenshtein_near_dup_no_nested_loop(spark, sf):
    """The edit-distance near-dup must get its candidates from the
    banded equi-join — no cartesian/nested-loop anywhere, and the
    verify join keyed on the pair ids."""
    plan = phys(REGISTRY["near_dup_levenshtein"].fn(spark, sf))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_hilbert_key_is_codegen_no_udf_no_shuffle(spark, sf):
    """The unrolled xy2d walk must stay entirely inside whole-stage
    codegen: no Python runner stages, no exchange before the final
    aggregation's."""
    from pyspark.sql import functions as F

    from shared_etl_pipelines_spark.operators.layout import with_hilbert_key

    df = spark.range(64).select(
        (F.col("id") % 8).alias("x"), (F.col("id") / 8).cast("long").alias("y")
    )
    plan = phys(with_hilbert_key(df, "x", "y", order=3, out="h"))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Exchange" not in plan  # pure projection chain over range


def test_upserted_index_probe_scan_is_pruned_and_tombstone_broadcast(
    spark, sf, tmp_path
):
    """After an upsert, the probe path must keep both scale properties:
    the bucket scan reads only probed partitions (PartitionFilters on
    tbl/bucket) and the tombstone liveness join is a broadcast, never a
    shuffle of the index side."""
    import os

    from pyspark.sql import functions as F

    from shared_etl_pipelines_spark.operators.similarity import (
        ann_index_upsert,
        lsh_topk_from_index,
        write_ann_index,
    )

    emb = spark.read.parquet(os.path.join(sf, "embeddings.parquet"))
    path = str(tmp_path / "idx")
    write_ann_index(emb.filter(F.col("vec_id") < 200), path)
    ann_index_upsert(
        spark, path, batch=None,
        delete_ids=emb.filter(F.col("vec_id") % 10 == 7).select("vec_id"),
    )
    out = lsh_topk_from_index(spark, path, emb.filter(F.col("vec_id") < 3), k=5)
    plan = phys(out)
    assert "PartitionFilters: [" in plan and "tbl" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_record_linkage_snp_plan_has_no_quadratic_join(spark, sf):
    """The sorted-neighborhood FS linker must draw candidates from
    window leads + hash equi-joins — a cartesian or theta-join shape
    would reintroduce the quadratic blow-up the rework removed
    (VERDICT r7 #1)."""
    plan = phys(REGISTRY["record_linkage_fs"].fn(spark, sf))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("Window") >= 2  # the two sorted-neighborhood passes


def test_webdataset_scan_parallelism_is_shard_count(spark, sf):
    """The tar-shard explode must stay a narrow binaryFile scan +
    mapInPandas — the only exchange is the per-sample regroup."""
    plan = phys(REGISTRY["webdataset_ingest"].fn(spark, sf))
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_reshard_plan_no_single_partition_window(spark, sf):
    """The size-budgeted reshard plan's global cumsum must never plan
    Spark's all-rows-to-one-partition global window: range partitioning
    + per-partition-id windows + broadcast offsets only (r9)."""
    p = phys(REGISTRY["corpus_reshard_plan"].fn(spark, sf))
    assert "SinglePartition" not in p
    assert "rangepartitioning" in p


def test_linkage_blocked_cap_is_broadcast_gated(spark, sf):
    """The occupancy cap must gate pair generation through a BROADCAST
    join on the tiny allowed-block list, and the pair join itself must
    be an equi-join — never a nested loop (r9)."""
    p = phys(REGISTRY["record_linkage_fs_blocked"].fn(spark, sf))
    assert "BroadcastHashJoin" in p
    assert "BroadcastNestedLoopJoin" not in p


def test_media_scans_are_shuffle_free(spark, sf):
    """The r9 media walks are one mapInPandas pass over binary blobs —
    per-file parallelism, no data shuffle (the shape that makes them
    scan-bound at 100 TB). The only allowed exchange is the fixture
    generator's round-robin spread of the single-file test scan; any
    hash/range/single-partition exchange means a grouping snuck in."""
    for name in ("mp4_codec_params", "ogg_page_scan", "mp3_id3_tags",
                 "jpeg_exif_gps_audit"):
        p = phys(REGISTRY[name].fn(spark, sf))
        assert "hashpartitioning" not in p, name
        assert "rangepartitioning" not in p, name
        assert "SinglePartition" not in p, name


def test_r9c_media_and_protocol_scans_are_shuffle_free(spark, sf):
    """The r9-continued walks (Matroska trio, HEVC/AV1 codec params,
    compression audit, sitemap/crawl-coverage protocol evaluations) are
    one mapInPandas pass over per-doc fixtures — per-file parallelism,
    zero data exchanges, the scan-bound 100 TB shape."""
    for name in (
        "mkv_track_scan", "webm_vp8_keyframes", "webm_codec_params",
        "mkv_subtitle_cues", "hevc_codec_params", "av1_codec_params",
        "compression_codec_audit", "sitemap_url_audit",
        "crawl_coverage_audit", "avro_ingest_stats",
        "tfrecord_example_stats", "heif_item_audit", "heic_exif_gps_audit",
        "pdf_info_audit", "tensor_manifest_audit", "svg_image_audit",
        "webp_image_audit", "jsonld_entity_extract",
        "markdown_structure_audit", "feed_entry_audit", "email_mime_audit",
        "msgpack_log_audit", "protobuf_wire_audit", "arrow_ipc_audit",
        "ical_event_audit", "vcard_pii_census", "torrent_metainfo_audit",
        "secret_scan_audit", "license_detect_audit",
        "geojson_feature_audit", "cbor_manifest_audit", "jwt_token_audit",
        "prom_scrape_audit",
    ):
        p = phys(REGISTRY[name].fn(spark, sf))
        assert "hashpartitioning" not in p, name
        assert "rangepartitioning" not in p, name
        assert "SinglePartition" not in p, name


def test_paragraph_dedup_two_exchanges_no_join(spark, sf):
    """CCNet-style chunk dedup (r9-continued): exactly two exchanges —
    the md5-key window and the per-doc aggregate — and no self-join
    (the corpus-sized-broadcast anti-pattern it replaces)."""
    p = phys(REGISTRY["paragraph_dedup_profile"].fn(spark, sf))
    assert p.count("Exchange hashpartitioning") == 2
    assert "Join" not in p


def test_connected_components_rounds_are_logarithmic(spark):
    """VERDICT r9 task #5 gate: the CC loop must converge in O(log
    diameter) rounds (path halving / pointer jumping), never the O(d)
    of plain min-label propagation. A 1024-node path graph is the
    adversarial shape: plain propagation needs ~1024 rounds and hits
    max_iter; halving needs ~log2(1024)=10 (+ seed + fixpoint
    confirmation). One driver collect per round is the loop's contract,
    so collects == rounds is the observable."""
    from pyspark.sql import functions as F
    from pyspark.sql.classic.dataframe import DataFrame as CDF

    from shared_etl_pipelines_spark.operators.dedup import (
        connected_components,
    )

    n = 1024
    edges = spark.range(n - 1).selectExpr("id AS src", "id + 1 AS dst")
    collects = [0]
    orig = CDF.collect

    def patched(self):
        collects[0] += 1
        return orig(self)

    CDF.collect = patched
    try:
        out = connected_components(edges)
        got = out.agg(
            F.count("node").alias("n"), F.max("component").alias("mx")
        ).collect()[0]
    finally:
        CDF.collect = orig
    assert (got["n"], got["mx"]) == (n, 0)  # one component, min-id label
    # log2(1024)=10 rounds + seed + confirmation + the final assert
    # collect above = 13; leave +2 slack for propagation phase offsets.
    assert collects[0] <= 15, f"CC took {collects[0]} collects on a chain"


def test_connected_components_star_graph_converges_immediately(spark):
    """Near-dup clusters are star/clique shaped: the fused seed round
    already labels every node, so the loop must spend exactly seed +
    one confirmation round — the measured r10 production shape
    (dedup_clusters: 2 collects, embedding_dbscan: 3 at sf0.01)."""
    from pyspark.sql import functions as F
    from pyspark.sql.classic.dataframe import DataFrame as CDF

    from shared_etl_pipelines_spark.operators.dedup import (
        connected_components,
    )

    edges = spark.range(50).selectExpr("CAST(0 AS BIGINT) AS src", "id + 1 AS dst")
    collects = [0]
    orig = CDF.collect

    def patched(self):
        collects[0] += 1
        return orig(self)

    CDF.collect = patched
    try:
        out = connected_components(edges)
        got = out.agg(
            F.count("node").alias("n"), F.max("component").alias("mx")
        ).collect()[0]
    finally:
        CDF.collect = orig
    assert (got["n"], got["mx"]) == (51, 0)
    assert collects[0] <= 4, f"star graph took {collects[0]} collects"


def test_r10_scan_queries_are_shuffle_free(spark, sf):
    """The r10 per-doc scans (notebook conversion, LFS census) are one
    mapInPandas pass — per-file parallelism, zero data exchanges, the
    scan-bound 100 TB shape."""
    for name in ("notebook_conversion_audit", "lfs_pointer_census"):
        p = phys(REGISTRY[name].fn(spark, sf))
        assert "hashpartitioning" not in p, name
        assert "rangepartitioning" not in p, name
        assert "SinglePartition" not in p, name


def test_r10_lakehouse_snapshots_shuffle_once_no_join(spark, sf):
    """Snapshot resolution for all three lakehouse logs is a single
    last-action-per-path window — exactly one hash exchange on the
    file key, no join, nothing single-partition. At 100 TB the log/
    manifest payload distributes; only that one exchange scales with
    the file count."""
    for name, key_exchanges in (
        ("delta_snapshot_audit", 1),
        ("hudi_snapshot_slices", 1),
    ):
        p = phys(REGISTRY[name].fn(spark, sf))
        assert p.count("Exchange hashpartitioning") == key_exchanges, name
        assert "SortMergeJoin" not in p and "BroadcastHashJoin" not in p, name
        assert "SinglePartition" not in p, name
    # Iceberg live-file census: manifests decode in mapInPandas and the
    # status filter is a plain project — no exchange at all
    p = phys(REGISTRY["iceberg_snapshot_audit"].fn(spark, sf))
    assert "Exchange hashpartitioning" not in p
    assert "Join" not in p


def test_zorder_layout_plan_has_no_global_sort(spark, sf):
    """The planner must stay scale-shaped: fixed-width ranges need one
    broadcast scalar + one hash agg per layout — never a global Sort or
    a single-partition Window."""
    p = phys(REGISTRY["zorder_layout_plan"].fn(spark, sf))
    assert "Window" not in p
    assert "rangepartitioning" not in p.lower()


def test_bm25_topk_is_take_ordered_not_global_window(spark, sf):
    """BM25's top-10 must compile to TakeOrderedAndProject (O(k) per
    partition) — never an all-rows-to-one-partition rank window; the
    dimension (per-term df) and scalar (N/avgdl) sides broadcast."""
    plan = phys(REGISTRY["bm25_topk"].fn(spark, sf))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    # the rank window runs on the 10 surviving rows only (post-limit)
    assert plan.index("TakeOrderedAndProject") > plan.index("Window")


def test_hybrid_rrf_legs_are_take_ordered(spark, sf):
    plan = phys(REGISTRY["hybrid_rrf_topk"].fn(spark, sf))
    # both legs and the fused cut use the distributed top-k operator
    assert plan.count("TakeOrderedAndProject") >= 2
    assert "CartesianProduct" not in plan


def test_bitmap_index_wide_never_shuffles_documents(spark, sf):
    """The 64-bit bitmap index shuffles serialized BITMAPS (post
    mapInPandas partials), never document rows: every exchange in the
    plan sits above the partials schema (key, bitmap)."""
    from shared_etl_pipelines_spark.sources.roaring import (
        build_bitmap_index,
    )
    from shared_etl_pipelines_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    docs = load_table(spark, sf, "documents").select(
        (F.col("doc_id") + F.lit(8589934592)).alias("wid")
    )
    tags = docs.select(
        "wid", F.concat(F.lit("m"), (F.col("wid") % 3).cast("string")).alias("tag")
    )
    plan = phys(build_bitmap_index(tags, "tag", "wid", wide=True))
    partials = plan.find("MapInPandas partials")
    assert partials != -1
    # the only exchange is the per-key bitmap repartition ABOVE the
    # partials (plan prints top-down: merge mapInPandas, then the
    # exchange, then the partials mapInPandas feeding it)
    assert plan.count("Exchange") == 1
    assert plan.find("Exchange") < partials


def test_ql_dirichlet_is_take_ordered_not_global_window(spark, sf):
    """The QL scorer's top-10 must compile to TakeOrderedAndProject
    with broadcast collection stats — same shape the BM25 gate pins."""
    plan = phys(REGISTRY["ql_dirichlet_topk"].fn(spark, sf))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert plan.index("TakeOrderedAndProject") > plan.index("Window")


def test_ranked_quantiles_never_shuffles_the_fact_table(spark, sf):
    """VERDICT r13 #2 plan gate: the exact-quantile path must not move
    O(N) over the network or persist it. The r13 form range-shuffled
    the fact table (and persisted it); the r14 form's only full-width
    operations are scans feeding map-side-combined aggregates and a
    broadcast range probe, so the executed plan must contain NO
    rangepartitioning exchange, and the sliver window must sit above a
    broadcast join, never above a full-table exchange."""
    for name in ("zonal_stats_ranked", "zonal_stats_disc"):
        plan = phys(REGISTRY[name].fn(spark, sf))
        assert "rangepartitioning" not in plan, name
        assert "percentile_approx" in plan, name  # the boundary sketch
        assert "BroadcastHashJoin" in plan, name  # the hit-range probe


def test_contamination_guard_has_no_shingle_window(spark, sf):
    """VERDICT r13 #3 plan gate: the >256-docs rarity guard must never
    route a hot shingle's rows into one task. The r13 form was a window
    count partitioned by the shingle; the r14 form is a map-side-
    combined census + a collected hot set (empty on a normal corpus),
    so the executed plan keeps exactly ONE Window operator — the
    doc-partitioned shingle builder — and none keyed on the shingle."""
    plan = phys(REGISTRY["benchmark_contamination"].fn(spark, sf))
    wlines = [ln for ln in plan.splitlines() if "windowspecdefinition(s#" in ln]
    assert not wlines, wlines
    # the doc-partitioned shingle window must still be there (the guard
    # removal must not have rewritten the builder itself)
    assert "windowspecdefinition(doc_id#" in plan
