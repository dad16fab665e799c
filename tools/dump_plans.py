"""Regenerate PLANS.md: formatted physical plans for representative queries.

The plan shapes tests/test_plans.py asserts piecemeal, laid out in full
for review — pushdown/pruning at the scan, broadcast vs shuffle joins,
exchange counts, codegen spans. Run from the repo root:

    python tools/dump_plans.py > PLANS.md
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")

# query -> the property worth reading the plan for
SHOWCASE = {
    "pricing_summary": "filter pushdown + column pruning at the parquet scan",
    "zonal_stats": "broadcast dimension join; one shuffle for the exact-percentile agg",
    "regional_revenue": "5-way star join: every dimension broadcast, fact never shuffles",
    "rolling_sums": "three stacked trailing windows sharing ONE exchange",
    "time_range_rolling": "time-range frame, single exchange, no join",
    "range_join_campaigns": "interval join rewritten to a hash equi-join on buckets",
    "near_dup_minhash_lsh": "LSH band equi-join: linear candidate generation",
    "hypertable_rollup": "coarser resolutions re-aggregate cached finer partials",
    "data_quality_profile": "Expand-free profile: one column-pruned scan + two-phase distinct per column, unioned",
    "dup_spans": "substring-level dedup: window count on the shingle hash, gaps-and-islands merge — two shuffles",
    "bigram_lm_quality": "LM train+score one dataflow: bigram counts join back to doc bigrams, 1-row total broadcast",
    "salted_hot_key_agg": "two-phase salted aggregation of a skewed key",
    "event_funnel": "ordered funnel: every stage join hash-partitioned on user_id",
    "customer_order_distribution": "outer join + two-level aggregation (TPC-H Q13 shape)",
    "similarity_topk_lsh": "multi-table LSH: explode over tables, bucket equi-join, exact rerank",
    "raster_tif_rollsum": "GeoTIFF decode in the scan tasks (no Exchange before MapInPandas), then one window shuffle",
    "shapefile_clip": "shapefile zones ride the UDF closure: ArrowEvalPython, zero joins",
    "zonal_stats_ranked": "distributed-exact quantiles: boundary sketch, one counts pass, broadcast range probe; no range shuffle, no per-group buffer",
    "embedding_covariance": "pair products as codegen expression array; one 36-key shuffle",
    "benchmark_contamination": "5-gram equi-join, benchmark side broadcast",
    "token_entropy_quality": "entropy via log-sum identity: mergeable aggregates only, no per-doc window",
    "sequence_pack": "concat-then-chunk packing: one running-sum window per source shard",
    "incremental_dedup": "batch-vs-corpus probes broadcast the batch side; corpus never the shuffled side of a probe join",
    "multimodal_png_decode": "PNG encode+decode inside scan-task mapInPandas: no Exchange before the Python stages",
    "embedding_kmeans_assign": "assignment twin: 8-row broadcast centroids, window argmin",
    "snapshot_diff_orders": "CDC diff: digests below the exchange, one slim full-outer join",
    "fk_integrity_check": "FK audit: every referenced-keys side deduped + broadcast, facts never shuffle",
    "copurchase_triangles": "oriented triangle join: pushed quantity filter, out-degree-bounded two-hop",
    "waiting_supplier_blame": "Q21 shape: fact self semi+anti joins, supplier broadcast",
    "bloom_prefilter_join": "explicit runtime filter: xxhash64 bit tests below the exchange, exact semi-join after",
    "geo_radius_join": "spherical radius join: grid-cell equi-join candidates, exact haversine refine, no cartesian",
    "similarity_topk_pq": "PQ/ADC search: codes equi-join a broadcast query LUT; float arrays never shuffle",
    "forecast_revenue_change": "Q6 shape: every predicate pushed to the scan, 3-column read schema",
    "pareto_frontier": "skyline via running-max over distinct prices; no dominance self-join",
    "max_concurrent_open_orders": "sweep line: deltas pre-aggregated per day before the ordered cumsum",
    "label_prop_communities": "LPA round: edge-label equi-join + ONE max(struct) argmax aggregate, no window",
    "kcore_peeling": "k-core round: degree aggregate + two semi-joins, monotone contraction",
    "kmv_distinct_intersection": "KMV sketch: per-segment rank; the union merge ranks <= 2k rows whatever the input size",
    "similarity_topk_blocked": "block-GEMM top-k: corpus x packed query blocks, partial top-k bounds the shuffle",
    "semantic_dedup": "SemDeDup: near-dup self-join keyed on cluster cell — quadratic term bounded by cell size",
    "kaplan_meier_conversion": "KM curve: integer event tables, windows over |event days| rows only",
    "gopher_quality_rules": "published quality filter as pure codegen: no Python eval, no agg shuffle, 2-column scan",
    "rendezvous_shard_stats": "HRW sharding in ONE projection (array_max over struct candidates), no explode/window",
    "bpe_encode_apply": "frozen-tokenizer encode: pandas UDF above the word-frequency agg — vocab rows, never the corpus",
    "warc_ingest_stats": "WARC parse inside scan-task mapInPandas (one task per archive), then one domain rollup",
    "html_extract_text": "boilerplate strip as one JVM regex chain: no Python eval, single projection over the scan",
    "near_dup_prefix_filter": "AllPairs prefix filter: ranked frame persisted once, probe join linear in candidates",
}


def main() -> None:
    from shared_etl_pipelines_spark.engine import get_spark
    from shared_etl_pipelines_spark.queries import REGISTRY

    spark = get_spark("plans", master="local[4]", shuffle_partitions=8)
    out = [
        "# PLANS — formatted physical plans (generated by tools/dump_plans.py)",
        "",
        f"Input: `{SF_DIR}` on local[4], shuffle=8. AQE is enabled in the",
        "engine factory, so runtime re-optimization (skew splitting, partition",
        "coalescing) applies on top of what is shown here. Regenerate with",
        "`python tools/dump_plans.py > PLANS.md`.",
        "",
    ]
    for name, why in SHOWCASE.items():
        df = REGISTRY[name].fn(spark, SF_DIR)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        out.append(f"## {name}")
        out.append("")
        out.append(f"*Why this plan: {why}.*")
        out.append("")
        out.append("```")
        out.append(buf.getvalue().rstrip())
        out.append("```")
        out.append("")
    print("\n".join(out))


if __name__ == "__main__":
    main()
