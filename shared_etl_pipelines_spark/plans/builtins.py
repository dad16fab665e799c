"""Built-in pipeline plugins: the engine's operators exposed to YAML steps.

Each plugin mirrors a reference plugin contract (arg names from the
invocation sites cited in SURVEY.md §2) but executes as lazy DataFrame
dataflow: steps pass DataFrames through ``output_var`` bindings, so a
multi-step pipeline composes into ONE Catalyst plan and only sink steps
trigger execution — the reference's five intermediate directories
(prism-mi-corn-ppt-county.yml) become zero materializations (§3.3).

Result objects are dicts; the conventional field for dataflow is ``df``,
addressed downstream as ``{stepvar.df}``.
"""

from __future__ import annotations

import subprocess
import sys
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from shared_etl_pipelines_spark import engine
from shared_etl_pipelines_spark.operators.aggregates import (
    weighted_zonal_aggregate,
    zonal_aggregate,
)
from shared_etl_pipelines_spark.operators.filters import value_mask
from shared_etl_pipelines_spark.operators.joins import clip_semi_join, multiply_join
from shared_etl_pipelines_spark.operators.resample import regrid_average
from shared_etl_pipelines_spark.operators.setops import union_all
from shared_etl_pipelines_spark.operators.windows import rolling_metric, zscore
from shared_etl_pipelines_spark.plans.registry import plugin
from shared_etl_pipelines_spark.plans.runner import StepContext, _truthy


# -- diagnostics (reference: echo / echo.py, pipelines/sample*.yml) ---------
@plugin("echo")
def echo(ctx: StepContext, message: Any = None, **kw: Any) -> dict[str, Any]:
    if message is not None:
        print(message)
    return {"message": message}


# -- orchestration (reference: pipeline_execute.py,
#    county_daily_aggregate_parent.yml:13-22) -------------------------------
@plugin("pipeline_execute")
def pipeline_execute(
    ctx: StepContext,
    pipeline_path: str,
    mode: str = "synchronized",
    vars_kv: str | None = None,
    **kw: Any,
) -> dict[str, Any]:
    """Run a child pipeline with ``vars_kv`` overrides ("year={item}" —
    the template is rendered BEFORE this plugin sees it)."""
    import os

    overrides: dict[str, Any] = {}
    if vars_kv:
        for pair in vars_kv.replace(";", ",").split(","):
            if pair.strip():
                k, _, v = pair.partition("=")
                overrides[k.strip()] = _coerce(v.strip())
    base = os.path.dirname(ctx.spec.path) if ctx.spec.path else "."
    path = pipeline_path if os.path.isabs(pipeline_path) else os.path.join(base, pipeline_path)
    child = ctx.runner.run(os.path.normpath(path), var_overrides=overrides)
    return {"outputs": child.outputs, "steps_run": child.steps_run}


def _coerce(v: str) -> Any:
    try:
        return int(v)
    except ValueError:
        return v


# -- escape hatch (reference: exec_script.py, pipelines/testdb.yml:7-10) ----
@plugin("exec_script")
def exec_script(ctx: StepContext, script: str, **kw: Any) -> dict[str, Any]:
    proc = subprocess.run(
        [sys.executable, script], capture_output=True, text=True, check=False
    )
    return {
        "returncode": proc.returncode,
        "stdout": proc.stdout,
        "stderr": proc.stderr,
    }


# -- sources / sinks --------------------------------------------------------
@plugin("read_parquet")
def read_parquet(ctx: StepContext, path: str, **kw: Any) -> dict[str, Any]:
    return {"df": engine.read_parquet(ctx.spark, path), "path": path}


@plugin("read_csv")
def read_csv(
    ctx: StepContext, path: str, header: Any = True, sep: str = ",", **kw: Any
) -> dict[str, Any]:
    df = ctx.spark.read.csv(path, header=bool(header), sep=sep, inferSchema=True)
    return {"df": df, "path": path}


@plugin("write_parquet")
def write_parquet(
    ctx: StepContext, df: DataFrame, out: str, overwrite: Any = True, **kw: Any
) -> dict[str, Any]:
    if ctx.should_skip(out, overwrite):
        return {"path": out, "skipped": True}
    df.write.mode("overwrite").parquet(out)
    return {"path": out, "skipped": False}


@plugin("write_csv")
def write_csv(
    ctx: StepContext,
    df: DataFrame,
    out: str,
    overwrite: Any = True,
    single_file: Any = False,
    **kw: Any,
) -> dict[str, Any]:
    if ctx.should_skip(out, overwrite):
        return {"path": out, "skipped": True}
    w = (df.coalesce(1) if single_file else df).write.mode("overwrite")
    w.option("header", True).csv(out)
    return {"path": out, "skipped": False}


# -- S6 combine_files: UNION ALL of same-schema slices
#    (county_daily_aggregate.yml:38-44) -------------------------------------
@plugin("combine_files")
def combine_files(ctx: StepContext, dfs: Any = None, input_glob: str | None = None,
                  fmt: str = "csv", **kw: Any) -> dict[str, Any]:
    if dfs is not None:
        return {"df": union_all(list(dfs))}
    if fmt == "csv":
        df = ctx.spark.read.option("header", True).csv(input_glob, inferSchema=True)
    else:
        df = engine.read_parquet(ctx.spark, input_glob)
    return {"df": df}


# -- relational / analytic operators (G1..G8) -------------------------------
@plugin("filter_rows")
def filter_rows(ctx: StepContext, df: DataFrame, condition: str, **kw: Any) -> dict[str, Any]:
    return {"df": df.filter(condition)}


@plugin("select_cols")
def select_cols(ctx: StepContext, df: DataFrame, cols: list[str], **kw: Any) -> dict[str, Any]:
    return {"df": df.selectExpr(*cols)}


@plugin("clip_by_selector")
def clip_by_selector(
    ctx: StepContext, df: DataFrame, selector: DataFrame, on: Any, key: str, value: Any,
    **kw: Any,
) -> dict[str, Any]:
    on = on if isinstance(on, list) else [on]
    return {"df": clip_semi_join(df, selector, on=on, key=key, value=value)}


@plugin("value_mask")
def value_mask_plugin(
    ctx: StepContext, df: DataFrame, column: str, include_values: Any, out_col: str = "mask",
    **kw: Any,
) -> dict[str, Any]:
    vals = include_values if isinstance(include_values, list) else [
        _coerce(v.strip()) for v in str(include_values).split(",")
    ]
    return {"df": value_mask(df, column, vals, mask_col=out_col)}


@plugin("regrid_average")
def regrid_average_plugin(
    ctx: StepContext, df: DataFrame, fine_cols: list[str], factor: int,
    value_col: str, coarse_cols: list[str] | None = None, out_col: str = "fraction",
    **kw: Any,
) -> dict[str, Any]:
    out = regrid_average(
        df, tuple(fine_cols), factor=int(factor), value_col=value_col,
        coarse_cols=tuple(coarse_cols) if coarse_cols else None, out_col=out_col,
    )
    return {"df": out}


@plugin("multiply_join")
def multiply_join_plugin(
    ctx: StepContext, df: DataFrame, weights: DataFrame, on: Any,
    value_col: str, weight_col: str, **kw: Any,
) -> dict[str, Any]:
    on = on if isinstance(on, list) else [on]
    return {"df": multiply_join(df, weights, on=on, value_col=value_col, weight_col=weight_col)}


@plugin("zonal_aggregate")
def zonal_aggregate_plugin(
    ctx: StepContext, df: DataFrame, zone_cols: Any, value_col: str,
    aggregations: str = "min,p5,q1,med,avg,q3,p95,max", value_prefix: str = "",
    approx: Any = False, **kw: Any,
) -> dict[str, Any]:
    zones = zone_cols if isinstance(zone_cols, list) else [zone_cols]
    out = zonal_aggregate(
        df, zones, value_col, aggregations, value_prefix=value_prefix,
        approx=bool(approx),
    )
    return {"df": out}


@plugin("weighted_zonal_aggregate")
def weighted_zonal_aggregate_plugin(
    ctx: StepContext, df: DataFrame, zone_cols: Any, value_col: str, weight_col: str,
    out_col: str = "wavg", **kw: Any,
) -> dict[str, Any]:
    zones = zone_cols if isinstance(zone_cols, list) else [zone_cols]
    return {"df": weighted_zonal_aggregate(df, zones, value_col, weight_col, out_col=out_col)}


@plugin("rolling_window")
def rolling_window_plugin(
    ctx: StepContext, df: DataFrame, partition_cols: Any, order_col: str,
    value_col: str, windows: Any, metric: str = "sum", **kw: Any,
) -> dict[str, Any]:
    parts = partition_cols if isinstance(partition_cols, list) else [partition_cols]
    ws = windows if isinstance(windows, list) else [int(w) for w in str(windows).split(",")]
    out = df
    for w in ws:
        out = rolling_metric(
            out, parts, order_col, value_col, window=int(w), metric=metric,
            out_col=f"{metric}_{w}",
        )
    return {"df": out}


@plugin("zscore")
def zscore_plugin(
    ctx: StepContext, df: DataFrame, partition_cols: Any, value_col: str,
    out_col: str = "zscore", **kw: Any,
) -> dict[str, Any]:
    parts = partition_cols if isinstance(partition_cols, list) else [partition_cols]
    return {"df": zscore(df, parts, value_col, out_col=out_col)}


@plugin("sql")
def sql_plugin(ctx: StepContext, query: str, views: Any = None, **kw: Any) -> dict[str, Any]:
    """Run SQL; ``views`` maps view name -> DataFrame (from output_vars)."""
    for name, df in (views or {}).items():
        df.createOrReplaceTempView(name)
    return {"df": ctx.spark.sql(query)}


# -- LLM-data curation plugins (beyond-reference: the brief's training-
# data mandate exposed to the YAML layer, same dataflow conventions) -------
@plugin("near_dup_pairs")
def near_dup_pairs_plugin(
    ctx: StepContext,
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    **kw: Any,
) -> dict[str, Any]:
    from shared_etl_pipelines_spark.operators.dedup import minhash_lsh_pairs

    return {"df": minhash_lsh_pairs(df, id_col, text_col, threshold=float(threshold))}


def _eager_release(ctx: StepContext, make_df, eager: Any) -> DataFrame:
    """Run a lazy iterative operator; with ``eager: true`` materialize
    its result to scratch parquet and release every persist /
    localCheckpoint the call registered (engine.StorageScope) before
    returning. The storage-lifecycle fix for pipelines that LOOP a graph
    plugin (foreach over snapshots): without it each iteration's edge
    caches and round checkpoints accumulate in executor storage until a
    session-wide sweep; with it per-iteration footprint is flat zero and
    the returned frame is a plain parquet scan."""
    if not _truthy(eager, default=False):
        return make_df()
    from shared_etl_pipelines_spark.engine import StorageScope, checkpoint_to_scratch

    with StorageScope(ctx.spark):
        out = checkpoint_to_scratch(make_df(), ctx.step.plugin)
    return out


@plugin("dedup_clusters")
def dedup_clusters_plugin(
    ctx: StepContext,
    pairs: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    eager: Any = False,
    **kw: Any,
) -> dict[str, Any]:
    from shared_etl_pipelines_spark.operators.dedup import connected_components

    return {
        "df": _eager_release(
            ctx, lambda: connected_components(pairs, src=src, dst=dst), eager
        )
    }


@plugin("stratified_sample")
def stratified_sample_plugin(
    ctx: StepContext,
    df: DataFrame,
    key_col: str,
    strata_col: str,
    rates: dict,
    default_rate: float = 0.0,
    **kw: Any,
) -> dict[str, Any]:
    from shared_etl_pipelines_spark.operators.sampling import stratified_sample

    return {
        "df": stratified_sample(
            df, key_col, strata_col,
            {k: float(v) for k, v in rates.items()}, float(default_rate),
        )
    }


@plugin("pii_scrub")
def pii_scrub_plugin(
    ctx: StepContext, df: DataFrame, text_col: str = "text", **kw: Any
) -> dict[str, Any]:
    """Redact every PII_PATTERNS match in ``text_col`` (typed placeholders)
    and count matches per row — the scrub step of a curation pipeline."""
    from pyspark.sql import functions as F

    from shared_etl_pipelines_spark.functions.text import pii_counts, pii_redact_all

    cnts = pii_counts(F.col(text_col))
    total = None
    for c in cnts.values():
        total = c if total is None else total + c
    return {
        "df": df.withColumn("n_pii", total).withColumn(
            text_col, pii_redact_all(F.col(text_col))
        )
    }


@plugin("dup_span_profile")
def dup_span_profile_plugin(
    ctx: StepContext,
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    **kw: Any,
) -> dict[str, Any]:
    """Per-document duplicated-span rollup (see operators.dedup.
    duplicated_spans): id, n_dup_spans, dup_tokens — join back to the
    corpus and threshold on the duplicated fraction."""
    from pyspark.sql import functions as F

    from shared_etl_pipelines_spark.operators.dedup import duplicated_spans

    spans = duplicated_spans(df, id_col, text_col, n=int(n))
    agg = spans.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_dup_spans"),
        F.sum("span_tokens").alias("dup_tokens"),
    )
    return {"df": agg}


@plugin("source_cap")
def source_cap_plugin(
    ctx: StepContext,
    df: DataFrame,
    id_col: str = "doc_id",
    group_col: str = "source",
    max_per_group: int = 10,
    **kw: Any,
) -> dict[str, Any]:
    """Keep at most ``max_per_group`` rows per group in stable-hash order
    (reproducible over-representation cap)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    w = Window.partitionBy(group_col).orderBy(
        F.md5(F.col(id_col).cast("string")), id_col
    )
    return {
        "df": df.withColumn("_pick", F.row_number().over(w))
        .filter(F.col("_pick") <= int(max_per_group))
        .drop("_pick")
    }


# -- data quality gates (engine-native form of the reference's run
#    discipline: ON_ERROR_STOP / skip-if-exists guard the publish path;
#    here the gate is row-level and declarative) ----------------------------
@plugin("profile_columns")
def profile_columns_plugin(
    ctx: StepContext, df: DataFrame, cols: list[str] | None = None, **kw: Any
) -> dict[str, Any]:
    from shared_etl_pipelines_spark.operators.quality import profile_columns

    return {"df": profile_columns(df, cols)}


@plugin("expect")
def expect_plugin(
    ctx: StepContext,
    df: DataFrame,
    checks: dict,
    fail_on_violation: bool = True,
    **kw: Any,
) -> dict[str, Any]:
    """Evaluate named SQL-expression expectations; optionally abort the
    pipeline (the ON_ERROR_STOP analog) when any check has violations.

    Returns the per-check result frame either way, so a non-failing mode
    can route it to a sink for monitoring.
    """
    from shared_etl_pipelines_spark.operators.quality import check_expectations

    result = check_expectations(df, {name: F.expr(cond) for name, cond in checks.items()})
    if fail_on_violation:
        bad = [
            f"{r['check_name']} ({r['n_violations']}/{r['n_rows']})"
            for r in result.collect()
            if r["n_violations"] > 0
        ]
        if bad:
            raise RuntimeError(f"expectations failed: {', '.join(bad)}")
    return {"df": result}


# -- write layout (Z-order clustering, operators/layout.py) -----------------
@plugin("write_zordered")
def write_zordered_plugin(
    ctx: StepContext,
    df: DataFrame,
    path: str,
    cols: list[str],
    bits: int = 16,
    n_files: int = 8,
    **kw: Any,
) -> dict[str, Any]:
    from shared_etl_pipelines_spark.operators.layout import write_zordered

    write_zordered(df, path, cols, bits=int(bits), n_files=int(n_files))
    return {"path": path}


@plugin("bloom_semi_join")
def bloom_semi_join_plugin(
    ctx: StepContext,
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
    m_bits: int = 1 << 16,
    **kw: Any,
) -> dict[str, Any]:
    """Exact semi-join with an explicit bloom runtime filter ahead of
    the shuffle (operators/bloom.py) — the YAML form of the selective
    dimension probe."""
    from shared_etl_pipelines_spark.operators.bloom import bloom_semi_join

    return {
        "df": bloom_semi_join(
            fact, dim, fact_key=fact_key, dim_key=dim_key, m_bits=int(m_bits)
        )
    }


@plugin("weighted_sample")
def weighted_sample_plugin(
    ctx: StepContext,
    df: DataFrame,
    key_col: str,
    weight_col: str,
    k: int,
    strata_cols: list | None = None,
    **kw: Any,
) -> dict[str, Any]:
    """Deterministic weighted sample without replacement (A-ES keys,
    operators/sampling.py weighted_sample_topk)."""
    from shared_etl_pipelines_spark.operators.sampling import weighted_sample_topk

    return {
        "df": weighted_sample_topk(
            df, key_col, weight_col, int(k),
            list(strata_cols) if strata_cols else None,
        )
    }


@plugin("label_propagation")
def label_propagation_plugin(
    ctx: StepContext,
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 3,
    eager: Any = False,
    **kw: Any,
) -> dict[str, Any]:
    """Community labels over an edge frame (operators/graph.py) — the
    YAML form of the deterministic fixed-round LPA.

    Storage note: lazily composed (default), the operator's persisted
    edge frame stays registered until the session sweep
    (engine.sweep_persistent_rdds / operators/graph.py module
    docstring). ``eager: true`` materializes to scratch and releases the
    call's storage immediately — use it when a pipeline loops this
    plugin (see _eager_release)."""
    from shared_etl_pipelines_spark.operators.graph import label_propagation

    return {
        "df": _eager_release(
            ctx,
            lambda: label_propagation(
                edges, src=src, dst=dst, iterations=int(iterations)
            ),
            eager,
        )
    }


@plugin("k_core")
def k_core_plugin(
    ctx: StepContext,
    edges: DataFrame,
    k: int,
    rounds: int = 3,
    src: str = "src",
    dst: str = "dst",
    eager: Any = False,
    **kw: Any,
) -> dict[str, Any]:
    """k-core subgraph (operators/graph.py). Same storage note as
    label_propagation: ``eager: true`` for looping pipelines, session
    sweep otherwise."""
    from shared_etl_pipelines_spark.operators.graph import k_core

    return {
        "df": _eager_release(
            ctx,
            lambda: k_core(edges, k=int(k), rounds=int(rounds), src=src, dst=dst),
            eager,
        )
    }


@plugin("pagerank")
def pagerank_plugin(
    ctx: StepContext,
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    iterations: int = 10,
    eager: Any = False,
    **kw: Any,
) -> dict[str, Any]:
    """Fixed-budget PageRank over an edge frame (operators/graph.py).
    Same storage note as label_propagation: ``eager: true`` for looping
    pipelines, session sweep otherwise."""
    from shared_etl_pipelines_spark.operators.graph import pagerank

    return {
        "df": _eager_release(
            ctx,
            lambda: pagerank(
                edges,
                src=src,
                dst=dst,
                damping=float(damping),
                iterations=int(iterations),
            ),
            eager,
        )
    }


@plugin("topk_per_group")
def topk_per_group_plugin(
    ctx: StepContext,
    df: DataFrame,
    keys: list,
    value_col: str,
    tiebreak_col: str,
    k: int = 5,
    **kw: Any,
) -> dict[str, Any]:
    """Map-side-combined exact top-k per group (operators/windows.py
    partial_topk): the scale form — k rows per (key, batch) shuffle."""
    from shared_etl_pipelines_spark.operators.windows import partial_topk

    return {"df": partial_topk(df, list(keys), value_col, tiebreak_col, int(k))}


@plugin("hard_negatives")
def hard_negatives_plugin(
    ctx: StepContext,
    embeddings: DataFrame,
    anchors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    k: int = 5,
    **kw: Any,
) -> dict[str, Any]:
    from shared_etl_pipelines_spark.operators.similarity import hard_negatives

    return {
        "df": hard_negatives(
            embeddings, anchors, id_col=id_col, vec_col=vec_col,
            label_col=label_col, k=int(k),
        )
    }


# -- storage maintenance: merge-on-read tables + incremental ANN index
#    (sources/warehouse.py mor_*, operators/similarity.py ann_index_*) —
#    YAML parity with the O5 catalog_upsert / write_zordered plugins
#    (VERDICT r5 #8). The write plugins return their stats dicts, so a
#    pipeline can assert/log rows_appended via {stepvar.rows_appended}. --


@plugin("mor_write_base")
def mor_write_base_plugin(
    ctx: StepContext, df: DataFrame, path: str, overwrite: Any = True, **kw: Any
) -> dict[str, Any]:
    from shared_etl_pipelines_spark.sources.warehouse import mor_write_base

    if ctx.should_skip(path, overwrite):
        return {"path": path, "skipped": True}
    mor_write_base(df, path)
    return {"path": path, "skipped": False}


@plugin("mor_apply_changes")
def mor_apply_changes_plugin(
    ctx: StepContext,
    path: str,
    key_cols: list[str],
    upserts: DataFrame | None = None,
    delete_keys: DataFrame | None = None,
    **kw: Any,
) -> dict[str, Any]:
    from shared_etl_pipelines_spark.sources.warehouse import mor_apply_changes

    stats = mor_apply_changes(
        ctx.spark, path, list(key_cols), upserts=upserts, delete_keys=delete_keys
    )
    return {"path": path, **stats}


@plugin("mor_read")
def mor_read_plugin(
    ctx: StepContext,
    path: str,
    key_cols: list[str],
    as_of_seq: int | None = None,
    merge_schema: bool = False,
    **kw: Any,
) -> dict[str, Any]:
    from shared_etl_pipelines_spark.sources.warehouse import mor_read

    df = mor_read(
        ctx.spark,
        path,
        list(key_cols),
        as_of_seq=as_of_seq,
        merge_schema=merge_schema,
    )
    return {"df": df, "path": path}


@plugin("mor_changelog")
def mor_changelog_plugin(
    ctx: StepContext,
    path: str,
    key_cols: list[str],
    from_seq: int,
    to_seq: int,
    **kw: Any,
) -> dict[str, Any]:
    from shared_etl_pipelines_spark.sources.warehouse import mor_changelog

    df = mor_changelog(ctx.spark, path, list(key_cols), int(from_seq), int(to_seq))
    return {"df": df, "path": path}


@plugin("mor_history")
def mor_history_plugin(ctx: StepContext, path: str, **kw: Any) -> dict[str, Any]:
    from shared_etl_pipelines_spark.sources.warehouse import mor_history

    return {"df": mor_history(ctx.spark, path), "path": path}


@plugin("mor_compact")
def mor_compact_plugin(
    ctx: StepContext, path: str, key_cols: list[str], **kw: Any
) -> dict[str, Any]:
    from shared_etl_pipelines_spark.sources.warehouse import mor_compact

    stats = mor_compact(ctx.spark, path, list(key_cols))
    return {"path": path, **stats}


@plugin("ann_index_write")
def ann_index_write_plugin(
    ctx: StepContext,
    embeddings: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    overwrite: Any = True,
    **kw: Any,
) -> dict[str, Any]:
    from shared_etl_pipelines_spark.operators.similarity import write_ann_index

    if ctx.should_skip(path, overwrite):
        return {"path": path, "skipped": True}
    write_ann_index(embeddings, path, id_col=id_col, vec_col=vec_col)
    return {"path": path, "skipped": False}


@plugin("ann_index_upsert")
def ann_index_upsert_plugin(
    ctx: StepContext,
    path: str,
    batch: DataFrame | None = None,
    delete_ids: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    **kw: Any,
) -> dict[str, Any]:
    from shared_etl_pipelines_spark.operators.similarity import ann_index_upsert

    stats = ann_index_upsert(
        ctx.spark, path, batch=batch, delete_ids=delete_ids,
        id_col=id_col, vec_col=vec_col,
    )
    return {"path": path, **stats}


@plugin("ann_index_topk")
def ann_index_topk_plugin(
    ctx: StepContext,
    path: str,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    as_of_seq: int | None = None,
    **kw: Any,
) -> dict[str, Any]:
    from shared_etl_pipelines_spark.operators.similarity import lsh_topk_from_index

    return {
        "df": lsh_topk_from_index(
            ctx.spark,
            path,
            queries,
            id_col=id_col,
            vec_col=vec_col,
            k=int(k),
            as_of_seq=as_of_seq,
        )
    }


@plugin("ann_index_compact")
def ann_index_compact_plugin(
    ctx: StepContext, path: str, id_col: str = "vec_id", **kw: Any
) -> dict[str, Any]:
    from shared_etl_pipelines_spark.operators.similarity import compact_ann_index

    stats = compact_ann_index(ctx.spark, path, id_col=id_col)
    return {"path": path, **stats}


@plugin("read_xml")
def read_xml_plugin(
    ctx: StepContext,
    path: str,
    schema_ddl: str,
    row_tag: str = "doc",
    **kw: Any,
) -> dict[str, Any]:
    """PERMISSIVE XML ingestion with _corrupt_record quarantine (the
    native Spark 4 source — sources/xmlq.py posture: explicit schema,
    never inference). Pruning caveat: quarantine is evaluated against
    the PRUNED parse schema, so a downstream query must reference the
    typed leaves it wants policed — a pruned-away column can no longer
    fail a record into _corrupt_record (pinned in the example
    pipeline)."""
    from pyspark.sql import types as T

    schema = T.StructType.fromDDL(schema_ddl)
    df = (
        ctx.spark.read.format("xml")
        .schema(schema)
        .option("rowTag", row_tag)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .load(path)
    )
    return {"df": df, "path": path}


@plugin("write_partition_era")
def write_partition_era_plugin(
    ctx: StepContext, df: DataFrame, path: str, spec: list[str], **kw: Any
) -> dict[str, Any]:
    """Commit one era of a partition-evolved table (Iceberg rule: the
    new spec applies to new data only)."""
    from shared_etl_pipelines_spark.sources.warehouse import write_partition_era

    era = write_partition_era(df, path, list(spec))
    return {"path": path, "era": era}


@plugin("read_evolved")
def read_evolved_plugin(ctx: StepContext, path: str, **kw: Any) -> dict[str, Any]:
    from shared_etl_pipelines_spark.sources.warehouse import read_evolved

    return {"df": read_evolved(ctx.spark, path), "path": path}


@plugin("holt_smooth")
def holt_smooth_plugin(
    ctx: StepContext,
    df: DataFrame,
    key_cols: list[str],
    order_col: str,
    value_col: str,
    **kw: Any,
) -> dict[str, Any]:
    from shared_etl_pipelines_spark.operators.hypertable import holt_linear_smooth

    return {"df": holt_linear_smooth(df, list(key_cols), order_col, value_col)}


@plugin("containment_pairs")
def containment_pairs_plugin(
    ctx: StepContext,
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.6,
    max_df: int = 256,
    **kw: Any,
) -> dict[str, Any]:
    from shared_etl_pipelines_spark.operators.dedup import containment_pairs

    return {
        "df": containment_pairs(
            df, id_col, text_col, n=int(n), threshold=float(threshold),
            max_df=int(max_df),
        )
    }


@plugin("synthetic_media_assets")
def synthetic_media_assets_plugin(
    ctx: StepContext,
    df: DataFrame,
    kind: str,
    id_col: str = "doc_id",
    payload_col: str = "text",
    **kw: Any,
) -> dict[str, Any]:
    """Round-8 fixture factories as one plugin: ``kind`` picks the
    deterministic real-container corpus (pdf | mp4 | flac)."""
    from shared_etl_pipelines_spark.sources import multimodal as mm

    factories = {
        "pdf": mm.synthetic_pdf_assets,
        "mp4": mm.synthetic_mp4_assets,
        "flac": mm.synthetic_flac_assets,
    }
    if kind not in factories:
        raise ValueError(f"unknown media fixture kind {kind!r}")
    return {"df": factories[kind](df, id_col=id_col, payload_col=payload_col)}


@plugin("pdf_text_extract")
def pdf_text_extract_plugin(
    ctx: StepContext, df: DataFrame, **kw: Any
) -> dict[str, Any]:
    from shared_etl_pipelines_spark.sources.multimodal import pdf_text_rows

    return {"df": pdf_text_rows(df)}


@plugin("mp4_track_scan")
def mp4_track_scan_plugin(
    ctx: StepContext, df: DataFrame, **kw: Any
) -> dict[str, Any]:
    from shared_etl_pipelines_spark.sources.multimodal import mp4_track_scan

    return {"df": mp4_track_scan(df)}


@plugin("mp4_keyframe_stats")
def mp4_keyframe_stats_plugin(
    ctx: StepContext, df: DataFrame, **kw: Any
) -> dict[str, Any]:
    from shared_etl_pipelines_spark.sources.multimodal import mp4_keyframe_stats

    return {"df": mp4_keyframe_stats(df)}


@plugin("flac_decode")
def flac_decode_plugin(
    ctx: StepContext, df: DataFrame, **kw: Any
) -> dict[str, Any]:
    from shared_etl_pipelines_spark.sources.multimodal import flac_audio_stats

    return {"df": flac_audio_stats(df)}


@plugin("curation_drop_audit")
def curation_drop_audit_plugin(
    ctx: StepContext, sf_dir: str, **kw: Any
) -> dict[str, Any]:
    """The unified dropped-record audit (queries_llm
    q_curation_drop_audit) as a pipeline step: run it next to any
    curation job so every quarantine/cap surface ships as one table."""
    from shared_etl_pipelines_spark.queries import REGISTRY

    return {"df": REGISTRY["curation_drop_audit"].fn(ctx.spark, sf_dir)}
