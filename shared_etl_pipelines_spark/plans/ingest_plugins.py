"""Pipeline plugin bindings for the ingestion + catalog operators.

Arg names match the reference invocation contracts verbatim (SURVEY.md
§2.1/§2.3) so a reference pipeline document ports by changing only the
plugin internals, not the YAML.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame

from shared_etl_pipelines_spark.engine import read_parquet
from shared_etl_pipelines_spark.plans.registry import plugin
from shared_etl_pipelines_spark.plans.runner import StepContext
from shared_etl_pipelines_spark.sources import catalog as C
from shared_etl_pipelines_spark.sources import ingest as I


@plugin("web_download_list")
def web_download_list(ctx: StepContext, **args: Any) -> dict[str, Any]:
    return I.web_download_list(**_b(args, "overwrite", "conditional_get"))


@plugin("ftp_download_tree")
def ftp_download_tree(ctx: StepContext, **args: Any) -> dict[str, Any]:
    return I.ftp_download_tree(**_b(args, "overwrite", "recursive"))


@plugin("archive_extract")
def archive_extract(ctx: StepContext, **args: Any) -> dict[str, Any]:
    return I.archive_extract(**_b(args, "overwrite"))


@plugin("gzip_extract")
def gzip_extract(ctx: StepContext, **args: Any) -> dict[str, Any]:
    return I.gzip_extract(**_b(args, "overwrite"))


@plugin("stac_asset_download")
def stac_asset_download(ctx: StepContext, **args: Any) -> dict[str, Any]:
    return I.stac_asset_download(**_b(args, "overwrite", "save_item_json"))


@plugin("vector_facts")
def vector_facts(
    ctx: StepContext, df: DataFrame | None = None, input_path: str | None = None,
    output_dir: str = ".", name: str | None = None, **_: Any,
) -> dict[str, Any]:
    if df is None:
        df = read_parquet(ctx.spark, input_path)
    return C.vector_facts(df, output_dir, name=name or "dataset")


@plugin("ai_dataset_evidence_bundle")
def ai_dataset_evidence_bundle(
    ctx: StepContext, df: DataFrame | None = None, input_path: str | None = None,
    **args: Any,
) -> dict[str, Any]:
    if df is None:
        df = read_parquet(ctx.spark, input_path)
    return C.evidence_bundle(df, **args)


@plugin("ai_dataset_research")
def ai_dataset_research(ctx: StepContext, **args: Any) -> dict[str, Any]:
    return C.dataset_research(**args)


@plugin("catalog_json_upsert")
def catalog_json_upsert(ctx: StepContext, **args: Any) -> dict[str, Any]:
    return C.catalog_json_upsert(**args)


@plugin("catalog_yaml_sync")
def catalog_yaml_sync(ctx: StepContext, **args: Any) -> dict[str, Any]:
    return C.catalog_yaml_sync(**_b(args, "overwrite_managed_fields"))


def _b(args: dict[str, Any], *bool_keys: str) -> dict[str, Any]:
    """YAML/templating may deliver booleans as strings — normalize."""
    out = dict(args)
    for k in bool_keys:
        if k in out and isinstance(out[k], str):
            out[k] = out[k].strip().lower() in ("true", "1", "yes")
    return out


# -- geo artifact sources: the reference's actual inputs --------------------
# Daily GeoTIFF rasters (stage-ts-ppt-day-*.yml input_filename_glob) and
# TIGER boundary shapefiles (county_daily_aggregate.yml county_path /
# county_id_field; stage-ts-ppt-day-state.yml key=STUSPS).


@plugin("read_geotiff")
def read_geotiff(
    ctx: StepContext,
    path: str,
    date_regex: str = r"(\d{8})",
    drop_nodata: Any = True,
    **kw: Any,
) -> dict[str, Any]:
    from shared_etl_pipelines_spark.sources.raster import read_geotiff_long

    dn = _b({"drop_nodata": drop_nodata}, "drop_nodata")["drop_nodata"]
    df = read_geotiff_long(ctx.spark, path, date_regex=date_regex, drop_nodata=bool(dn))
    return {"df": df, "path": path}


@plugin("clip_by_shapefile")
def clip_by_shapefile(
    ctx: StepContext,
    df: DataFrame,
    shapefile: str,
    key: str | None = None,
    value: Any = None,
    x_col: str = "x",
    y_col: str = "y",
    **kw: Any,
) -> dict[str, Any]:
    """G1 on real boundaries: geo_clip_raster_by_polygon's contract
    (state_path + key/value selector, stage-ts-ppt-day-state.yml:24-35)."""
    from shared_etl_pipelines_spark.operators.geo import clip_by_polygon
    from shared_etl_pipelines_spark.sources.vector import read_shapefile

    polys = read_shapefile(shapefile, id_field=key)
    return {
        "df": clip_by_polygon(df, polys, key=key, value=value, x_col=x_col, y_col=y_col),
        "n_polygons": len(polys),
    }


@plugin("zonal_stats_shapefile")
def zonal_stats_shapefile(
    ctx: StepContext,
    df: DataFrame,
    shapefile: str,
    id_field: str,
    value_col: str = "value",
    aggregations: str = "min,p5,q1,med,avg,q3,p95,max",
    value_prefix: str = "",
    x_col: str = "x",
    y_col: str = "y",
    group_cols: Any = None,
    **kw: Any,
) -> dict[str, Any]:
    """G4 on real boundaries: geo_county_raster_aggregate's contract
    (county_path + county_id_field + aggregations + value_prefix,
    county_daily_aggregate.yml:24-36). ``group_cols`` (e.g. [day])
    replaces the reference's per-day foreach with one grouped plan."""
    from shared_etl_pipelines_spark.operators.geo import zonal_stats_polygons
    from shared_etl_pipelines_spark.sources.vector import read_shapefile

    polys = read_shapefile(shapefile, id_field=id_field)
    extra = group_cols if isinstance(group_cols, list) else (
        [c.strip() for c in str(group_cols).split(",") if c.strip()] if group_cols else []
    )
    out = zonal_stats_polygons(
        df, polys, value_col, aggregations=aggregations,
        value_prefix=value_prefix, x_col=x_col, y_col=y_col,
        extra_group_cols=extra,
    )
    return {"df": out, "n_polygons": len(polys)}


@plugin("read_warc")
def read_warc_plugin(
    ctx: StepContext,
    path: str,
    on_error: str = "fail",
    **kw: Any,
) -> dict[str, Any]:
    """Web-corpus ingestion: parse WARC archives (plain .warc or
    CommonCrawl per-record-gzip .warc.gz) into a records table — the
    crawl-side twin of read_geotiff (one binaryFile task per archive,
    Arrow-batched parse; sources/warc.py)."""
    from shared_etl_pipelines_spark.sources.warc import read_warc

    df = read_warc(ctx.spark, path, on_error=on_error)
    return {"df": df, "path": path}
