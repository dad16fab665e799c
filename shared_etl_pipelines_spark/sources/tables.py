"""Parquet table loaders for the engine's warehouse layout.

The reference's data model is file-granular and directory-partitioned
(one GeoTIFF per day, CSV per day combined per year — SURVEY.md §1.3);
our native layout is one parquet dataset per logical table, read with
full predicate pushdown / column pruning.

At 100 TB the same call works unchanged: `engine.read_parquet` over a
partitioned directory tree; partition pruning comes from Catalyst as
long as filters reference the partition columns.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from shared_etl_pipelines_spark.engine import read_parquet

# The driver-generated test corpus (TESTDATA.md): TPC-H-ish star schema
# + events stream + documents/embeddings for the LLM-data operators.
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one table. Accepts both `<dir>/<name>.parquet` (driver layout)
    and `<dir>/<name>` (partitioned dataset layout).

    The loader starts no Spark job: the schema comes from one parquet
    footer read on the driver (`engine.read_parquet`), not from Spark's
    schema-inference job, so building a query that loads N tables costs
    no serial job per table.

    Nanosecond-precision parquet timestamps (the `events.ts` column) are
    illegal for Spark's vectorized reader; we read them as long nanos
    (`spark.sql.legacy.parquet.nanosAsLong`) and rebuild a microsecond
    TimestampType column, which is lossless for this corpus and matches
    DuckDB's microsecond timestamps.
    """
    p = os.path.join(sf_dir, f"{name}.parquet")
    if not os.path.exists(p):
        alt = os.path.join(sf_dir, name)
        if os.path.exists(alt):
            p = alt
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # The engine's canonical timezone is UTC: every timestamp in the corpus
    # is a naive-as-UTC instant, and the DuckDB oracle reads them naively.
    # A caller session in any other zone would shift date_trunc/date_format
    # and day-of-year semantics; pin it here (the loader is the one chokepoint
    # every query passes through).
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = read_parquet(spark, p)
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            # legacy nanosecond corpus read as long nanos
            df = df.withColumn("ts", F.timestamp_micros((F.col("ts") / 1000).cast("long")))
        elif ts_type == "timestamp_ntz":
            # parquet timestamp[us] without tz loads as TIMESTAMP_NTZ in Spark 4;
            # with the session zone pinned UTC above, NTZ->TIMESTAMP is lossless
            # and matches the DuckDB oracle's naive-microsecond reading. Watermarks
            # and window() require TimestampType, so normalize at the chokepoint.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def spread(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Round-robin repartition IFF the plan has fewer partitions than the
    session's parallelism.

    The test corpus is one single-row-group parquet file per table, so every
    scan is one task and per-row CPU work (hashing, shingling, vector math)
    would run on one core. On a real cluster the same tables are thousands
    of files, the partition count exceeds defaultParallelism, and this is a
    no-op — the shuffle only exists in the degenerate small-file case.
    """
    spark = df.sparkSession
    target = min_partitions or spark.sparkContext.defaultParallelism
    # Probe width via the file listing (already cached in the relation) instead
    # of df.rdd.getNumPartitions(): the RDD conversion forces plan translation
    # on every load and dominated per-query constant cost in the driver gate.
    try:
        width = len(df.inputFiles())
    except Exception:
        width = df.rdd.getNumPartitions()
    if width < target:
        return df.repartition(target)
    return df


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in names}


def register_views(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES) -> None:
    """Register each table as a temp view so operators can be written in SQL."""
    for n in names:
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)
