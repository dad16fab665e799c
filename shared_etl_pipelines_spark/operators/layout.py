"""Write-layout operators: Z-order clustering for multi-column data skipping.

At 100 TB the scan is the bottleneck, and parquet row-group min/max
pruning only skips what the write layout clustered. Sorting by one
column clusters that column alone; interleaving the bits of several
low-cardinality-bounded keys (a Z-order / Morton curve) bounds the
min/max range of EVERY interleaved column within each row group, so
single-column predicates on any of them skip most of the file.

The key is pure JVM bit arithmetic (shiftright/and/shiftleft/or —
whole-stage codegen'd, no UDF); writing is just
``df.repartitionByRange(n, zkey).sortWithinPartitions(zkey).write``.
Reference counterpart: none (the reference's layout tool is one-file-
per-day directories); this is the multi-dimensional generalization its
daily partitioning hints at.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from shared_etl_pipelines_spark.engine import read_parquet


def zorder_key(cols: Sequence[Column | str], bits: int = 16) -> Column:
    """Morton-interleave the low ``bits`` of each column into one long.

    Columns must be non-negative integers (callers bucket/offset first).
    Bit b of column i lands at position ``b * len(cols) + i``: columns
    share significance evenly, so sorting by the result clusters all of
    them at once. ``bits * len(cols)`` must fit in a long (<= 62).
    """
    cs = [F.col(c) if isinstance(c, str) else c for c in cols]
    if bits * len(cs) > 62:
        raise ValueError("bits * len(cols) must be <= 62")
    out = F.lit(0).cast("long")
    for b in range(bits):
        for i, c in enumerate(cs):
            bit = F.shiftright(c.cast("long"), b).bitwiseAND(F.lit(1))
            out = out.bitwiseOR(F.shiftleft(bit, b * len(cs) + i))
    return out


def write_zordered(
    df: DataFrame,
    path: str,
    cols: Sequence[str],
    bits: int = 16,
    n_files: int = 8,
) -> None:
    """Write ``df`` as parquet clustered on the Z-order of ``cols``.

    Range-partition by the z-key (equal-size output files from the
    sampled distribution), sort within partitions, drop the key. Every
    row group then has tight min/max bounds on each clustered column.
    """
    keyed = df.withColumn("__z", zorder_key(list(cols), bits))
    (
        keyed.repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )


def zorder_sql(cols: Sequence[str], bits: int = 16) -> str:
    """The identical bit-interleave as ANSI SQL (oracle parity)."""
    terms = []
    for b in range(bits):
        for i, c in enumerate(cols):
            shift = b * len(cols) + i
            terms.append(f"(((CAST({c} AS BIGINT) >> {b}) & 1) << {shift})")
    return " | ".join(terms)


def compact_small_files(
    spark,
    src_path: str,
    dst_path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    sort_cols: Sequence[str] | None = None,
) -> dict:
    """Small-file compaction — the table-maintenance job every long-lived
    warehouse runs: N tiny parquet files become ceil(bytes/target) files
    of ~target size.

    Small files kill scans twice at 100 TB: footer/open overhead per
    file, and row groups too small for min/max pruning or full
    vectorized batches. Sizing comes from the FILE bytes actually on
    disk (Hadoop listing via the JVM — no data read), not a row count
    estimate, so compressed width is priced in. The rewrite is one
    round-robin repartition (or range partition + sort when sort_cols
    preserve a clustering) and one write; returns a summary dict
    {files_in, bytes_in, files_out} for the pipeline's lineage manifest.
    """
    jvm = spark.sparkContext._jvm
    jsc = spark.sparkContext._jsc
    conf = jsc.hadoopConfiguration()
    path = jvm.org.apache.hadoop.fs.Path(src_path)
    fs = path.getFileSystem(conf)
    it = fs.listFiles(path, True)
    files_in = 0
    bytes_in = 0
    while it.hasNext():
        st = it.next()
        name = st.getPath().getName()
        if name.endswith(".parquet"):
            files_in += 1
            bytes_in += st.getLen()
    n_out = max(1, -(-bytes_in // target_file_bytes))
    df = read_parquet(spark, src_path)
    if sort_cols:
        out = df.repartitionByRange(n_out, *sort_cols).sortWithinPartitions(*sort_cols)
    else:
        out = df.repartition(n_out)
    out.write.mode("overwrite").parquet(dst_path)
    return {"files_in": files_in, "bytes_in": int(bytes_in), "files_out": int(n_out)}


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_cols: Sequence[str],
    num_buckets: int = 8,
    sort_cols: Sequence[str] | None = None,
) -> None:
    """Persist ``df`` as a bucketed (and optionally sorted) managed
    table — Spark's co-location contract: two tables bucketed by the
    same key into the same bucket count join WITHOUT an exchange on
    either side (the classic big-fact x big-fact answer when broadcast
    is impossible and shuffle is the bottleneck). Bucket pruning also
    serves point lookups on the bucket key.

    At 100 TB this is a write-once cost paid at ingest; every
    subsequent co-keyed join, aggregation, or MERGE reads pre-shuffled
    data. (File-format note: bucketing metadata lives in the catalog,
    so this writes a managed table, not bare parquet paths.)
    """
    w = df.write.mode("overwrite").bucketBy(int(num_buckets), *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table)


def with_hilbert_key(
    df: DataFrame,
    xcol: str,
    ycol: str,
    order: int = 8,
    out: str = "hkey",
) -> DataFrame:
    """Append the Hilbert-curve index of ``(xcol, ycol)`` (non-negative
    ints < 2**order) as column ``out`` — the better-locality sibling of
    ``zorder_key``: consecutive Hilbert indices are ALWAYS adjacent
    cells (unit Manhattan steps; the Z-curve jumps at power-of-two
    seams), so equal index ranges cover tighter bounding boxes and
    row-group min/max pruning skips more.

    The standard xy2d bit walk (one round per order bit, top-down:
    quadrant id + reflect/transpose rotation) is unrolled into a CHAIN
    of projections — each round's (x, y, d) lands in real intermediate
    columns rather than one nested expression, keeping the expression
    tree linear in ``order`` (a single Column would grow ~3x per round).
    All rounds are plain CASE/bit arithmetic: whole-stage codegen, no
    UDF, no shuffle. Layout writes go through the same
    repartitionByRange + sortWithinPartitions as write_zordered.
    """
    hx, hy, hd = f"_{out}_x", f"_{out}_y", out
    df = (
        df.withColumn(hx, F.col(xcol).cast("long"))
        .withColumn(hy, F.col(ycol).cast("long"))
        .withColumn(hd, F.lit(0).cast("long"))
    )
    for level in range(order - 1, -1, -1):
        s = 1 << level
        rx = F.shiftright(F.col(hx), level).bitwiseAND(F.lit(1))
        ry = F.shiftright(F.col(hy), level).bitwiseAND(F.lit(1))
        quad = (rx * 3).bitwiseXOR(ry)
        new_d = F.col(hd) + F.lit(s) * F.lit(s) * quad
        new_x = F.when(
            ry == 0,
            F.when(rx == 1, F.lit(s - 1) - F.col(hy)).otherwise(F.col(hy)),
        ).otherwise(F.col(hx))
        new_y = F.when(
            ry == 0,
            F.when(rx == 1, F.lit(s - 1) - F.col(hx)).otherwise(F.col(hx)),
        ).otherwise(F.col(hy))
        df = (
            df.withColumn(f"{hd}_n", new_d)
            .withColumn(f"{hx}_n", new_x)
            .withColumn(f"{hy}_n", new_y)
            .drop(hd, hx, hy)
            .withColumnRenamed(f"{hd}_n", hd)
            .withColumnRenamed(f"{hx}_n", hx)
            .withColumnRenamed(f"{hy}_n", hy)
        )
    return df.drop(hx, hy)


def hilbert_sql_ctes(
    x: str,
    y: str,
    order: int,
    base: str,
    passthrough: Sequence[str],
    out: str = "hkey",
) -> str:
    """The identical unrolled xy2d walk as a chain of SQL CTEs (oracle
    parity with :func:`with_hilbert_key`); returns CTE text whose final
    CTE ``h{order}`` has columns ``passthrough + (out,)``."""
    cols = ", ".join(passthrough)
    parts = [
        f"h{order} AS (SELECT {cols}, CAST({x} AS BIGINT) AS hx, "
        f"CAST({y} AS BIGINT) AS hy, CAST(0 AS BIGINT) AS hd FROM {base})"
    ]
    for level in range(order - 1, -1, -1):
        s = 1 << level
        rx = f"((hx >> {level}) & 1)"
        ry = f"((hy >> {level}) & 1)"
        parts.append(
            f"h{level} AS (SELECT {cols}, "
            f"hd + {s * s} * xor({rx} * 3, {ry}) AS hd, "
            f"CASE WHEN {ry} = 0 THEN CASE WHEN {rx} = 1 "
            f"THEN {s - 1} - hy ELSE hy END ELSE hx END AS hx, "
            f"CASE WHEN {ry} = 0 THEN CASE WHEN {rx} = 1 "
            f"THEN {s - 1} - hx ELSE hx END ELSE hy END AS hy "
            f"FROM h{level + 1})"
        )
    parts.append(f"hfinal AS (SELECT {cols}, hd AS {out} FROM h0)")
    return ",\n".join(parts)


def plan_clustered_files(
    df: DataFrame,
    key: Column,
    n_files: int,
    stat_cols: Sequence[str],
) -> DataFrame:
    """Deterministic layout PLAN: assign rows to ``n_files`` planned
    files by fixed-width ranges of a clustering key, and emit the
    per-file min/max stats a file-skipping audit reads.

    Returns (file_id, n_rows, mn_<c>, mx_<c> ...). Unlike the writer
    path (write_zordered's sampled repartitionByRange), the fixed-width
    split is a pure function of the key, so an oracle can replay it —
    and the shape is scale-honest: one scalar max (broadcast back), one
    hash aggregate by file_id, NO global sort and no single-partition
    window.
    """
    keyed = df.withColumn("__k", key.cast("long"))
    width = keyed.agg(
        (F.floor(F.max("__k") / n_files) + 1).cast("long").alias("__w")
    )
    per_file = (
        keyed.crossJoin(F.broadcast(width))
        .withColumn("file_id", F.expr("__k div __w"))
        .groupBy("file_id")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            *[
                a
                for c in stat_cols
                for a in (
                    F.min(c).alias(f"mn_{c}"),
                    F.max(c).alias(f"mx_{c}"),
                )
            ],
        )
    )
    return per_file
