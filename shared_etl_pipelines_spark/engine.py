"""SparkSession factory.

One place to encode the scale-aware defaults:

- AQE on (runtime re-plan: shuffle-partition coalescing, skew-join splitting)
  so plans built for local[32] survive a 1000-executor cluster unchanged.
- UTC session timezone so timestamp semantics match the DuckDB oracle and
  are reproducible across clusters.
- Arrow enabled for every Python<->JVM crossing (pandas UDFs, toPandas).
- shuffle.partitions sized to cores locally; on a real cluster AQE's
  coalescing makes the initial number mostly irrelevant as long as it is
  not too small, so we default to max(cores, 32).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DEF_APP = "shared_etl_pipelines_spark"


def get_spark(
    app_name: str = _DEF_APP,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    On a cluster, ``master`` comes from spark-submit and is left unset here.
    Locally we default to ``local[$SPARK_GRAFT_CPUS or *]``.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        try:
            n = int(cpus) if cpus else (os.cpu_count() or 8)
        except ValueError:
            n = os.cpu_count() or 8
        shuffle_partitions = max(n, 16)

    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    # Only pin a master when not running under a cluster manager.
    if not os.environ.get("SPARK_SUBMIT_DEPLOY_MODE"):
        builder = builder.master(master)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def sweep_persistent_rdds(spark: SparkSession) -> None:
    """Unpersist every RDD-level storage registration in the session.

    Iterative operators cut lineage with localCheckpoint, whose storage
    ``spark.catalog.clearCache()`` does not reach; a session running
    hundreds of queries otherwise accumulates dead checkpoint partitions
    and late iterative queries pay storage-eviction churn. Call BETWEEN
    independent queries only: unpersisting a localCheckpoint that a
    still-unevaluated DataFrame depends on is unrecoverable (truncated
    lineage cannot recompute). As a guard against exactly that misuse,
    this function refuses to sweep while any job or streaming query is
    active in the session.
    """
    sc = spark.sparkContext
    if spark.streams.active:
        raise RuntimeError(
            "sweep_persistent_rdds called with active streaming queries; "
            "stop them first — sweeping would truncate live state lineage"
        )
    try:
        import time

        from py4j.protocol import Py4JError

        tracker = sc.statusTracker()
        # The status tracker is fed by the async listener bus, so a job
        # whose action ALREADY returned can linger in the active list for
        # a beat — a sequential harness (bench.py, the driver gate) then
        # trips the guard between queries on pure event-drain lag. Give
        # the bus a bounded moment to quiesce before concluding the
        # caller is genuinely interleaving jobs.
        deadline = time.monotonic() + 5.0
        while tracker.getActiveJobsIds() and time.monotonic() < deadline:
            time.sleep(0.05)
        if tracker.getActiveJobsIds():
            raise RuntimeError(
                "sweep_persistent_rdds called while Spark jobs are active; "
                "call it only between independent queries"
            )
        for jrdd in sc._jsc.getPersistentRDDs().values():
            jrdd.unpersist()
    except Py4JError as e:  # exotic masters without the JVM surface
        import logging

        logging.getLogger(__name__).debug("persistent-RDD sweep skipped: %s", e)


def _persistent_rdd_ids(spark: SparkSession) -> set[int]:
    try:
        return {
            int(e) for e in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
        }
    except Exception:  # exotic masters without the JVM surface
        return set()


class StorageScope:
    """Scoped release for the storage a LAZY iterative operator leaves
    behind (ADVICE r3 #1 / VERDICT r4 #6).

    ``pagerank``/``label_propagation``/``k_core``/``connected_components``
    persist edge frames and cut lineage with localCheckpoints; being
    lazy, they cannot unpersist before returning (the caller's action
    has not run yet). Session harnesses sweep EVERYTHING between queries
    (``sweep_persistent_rdds``), but a library caller embedded in a
    long-lived session must not nuke unrelated caches. This scope
    snapshots the session's persistent-RDD ids on entry and, on
    ``release()``/exit, unpersists exactly the registrations that
    appeared inside the scope — DataFrame caches AND localCheckpoint
    storage, both of which register at the RDD level on materialization.

        with StorageScope(spark):
            ranks = pagerank(edges)
            ranks.write.parquet(out)   # caller's action materializes
        # exit: every persist/checkpoint made by the call is released

    The result must be fully materialized (written / collected /
    checkpointed to storage) before the scope closes — after release its
    truncated lineage cannot recompute. Not thread-safe across scopes:
    two concurrent scopes on one session each see the other's
    registrations as their own; bracket a parallel phase with ONE scope
    instead.
    """

    def __init__(self, spark: SparkSession):
        self._spark = spark
        self._before = _persistent_rdd_ids(spark)

    def release(self) -> int:
        sc = self._spark.sparkContext
        released = 0
        try:
            jmap = sc._jsc.getPersistentRDDs()
            for rid in [int(e) for e in jmap.keySet().toArray()]:
                if rid not in self._before:
                    jmap.get(rid).unpersist()
                    released += 1
        except Exception:
            pass
        return released

    def __enter__(self) -> "StorageScope":
        return self

    def __exit__(self, *exc) -> bool:
        self.release()
        return False


def hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) for ``path`` via the session's Hadoop conf.

    Resolves the scheme the same way every Spark reader/writer does, so
    existence checks and deletes behave identically on file://, hdfs://
    and s3a:// — unlike ``os.path``, which silently answers False for
    any non-local URI (ADVICE r5 #1).
    """
    jvm = spark.sparkContext._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    return fs, jpath


def _is_hidden(name: str) -> bool:
    # Spark's listing filter (HadoopFSUtils.shouldFilterOutPathName), less
    # its summary-file exception: summary files are handled by the caller.
    return (
        (name.startswith("_") and "=" not in name)
        or name.startswith(".")
        or name.endswith("._COPYING_")
    )


class _NoFooter(Exception):
    """Spark's own inference would not read exactly one data footer."""


def _first_data_file(fs, status):
    """FileStatus of the data file Spark's non-merging inference reads at
    or under ``status`` — the lexicographically first by full path — or
    None when Spark would find none.

    Spark reads the files directly in a directory, and the files of
    Hive partition directories (``key=value``) below it; it reads no
    other subdirectory. So this lists one directory per level,
    backtracking only past empty partitions: a partitioned dataset costs
    O(depth) listings, not a recursive listing of every file. A
    directory that holds a summary file (``_metadata``/
    ``_common_metadata``, which Spark would read instead) raises
    ``_NoFooter``.
    """
    if not status.isDirectory():
        return status
    files, partitions = [], []
    for child in fs.listStatus(status.getPath()):
        name = child.getPath().getName()
        if name.startswith(("_metadata", "_common_metadata")):
            raise _NoFooter
        if _is_hidden(name):
            continue
        if not child.isDirectory():
            files.append((name, child))
        elif "=" in name:
            # '/' orders a directory's files where the full path string does.
            partitions.append((name + "/", child))
    if files:
        return min(files, key=lambda e: e[0])[1]
    for _, child in sorted(partitions, key=lambda e: e[0]):
        found = _first_data_file(fs, child)
        if found is not None:
            return found
    return None


def _footer_schema(spark: SparkSession, paths: tuple[str, ...]):
    """Data schema of the parquet input at ``paths`` read from one footer
    on the driver, or None where Spark's inference would do something
    else: merging schemas, reading a summary file, or raising (missing
    path, empty directory, unreadable footer)."""
    from py4j.protocol import Py4JJavaError
    from pyspark.sql.types import _parse_datatype_json_string

    if not paths or spark.conf.get("spark.sql.parquet.mergeSchema", "false").lower() == "true":
        return None
    jvm = spark.sparkContext._jvm
    first = None
    try:
        for path in paths:
            fs, jpath = hadoop_fs(spark, path)
            roots = fs.globStatus(jpath)  # Spark globs its paths the same way
            if not roots:
                return None
            for root in roots:
                found = _first_data_file(fs, root)
                if found is None:
                    continue
                key = found.getPath().toString()
                if first is None or key < first[0]:
                    first = (key, found)
        if first is None:
            return None
        meta = jvm.org.apache.parquet.hadoop.ParquetFileReader.readFooter(
            spark.sparkContext._jsc.hadoopConfiguration(),
            first[1],
            jvm.org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS,
        )
        pq = jvm.org.apache.spark.sql.execution.datasources.parquet
        converter = pq.ParquetToSparkSchemaConverter(spark._jsparkSession.sessionState().conf())
        jschema = pq.ParquetFileFormat.readSchemaFromFooter(
            jvm.org.apache.parquet.hadoop.Footer(first[1].getPath(), meta), converter
        )
    except _NoFooter:
        return None
    except Py4JJavaError:
        # Unreadable or unconvertible footer: the plain reader raises
        # Spark's own error for it.
        return None
    return _parse_datatype_json_string(jschema.asNullable().json())


def parquet_schema(spark: SparkSession, *paths: str):
    """Schema of the parquet data at ``paths``, as ``spark.read.parquet``
    infers it, without starting a Spark job.

    Spark's inference runs as a job even for one file; this reads the one
    footer that inference would read (the lexicographically first data
    file, found in O(depth) listings) on the driver and converts it with
    Spark's own converter under the session's SQL conf, so
    ``nanosAsLong``, ``inferTimestampNTZ``, binary-as-string and the rest
    apply exactly as in the job. Only data columns are returned: Hive
    partition columns (``key=value`` directories) are Spark's to discover.
    Where the inference would not read one data footer (session
    ``mergeSchema``, summary files, a missing path, an empty directory,
    an unreadable footer) this is Spark's inferred schema, or Spark's
    error."""
    schema = _footer_schema(spark, paths)
    return schema if schema is not None else spark.read.parquet(*paths).schema


def read_parquet(spark: SparkSession, *paths: str):
    """``spark.read.parquet(*paths)`` without the schema-inference job:
    the data schema comes from :func:`parquet_schema`'s one footer, and
    Spark still lists the files and adds partition columns itself. Falls
    back to the plain reader, with its own merging and errors, wherever
    :func:`parquet_schema` does."""
    schema = _footer_schema(spark, paths)
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(*paths)


def fs_exists(spark: SparkSession, path: str) -> bool:
    """Scheme-aware existence check (Hadoop FileSystem API)."""
    fs, jpath = hadoop_fs(spark, path)
    return bool(fs.exists(jpath))


def acquire_fs_lock(spark: SparkSession, lock_path: str, owner: str = "") -> None:
    """Fail-loud single-writer lock: atomically create ``lock_path``
    (Hadoop ``createNewFile`` — atomic on local FS and HDFS) and raise
    ``RuntimeError`` if it already exists. This turns the read-then-
    append sequence-number race in the merge-on-read / ANN-index
    writers from silent row masking into an explicit error.

    A crashed writer leaves the lock behind (deliberately — better a
    blocked writer than two writers minting the same seq); clear it
    with :func:`release_fs_lock` after confirming no writer is live.
    On S3, object creation is not compare-and-swap atomic; serialize
    writers externally there (catalog lock / single ingest task) — the
    same caveat every file-based table format documents.
    """
    fs, jpath = hadoop_fs(spark, lock_path)
    parent = jpath.getParent()
    if parent is not None and not fs.exists(parent):
        fs.mkdirs(parent)
    if not fs.createNewFile(jpath):
        raise RuntimeError(
            f"single-writer lock already held: {lock_path} — another "
            "maintenance writer is active (or crashed without releasing; "
            "clear with release_fs_lock after confirming it is dead)"
            + (f" [{owner}]" if owner else "")
        )


def release_fs_lock(spark: SparkSession, lock_path: str) -> None:
    """Release a lock taken by :func:`acquire_fs_lock` (idempotent)."""
    fs, jpath = hadoop_fs(spark, lock_path)
    if fs.exists(jpath):
        fs.delete(jpath, False)


# Scratch directories created by checkpoint_to_scratch, for sweep_scratch.
# Each entry is (spark, path); paths may be on any Hadoop scheme.
_SCRATCH_DIRS: list[tuple[SparkSession, str]] = []


def sweep_scratch() -> int:
    """Delete every scratch directory checkpoint_to_scratch created in
    this process (ADVICE r5 #5: the eager looping-pipeline use case
    otherwise leaks one directory per iteration). Call BETWEEN loop
    iterations / queries only — a frame returned by
    ``checkpoint_to_scratch`` is a scan of its scratch dir and dies with
    it. Registered at ``atexit`` as a best-effort final sweep; a cluster
    deployment should additionally put a TTL on ``$SPARK_GRAFT_SCRATCH``
    (checkpoint roots on object stores outlive driver crashes)."""
    swept = 0
    while _SCRATCH_DIRS:
        spark, path = _SCRATCH_DIRS.pop()
        try:
            fs, jpath = hadoop_fs(spark, path)
            if fs.exists(jpath):
                fs.delete(jpath, True)
                swept += 1
        except Exception:  # session already stopped — fall back locally
            import shutil

            shutil.rmtree(path, ignore_errors=True)
    return swept


def checkpoint_to_scratch(df, name: str = "ckpt") -> "DataFrame":  # noqa: F821
    """Materialize ``df`` to scratch parquet and return the read-back
    frame — a storage-backed checkpoint whose lineage is a plain scan.

    The distributed analog of ``localCheckpoint(eager=True)`` with a
    releasable footprint: the returned frame holds NO executor storage,
    so a :class:`StorageScope` wrapping an iterative operator can
    release every persist/localCheckpoint the operator made while the
    result stays valid. ``$SPARK_GRAFT_SCRATCH`` points the scratch root
    at cluster storage (HDFS/S3) in production; default is local tmp.

    Every scratch dir is registered for :func:`sweep_scratch` (and an
    ``atexit`` best-effort sweep), so loops that checkpoint per
    iteration can reclaim space once the previous iteration's frame is
    dead.
    """
    import atexit
    import tempfile
    import uuid

    spark = df.sparkSession
    root = os.environ.get("SPARK_GRAFT_SCRATCH") or os.path.join(
        tempfile.gettempdir(), "spark_graft_scratch"
    )
    path = os.path.join(root, f"{name}-{uuid.uuid4().hex}")
    df.write.mode("overwrite").parquet(path)
    if not _SCRATCH_DIRS:
        atexit.register(sweep_scratch)
    _SCRATCH_DIRS.append((spark, path))
    return read_parquet(spark, path)
