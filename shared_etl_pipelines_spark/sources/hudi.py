"""Apache Hudi timeline reader (the PUBLIC hudi.apache.org spec).

Third of the open lakehouse table formats next to Delta
(sources/deltalog.py) and Iceberg (sources/iceberg.py). Hudi's table
state is a TIMELINE: instant files under ``.hoodie/`` named
``<17-digit instant>.<action>[.<state>]`` — a completed commit is
``<ts>.commit`` (JSON body), while ``.commit.requested`` /
``.commit.inflight`` are in-flight markers a reader must SKIP (their
presence without the completed file means an uncommitted write).
A completed commit's JSON carries ``partitionToWriteStats``:
partition -> list of per-file write stats (fileId, path, numWrites,
totalWriteBytes, ...). Copy-on-write snapshot semantics: a file group
(fileId) is replaced wholesale by a newer slice, so the live set is
the LATEST completed slice per fileId.

Scale split: only the timeline LISTING (file names) rides the driver —
O(#instants) strings. The commit bodies (the O(#files) payload) are
read by ``spark.read.json`` with an explicit schema (multiLine,
distributed), and the latest-slice resolution is a window over
fileId — no driver-side JSON walks. Actions other than ``commit`` /
``deltacommit`` (clean, rollback, compaction) are surfaced by the
timeline census and excluded from snapshot resolution, per spec.
"""

from __future__ import annotations

import json
import os
import re

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from shared_etl_pipelines_spark.engine import read_parquet

__all__ = [
    "timeline_instants",
    "snapshot_file_slices",
    "snapshot_mor_rows",
    "write_commit_instant",
    "ensure_demo_hudi_table",
    "ensure_demo_hudi_mor_table",
]

_WRITE_STATS_SCHEMA = (
    "partitionToWriteStats map<string, array<struct<"
    "fileId:string, path:string, numWrites:bigint, "
    "numUpdateWrites:bigint, totalWriteBytes:bigint>>>"
)
_INSTANT_RE = re.compile(
    r"^(\d{17})\.(commit|deltacommit|clean|rollback|compaction)"
    r"(?:\.(requested|inflight))?$"
)


def _timeline_dir(table_path: str) -> str:
    return os.path.join(table_path, ".hoodie")


def timeline_instants(table_path: str) -> list[dict]:
    """Parse the timeline listing: one row per instant file, with the
    completed/requested/inflight state split out. Unrecognized file
    names refuse — a timeline with foreign files is not a guess."""
    d = _timeline_dir(table_path)
    if not os.path.isdir(d):
        raise ValueError(f"hudi: no .hoodie timeline under {table_path}")
    out = []
    for name in sorted(os.listdir(d)):
        if name == "hoodie.properties":
            continue
        m = _INSTANT_RE.match(name)
        if not m:
            raise ValueError(f"hudi: unrecognized timeline file {name!r}")
        out.append(
            {
                "instant": m.group(1),
                "action": m.group(2),
                "state": m.group(3) or "completed",
                "path": os.path.join(d, name),
            }
        )
    return out


def write_commit_instant(
    table_path: str,
    instant: str,
    partition_stats: dict[str, list[dict]],
    action: str = "commit",
    state: str | None = None,
) -> str:
    """Fixture-grade instant writer: completed instants get the JSON
    body; requested/inflight markers are empty files per spec."""
    d = _timeline_dir(table_path)
    os.makedirs(d, exist_ok=True)
    name = f"{instant}.{action}" + (f".{state}" if state else "")
    p = os.path.join(d, name)
    tmp = p + ".tmp"
    with open(tmp, "w") as fh:
        if state is None:
            json.dump(
                {"partitionToWriteStats": partition_stats}, fh, sort_keys=True
            )
    os.replace(tmp, p)
    return p


def snapshot_file_slices(spark: SparkSession, table_path: str) -> DataFrame:
    """Copy-on-write snapshot: latest completed write slice per fileId.
    Returns (file_id, path, partition, instant, num_writes,
    total_write_bytes, n_slices)."""
    completed = [
        i
        for i in timeline_instants(table_path)
        if i["state"] == "completed" and i["action"] in ("commit", "deltacommit")
    ]
    if not completed:
        raise ValueError("hudi: timeline has no completed commits — quarantine")
    raw = (
        spark.read.schema(_WRITE_STATS_SCHEMA)
        .option("multiLine", "true")
        .json([i["path"] for i in completed])
        .withColumn("_file", F.input_file_name())
        .withColumn(
            "instant",
            F.regexp_extract(F.col("_file"), r"(\d{17})\.", 1),
        )
    )
    stats = (
        raw.select(
            "instant",
            F.explode("partitionToWriteStats").alias("partition", "files"),
        )
        .select("instant", "partition", F.explode("files").alias("f"))
        # flatten BEFORE windowing: both window functions must key on
        # the same attribute, not two private aliases of f.fileId, or
        # the planner pays a second exchange (plan-gated to one)
        .select(
            F.col("f.fileId").alias("file_id"),
            F.col("f.path").alias("path"),
            "partition",
            "instant",
            F.col("f.numWrites").alias("num_writes"),
            F.col("f.totalWriteBytes").alias("total_write_bytes"),
        )
    )
    w = Window.partitionBy("file_id").orderBy(F.col("instant").desc())
    w_all = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return (
        stats.withColumn("_rn", F.row_number().over(w))
        .withColumn("n_slices", F.count(F.lit(1)).over(w_all))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def ensure_demo_hudi_table(sf_dir: str, bucket: int = 25) -> str:
    """Spec-shaped demo timeline derived from ``documents`` (the same
    closed forms as the Delta/Iceberg demos): commit k+1 writes every
    bucket-k doc's base slice (numWrites = octet length, bytes = n*8,
    partition day=doc_id%7); churn docs (doc_id%9==8) get a REPLACING
    copy-on-write slice at instant k+3 (bytes = n*9 — the update is
    distinguishable). One clean instant plus one requested and one
    inflight marker are planted so state/action filtering is
    exercised, not assumed."""
    import hashlib
    import tempfile

    import pyarrow.parquet as pq

    tbl = pq.read_table(
        os.path.join(sf_dir, "documents.parquet"), columns=["doc_id", "text"]
    )
    docs = sorted(
        zip(tbl.column("doc_id").to_pylist(), tbl.column("text").to_pylist())
    )
    digest = hashlib.md5(
        repr((len(docs), docs[:2], bucket)).encode()
    ).hexdigest()[:12]
    root = os.path.join(
        tempfile.gettempdir(), "spark_graft_hudi_demo_v1", f"t-{digest}"
    )
    done = root + ".done"
    if os.path.exists(done):
        return root

    def ts(v: int) -> str:
        return f"{20240101000000000 + v:017d}"

    def stat(d: int, n: int, v: int) -> dict:
        return {
            "fileId": f"f-{d:09d}",
            "path": f"day={d % 7}/f-{d:09d}_0_{ts(v)}.parquet",
            "numWrites": n,
            "numUpdateWrites": 0 if v == d // bucket + 1 else n,
            "totalWriteBytes": n * 8 if v == d // bucket + 1 else n * 9,
        }

    base: dict[int, dict[str, list[dict]]] = {}
    upd: dict[int, dict[str, list[dict]]] = {}
    for doc_id, text in docs:
        d = int(doc_id)
        n = len(str(text).encode("utf-8"))
        k = d // bucket
        base.setdefault(k + 1, {}).setdefault(f"day={d % 7}", []).append(
            stat(d, n, k + 1)
        )
        if d % 9 == 8:
            upd.setdefault(k + 3, {}).setdefault(f"day={d % 7}", []).append(
                stat(d, n, k + 3)
            )
    n_buckets = (len(docs) + bucket - 1) // bucket
    # hudi_timeline_audit's oracle counts 2*n_buckets completed commits
    # (one base + one update per bucket) — true only while EVERY bucket
    # contains a churn doc (d%9==8). A sparse/partial future fixture
    # must fail here, not via an opaque hash mismatch.
    if set(base) != set(range(1, n_buckets + 1)) or any(
        k + 3 not in upd for k in range(n_buckets)
    ):
        raise ValueError(
            "hudi demo: a bucket lacks its base or churn commit — the "
            "timeline census oracle's 2*n_buckets closed form would lie"
        )
    for v in range(1, n_buckets + 3):
        stats = base.get(v, {})
        ustats = upd.get(v)
        if stats:
            write_commit_instant(root, ts(v), stats)
        if ustats:
            # updates land on their own instant; when a base commit
            # already occupies ts(v), shift the update half a tick
            # later (still strictly after every base slice it replaces)
            inst = f"{int(ts(v)) + 500:017d}" if stats else ts(v)
            write_commit_instant(root, inst, ustats)
    # planted non-snapshot instants: filtering is tested, not assumed
    write_commit_instant(root, ts(900), {}, action="clean")
    write_commit_instant(root, ts(901), {}, state="requested")
    write_commit_instant(root, ts(902), {}, state="inflight")
    with open(os.path.join(_timeline_dir(root), "hoodie.properties"), "w") as fh:
        fh.write("hoodie.table.name=demo\nhoodie.table.type=COPY_ON_WRITE\n")
    with open(done, "w") as fh:
        fh.write("ok\n")
    return root


# ---------------------------------------------------------------------------
# MERGE_ON_READ (tech-spec "Log File Format" + "Reader Expectations"):
# a file group is its base parquet file plus an ordered chain of .log
# files written by deltacommits; the snapshot is the LATEST record
# version per record key across base + logs, with DELETE-block keys
# dropped. sources/hudilog.py parses the block format; this reader
# keeps the same scale split as the COW path — timeline listing and
# file lists on the driver (every Hudi reader plans file slices there),
# base rows as a distributed parquet scan, log-block decode
# executor-side inside mapInPandas, and the merge as a window over the
# record key.
# ---------------------------------------------------------------------------

MOR_RECORD_SCHEMA = {
    "type": "record",
    "name": "mor_record",
    "fields": [
        {"name": "doc_id", "type": "long"},
        {"name": "size", "type": "long"},
        {"name": "day", "type": "int"},
    ],
}


def snapshot_mor_rows(spark: SparkSession, table_path: str) -> DataFrame:
    """Merge-on-read snapshot rows: (doc_id, size, day, from_log).
    ``from_log`` is True when the winning record version came from a
    log block rather than the base file."""
    completed = [
        i
        for i in timeline_instants(table_path)
        if i["state"] == "completed"
        and i["action"] in ("commit", "deltacommit")
    ]
    base_paths: list[str] = []
    log_paths: list[str] = []
    for inst in completed:
        with open(inst["path"]) as fh:
            body = json.load(fh)
        for stats in body.get("partitionToWriteStats", {}).values():
            for s in stats:
                rel = s["path"]
                if ".log." in os.path.basename(rel):
                    log_paths.append(os.path.join(table_path, rel))
                else:
                    base_paths.append(os.path.join(table_path, rel))
    if not base_paths:
        raise ValueError("hudi: MOR table has no base files — quarantine")

    base = read_parquet(spark, *sorted(set(base_paths))).select(
        "doc_id", "size", "day",
        F.lit("00000000000000000").alias("instant"),  # base sorts first
        F.lit("U").alias("op"),
    )

    merged = base
    if log_paths:
        from shared_etl_pipelines_spark.functions.rows import map_rows

        def decode(path):
            from shared_etl_pipelines_spark.sources.hudilog import (
                BLOCK_AVRO,
                BLOCK_DELETE,
                read_log_blocks,
            )

            with open(path, "rb") as fh:
                blocks = read_log_blocks(fh.read())
            for b in blocks:
                if b["type"] == BLOCK_AVRO:
                    for r in b["records"]:
                        yield r["doc_id"], r["size"], r["day"], b["instant"], "U"
                elif b["type"] == BLOCK_DELETE:
                    for k in b["keys"]:
                        yield int(k), 0, 0, b["instant"], "D"

        paths_df = spark.createDataFrame(
            [(p,) for p in sorted(set(log_paths))], "log_path string"
        ).repartition(min(len(set(log_paths)), 32))
        log_rows = map_rows(
            paths_df,
            decode,
            "doc_id long, size long, day int, instant string, op string",
        )
        merged = base.unionByName(log_rows)

    w = Window.partitionBy("doc_id").orderBy(
        F.col("instant").desc(),
        # same-instant tie: the delete wins (a deltacommit that both
        # updates and deletes a key resolves to the delete, per spec)
        F.when(F.col("op") == "D", 0).otherwise(1),
    )
    return (
        merged.withColumn("_rn", F.row_number().over(w))
        .filter((F.col("_rn") == 1) & (F.col("op") == "U"))
        .select(
            "doc_id", "size", "day",
            (F.col("instant") != "00000000000000000").alias("from_log"),
        )
    )


def ensure_demo_hudi_mor_table(sf_dir: str, bucket: int = 25) -> str:
    """MERGE_ON_READ demo table with REAL base parquet + .log chains,
    derived from ``documents`` in closed form: base commit ts(1) writes
    every doc (size = octet length of text); deltacommit ts(2) logs an
    AVRO_DATA update for churn docs (doc_id%9==8 -> size TRIPLED);
    deltacommit ts(3) logs a DELETE block for doc_id%13==5. A
    requested-state deltacommit marker is planted so in-flight logs are
    proven excluded."""
    import hashlib
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq

    from shared_etl_pipelines_spark.sources.hudilog import write_log_file

    tbl = pq.read_table(
        os.path.join(sf_dir, "documents.parquet"), columns=["doc_id", "text"]
    )
    docs = sorted(
        zip(tbl.column("doc_id").to_pylist(), tbl.column("text").to_pylist())
    )
    digest = hashlib.md5(
        repr(("mor", len(docs), docs[:2], bucket)).encode()
    ).hexdigest()[:12]
    root = os.path.join(
        tempfile.gettempdir(), "spark_graft_hudi_mor_demo_v1", f"t-{digest}"
    )
    done = root + ".done"
    if os.path.exists(done):
        return root
    os.makedirs(root, exist_ok=True)

    def ts(v: int) -> str:
        return f"{20250101000000000 + v:017d}"

    buckets: dict[int, list[tuple[int, int]]] = {}
    for doc_id, text in docs:
        d = int(doc_id)
        n = len(str(text).encode("utf-8"))
        buckets.setdefault(d // bucket, []).append((d, n))

    base_stats: dict[str, list[dict]] = {"flat": []}
    upd_stats: dict[str, list[dict]] = {"flat": []}
    del_stats: dict[str, list[dict]] = {"flat": []}
    for k, members in sorted(buckets.items()):
        rel = f"f-{k:05d}_base.parquet"
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array([d for d, _ in members], pa.int64()),
                    "size": pa.array([n for _, n in members], pa.int64()),
                    "day": pa.array([d % 7 for d, _ in members], pa.int32()),
                }
            ),
            os.path.join(root, rel),
        )
        base_stats["flat"].append(
            {
                "fileId": f"f-{k:05d}",
                "path": rel,
                "numWrites": len(members),
                "numUpdateWrites": 0,
                "totalWriteBytes": sum(n for _, n in members),
            }
        )
        churn = [(d, n) for d, n in members if d % 9 == 8]
        if churn:
            rel_log = f".f-{k:05d}_{ts(1)}.log.1"
            write_log_file(
                os.path.join(root, rel_log),
                ts(2),
                avro_schema=MOR_RECORD_SCHEMA,
                records=[
                    {"doc_id": d, "size": 3 * n, "day": d % 7}
                    for d, n in churn
                ],
            )
            upd_stats["flat"].append(
                {
                    "fileId": f"f-{k:05d}",
                    "path": rel_log,
                    "numWrites": 0,
                    "numUpdateWrites": len(churn),
                    "totalWriteBytes": sum(3 * n for _, n in churn),
                }
            )
        doomed = [d for d, _ in members if d % 13 == 5]
        if doomed:
            rel_log = f".f-{k:05d}_{ts(1)}.log.2"
            write_log_file(
                os.path.join(root, rel_log),
                ts(3),
                delete_keys=[str(d) for d in doomed],
            )
            del_stats["flat"].append(
                {
                    "fileId": f"f-{k:05d}",
                    "path": rel_log,
                    "numWrites": 0,
                    "numUpdateWrites": 0,
                    "totalWriteBytes": 0,
                }
            )

    write_commit_instant(root, ts(1), base_stats, action="commit")
    write_commit_instant(root, ts(2), upd_stats, action="deltacommit")
    write_commit_instant(root, ts(3), del_stats, action="deltacommit")
    # planted in-flight deltacommit: must not contribute rows
    write_commit_instant(root, ts(4), {}, action="deltacommit", state="requested")
    with open(os.path.join(_timeline_dir(root), "hoodie.properties"), "w") as fh:
        fh.write("hoodie.table.name=demo_mor\nhoodie.table.type=MERGE_ON_READ\n")
    with open(done, "w") as fh:
        fh.write("ok\n")
    return root


def compaction_plan(
    spark: SparkSession, table_path: str, min_log_files: int = 2
) -> DataFrame:
    """MOR compaction planning: file groups whose log chain has grown
    past ``min_log_files`` become merge candidates — the schedule a
    Hudi compactor writes before doing any IO on data. Reads ONLY the
    timeline's deltacommit write stats (never the log bytes): per
    fileId, the log-file count, the latest log instant, and the
    update-record total. Output is the compaction WORKLIST, not a side
    effect; same distributed JSON-stats scan as snapshot_file_slices."""
    completed = [
        i
        for i in timeline_instants(table_path)
        if i["state"] == "completed" and i["action"] == "deltacommit"
    ]
    if not completed:
        raise ValueError("hudi: no completed deltacommits — nothing to plan")
    raw = (
        spark.read.schema(_WRITE_STATS_SCHEMA)
        .option("multiLine", "true")
        .json([i["path"] for i in completed])
        .withColumn("_file", F.input_file_name())
        .withColumn(
            "instant", F.regexp_extract(F.col("_file"), r"(\d{17})\.", 1)
        )
    )
    logs = (
        raw.select(
            "instant",
            F.explode("partitionToWriteStats").alias("partition", "files"),
        )
        .select("instant", F.explode("files").alias("f"))
        .select(
            F.col("f.fileId").alias("file_id"),
            "instant",
            F.col("f.numUpdateWrites").alias("n_updates"),
        )
    )
    return (
        logs.groupBy("file_id")
        .agg(
            F.count(F.lit(1)).alias("n_log_files"),
            F.max("instant").alias("latest_log_instant"),
            F.sum("n_updates").alias("n_update_records"),
        )
        .filter(F.col("n_log_files") >= min_log_files)
    )
