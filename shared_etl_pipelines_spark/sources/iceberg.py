"""Apache Iceberg snapshot reader (the PUBLIC iceberg.apache.org spec).

The other open lakehouse table format next to Delta (sources/
deltalog.py): table state lives in ``metadata/vN.metadata.json``
(snapshots, current-snapshot-id), each snapshot points at a MANIFEST
LIST (Avro OCF — decoded by the repo's own sources/avro.py), and each
manifest list entry points at a MANIFEST (Avro again) whose entries
carry per-data-file status (0 EXISTING / 1 ADDED / 2 DELETED) plus the
file stats. This module implements that read path with the scale
split every Iceberg reader uses:

- driver side: ONLY the metadata JSON and the manifest list (one small
  Avro file per snapshot — O(#manifests) entries);
- executor side: the manifests themselves (the O(#files) payload)
  decode inside mapInPandas, one task batch per manifest slice — at
  100 TB a snapshot has thousands of manifests and millions of files,
  and none of that touches the driver.

Schema subset: the audit fields of manifest_entry / manifest_file
(spec tables 100-102); column-level stats maps and delete files are
out of scope and the schemas say so. Structural lies (missing
snapshot, unreadable manifest) refuse loudly via the Avro layer's
quarantine ValueErrors.
"""

from __future__ import annotations

import glob as _glob
import json
import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from shared_etl_pipelines_spark.engine import read_parquet
from shared_etl_pipelines_spark.sources.avro import (
    read_avro_ocf,
    write_avro_ocf,
)

__all__ = [
    "read_table_metadata",
    "snapshot_files",
    "manifest_churn",
    "expire_snapshots_plan",
    "ensure_demo_iceberg_table",
    "snapshot_rows",
    "ensure_demo_iceberg_v2_table",
    "ensure_demo_iceberg_stream_table",
]

MANIFEST_ENTRY_SCHEMA = {
    "type": "record",
    "name": "manifest_entry",
    "fields": [
        {"name": "status", "type": "int"},
        {"name": "snapshot_id", "type": "long"},
        {
            "name": "data_file",
            "type": {
                "type": "record",
                "name": "data_file",
                "fields": [
                    {"name": "file_path", "type": "string"},
                    {"name": "file_format", "type": "string"},
                    {"name": "partition", "type": {"type": "map", "values": "string"}},
                    {"name": "record_count", "type": "long"},
                    {"name": "file_size_in_bytes", "type": "long"},
                ],
            },
        },
    ],
}

MANIFEST_FILE_SCHEMA = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string"},
        {"name": "manifest_length", "type": "long"},
        {"name": "partition_spec_id", "type": "int"},
        {"name": "added_snapshot_id", "type": "long"},
        {"name": "added_files_count", "type": "int"},
        {"name": "existing_files_count", "type": "int"},
        {"name": "deleted_files_count", "type": "int"},
        {"name": "added_rows_count", "type": "long"},
        {"name": "deleted_rows_count", "type": "long"},
    ],
}


def read_table_metadata(table_path: str) -> dict:
    """Newest ``metadata/vN.metadata.json`` (the version-file contract)."""
    cands = _glob.glob(os.path.join(table_path, "metadata", "v*.metadata.json"))
    if not cands:
        raise ValueError(f"iceberg: no metadata json under {table_path}")
    newest = max(
        cands, key=lambda p: int(re.search(r"v(\d+)\.metadata", p).group(1))
    )
    with open(newest) as fh:
        return json.load(fh)


def _pick_snapshot(meta: dict, snapshot_id: int | None) -> dict:
    sid = snapshot_id if snapshot_id is not None else meta["current-snapshot-id"]
    for s in meta.get("snapshots", []):
        if s["snapshot-id"] == sid:
            return s
    raise ValueError(f"iceberg: snapshot {sid} not in metadata — quarantine")


def _manifest_list(snapshot: dict) -> list[dict]:
    with open(snapshot["manifest-list"], "rb") as fh:
        return read_avro_ocf(fh.read())["records"]


def snapshot_files(
    spark: SparkSession, table_path: str, snapshot_id: int | None = None
) -> DataFrame:
    """Live data files of a snapshot: status EXISTING/ADDED entries
    across all its manifests (DELETED tombstones drop). Manifest decode
    is executor-side; only the manifest LIST rides the driver."""
    from shared_etl_pipelines_spark.functions.rows import map_rows

    meta = read_table_metadata(table_path)
    snap = _pick_snapshot(meta, snapshot_id)
    manifests = [m["manifest_path"] for m in _manifest_list(snap)]
    if not manifests:
        raise ValueError("iceberg: snapshot has no manifests — quarantine")

    def decode(path):
        with open(path, "rb") as fh:
            recs = read_avro_ocf(fh.read())["records"]
        for e in recs:
            df_ = e["data_file"]
            yield (
                df_["file_path"], df_["file_format"],
                json.dumps(df_["partition"], sort_keys=True),
                df_["record_count"], df_["file_size_in_bytes"], e["status"],
            )

    paths = spark.createDataFrame(
        [(m,) for m in manifests], "manifest_path string"
    ).repartition(min(len(manifests), 32))
    entries = map_rows(
        paths,
        decode,
        "file_path string, file_format string, partition_json string, "
        "record_count long, file_size_in_bytes long, status int",
    )
    return entries.filter(F.col("status") != 2).drop("status")


def manifest_churn(spark: SparkSession, table_path: str) -> DataFrame:
    """Per-manifest add/delete accounting straight off the manifest
    list — the compaction planner's view, no manifest opens at all."""
    meta = read_table_metadata(table_path)
    snap = _pick_snapshot(meta, None)
    recs = _manifest_list(snap)
    return spark.createDataFrame(
        [
            (
                m["manifest_path"],
                m["added_files_count"],
                m["deleted_files_count"],
                m["added_rows_count"],
                m["deleted_rows_count"],
            )
            for m in recs
        ],
        "manifest_path string, n_added int, n_deleted int, "
        "rows_added long, rows_deleted long",
    )


def expire_snapshots_plan(
    spark: SparkSession, table_path: str, keep_snapshot_id: int | None = None
) -> DataFrame:
    """Expire-snapshots planning: which data files become ORPHANS when
    every snapshot except the kept one (default: current) is expired —
    files referenced by an expired snapshot's manifests and NOT live in
    the kept snapshot. This is the file-level reachability diff every
    Iceberg maintenance job computes before deleting anything; output
    is the delete worklist, not a side effect. Both sides are the
    executor-decoded manifest walks of snapshot_files; the diff is a
    left-anti join on file_path (one shuffle on the file key)."""
    meta = read_table_metadata(table_path)
    keep = keep_snapshot_id if keep_snapshot_id is not None else meta[
        "current-snapshot-id"
    ]
    kept_live = snapshot_files(spark, table_path, keep).select("file_path")
    orphans = None
    for s in meta.get("snapshots", []):
        if s["snapshot-id"] == keep:
            continue
        old = snapshot_files(spark, table_path, s["snapshot-id"]).select(
            "file_path", "record_count", "file_size_in_bytes"
        )
        orphans = old if orphans is None else orphans.unionByName(old)
    if orphans is None:
        raise ValueError("iceberg: nothing to expire — only one snapshot")
    return (
        orphans.join(kept_live, "file_path", "left_anti")
        .dropDuplicates(["file_path"])
    )


def ensure_demo_iceberg_table(sf_dir: str, bucket: int = 25) -> str:
    """Spec-shaped demo table derived from ``documents`` (same closed
    forms as the Delta demo): snapshot 100 = every doc ADDED; snapshot
    200 (current) = per-bucket manifests where churn docs (doc_id%9==8)
    flip to DELETED. Odd buckets' manifests use the deflate codec.
    Every cell reconstructs from doc_id alone."""
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
        tempfile.gettempdir(), "spark_graft_iceberg_demo_v1", f"t-{digest}"
    )
    done = root + ".done"
    if os.path.exists(done):
        return root
    mdir = os.path.join(root, "metadata")
    fdir = os.path.join(root, "manifests")
    os.makedirs(mdir, exist_ok=True)
    os.makedirs(fdir, exist_ok=True)

    def entry(d: int, n: int, status: int) -> dict:
        return {
            "status": status,
            "snapshot_id": 200 if status == 2 else 100,
            "data_file": {
                "file_path": f"data/part-{d:09d}.parquet",
                "file_format": "PARQUET",
                "partition": {"day": str(d % 7)},
                "record_count": n,
                "file_size_in_bytes": n * 8,
            },
        }

    buckets: dict[int, list[tuple[int, int]]] = {}
    for doc_id, text in docs:
        d = int(doc_id)
        n = len(str(text).encode("utf-8"))
        buckets.setdefault(d // bucket, []).append((d, n))

    def write_manifest(name: str, entries: list[dict], k: int) -> str:
        path = os.path.join(fdir, name)
        blob = write_avro_ocf(
            entries,
            MANIFEST_ENTRY_SCHEMA,
            codec="deflate" if k % 2 else "null",
            sync=bytes([(k * 7 + i) % 256 for i in range(16)]),
        )
        with open(path, "wb") as fh:
            fh.write(blob)
        return path

    def list_rec(path: str, snap_id: int, added: list, deleted: list) -> dict:
        return {
            "manifest_path": path,
            "manifest_length": os.path.getsize(path),
            "partition_spec_id": 0,
            "added_snapshot_id": snap_id,
            "added_files_count": len(added),
            "existing_files_count": 0,
            "deleted_files_count": len(deleted),
            "added_rows_count": sum(n for _, n in added),
            "deleted_rows_count": sum(n for _, n in deleted),
        }

    lists = {}
    for snap_id in (100, 200):
        recs = []
        for k, members in sorted(buckets.items()):
            if snap_id == 100:
                added, deleted = members, []
                ents = [entry(d, n, 1) for d, n in members]
            else:
                added = [(d, n) for d, n in members if d % 9 != 8]
                deleted = [(d, n) for d, n in members if d % 9 == 8]
                ents = [entry(d, n, 1) for d, n in added] + [
                    entry(d, n, 2) for d, n in deleted
                ]
            path = write_manifest(f"m-{snap_id}-{k:05d}.avro", ents, k)
            recs.append(list_rec(path, snap_id, added, deleted))
        lp = os.path.join(mdir, f"snap-{snap_id}.avro")
        with open(lp, "wb") as fh:
            fh.write(
                write_avro_ocf(recs, MANIFEST_FILE_SCHEMA, sync=b"\x01" * 16)
            )
        lists[snap_id] = lp

    meta = {
        "format-version": 2,
        "table-uuid": digest,
        "location": root,
        "current-snapshot-id": 200,
        "snapshots": [
            {
                "snapshot-id": sid,
                "sequence-number": i + 1,
                "timestamp-ms": 1_700_000_000_000 + i,
                "manifest-list": lists[sid],
                "summary": {"operation": "append" if sid == 100 else "delete"},
            }
            for i, sid in enumerate((100, 200))
        ],
    }
    with open(os.path.join(mdir, "v1.metadata.json"), "w") as fh:
        json.dump(meta, fh, indent=1, sort_keys=True)
    with open(done, "w") as fh:
        fh.write("ok\n")
    return root


# ---------------------------------------------------------------------------
# Format-version-2 row-level deletes (spec "Row-level deletes" section):
# a v2 snapshot's manifest list mixes DATA manifests (content 0) and
# DELETES manifests (content 1); delete manifests carry position-delete
# files (data_file.content 1 — parquet rows (file_path, pos) naming the
# doomed row of a specific data file) and equality-delete files
# (content 2 — parquet rows holding VALUES of the columns named by
# equality_ids; they erase every matching row in data files with a
# STRICTLY SMALLER data sequence number, while position deletes apply
# at <= their own sequence number). A reader that ignores these
# over-counts every deleted row — the exact bug snapshot_files has on
# v2 tables, which snapshot_rows below fixes.
# ---------------------------------------------------------------------------

MANIFEST_ENTRY_V2_SCHEMA = {
    "type": "record",
    "name": "manifest_entry_v2",
    "fields": [
        {"name": "status", "type": "int"},
        {"name": "snapshot_id", "type": "long"},
        # v2: the data sequence number the entry's rows were written at
        # (inherited from the snapshot in real metadata; explicit here)
        {"name": "sequence_number", "type": "long"},
        {
            "name": "data_file",
            "type": {
                "type": "record",
                "name": "data_file_v2",
                "fields": [
                    # 0 data / 1 position deletes / 2 equality deletes
                    {"name": "content", "type": "int"},
                    {"name": "file_path", "type": "string"},
                    {"name": "file_format", "type": "string"},
                    {"name": "partition", "type": {"type": "map", "values": "string"}},
                    {"name": "record_count", "type": "long"},
                    {"name": "file_size_in_bytes", "type": "long"},
                    # table-schema FIELD IDS of the equality columns
                    # (empty for content 0/1), resolved to names via the
                    # metadata schema like every Iceberg reader does
                    {"name": "equality_ids", "type": {"type": "array", "items": "int"}},
                ],
            },
        },
    ],
}

MANIFEST_FILE_V2_SCHEMA = {
    "type": "record",
    "name": "manifest_file_v2",
    "fields": MANIFEST_FILE_SCHEMA["fields"]
    + [{"name": "content", "type": "int"}],  # 0 data / 1 deletes
}


def _schema_field_names(meta: dict) -> dict[int, str]:
    """field-id -> name map from the current table schema (v2 metadata
    carries ``schemas`` + ``current-schema-id``)."""
    sid = meta.get("current-schema-id", 0)
    for s in meta.get("schemas", []):
        if s.get("schema-id") == sid:
            return {f["id"]: f["name"] for f in s["fields"]}
    raise ValueError("iceberg: current schema not in metadata — quarantine")


def _decode_entries_v2(spark: SparkSession, manifests: list[str]) -> DataFrame:
    """Executor-side v2 manifest decode (same split as snapshot_files:
    only the manifest PATH list rides the driver; the O(#files) entry
    payload decodes inside mapInPandas)."""
    from shared_etl_pipelines_spark.functions.rows import map_rows

    def decode(path):
        with open(path, "rb") as fh:
            recs = read_avro_ocf(fh.read())["records"]
        for e in recs:
            df_ = e["data_file"]
            yield (
                e["status"], e["sequence_number"], df_["content"],
                df_["file_path"], df_["record_count"],
                ",".join(str(i) for i in df_["equality_ids"]),
            )

    paths = spark.createDataFrame(
        [(m,) for m in manifests], "manifest_path string"
    ).repartition(min(len(manifests), 32))
    return map_rows(
        paths,
        decode,
        "status int, sequence_number long, content int, file_path string, "
        "record_count long, equality_ids_csv string",
    )


def _norm_file_path(col):
    """``_metadata.file_path`` is a file: URI; manifest/delete-file rows
    store plain absolute paths — normalize to the latter for joins."""
    return F.regexp_replace(col, r"^file:/+", "/")


def snapshot_rows(
    spark: SparkSession, table_path: str, snapshot_id: int | None = None
) -> DataFrame:
    """Merge-on-read of a v2 snapshot: the actual DATA ROWS with
    position- and equality-deletes applied (what snapshot_files cannot
    see). Returns the table columns plus ``data_seq``.

    Scale shape (the same one Spark's own Iceberg integration uses):
    the driver plans the scan from the decoded entry lists (O(#files)
    metadata rows — every Iceberg scan planner does this); the row
    payload is a distributed parquet scan, position deletes drop via a
    left-anti join on (file, _metadata.row_index), and each
    equality-delete signature drops via a left-anti join on its value
    columns guarded by ``data_seq < delete_seq`` (the spec's
    strictly-smaller rule — a row re-added at the delete's own
    sequence number survives).
    """
    meta = read_table_metadata(table_path)
    snap = _pick_snapshot(meta, snapshot_id)
    mlist = _manifest_list(snap)
    data_manifests = [
        m["manifest_path"] for m in mlist if m.get("content", 0) == 0
    ]
    del_manifests = [
        m["manifest_path"] for m in mlist if m.get("content", 0) == 1
    ]
    if not data_manifests:
        raise ValueError("iceberg: v2 snapshot has no data manifests — quarantine")

    live = (
        _decode_entries_v2(spark, data_manifests)
        .filter((F.col("status") != 2) & (F.col("content") == 0))
        .select("file_path", "sequence_number")
        .collect()
    )  # driver-side SCAN PLAN: one (path, seq) pair per data file
    if not live:
        raise ValueError("iceberg: v2 snapshot has no live data files — quarantine")
    seq_df = spark.createDataFrame(
        [(r["file_path"], r["sequence_number"]) for r in live],
        "file_path string, data_seq long",
    )
    data = (
        read_parquet(spark, *sorted({r["file_path"] for r in live}))
        .withColumn("_fp", _norm_file_path(F.col("_metadata.file_path")))
        .withColumn("_pos", F.col("_metadata.row_index"))
        # file->seq is scan-plan metadata (tiny next to the rows): broadcast
        .join(F.broadcast(seq_df), F.col("_fp") == F.col("file_path"), "inner")
        .drop("file_path")
    )

    deletes = (
        _decode_entries_v2(spark, del_manifests).filter(F.col("status") != 2)
        .collect()
        if del_manifests
        else []
    )  # delete-file list: same driver-side plan scale as the data list
    pos_files = [
        (r["file_path"], r["sequence_number"]) for r in deletes if r["content"] == 1
    ]
    eq_files: dict[str, list[tuple[str, int]]] = {}
    for r in deletes:
        if r["content"] == 2:
            eq_files.setdefault(r["equality_ids_csv"], []).append(
                (r["file_path"], r["sequence_number"])
            )

    if pos_files:
        pseq = spark.createDataFrame(
            pos_files, "dfile string, del_seq long"
        )
        pdel = (
            read_parquet(spark, *sorted({p for p, _ in pos_files}))
            .withColumn("_dfp", _norm_file_path(F.col("_metadata.file_path")))
            .join(F.broadcast(pseq), F.col("_dfp") == F.col("dfile"), "inner")
        )
        data = data.join(
            pdel,
            (F.col("_fp") == pdel["file_path"])
            & (F.col("_pos") == pdel["pos"])
            & (F.col("data_seq") <= pdel["del_seq"]),
            "left_anti",
        )

    ids_to_name = _schema_field_names(meta)
    for ids_csv, files in sorted(eq_files.items()):
        cols = [ids_to_name[int(i)] for i in ids_csv.split(",") if i]
        if not cols:
            raise ValueError("iceberg: equality delete without equality_ids")
        eseq = spark.createDataFrame(files, "dfile string, del_seq long")
        edel = (
            read_parquet(spark, *sorted({p for p, _ in files}))
            .withColumn("_dfp", _norm_file_path(F.col("_metadata.file_path")))
            .join(F.broadcast(eseq), F.col("_dfp") == F.col("dfile"), "inner")
        )
        cond = F.col("data_seq") < edel["del_seq"]
        for c in cols:
            cond = cond & (data[c] == edel[c])
        data = data.join(edel, cond, "left_anti")

    return data.drop("_fp", "_pos")


def ensure_demo_iceberg_v2_table(sf_dir: str, bucket: int = 25) -> str:
    """v2 demo table with REAL parquet data and delete files, derived
    from ``documents`` in closed form (the oracle contract):

    - seq 1: one data file per 25-doc bucket, rows (doc_id, size=octet
      length of text, day=doc_id%7) sorted by doc_id;
    - seq 2 position-delete file: the in-file position of every churn
      doc (doc_id%9==8) in its base file;
    - seq 2 equality-delete file on field id 1 (doc_id): every
      doc_id%11==3 value;
    - seq 2 re-add data file: docs with doc_id%11==3 AND doc_id%5==0
      come back with size DOUBLED — they must SURVIVE the equality
      delete (strictly-smaller rule), which is the semantics a naive
      reader gets wrong.
    """
    import hashlib
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = pq.read_table(
        os.path.join(sf_dir, "documents.parquet"), columns=["doc_id", "text"]
    )
    docs = sorted(
        zip(tbl.column("doc_id").to_pylist(), tbl.column("text").to_pylist())
    )
    digest = hashlib.md5(
        repr(("v2", len(docs), docs[:2], bucket)).encode()
    ).hexdigest()[:12]
    root = os.path.join(
        tempfile.gettempdir(), "spark_graft_iceberg_v2_demo_v1", f"t-{digest}"
    )
    done = root + ".done"
    if os.path.exists(done):
        return root
    mdir = os.path.join(root, "metadata")
    fdir = os.path.join(root, "manifests")
    ddir = os.path.join(root, "data")
    for p in (mdir, fdir, ddir):
        os.makedirs(p, exist_ok=True)

    buckets: dict[int, list[tuple[int, int]]] = {}
    for doc_id, text in docs:
        d = int(doc_id)
        n = len(str(text).encode("utf-8"))
        buckets.setdefault(d // bucket, []).append((d, n))

    def write_data(name: str, rows: list[tuple[int, int, int]]) -> str:
        path = os.path.join(ddir, name)
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                    "size": pa.array([r[1] for r in rows], pa.int64()),
                    "day": pa.array([r[2] for r in rows], pa.int32()),
                }
            ),
            path,
        )
        return path

    def entry(path: str, content: int, seq: int, nrec: int, eq_ids: list[int]) -> dict:
        return {
            "status": 1,
            "snapshot_id": 300,
            "sequence_number": seq,
            "data_file": {
                "content": content,
                "file_path": path,
                "file_format": "PARQUET",
                "partition": {},
                "record_count": nrec,
                "file_size_in_bytes": os.path.getsize(path),
                "equality_ids": eq_ids,
            },
        }

    manifest_recs = []

    def write_manifest(name: str, entries: list[dict], content: int, k: int) -> None:
        path = os.path.join(fdir, name)
        with open(path, "wb") as fh:
            fh.write(
                write_avro_ocf(
                    entries,
                    MANIFEST_ENTRY_V2_SCHEMA,
                    codec="deflate" if k % 2 else "null",
                    sync=bytes([(k * 11 + i) % 256 for i in range(16)]),
                )
            )
        manifest_recs.append(
            {
                "manifest_path": path,
                "manifest_length": os.path.getsize(path),
                "partition_spec_id": 0,
                "added_snapshot_id": 300,
                "added_files_count": len(entries),
                "existing_files_count": 0,
                "deleted_files_count": 0,
                "added_rows_count": sum(
                    e["data_file"]["record_count"] for e in entries
                ),
                "deleted_rows_count": 0,
                "content": content,
            }
        )

    pos_rows: list[tuple[str, int]] = []
    for k, members in sorted(buckets.items()):
        path = write_data(
            f"b1-{k:05d}.parquet", [(d, n, d % 7) for d, n in members]
        )
        write_manifest(
            f"m-data-{k:05d}.avro", [entry(path, 0, 1, len(members), [])], 0, k
        )
        for pos, (d, _n) in enumerate(members):
            if d % 9 == 8:
                pos_rows.append((path, pos))

    readd = [
        (d, 2 * n, d % 7)
        for members in (buckets[k] for k in sorted(buckets))
        for d, n in members
        if d % 11 == 3 and d % 5 == 0
    ]
    readd_path = write_data("b2-readd.parquet", readd)
    write_manifest(
        "m-data-readd.avro", [entry(readd_path, 0, 2, len(readd), [])], 0, 1
    )

    pd_path = os.path.join(ddir, "pd-0001.parquet")
    pq.write_table(
        pa.table(
            {
                "file_path": pa.array([p for p, _ in pos_rows], pa.string()),
                "pos": pa.array([p for _, p in pos_rows], pa.int64()),
            }
        ),
        pd_path,
    )
    ed_path = os.path.join(ddir, "ed-0001.parquet")
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(
                    [int(d) for d, _ in docs if int(d) % 11 == 3], pa.int64()
                )
            }
        ),
        ed_path,
    )
    write_manifest(
        "m-deletes.avro",
        [
            entry(pd_path, 1, 2, len(pos_rows), []),
            entry(ed_path, 2, 2, sum(1 for d, _ in docs if int(d) % 11 == 3), [1]),
        ],
        1,
        2,
    )

    lp = os.path.join(mdir, "snap-300.avro")
    with open(lp, "wb") as fh:
        fh.write(
            write_avro_ocf(manifest_recs, MANIFEST_FILE_V2_SCHEMA, sync=b"\x02" * 16)
        )
    meta = {
        "format-version": 2,
        "table-uuid": digest,
        "location": root,
        "current-snapshot-id": 300,
        "current-schema-id": 0,
        "schemas": [
            {
                "schema-id": 0,
                "type": "struct",
                "fields": [
                    {"id": 1, "name": "doc_id", "type": "long", "required": True},
                    {"id": 2, "name": "size", "type": "long", "required": True},
                    {"id": 3, "name": "day", "type": "int", "required": True},
                ],
            }
        ],
        "snapshots": [
            {
                "snapshot-id": 300,
                "sequence-number": 2,
                "timestamp-ms": 1_700_000_000_000,
                "manifest-list": lp,
                "summary": {"operation": "overwrite"},
            }
        ],
    }
    with open(os.path.join(mdir, "v1.metadata.json"), "w") as fh:
        json.dump(meta, fh, indent=1, sort_keys=True)
    with open(done, "w") as fh:
        fh.write("ok\n")
    return root


def ensure_demo_iceberg_stream_table(sf_dir: str, bucket: int = 25) -> str:
    """Streaming-CDC demo table: three COMMITS, each with its own
    manifest list, so a manifest-list file-arrival stream sees delete
    files land over time (the consumer Iceberg v2 lacked while Delta
    and Hudi had CDC tails — VERDICT r12 task #7):

    - snapshot 100 / seq 1: one data file per 25-doc bucket, rows
      (doc_id, size, day) sorted by doc_id — no deletes;
    - snapshot 200 / seq 2: APPENDS a position-delete file covering the
      in-file position of every churn doc (doc_id%9==8);
    - snapshot 300 / seq 3: APPENDS an equality-delete file on field
      id 1 (doc_id) listing every doc_id%11==3 value.

    Manifest lists are cumulative (each snapshot's list carries every
    live manifest), exactly like real Iceberg — so a correct CDC
    consumer must diff, not replay."""
    import hashlib
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = pq.read_table(
        os.path.join(sf_dir, "documents.parquet"), columns=["doc_id", "text"]
    )
    docs = sorted(
        zip(tbl.column("doc_id").to_pylist(), tbl.column("text").to_pylist())
    )
    digest = hashlib.md5(
        repr(("stream", len(docs), docs[:2], bucket)).encode()
    ).hexdigest()[:12]
    root = os.path.join(
        tempfile.gettempdir(), "spark_graft_iceberg_stream_demo_v1",
        f"t-{digest}",
    )
    done = root + ".done"
    if os.path.exists(done):
        return root
    mdir = os.path.join(root, "metadata")
    fdir = os.path.join(root, "manifests")
    ddir = os.path.join(root, "data")
    for p in (mdir, fdir, ddir):
        os.makedirs(p, exist_ok=True)

    buckets: dict[int, list[tuple[int, int]]] = {}
    for doc_id, text in docs:
        d = int(doc_id)
        n = len(str(text).encode("utf-8"))
        buckets.setdefault(d // bucket, []).append((d, n))

    def entry(path: str, content: int, seq: int, nrec: int,
              eq_ids: list[int]) -> dict:
        return {
            "status": 1,
            "snapshot_id": 100 * seq,
            "sequence_number": seq,
            "data_file": {
                "content": content,
                "file_path": path,
                "file_format": "PARQUET",
                "partition": {},
                "record_count": nrec,
                "file_size_in_bytes": os.path.getsize(path),
                "equality_ids": eq_ids,
            },
        }

    def manifest_rec(path: str, entries: list[dict], content: int) -> dict:
        return {
            "manifest_path": path,
            "manifest_length": os.path.getsize(path),
            "partition_spec_id": 0,
            "added_snapshot_id": entries[0]["snapshot_id"],
            "added_files_count": len(entries),
            "existing_files_count": 0,
            "deleted_files_count": 0,
            "added_rows_count": sum(
                e["data_file"]["record_count"] for e in entries
            ),
            "deleted_rows_count": 0,
            "content": content,
        }

    def write_manifest(name: str, entries: list[dict], content: int,
                       k: int) -> dict:
        path = os.path.join(fdir, name)
        with open(path, "wb") as fh:
            fh.write(
                write_avro_ocf(
                    entries,
                    MANIFEST_ENTRY_V2_SCHEMA,
                    codec="deflate" if k % 2 else "null",
                    sync=bytes([(k * 13 + i) % 256 for i in range(16)]),
                )
            )
        return manifest_rec(path, entries, content)

    # --- seq 1: data files ------------------------------------------------
    data_recs = []
    pos_rows: list[tuple[str, int]] = []
    for k, members in sorted(buckets.items()):
        path = os.path.join(ddir, f"b1-{k:05d}.parquet")
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array([d for d, _ in members], pa.int64()),
                    "size": pa.array([n for _, n in members], pa.int64()),
                    "day": pa.array([d % 7 for d, _ in members], pa.int32()),
                }
            ),
            path,
        )
        data_recs.append(
            write_manifest(
                f"m-data-{k:05d}.avro",
                [entry(path, 0, 1, len(members), [])], 0, k,
            )
        )
        for pos, (d, _n) in enumerate(members):
            if d % 9 == 8:
                pos_rows.append((path, pos))

    # --- seq 2: position-delete commit ------------------------------------
    pd_path = os.path.join(ddir, "pd-0001.parquet")
    pq.write_table(
        pa.table(
            {
                "file_path": pa.array([p for p, _ in pos_rows], pa.string()),
                "pos": pa.array([p for _, p in pos_rows], pa.int64()),
            }
        ),
        pd_path,
    )
    pos_rec = write_manifest(
        "m-posdel.avro", [entry(pd_path, 1, 2, len(pos_rows), [])], 1, 1
    )

    # --- seq 3: equality-delete commit ------------------------------------
    eq_vals = [int(d) for d, _ in docs if int(d) % 11 == 3]
    ed_path = os.path.join(ddir, "ed-0001.parquet")
    pq.write_table(
        pa.table({"doc_id": pa.array(eq_vals, pa.int64())}), ed_path
    )
    eq_rec = write_manifest(
        "m-eqdel.avro", [entry(ed_path, 2, 3, len(eq_vals), [1])], 1, 2
    )

    snaps = []
    for sid, seq, recs in (
        (100, 1, data_recs),
        (200, 2, data_recs + [pos_rec]),
        (300, 3, data_recs + [pos_rec, eq_rec]),
    ):
        lp = os.path.join(mdir, f"snap-{sid}.avro")
        with open(lp, "wb") as fh:
            fh.write(
                write_avro_ocf(
                    recs, MANIFEST_FILE_V2_SCHEMA, sync=bytes([seq]) * 16
                )
            )
        snaps.append(
            {
                "snapshot-id": sid,
                "sequence-number": seq,
                "timestamp-ms": 1_700_000_000_000 + seq * 60_000,
                "manifest-list": lp,
                "summary": {
                    "operation": "append" if seq == 1 else "delete"
                },
            }
        )

    meta = {
        "format-version": 2,
        "table-uuid": digest,
        "location": root,
        "current-snapshot-id": 300,
        "current-schema-id": 0,
        "schemas": [
            {
                "schema-id": 0,
                "type": "struct",
                "fields": [
                    {"id": 1, "name": "doc_id", "type": "long", "required": True},
                    {"id": 2, "name": "size", "type": "long", "required": True},
                    {"id": 3, "name": "day", "type": "int", "required": True},
                ],
            }
        ],
        "snapshots": snaps,
    }
    with open(os.path.join(mdir, "v1.metadata.json"), "w") as fh:
        json.dump(meta, fh, indent=1, sort_keys=True)
    with open(done, "w") as fh:
        fh.write("ok\n")
    return root


def rewrite_data_plan(
    spark: SparkSession, table_path: str, snapshot_id: int | None = None
) -> DataFrame:
    """rewrite-data-files planning for a v2 snapshot: which live data
    files are AFFECTED by row-level deletes and must be rewritten to
    drop them — position-delete rows naming the file, plus equality
    deletes at a strictly higher sequence number (the same rule
    snapshot_rows enforces on read). Output is the rewrite WORKLIST
    (file_path, record_count, n_pos_deletes, eq_delete_applies); only
    the delete FILES are opened (they are the small side), never the
    data files."""
    meta = read_table_metadata(table_path)
    snap = _pick_snapshot(meta, snapshot_id)
    mlist = _manifest_list(snap)
    data_manifests = [
        m["manifest_path"] for m in mlist if m.get("content", 0) == 0
    ]
    del_manifests = [
        m["manifest_path"] for m in mlist if m.get("content", 0) == 1
    ]
    if not data_manifests:
        raise ValueError("iceberg: v2 snapshot has no data manifests — quarantine")
    data = (
        _decode_entries_v2(spark, data_manifests)
        .filter((F.col("status") != 2) & (F.col("content") == 0))
        .select(
            "file_path",
            F.col("sequence_number").alias("data_seq"),
            "record_count",
        )
    )
    deletes = (
        _decode_entries_v2(spark, del_manifests).filter(F.col("status") != 2)
        .collect()
        if del_manifests
        else []
    )
    pos_paths = sorted({r["file_path"] for r in deletes if r["content"] == 1})
    eq_seqs = [r["sequence_number"] for r in deletes if r["content"] == 2]
    max_eq_seq = max(eq_seqs) if eq_seqs else None

    if pos_paths:
        pos_counts = (
            read_parquet(spark, *pos_paths)
            .groupBy("file_path")
            .agg(F.count(F.lit(1)).alias("n_pos_deletes"))
        )
        data = data.join(pos_counts, "file_path", "left").fillna(
            0, subset=["n_pos_deletes"]
        )
    else:
        data = data.withColumn("n_pos_deletes", F.lit(0).cast("long"))
    eq_applies = (
        (F.col("data_seq") < F.lit(max_eq_seq))
        if max_eq_seq is not None
        else F.lit(False)
    )
    return (
        data.withColumn("eq_delete_applies", eq_applies)
        .filter((F.col("n_pos_deletes") > 0) | F.col("eq_delete_applies"))
        .select("file_path", "record_count", "n_pos_deletes", "eq_delete_applies")
    )
