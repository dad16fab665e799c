"""Delta Lake transaction-log reader (the PUBLIC delta.io protocol).

A lakehouse corpus at 100 TB is usually a Delta/Iceberg table, and the
cheapest possible audit — which files are live, how much churn, what a
version looked like — needs only the LOG, never the data. This module
reads the open Delta protocol (PROTOCOL.md at github.com/delta-io/delta):

- ``_delta_log/{version:020d}.json``: newline-delimited JSON actions
  (``protocol`` / ``metaData`` / ``add`` / ``remove`` / ``commitInfo``);
- ``_delta_log/_last_checkpoint`` + ``{version:020d}.checkpoint.parquet``:
  the compacted state snapshot long tables replay from.

``snapshot_files`` reconstructs the active file set at a version the
way every Delta reader does: start from the newest checkpoint at or
below the target (O(1) JSON tail instead of O(versions) replay — the
property that matters when a table has a million commits), apply the
JSON commits after it, and resolve each path to its LAST action
(add = live, remove = dead). The resolution is a plain Spark
window-over-path — distributed, no driver-side log walk; only the
``_last_checkpoint`` pointer (a one-line JSON) is read on the driver.

The writer exists for fixture control: it emits spec-shaped commits
and checkpoints so the reader is exercised against real protocol
bytes. It is NOT a Delta writer (no data files, no atomic rename
protocol) — the engine's own warehouse formats live in warehouse.py.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from shared_etl_pipelines_spark.engine import read_parquet

__all__ = [
    "write_commit", "write_checkpoint", "snapshot_files",
    "snapshot_rows", "vacuum_plan", "log_history",
    "ensure_demo_delta_dv_table",
]

# deletionVector: the v2-reader descriptor (PROTOCOL.md "Deletion
# Vectors") — absent/null on DV-free logs, so legacy tables parse
# identically; decode/apply live in sources/deletion_vectors.py
_DV_SCHEMA = (
    "struct<storageType:string,pathOrInlineDv:string,offset:int,"
    "sizeInBytes:int,cardinality:bigint>"
)
_ADD_SCHEMA = (
    "struct<path:string,size:bigint,modificationTime:bigint,"
    "dataChange:boolean,partitionValues:map<string,string>,"
    f"deletionVector:{_DV_SCHEMA}>"
)
_REMOVE_SCHEMA = (
    "struct<path:string,deletionTimestamp:bigint,dataChange:boolean>"
)


def _log_dir(table_path: str) -> str:
    return os.path.join(table_path, "_delta_log")


def write_commit(table_path: str, version: int, actions: list[dict]) -> str:
    """One spec-shaped commit file: newline-delimited JSON actions."""
    d = _log_dir(table_path)
    os.makedirs(d, exist_ok=True)
    p = os.path.join(d, f"{version:020d}.json")
    tmp = p + ".tmp"
    with open(tmp, "w") as fh:
        for a in actions:
            fh.write(json.dumps(a, sort_keys=True) + "\n")
    os.replace(tmp, p)  # the protocol's put-if-absent, fixture-grade
    return p


def write_checkpoint(
    spark: SparkSession, table_path: str, version: int
) -> str:
    """Compact the state at ``version`` into
    ``{version:020d}.checkpoint.parquet`` + ``_last_checkpoint`` —
    the spec's single-file checkpoint form (one row per live action,
    columns ``add`` / ``remove`` as structs; tombstones carried so
    late readers of older versions still see them)."""
    d = _log_dir(table_path)
    state = _replay(spark, table_path, version, use_checkpoint=False)
    live = state.filter(F.col("kind") == "add").select(
        F.struct(
            F.col("path"),
            F.col("size"),
            F.col("modificationTime"),
            F.lit(True).alias("dataChange"),
            F.col("partitionValues"),
            F.col("deletionVector"),
        ).alias("add"),
        F.lit(None).cast(_REMOVE_SCHEMA).alias("remove"),
    )
    dead = state.filter(F.col("kind") == "remove").select(
        F.lit(None).cast(_ADD_SCHEMA).alias("add"),
        F.struct(
            F.col("path"),
            F.col("modificationTime").alias("deletionTimestamp"),
            F.lit(True).alias("dataChange"),
        ).alias("remove"),
    )
    cp = os.path.join(d, f"{version:020d}.checkpoint.parquet")
    live.unionByName(dead).coalesce(1).write.mode("overwrite").parquet(cp)
    tmp = os.path.join(d, "_last_checkpoint.tmp")
    with open(tmp, "w") as fh:
        json.dump({"version": version, "size": live.count() + dead.count()}, fh)
    os.replace(tmp, os.path.join(d, "_last_checkpoint"))
    return cp


def _last_checkpoint_version(table_path: str, at_version: int | None) -> int | None:
    lc = os.path.join(_log_dir(table_path), "_last_checkpoint")
    if not os.path.exists(lc):
        return None
    with open(lc) as fh:
        v = int(json.load(fh)["version"])
    if at_version is not None and v > at_version:
        # time travel behind the checkpoint: fall back to full replay
        # (a production reader would walk older retained checkpoints)
        return None
    return v


def _commit_actions(
    spark: SparkSession, table_path: str, lo: int, at_version: int | None
) -> DataFrame:
    """Parse add/remove actions out of the JSON commits with version >
    ``lo`` (and <= at_version if set). JSON decode + filtering is
    JVM-side (from_json over spark.read.text) — the log parse itself
    distributes."""
    d = _log_dir(table_path)
    raw = (
        spark.read.text(os.path.join(d, "*.json"))
        .withColumn("_file", F.input_file_name())
        .withColumn(
            "version",
            F.regexp_extract(F.col("_file"), r"(\d{20})\.json", 1).cast("long"),
        )
        .filter(F.col("version") > lo)
    )
    if at_version is not None:
        raw = raw.filter(F.col("version") <= at_version)
    add = F.from_json(F.col("value"), f"struct<add:{_ADD_SCHEMA}>")["add"]
    rem = F.from_json(F.col("value"), f"struct<remove:{_REMOVE_SCHEMA}>")["remove"]
    return (
        raw.select("version", add.alias("a"), rem.alias("r"))
        .filter(F.col("a").isNotNull() | F.col("r").isNotNull())
        .select(
            "version",
            F.when(F.col("a").isNotNull(), F.lit("add"))
            .otherwise(F.lit("remove"))
            .alias("kind"),
            F.coalesce(F.col("a.path"), F.col("r.path")).alias("path"),
            F.col("a.size").alias("size"),
            F.coalesce(
                F.col("a.modificationTime"), F.col("r.deletionTimestamp")
            ).alias("modificationTime"),
            F.col("a.partitionValues").alias("partitionValues"),
            F.col("a.deletionVector").alias("deletionVector"),
        )
    )


def _replay(
    spark: SparkSession,
    table_path: str,
    at_version: int | None,
    use_checkpoint: bool = True,
) -> DataFrame:
    """Last-action-per-path state: columns
    (path, kind, version, size, modificationTime, partitionValues)."""
    base = None
    lo = -1
    if use_checkpoint:
        cpv = _last_checkpoint_version(table_path, at_version)
        if cpv is not None:
            cp = os.path.join(
                _log_dir(table_path), f"{cpv:020d}.checkpoint.parquet"
            )
            cdf = read_parquet(spark, cp)
            # pre-DV checkpoints lack the field; read them as null DVs
            add_fields = {
                f.name for f in cdf.schema["add"].dataType.fields
            }
            dv_col = (
                F.col("add.deletionVector")
                if "deletionVector" in add_fields
                else F.lit(None).cast(_DV_SCHEMA)
            )
            base = cdf.select(
                F.lit(cpv).alias("version"),
                F.when(F.col("add").isNotNull(), F.lit("add"))
                .otherwise(F.lit("remove"))
                .alias("kind"),
                F.coalesce(F.col("add.path"), F.col("remove.path")).alias("path"),
                F.col("add.size").alias("size"),
                F.coalesce(
                    F.col("add.modificationTime"),
                    F.col("remove.deletionTimestamp"),
                ).alias("modificationTime"),
                F.col("add.partitionValues").alias("partitionValues"),
                dv_col.alias("deletionVector"),
            )
            lo = cpv
    tail = _commit_actions(spark, table_path, lo, at_version)
    acts = tail if base is None else base.unionByName(tail)
    # last writer wins per path; within one commit remove beats add
    # (the spec forbids both for one path in one commit, but the
    # deterministic tie-break keeps a malformed log from flapping)
    w = Window.partitionBy("path").orderBy(
        F.col("version").desc(),
        F.when(F.col("kind") == "remove", 0).otherwise(1),
    )
    return (
        acts.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def snapshot_files(
    spark: SparkSession, table_path: str, version: int | None = None
) -> DataFrame:
    """Active data files at ``version`` (None = latest):
    (path, size, modificationTime, partitionValues, add_version)."""
    state = _replay(spark, table_path, version)
    return state.filter(F.col("kind") == "add").select(
        "path",
        "size",
        "modificationTime",
        "partitionValues",
        F.col("version").alias("add_version"),
        "deletionVector",
    )


def ensure_demo_delta_table(sf_dir: str, bucket: int = 25) -> str:
    """Write (idempotently) a spec-shaped demo log derived from
    ``documents``: commit 0 carries protocol+metaData; commit k+1 adds
    ``part-{doc_id:09d}.parquet`` (size = octet length of the text,
    partitionValues day = doc_id%7, modificationTime pinned) for docs
    with doc_id//bucket == k; docs with doc_id % 9 == 8 (the churn
    class) are REMOVED again in commit doc_id//bucket + 3. A
    single-file checkpoint (pyarrow-written, spec columns add/remove)
    lands at version n_buckets//2 + 1 with ``_last_checkpoint``
    pointing at it, so readers exercise the checkpoint-then-tail path.
    Every cell is reconstructable from doc_id alone — the oracle
    contract."""
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
        repr((len(docs), docs[:2], bucket)).encode()
    ).hexdigest()[:12]
    root = os.path.join(
        tempfile.gettempdir(), "spark_graft_delta_demo_v1", f"t-{digest}"
    )
    done = root + ".done"
    if os.path.exists(done):
        return root

    t0 = 1_700_000_000_000
    adds: dict[int, list[dict]] = {}
    removes: dict[int, list[dict]] = {}
    for doc_id, text in docs:
        d = int(doc_id)
        n = len(str(text).encode("utf-8"))
        v = d // bucket + 1
        adds.setdefault(v, []).append(
            {
                "add": {
                    "path": f"part-{d:09d}.parquet",
                    "size": n,
                    "modificationTime": t0 + d,
                    "dataChange": True,
                    "partitionValues": {"day": str(d % 7)},
                }
            }
        )
        if d % 9 == 8:
            removes.setdefault(v + 2, []).append(
                {
                    "remove": {
                        "path": f"part-{d:09d}.parquet",
                        "deletionTimestamp": t0 + d + 1000,
                        "dataChange": True,
                    }
                }
            )
    n_buckets = (len(docs) + bucket - 1) // bucket
    # delta_time_travel_audit's oracle needs version 7 to sit BEHIND the
    # checkpoint (n_buckets//2+1) — otherwise _replay flattens
    # add_version to the checkpoint version and the hash fails opaquely.
    # A future smaller documents fixture must fail HERE instead.
    if n_buckets // 2 + 1 <= 7:
        raise ValueError(
            f"delta demo: {len(docs)} docs puts the checkpoint at version "
            f"{n_buckets // 2 + 1} <= time-travel pin 7 — fixture too small"
        )
    last_version = n_buckets + 2
    write_commit(
        root,
        0,
        [
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
            {
                "metaData": {
                    "id": digest,
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": json.dumps(
                        {"type": "struct", "fields": []}
                    ),
                    "partitionColumns": ["day"],
                }
            },
        ],
    )
    for v in range(1, last_version + 1):
        acts = [{"commitInfo": {"operation": "WRITE", "version": v}}]
        acts += adds.get(v, []) + removes.get(v, [])
        write_commit(root, v, acts)

    # single-file checkpoint at mid-log (pyarrow: no Spark dependency)
    cpv = n_buckets // 2 + 1
    add_t = pa.struct(
        [
            ("path", pa.string()),
            ("size", pa.int64()),
            ("modificationTime", pa.int64()),
            ("dataChange", pa.bool_()),
            ("partitionValues", pa.map_(pa.string(), pa.string())),
        ]
    )
    rem_t = pa.struct(
        [
            ("path", pa.string()),
            ("deletionTimestamp", pa.int64()),
            ("dataChange", pa.bool_()),
        ]
    )
    add_rows, rem_rows = [], []
    for doc_id, text in docs:
        d = int(doc_id)
        n = len(str(text).encode("utf-8"))
        if d // bucket + 1 > cpv:
            continue  # not yet added at the checkpoint version
        if d % 9 == 8 and d // bucket + 3 <= cpv:
            add_rows.append(None)
            rem_rows.append(
                {
                    "path": f"part-{d:09d}.parquet",
                    "deletionTimestamp": t0 + d + 1000,
                    "dataChange": True,
                }
            )
        else:
            add_rows.append(
                {
                    "path": f"part-{d:09d}.parquet",
                    "size": n,
                    "modificationTime": t0 + d,
                    "dataChange": True,
                    "partitionValues": [(("day"), str(d % 7))],
                }
            )
            rem_rows.append(None)
    cp = pa.table(
        {
            "add": pa.array(add_rows, type=add_t),
            "remove": pa.array(rem_rows, type=rem_t),
        }
    )
    cp_path = os.path.join(_log_dir(root), f"{cpv:020d}.checkpoint.parquet")
    pq.write_table(cp, cp_path)
    with open(os.path.join(_log_dir(root), "_last_checkpoint"), "w") as fh:
        json.dump({"version": cpv, "size": len(add_rows)}, fh)

    with open(done, "w") as fh:
        fh.write("ok\n")
    return root


def vacuum_plan(
    spark: SparkSession, table_path: str, before_ms: int
) -> DataFrame:
    """Files SAFE to physically delete: their last action is a REMOVE
    tombstone whose deletionTimestamp is at or before ``before_ms``
    (the retention horizon). Live files and young tombstones survive —
    deleting a file a concurrent time-travel reader may still resolve
    is the corruption VACUUM retention exists to prevent. Planning is
    the same distributed last-action window as snapshot_files; output
    is the delete WORKLIST (path, deletion_ms), not a side effect."""
    state = _replay(spark, table_path, None)
    return (
        state.filter(
            (F.col("kind") == "remove")
            & (F.col("modificationTime") <= F.lit(int(before_ms)))
        )
        .select("path", F.col("modificationTime").alias("deletion_ms"))
    )


def log_history(spark: SparkSession, table_path: str) -> DataFrame:
    """Per-commit churn: (version, n_adds, n_removes, bytes_added)."""
    acts = _commit_actions(spark, table_path, -1, None)
    return acts.groupBy("version").agg(
        F.sum(F.when(F.col("kind") == "add", 1).otherwise(0)).alias("n_adds"),
        F.sum(F.when(F.col("kind") == "remove", 1).otherwise(0)).alias(
            "n_removes"
        ),
        F.sum(
            F.when(F.col("kind") == "add", F.col("size")).otherwise(0)
        ).alias("bytes_added"),
    )


def snapshot_rows(
    spark: SparkSession, table_path: str, version: int | None = None
) -> DataFrame:
    """Actual DATA ROWS of a snapshot with deletion vectors applied —
    what snapshot_files cannot answer on a DV table (its record counts
    include soft-deleted rows). Returns the data columns plus
    ``dv_storage`` (the descriptor's storageType, null when the file
    carries no DV).

    Scale shape: the live-file list is the driver-side scan plan (what
    every Delta reader computes); the parquet scan is distributed; DV
    descriptors decode EXECUTOR-side inside mapInPandas (one bitmap per
    file, exploded to (path, pos) rows bounded by the file's row
    count); deleted rows drop via a left-anti join on
    (path, _metadata.row_index).
    """
    import re as _re

    snap = snapshot_files(spark, table_path, version)
    files = snap.select("path", "deletionVector").collect()
    if not files:
        raise ValueError("delta: snapshot has no live files — quarantine")
    prefix = os.path.abspath(table_path)
    data = (
        read_parquet(spark, *sorted(os.path.join(prefix, r["path"]) for r in files))
        .withColumn(
            "_relpath",
            F.regexp_replace(
                F.col("_metadata.file_path"),
                "^file:/*" + _re.escape(prefix.lstrip("/")) + "/",
                "",
            ),
        )
        .withColumn("_pos", F.col("_metadata.row_index"))
    )

    dv_rows = [
        (
            r["path"],
            r["deletionVector"]["storageType"],
            r["deletionVector"]["pathOrInlineDv"],
            r["deletionVector"]["offset"],
            r["deletionVector"]["sizeInBytes"],
            r["deletionVector"]["cardinality"],
        )
        for r in files
        if r["deletionVector"] is not None
    ]
    storage = spark.createDataFrame(
        [(r["path"], r["deletionVector"]["storageType"] if r["deletionVector"] else None)
         for r in files],
        "path string, dv_storage string",
    )
    out = data.join(
        F.broadcast(storage), data["_relpath"] == storage["path"], "inner"
    ).drop("path")
    if dv_rows:
        from shared_etl_pipelines_spark.functions.rows import map_rows

        desc_df = spark.createDataFrame(
            dv_rows,
            "path string, storageType string, pathOrInlineDv string, "
            "offset int, sizeInBytes int, cardinality long",
        ).repartition(min(len(dv_rows), 32))

        def decode(path, storage_type, path_or_inline, offset, size, cardinality):
            from shared_etl_pipelines_spark.sources.deletion_vectors import (
                read_dv_descriptor,
            )

            desc = {
                "storageType": storage_type,
                "pathOrInlineDv": path_or_inline,
                "offset": offset,
                "sizeInBytes": size,
                "cardinality": cardinality,
            }
            for pos in read_dv_descriptor(prefix, desc):
                yield path, pos

        dv_pos = map_rows(desc_df, decode, "path string, pos long")
        out = out.join(
            dv_pos,
            (out["_relpath"] == dv_pos["path"]) & (out["_pos"] == dv_pos["pos"]),
            "left_anti",
        )
    return out.drop("_relpath", "_pos")


def ensure_demo_delta_dv_table(sf_dir: str, bucket: int = 25) -> str:
    """DV demo table with REAL parquet data files, derived from
    ``documents`` in closed form: commit 1 adds one file per 25-doc
    bucket (rows (doc_id, size=octet length, day=doc_id%7) sorted by
    doc_id); commit 2 re-adds every bucket that contains churn docs
    (doc_id%9==8) with a deletion vector over their in-file positions —
    storage rotating by bucket: k%3==0 a shared "p" DV file, k%3==1 a
    "u" uuid-addressed file, k%3==2 inline "i" z85. The oracle replays
    all of it from doc_id."""
    import hashlib
    import tempfile
    import uuid as _uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    from shared_etl_pipelines_spark.sources.deletion_vectors import (
        serialize_dv,
        write_dv_file,
        z85_encode,
    )

    tbl = pq.read_table(
        os.path.join(sf_dir, "documents.parquet"), columns=["doc_id", "text"]
    )
    docs = sorted(
        zip(tbl.column("doc_id").to_pylist(), tbl.column("text").to_pylist())
    )
    digest = hashlib.md5(
        repr(("dv", len(docs), docs[:2], bucket)).encode()
    ).hexdigest()[:12]
    root = os.path.join(
        tempfile.gettempdir(), "spark_graft_delta_dv_demo_v1", f"t-{digest}"
    )
    done = root + ".done"
    if os.path.exists(done):
        return root
    os.makedirs(root, exist_ok=True)

    buckets: dict[int, list[tuple[int, int]]] = {}
    for doc_id, text in docs:
        d = int(doc_id)
        n = len(str(text).encode("utf-8"))
        buckets.setdefault(d // bucket, []).append((d, n))

    t0 = 1_700_000_000_000
    adds_v1, adds_v2 = [], []
    churn_positions: dict[int, list[int]] = {}
    for k, members in sorted(buckets.items()):
        rel = f"part-b{k:05d}.parquet"
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
        add = {
            "path": rel,
            "size": sum(n for _, n in members),
            "modificationTime": t0 + k,
            "dataChange": True,
            "partitionValues": {},
        }
        adds_v1.append({"add": add})
        pos = [i for i, (d, _n) in enumerate(members) if d % 9 == 8]
        if pos:
            churn_positions[k] = pos

    # shared "p" file first: k%3==0 buckets in bucket order
    p_buckets = sorted(k for k in churn_positions if k % 3 == 0)
    p_file = os.path.join(root, "dv-shared.bin")
    p_spans = write_dv_file(p_file, [churn_positions[k] for k in p_buckets])
    descs: dict[int, dict] = {}
    for k, (off, size) in zip(p_buckets, p_spans):
        descs[k] = {
            "storageType": "p",
            "pathOrInlineDv": p_file,
            "offset": off,
            "sizeInBytes": size,
            "cardinality": len(churn_positions[k]),
        }
    for k in sorted(churn_positions):
        if k % 3 == 1:
            u = _uuid.UUID(int=k)  # deterministic per bucket
            spans = write_dv_file(
                os.path.join(root, f"deletion_vector_{u}.bin"),
                [churn_positions[k]],
            )
            descs[k] = {
                "storageType": "u",
                "pathOrInlineDv": z85_encode(u.bytes),
                "offset": spans[0][0],
                "sizeInBytes": spans[0][1],
                "cardinality": len(churn_positions[k]),
            }
        elif k % 3 == 2:
            payload = serialize_dv(churn_positions[k])
            padded = payload + b"\x00" * ((-len(payload)) % 4)
            descs[k] = {
                "storageType": "i",
                "pathOrInlineDv": z85_encode(padded),
                "offset": 0,
                "sizeInBytes": len(payload),
                "cardinality": len(churn_positions[k]),
            }
    for k in sorted(descs):
        add = dict(adds_v1[k]["add"])
        add["modificationTime"] = t0 + 10_000 + k
        add["deletionVector"] = descs[k]
        adds_v2.append({"add": add})

    write_commit(
        root,
        0,
        [
            {
                "protocol": {
                    "minReaderVersion": 3,
                    "minWriterVersion": 7,
                    "readerFeatures": ["deletionVectors"],
                    "writerFeatures": ["deletionVectors"],
                }
            },
            {
                "metaData": {
                    "id": digest,
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": json.dumps({"type": "struct", "fields": []}),
                    "partitionColumns": [],
                }
            },
        ],
    )
    write_commit(
        root, 1, [{"commitInfo": {"operation": "WRITE"}}] + adds_v1
    )
    write_commit(
        root, 2, [{"commitInfo": {"operation": "DELETE"}}] + adds_v2
    )
    with open(done, "w") as fh:
        fh.write("ok\n")
    return root


def dv_purge_plan(spark: SparkSession, table_path: str) -> DataFrame:
    """REORG-PURGE planning (the protocol's documented maintenance op
    for DV tables): every live file that carries a deletion vector must
    be rewritten without its soft-deleted rows before the DV reader
    requirement can be dropped. Output is the rewrite WORKLIST —
    (path, dv_storage, dv_cardinality, size) — straight off the
    distributed snapshot state; no data files are opened to plan."""
    snap = snapshot_files(spark, table_path)
    return (
        snap.filter(F.col("deletionVector").isNotNull())
        .select(
            "path",
            F.col("deletionVector.storageType").alias("dv_storage"),
            F.col("deletionVector.cardinality").alias("dv_cardinality"),
            "size",
        )
    )
