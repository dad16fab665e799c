"""WebDataset-style tar-shard ingestion — the de-facto container for
large multimodal training corpora.

A WebDataset corpus is a directory of POSIX tar shards; each SAMPLE is
a run of members sharing a basename key with one extension per
modality (``000000042.txt``, ``000000042.cls``, ``000000042.json``,
``000000042.jpg``...). Training loaders stream shards sequentially;
an analytics engine instead wants the corpus as a TABLE — one row per
member, grouped to one row per sample — with the shard file as the
parallelism unit.

Spark mapping: ``spark.read.format('binaryFile')`` over ``*.tar``
gives one row per shard (whole-file bytes); a mapInPandas walk (pure
stdlib ``tarfile`` over an in-memory BytesIO — no Python loop leaves
the executor) explodes each shard into member rows. At 100 TB the
scan parallelism is the shard count (the format is DESIGNED for that:
shards are the unit of both storage and work), Arrow batches bound
memory, and the per-sample grouping is a narrow groupBy on (shard,
key) — samples never span shards by construction, so with one
partition per shard the group-by is map-side.

The fixture writer pins byte-level determinism (USTAR format, zeroed
mtime/uid/gid) so shard bytes — not just parsed rows — are stable
across runs.
"""

from __future__ import annotations

import hashlib
import io
import os
import tarfile
import tempfile

from pyspark.sql import DataFrame, SparkSession

__all__ = [
    "write_webdataset_shards",
    "ensure_demo_webdataset",
    "read_webdataset",
    "write_zipdataset_shards",
    "ensure_demo_zipdataset",
    "read_zipdataset",
]

MEMBER_SCHEMA = (
    "shard string, shard_idx int, key string, ext string, "
    "n_bytes bigint, blob binary"
)


def _write_one_tar(path: str, chunk: list[tuple[str, dict[str, bytes]]]) -> None:
    """One deterministic USTAR shard (members ``<key>.<ext>`` in sorted
    ext order, mtime/uid/gid zeroed), written atomically via a pid-
    suffixed temp + rename — shared by the driver-side batch writer and
    the executor-side reshard path so both produce identical bytes."""
    tmp = path + f".{os.getpid()}.tmp"
    with tarfile.open(tmp, "w", format=tarfile.USTAR_FORMAT) as t:
        for key, members in chunk:
            for ext in sorted(members):
                payload = members[ext]
                info = tarfile.TarInfo(name=f"{key}.{ext}")
                info.size = len(payload)
                info.mtime = 0
                info.uid = info.gid = 0
                info.uname = info.gname = ""
                t.addfile(info, io.BytesIO(payload))
    os.replace(tmp, path)


def write_webdataset_shards(
    samples: list[tuple[str, dict[str, bytes]]],
    out_dir: str,
    shard_size: int = 64,
) -> int:
    """``samples`` = [(key, {ext: payload})]; writes
    ``shard-%05d.tar`` files of ``shard_size`` samples each (members
    ``<key>.<ext>`` in sorted ext order). Deterministic bytes: USTAR,
    mtime/uid/gid zeroed. Returns the shard count."""
    os.makedirs(out_dir, exist_ok=True)
    n_shards = 0
    for start in range(0, len(samples), shard_size):
        chunk = samples[start : start + shard_size]
        _write_one_tar(
            os.path.join(out_dir, f"shard-{n_shards:05d}.tar"), chunk
        )
        n_shards += 1
    return n_shards


def plan_reshard(members: DataFrame, budget_bytes: int) -> DataFrame:
    """Size-budgeted shard assignment (r9, VERDICT r8 item 8 — the
    WRITE side of WebDataset): samples in key order are binned by their
    EXCLUSIVE running payload total, ``new_shard = cum // budget``.

    This is deliberately NOT greedy-reset packing: binning on a global
    prefix sum needs ONE distributed two-phase cumsum
    (operators/windows.py global_prefix_sum — no single-partition
    window, no sequential state), which is the shape that survives
    100 TB. Contract: the budget is a watermark — a sample whose span
    crosses a bin boundary lands in the earlier bin, so a shard
    overshoots by at most one sample; a sample larger than the budget
    still gets a bin of its own.

    ``members`` rows follow MEMBER_SCHEMA; returns one row per sample:
    (key, n_members, sample_bytes, new_shard)."""
    from pyspark.sql import functions as F

    from shared_etl_pipelines_spark.operators.windows import (
        global_prefix_sum,
    )

    per_sample = members.groupBy("key").agg(
        F.count(F.lit(1)).cast("int").alias("n_members"),
        F.sum("n_bytes").cast("long").alias("sample_bytes"),
    )
    cum = global_prefix_sum(per_sample, ["key"], "sample_bytes")
    return cum.select(
        "key",
        "n_members",
        "sample_bytes",
        (F.col("cum") / budget_bytes).cast("long").alias("new_shard"),
    )


def reshard_webdataset(
    spark: SparkSession, in_root: str, out_root: str, budget_bytes: int
) -> DataFrame:
    """Distributed shard repack: read tar shards, re-bin samples under
    the byte budget (plan_reshard), and write one NEW tar per bin
    EXECUTOR-SIDE (applyInPandas per new_shard group, the shard being
    the parallelism unit on both ends). Bytes are identical to the
    driver-side writer (_write_one_tar is shared). Returns the written
    manifest: (new_shard, n_samples, n_members, payload_bytes, path).

    Local-filesystem writes; a production deployment pointing at object
    storage would stream each shard to its final URI the same way —
    one file per task, no cross-task coordination."""
    import pandas as pd
    from pyspark.sql import functions as F

    rows = read_webdataset(spark, in_root).filter(F.col("ext") != "_corrupt")
    plan = plan_reshard(rows, budget_bytes).select("key", "new_shard")
    assigned = rows.join(plan, "key")
    os.makedirs(out_root, exist_ok=True)

    def write_group(pdf: pd.DataFrame) -> pd.DataFrame:
        shard = int(pdf["new_shard"].iloc[0])
        samples: dict[str, dict[str, bytes]] = {}
        for key, ext, blob in zip(pdf["key"], pdf["ext"], pdf["blob"]):
            samples.setdefault(key, {})[ext] = bytes(blob)
        chunk = sorted(samples.items())
        path = os.path.join(out_root, f"shard-{shard:05d}.tar")
        _write_one_tar(path, chunk)
        return pd.DataFrame(
            {
                "new_shard": [shard],
                "n_samples": [len(chunk)],
                "n_members": [int(len(pdf))],
                "payload_bytes": [int(pdf["n_bytes"].sum())],
                "path": [path],
            }
        )

    return assigned.groupBy("new_shard").applyInPandas(
        write_group,
        "new_shard long, n_samples long, n_members long, "
        "payload_bytes long, path string",
    )


def ensure_demo_webdataset(sf_dir: str, shard_size: int = 64) -> str:
    """Write (idempotently) the WebDataset twin of ``documents``:
    sample key = 9-digit zero-padded doc_id; members ``.txt`` (the
    text), ``.cls`` (label = doc_id % 5), ``.json`` (tiny metadata
    record). doc_id % 43 == 0 samples MISS their ``.cls`` member — the
    incomplete-sample class a loader must tolerate. Returns the shard
    directory."""
    import json as _json

    import pyarrow.parquet as pq

    tbl = pq.read_table(
        os.path.join(sf_dir, "documents.parquet"), columns=["doc_id", "text"]
    )
    docs = sorted(
        zip(tbl.column("doc_id").to_pylist(), tbl.column("text").to_pylist())
    )
    digest = hashlib.md5(
        repr((len(docs), docs[:2], shard_size)).encode()
    ).hexdigest()[:12]
    root = os.path.join(
        tempfile.gettempdir(), "spark_graft_wds_demo_v2", f"docs-{digest}"
    )
    done = root + ".done"
    if os.path.exists(done):
        return root
    samples = []
    for doc_id, text in docs:
        d = int(doc_id)
        members = {
            "txt": str(text).encode("utf-8"),
            "json": _json.dumps(
                # BYTE length: the oracles model the member size as
                # 15 + digits(octet_length) — a char count diverges on
                # non-ASCII corpora (review r8 #9)
                {"id": d, "n": len(str(text).encode("utf-8"))},
                sort_keys=True,
            ).encode(),
        }
        if d % 43 != 0:
            members["cls"] = str(d % 5).encode()
        samples.append((f"{d:09d}", members))
    write_webdataset_shards(samples, root, shard_size=shard_size)
    with open(done, "w") as fh:
        fh.write("ok")
    return root


def read_webdataset(spark: SparkSession, path: str) -> DataFrame:
    """Distributed shard explode: binaryFile over ``*.tar`` -> one row
    per member (shard, shard_idx, key, ext, n_bytes, blob). Corrupt
    shards quarantine as a single ext='_corrupt' row rather than
    failing the scan."""
    from shared_etl_pipelines_spark.functions.rows import map_rows

    raw = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.tar")
        .load(path)
        .select("path", "content")
    )

    def explode(p, content):
        shard = os.path.basename(p)
        try:
            idx = int(shard.split("-")[1].split(".")[0])
        except (IndexError, ValueError):
            idx = -1
        try:
            with tarfile.open(
                fileobj=io.BytesIO(bytes(content))
            ) as t:
                members = [
                    (m, t.extractfile(m).read())
                    for m in t.getmembers()
                    if m.isfile()
                ]
        except Exception:
            yield shard, idx, "", "_corrupt", 0, b""
            return
        for m, payload in members:
            base = os.path.basename(m.name)
            # WebDataset convention: the key is everything up
            # to the FIRST dot; '42.gt.json' is sample '42',
            # modality 'gt.json' (review r8 #4)
            key, _, ext = base.partition(".")
            yield shard, idx, key, ext, len(payload), payload

    return map_rows(raw, explode, MEMBER_SCHEMA)


def write_zipdataset_shards(
    samples: list[tuple[str, dict[str, bytes]]],
    out_dir: str,
    shard_size: int = 64,
    force_zip64: bool = False,
) -> int:
    """ZIP twin of :func:`write_webdataset_shards` — the other shard
    container real corpora ship. Members are DEFLATE-compressed (so
    reads exercise decompression, not just the directory walk) with
    zeroed timestamps for byte-determinism. ``force_zip64`` writes
    every member through the ZIP64 local-header path (8-byte sizes in
    the extra field) — the structure >4 GiB shards carry at corpus
    scale, testable without 4 GiB fixtures (VERDICT r8 item 5).
    Returns the shard count."""
    import zipfile

    os.makedirs(out_dir, exist_ok=True)
    n_shards = 0
    for start in range(0, len(samples), shard_size):
        chunk = samples[start : start + shard_size]
        path = os.path.join(out_dir, f"shard-{n_shards:05d}.zip")
        tmp = path + f".{os.getpid()}.tmp"
        with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as z:
            for key, members in chunk:
                for ext in sorted(members):
                    info = zipfile.ZipInfo(
                        f"{key}.{ext}", date_time=(1980, 1, 1, 0, 0, 0)
                    )
                    info.compress_type = zipfile.ZIP_DEFLATED
                    if force_zip64:
                        with z.open(info, "w", force_zip64=True) as fh:
                            fh.write(members[ext])
                    else:
                        z.writestr(info, members[ext])
        os.replace(tmp, path)
        n_shards += 1
    return n_shards


def ensure_demo_zipdataset(sf_dir: str, shard_size: int = 64) -> str:
    """ZIP twin of :func:`ensure_demo_webdataset`: same keys, members
    ``.txt`` + ``.json`` only; doc_id % 37 == 0 samples carry an extra
    ``.meta`` member (the extra-modality class a loader must carry
    through, the dual of the tar corpus' missing-member class)."""
    import json as _json

    import pyarrow.parquet as pq

    tbl = pq.read_table(
        os.path.join(sf_dir, "documents.parquet"), columns=["doc_id", "text"]
    )
    docs = sorted(
        zip(tbl.column("doc_id").to_pylist(), tbl.column("text").to_pylist())
    )
    digest = hashlib.md5(
        repr((len(docs), docs[:2], shard_size)).encode()
    ).hexdigest()[:12]
    root = os.path.join(
        tempfile.gettempdir(), "spark_graft_zipds_demo_v2", f"docs-{digest}"
    )
    done = root + ".done"
    if os.path.exists(done):
        return root
    samples = []
    for doc_id, text in docs:
        d = int(doc_id)
        members = {
            "txt": str(text).encode("utf-8"),
            "json": _json.dumps(
                {"id": d, "n": len(str(text).encode("utf-8"))},
                sort_keys=True,
            ).encode(),
        }
        if d % 37 == 0:
            members["meta"] = f"extra-{d % 9}".encode()
        samples.append((f"{d:09d}", members))
    write_zipdataset_shards(samples, root, shard_size=shard_size)
    with open(done, "w") as fh:
        fh.write("ok")
    return root


def read_zipdataset(spark: SparkSession, path: str) -> DataFrame:
    """Distributed ZIP-shard explode — same row contract as
    :func:`read_webdataset` (MEMBER_SCHEMA), stdlib ``zipfile`` over
    in-memory bytes, DEFLATE decompression inside the executor.
    Corrupt archives quarantine as one ext='_corrupt' row."""
    import io
    import zipfile

    from shared_etl_pipelines_spark.functions.rows import map_rows

    raw = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.zip")
        .load(path)
        .select("path", "content")
    )

    def explode(p, content):
        shard = os.path.basename(p)
        try:
            idx = int(shard.split("-")[1].split(".")[0])
        except (IndexError, ValueError):
            idx = -1
        try:
            with zipfile.ZipFile(io.BytesIO(bytes(content))) as z:
                members = [
                    (n, z.read(n))
                    for n in z.namelist()
                    if not n.endswith("/")
                ]
        except Exception:
            yield shard, idx, "", "_corrupt", 0, b""
            return
        for name, payload in members:
            base = os.path.basename(name)
            key, _, ext = base.partition(".")  # first dot — see tar reader
            yield shard, idx, key, ext, len(payload), payload

    return map_rows(raw, explode, MEMBER_SCHEMA)
