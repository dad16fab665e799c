"""Exactly-once streaming sinks for non-transactional targets.

Structured Streaming's foreachBatch gives at-least-once delivery: after
a crash between "side effect done" and "checkpoint advanced", the next
run re-invokes the sink with the SAME batch_id and the same data. A
sink into a non-transactional target (a plain parquet directory, an
external store) must therefore make the (batch_id -> side effect) step
idempotent itself. This module packages the standard recipe — write
the batch under a batch-keyed directory, then atomically publish a
commit marker; redelivered batch_ids short-circuit on the marker; the
reader only trusts committed batches:

    batch=<id>/...parquet          the (possibly torn) payload
    _manifest/<id>.committed       atomic publish marker (tmp+replace)

Torn writes are invisible (no marker) and a redelivery simply
overwrites them before publishing — the streaming analog of the
reference's ``overwrite: false`` skip-if-exists contract (SURVEY.md
L7: a re-run must never duplicate or half-apply a unit of work).

At 100 TB this is the cheap end of the design space: one marker per
micro-batch (not per file), no global lock, and the manifest read is
O(#batches) driver-side metadata. The MOR warehouse
(sources/warehouse.py) is the heavyweight sibling with time travel;
this one is for append-only ingest sinks like the shard-ingest twins.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from shared_etl_pipelines_spark.engine import read_parquet


class TxnBatchSink:
    """Idempotent foreachBatch sink over a plain directory target.

    Use the instance as the foreachBatch callable::

        sink = TxnBatchSink(root)
        (df.writeStream.foreachBatch(sink)
           .option("checkpointLocation", ckpt)
           .trigger(availableNow=True).start())

    ``crash_on`` (tests only) injects a crash AFTER the payload write
    but BEFORE the commit marker — the torn-write window the manifest
    exists to cover.

    ``writer="own"`` (r12, VERDICT r11 task #8) emits the payload
    through the repo's OWN parquet writer (sources/parquet_write.py —
    Thrift-encoded footers, PLAIN pages, own snappy) instead of
    Spark's, one shard per partition written executor-side; the writer
    then sees real query-output shapes (nulls, repeated strings, empty
    partitions), and both pyarrow and DuckDB re-read the shards in
    tests. Column types outside int64/double/utf8/boolean (after the
    int->long / float->double widenings) refuse loudly.
    """

    _OWN_KINDS = {
        "bigint": "int64", "int": "int64", "smallint": "int64",
        "tinyint": "int64", "double": "double", "float": "double",
        "string": "utf8", "boolean": "boolean",
        # r13: embedding-shaped columns via the writer's 3-level LIST
        # encoding (null lists ok; null ELEMENTS refuse in the writer)
        "array<bigint>": "list<int64>", "array<double>": "list<double>",
    }

    def __init__(
        self,
        root: str,
        crash_on: set[int] | None = None,
        writer: str = "spark",
    ) -> None:
        if writer not in ("spark", "own"):
            raise ValueError(f"TxnBatchSink: unknown writer {writer!r}")
        self.root = root
        self.manifest_dir = os.path.join(root, "_manifest")
        self.crash_on = set(crash_on or ())
        self.writer = writer
        self.invocations: list[int] = []  # driver-side; test observability

    def _marker(self, batch_id: int) -> str:
        return os.path.join(self.manifest_dir, f"{int(batch_id)}.committed")

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        self.invocations.append(int(batch_id))
        marker = self._marker(batch_id)
        if os.path.exists(marker):
            return  # redelivered after a successful commit: no-op
        bdir = os.path.join(self.root, f"batch={int(batch_id)}")
        # mode=overwrite: a torn payload from a crashed attempt is
        # replaced wholesale before it ever becomes visible
        if self.writer == "own":
            self._write_own(batch_df, bdir)
        else:
            batch_df.write.mode("overwrite").parquet(bdir)
        if int(batch_id) in self.crash_on:
            self.crash_on.discard(int(batch_id))  # crash once, then heal
            raise RuntimeError(
                f"injected crash after payload, before commit (batch {batch_id})"
            )
        os.makedirs(self.manifest_dir, exist_ok=True)
        tmp = marker + ".tmp"
        with open(tmp, "w") as fh:
            fh.write("committed\n")
        os.replace(tmp, marker)  # atomic publish

    def _write_own(self, batch_df: DataFrame, bdir: str) -> None:
        """One shard per partition through sources/parquet_write.py,
        written executor-side (tmp + os.replace per shard); the
        directory is cleared first so a torn prior attempt is replaced
        wholesale, matching mode=overwrite."""
        import shutil
        from collections.abc import Iterator

        names = [f.name for f in batch_df.schema.fields]
        kinds = []
        for f in batch_df.schema.fields:
            t = f.dataType.simpleString()
            if t not in self._OWN_KINDS:
                raise ValueError(
                    f"TxnBatchSink(own): column {f.name!r} type {t} has no "
                    "own-writer mapping — quarantine"
                )
            kinds.append(self._OWN_KINDS[t])
        if os.path.isdir(bdir):
            shutil.rmtree(bdir)
        os.makedirs(bdir, exist_ok=True)

        def write_shards(it: "Iterator") -> "Iterator":
            # mapInArrow, not mapInPandas (ADVICE r12): the pandas
            # conversion coerces a NULLABLE bigint to float64, which
            # silently rounds magnitudes above 2^53; Arrow batches keep
            # int64 + validity exact
            import math

            import pyarrow as _pa
            from pyspark import TaskContext

            from shared_etl_pipelines_spark.sources.parquet_write import (
                write_parquet,
            )

            pid = TaskContext.get().partitionId()
            cols: list[list] = [[] for _ in names]
            for rb in it:
                for i, name in enumerate(names):
                    vals = rb.column(
                        rb.schema.get_field_index(name)
                    ).to_pylist()
                    if kinds[i] == "double":
                        # a true NaN DOUBLE lands as null — the collapse
                        # the sink has always documented (SQL NULL and
                        # NaN unify at the sink boundary)
                        vals = [
                            None if v is None or math.isnan(v) else float(v)
                            for v in vals
                        ]
                    cols[i].extend(vals)
            # dictionary pages engage per chunk when they shrink it —
            # repeated-string query output is the common sink shape
            blob = write_parquet(
                [(n, k, c) for n, k, c in zip(names, kinds, cols)],
                use_dictionary=True,
            )
            path = os.path.join(bdir, f"part-{pid:05d}.parquet")
            tmp = f"{path}.tmp.{os.getpid()}"
            with open(tmp, "wb") as fh:
                fh.write(blob)
            os.replace(tmp, path)
            yield _pa.RecordBatch.from_pydict(
                {"path": [path], "n_rows": [len(cols[0])]}
            )

        # one tiny row per partition: bounded driver traffic
        batch_df.mapInArrow(write_shards, "path string, n_rows long").collect()

    def committed_batches(self) -> list[int]:
        if not os.path.isdir(self.manifest_dir):
            return []
        return sorted(
            int(f.split(".")[0])
            for f in os.listdir(self.manifest_dir)
            if f.endswith(".committed")
        )

    def read_committed(self, spark: SparkSession) -> DataFrame:
        """Union of committed batches only — torn payloads stay dark."""
        dirs = [
            os.path.join(self.root, f"batch={b}")
            for b in self.committed_batches()
        ]
        if not dirs:
            raise ValueError(f"no committed batches under {self.root}")
        return read_parquet(spark, *dirs)
