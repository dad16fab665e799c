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

    Each payload is written by Spark's parquet writer in overwrite
    mode. ``crash_on`` (tests only) injects a crash AFTER the payload
    write but BEFORE the commit marker — the torn-write window the
    manifest exists to cover.
    """

    def __init__(self, root: str, crash_on: set[int] | None = None) -> None:
        self.root = root
        self.manifest_dir = os.path.join(root, "_manifest")
        self.crash_on = set(crash_on or ())
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
