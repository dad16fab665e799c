"""Streaming-mode registry queries — now with REAL batch-replay oracles.

These run actual Structured Streaming jobs (availableNow trigger, memory
sink) over the sf_dir events table treated as a drop-directory file
source — the reference's incremental daily cadence (SURVEY.md §7.6).

Why these CAN carry oracle SQL (they were rows-only until round 4): on a
finite source drained by ``availableNow``, the whole pipeline is
deterministic and its emission rule is closed-form. The file source
delivers one micro-batch; after it, the watermark advances to
``max(event_time) - delay`` and the no-data batch (on by default) flushes
every window whose end is ≤ that watermark. So the append-mode output is
exactly

    batch_aggregate(events) WHERE window_end <= max(ts) - delay

which is plain ANSI SQL. Stream-stream inner joins emit every match (the
watermark only bounds state, it never filters matches on a single
batch), stream-static joins are stateless per batch, and
dropDuplicatesWithinWatermark over one batch keeps exactly one row per
key — all replayable. Only the custom raster source stays rows-only
(its fixture corpus is not a DuckDB-registered table).

Emission boundary fine print: Spark tracks event time in MILLISECONDS,
so the watermark is ``truncate_ms(max ts) - delay``; the oracles
replicate the truncation where sub-second window ends exist (sessions).
Equality at the boundary would need a window end to land on the exact
watermark instant — measure-zero for the randomized fixtures, and the
``<=``/``<`` choice is pinned by the oracle gate every round.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession

from shared_etl_pipelines_spark.engine import parquet_schema, read_parquet
from shared_etl_pipelines_spark.queries import defquery
from shared_etl_pipelines_spark.streaming import running_totals, tumbling_agg


def _events_stream(spark: SparkSession, sf_dir: str):
    from pyspark.sql import functions as F

    path = os.path.join(sf_dir, "events.parquet")
    # same nanos-timestamp and canonical-UTC handling as
    # sources.tables.load_table: read the nanos column as long, rebuild
    # microsecond timestamps, and pin the session zone so event-time
    # windows are stable whatever zone the caller session started in
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    schema = parquet_schema(spark, path)
    # the file source wants a directory: stream the sf_dir filtered down
    # to the events file
    df = (
        spark.readStream.format("parquet")
        .schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .load(sf_dir)
    )
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        df = df.withColumn("ts", F.timestamp_micros((F.col("ts") / 1000).cast("long")))
    elif ts_type == "timestamp_ntz":
        # parquet timestamp[us] no-tz reads as TIMESTAMP_NTZ; watermarks require
        # TimestampType — lossless cast with the session zone pinned UTC above
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def _run(df: DataFrame, mode: str) -> DataFrame:
    # Streaming state operators take their partition count from
    # spark.sql.shuffle.partitions AT QUERY START (then it's checkpoint-
    # pinned). Under the driver's unknown session config (e.g. the 200
    # default) that is pure task-scheduling overhead at gate scale
    # (stream_interval_join: 30 s at 200 partitions vs 3 s at 8), so pin
    # a small count for the drain and restore the caller's setting
    # after. The underlying operators (streaming/windows.py) remain
    # config-agnostic — a production job sizes this to its key space.
    spark = df.sparkSession
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "8")
    try:
        name = f"q_{uuid.uuid4().hex[:12]}"
        q = (
            df.writeStream.format("memory")
            .queryName(name)
            .outputMode(mode)
            .trigger(availableNow=True)
            .start()
        )
        # On timeout the still-running query would leave a partially
        # drained memory table AND stay in spark.streams.active, tripping
        # the sweep_persistent_rdds guard for every later query — stop it
        # and fail loudly instead (ADVICE r4 #2).
        if not q.awaitTermination(300):
            q.stop()
            raise TimeoutError(
                f"streaming drain {name} did not finish within 300s"
            )
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    return spark.table(name)


# watermark-closed emission filter shared by the day-window oracles:
# append mode flushes windows whose end is at or below max(ts) - 1 day
_EMIT_DAY = (
    "CAST(window_day AS TIMESTAMP) + INTERVAL 1 DAY"
    " <= (SELECT MAX(ts) FROM events) - INTERVAL 1 DAY"
)


@defquery(
    "stream_tumbling_daily",
    f"""
    WITH agg AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS window_day, event_type,
             CAST(COUNT(*) AS BIGINT) AS n, ROUND(SUM(value), 4) AS total
      FROM events GROUP BY 1, 2
    )
    SELECT strftime(window_day, '%Y-%m-%d') AS window_day, event_type, n, total
    FROM agg WHERE {_EMIT_DAY}
    """,
    doc="streaming tumbling 1-day window counts/sums per event_type; "
    "oracle replays the availableNow emission (windows closed by the "
    "final watermark = max ts - 1 day)",
    tags=("streaming", "window"),
)
def q_stream_tumbling_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    agg = tumbling_agg(
        _events_stream(spark, sf_dir),
        "ts",
        "1 day",
        ["event_type"],
        {"n": "count(1)", "total": "sum(value)"},
    )
    out = _run(agg, "append")
    return out.select(
        F.date_format("window_start", "yyyy-MM-dd").alias("window_day"),
        "event_type",
        F.col("n").cast("long").alias("n"),
        F.round("total", 4).alias("total"),
    )


@defquery(
    "stream_running_totals",
    """
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(value), 4) AS total_value
    FROM events GROUP BY user_id
    """,
    doc="streaming per-user cumulative totals via applyInPandasWithState; "
    "the availableNow drain delivers one micro-batch, so update mode "
    "emits each key's final cumulative row — the plain GROUP BY",
    tags=("streaming", "stateful"),
)
def q_stream_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    out = _run(running_totals(_events_stream(spark, sf_dir)), "update")
    return out.select(
        "user_id",
        F.col("n_events").cast("long").alias("n_events"),
        F.round("total_value", 4).alias("total_value"),
    )


@defquery(
    "stream_sliding_3d",
    """
    WITH w AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) - CAST(k AS INT) AS window_day,
             event_type, value
      FROM events, (SELECT UNNEST(range(3)) AS k)
    ),
    agg AS (
      SELECT window_day, event_type, CAST(COUNT(*) AS BIGINT) AS n,
             ROUND(SUM(value), 4) AS total
      FROM w GROUP BY 1, 2
    )
    SELECT strftime(window_day, '%Y-%m-%d') AS window_day, event_type, n, total
    FROM agg
    WHERE CAST(window_day AS TIMESTAMP) + INTERVAL 3 DAY
          <= (SELECT MAX(ts) FROM events) - INTERVAL 1 DAY
    """,
    doc="streaming sliding 3-day/1-day window — G2's trailing rolling "
    "sum; oracle fans each event into its 3 covering windows and applies "
    "the watermark-closed emission filter",
    tags=("streaming", "window", "G2"),
)
def q_stream_sliding_3d(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from shared_etl_pipelines_spark.streaming import sliding_agg

    agg = sliding_agg(
        _events_stream(spark, sf_dir),
        "ts",
        "3 days",
        "1 day",
        ["event_type"],
        {"n": "count(1)", "total": "sum(value)"},
    )
    out = _run(agg, "append")
    return out.select(
        F.date_format("window_start", "yyyy-MM-dd").alias("window_day"),
        "event_type",
        F.col("n").cast("long").alias("n"),
        F.round("total", 4).alias("total"),
    )


@defquery(
    "stream_session_windows",
    """
    WITH s AS (
      SELECT user_id, ts, value,
             CASE WHEN LAG(ts) OVER w IS NULL
                  OR ts - LAG(ts) OVER w >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    g AS (
      SELECT user_id, ts, value,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM s
    ),
    agg AS (
      SELECT user_id, MIN(ts) AS session_start,
             MAX(ts) + INTERVAL 30 MINUTE AS session_end,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             ROUND(SUM(value), 4) AS total_value
      FROM g GROUP BY user_id, sid
    )
    SELECT user_id,
           CAST(epoch_us(session_start) AS BIGINT) AS session_start_us,
           CAST(epoch_us(session_end) AS BIGINT) AS session_end_us,
           n_events, total_value
    FROM agg
    WHERE session_end <= date_trunc('milliseconds', (SELECT MAX(ts) FROM events))
                         - INTERVAL 1 DAY
    """,
    doc="streaming session windows (30 min gap) per user; oracle is the "
    "classic lag/cumsum sessionization with session_end = last event + "
    "gap and the ms-truncated watermark emission filter",
    tags=("streaming", "session"),
)
def q_stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from shared_etl_pipelines_spark.streaming import session_agg

    agg = session_agg(
        _events_stream(spark, sf_dir),
        "ts",
        "30 minutes",
        ["user_id"],
        {"n_events": "count(1)", "total_value": "sum(value)"},
    )
    out = _run(agg, "append")
    return out.select(
        "user_id",
        F.unix_micros("session_start").alias("session_start_us"),
        F.unix_micros("session_end").alias("session_end_us"),
        F.col("n_events").cast("long").alias("n_events"),
        F.round("total_value", 4).alias("total_value"),
    )


@defquery(
    "stream_dedup_hashes",
    """
    SELECT DISTINCT md5(concat_ws('|', user_id, event_type,
                                  CAST(ROUND(value * 100) AS BIGINT)))
             AS content_hash
    FROM events
    """,
    doc="streaming exact dedup: first arrival per content hash, state "
    "expired by watermark (dropDuplicatesWithinWatermark); a single "
    "availableNow batch keeps exactly one row per hash, so the kept set "
    "is the distinct hash set. The value enters the hash as INTEGER "
    "CENTS (the repo's money convention) — raw double-to-string "
    "rendering diverges between engines outside ~[1e-3, 1e7) (Java "
    "scientific notation vs positional), so it must never feed a "
    "cross-engine hash",
    tags=("streaming", "dedup"),
)
def q_stream_dedup_hashes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from shared_etl_pipelines_spark.streaming import dedup_stream

    ev = _events_stream(spark, sf_dir).withColumn(
        "value_cents", F.round(F.col("value") * 100).cast("long")
    )
    deduped = dedup_stream(
        ev,
        ["user_id", "event_type", "value_cents"],
        ts_col="ts",
        delay="2 days",
    )
    kept = _run(deduped, "append")
    # project the deterministic part: the distinct content-hash set (which
    # row of a duplicate group arrives first varies with task order)
    return kept.select("content_hash").distinct()


@defquery(
    "stream_static_enrichment",
    f"""
    WITH e AS (
      SELECT CAST(date_trunc('day', ev.ts) AS DATE) AS window_day,
             COALESCE(c.c_mktsegment, '<unknown>') AS segment, ev.value
      FROM events ev LEFT JOIN customer c ON ev.user_id = c.c_custkey
    ),
    agg AS (
      SELECT window_day, segment, CAST(COUNT(*) AS BIGINT) AS n,
             ROUND(SUM(value), 4) AS total
      FROM e GROUP BY 1, 2
    )
    SELECT strftime(window_day, '%Y-%m-%d') AS window_day, segment, n, total
    FROM agg WHERE {_EMIT_DAY}
    """,
    doc="stream-static join: streaming events enriched against the static "
    "customer dimension (broadcast per micro-batch), then tumbling daily "
    "counts per market segment; oracle = batch join + windowed aggregate "
    "+ watermark emission filter",
    tags=("streaming", "join", "enrichment"),
)
def q_stream_static_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static equi-join: the canonical streaming enrichment shape.

    The static side is a batch DataFrame re-resolved every micro-batch
    (picks up dimension updates between batches); Spark plans it as a
    broadcast against each micro-batch, so no streaming state is kept for
    the join itself — only the downstream windowed aggregate holds state.
    """
    from pyspark.sql import functions as F

    from shared_etl_pipelines_spark.sources.tables import load_table
    from shared_etl_pipelines_spark.streaming import tumbling_agg

    ev = _events_stream(spark, sf_dir)
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    enriched = ev.join(F.broadcast(dim), "user_id", "left").withColumn(
        "segment", F.coalesce("c_mktsegment", F.lit("<unknown>"))
    )
    agg = tumbling_agg(
        enriched,
        "ts",
        "1 day",
        ["segment"],
        {"n": "count(1)", "total": "sum(value)"},
    )
    out = _run(agg, "append")
    return out.select(
        F.date_format("window_start", "yyyy-MM-dd").alias("window_day"),
        "segment",
        F.col("n").cast("long").alias("n"),
        F.round("total", 4).alias("total"),
    )


@defquery(
    "stream_interval_join",
    """
    WITH c AS (SELECT user_id, event_id, ts FROM events
               WHERE event_type = 'click'),
    p AS (SELECT user_id, event_id, ts FROM events
          WHERE event_type = 'purchase')
    SELECT c.user_id AS l_key, CAST(c.event_id AS BIGINT) AS l_event,
           CAST(p.event_id AS BIGINT) AS r_event
    FROM c JOIN p ON c.user_id = p.user_id
                 AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
    """,
    doc="stream-stream interval join: clicks -> purchases by the same user "
    "within 1 hour (both sides watermarked; state evicted by time range); "
    "a single-batch drain emits every match, so the oracle is the plain "
    "theta join",
    tags=("streaming", "join"),
)
def q_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from shared_etl_pipelines_spark.streaming import interval_join_stream

    ev = _events_stream(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click")
    purchases = ev.filter(F.col("event_type") == "purchase")
    joined = interval_join_stream(
        clicks, purchases, key="user_id", within="1 hour", delay="2 days"
    )
    out = _run(joined, "append")
    return out.select("l_key", "l_event", "r_event")


# ---------------------------------------------------------------------------
# LEFT-OUTER stream-stream interval join: matches emit like the inner
# form, and an unmatched click emits a NULL-padded row only once the
# watermark PROVES no future purchase can pair with it (that proof is
# what makes outer stream-stream joins legal at all). On the finite
# availableNow drain: the data batch emits every match at watermark 0,
# then the no-data batch advances the GLOBAL watermark to
# min(ms-truncated max event time per side) - delay and flushes exactly
# the unmatched clicks whose join window [ts, ts+1h] has fallen below
# it. The oracle replays both pieces: the theta join UNION the
# NOT-EXISTS clicks under the watermark cutoff.
# ---------------------------------------------------------------------------
@defquery(
    "stream_interval_join_outer",
    """
    WITH c AS (SELECT user_id, event_id, ts FROM events
               WHERE event_type = 'click'),
    p AS (SELECT user_id, event_id, ts FROM events
          WHERE event_type = 'purchase'),
    wm AS (
      SELECT LEAST(date_trunc('milliseconds', (SELECT MAX(ts) FROM c)),
                   date_trunc('milliseconds', (SELECT MAX(ts) FROM p)))
             - INTERVAL 2 DAY AS w
    )
    SELECT c.user_id AS l_key, CAST(c.event_id AS BIGINT) AS l_event,
           CAST(p.event_id AS BIGINT) AS r_event
    FROM c JOIN p ON c.user_id = p.user_id
                 AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
    UNION ALL
    SELECT c.user_id, CAST(c.event_id AS BIGINT), CAST(NULL AS BIGINT)
    FROM c CROSS JOIN wm
    WHERE c.ts + INTERVAL 1 HOUR < wm.w
      AND NOT EXISTS (
        SELECT 1 FROM p WHERE p.user_id = c.user_id
          AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
      )
    """,
    doc="LEFT-OUTER stream-stream interval join: every click-purchase "
    "match plus NULL-padded rows for clicks whose 1-hour join window "
    "fell below the final min-of-sides watermark — the delayed "
    "unmatched-emission rule replayed exactly by the oracle",
    tags=("streaming", "join", "outer"),
)
def q_stream_interval_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from shared_etl_pipelines_spark.streaming import interval_join_stream

    ev = _events_stream(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click")
    purchases = ev.filter(F.col("event_type") == "purchase")
    joined = interval_join_stream(
        clicks,
        purchases,
        key="user_id",
        within="1 hour",
        delay="2 days",
        how="left_outer",
    )
    out = _run(joined, "append")
    return out.select("l_key", "l_event", "r_event")


def _raster_daily_sql() -> str:
    # The demo corpus is CLOSED-FORM (sources/raster.py demo_raster_values:
    # (d*7919 + y*31 + x*17) % 1000 over a SIZE x SIZE grid, nodata
    # dropped), so the oracle regenerates the expected aggregates from
    # generators — no raster table needed. Values are small integers, so
    # the double SUM is exact regardless of summation order. Constants are
    # imported from the module, not copied, so a fixture change breaks the
    # gate loudly instead of silently diverging.
    from shared_etl_pipelines_spark.sources.raster import (
        DEMO_DAYS,
        DEMO_NODATA,
        DEMO_SIZE,
        DEMO_START,
    )

    return f"""
    WITH g AS (
      SELECT CAST(d AS INT) AS d,
             CAST((d * 7919 + y * 31 + x * 17) % 1000 AS DOUBLE) AS v
      FROM range({DEMO_DAYS}) t(d), range({DEMO_SIZE}) ty(y),
           range({DEMO_SIZE}) tx(x)
    )
    SELECT strftime(DATE '{DEMO_START.isoformat()}' + d, '%Y-%m-%d') AS day,
           CAST(COUNT(*) AS BIGINT) AS n_px,
           SUM(v) AS sum_value, MIN(v) AS min_value, MAX(v) AS max_value
    FROM g WHERE v <> {DEMO_NODATA}
    GROUP BY d
    """


@defquery(
    "stream_raster_daily",
    _raster_daily_sql(),
    doc="GeoTIFF drop-directory streaming source (geotiff_stream): decode "
    "each day's raster as it arrives, daily per-file pixel aggregates; "
    "oracle regenerates the closed-form demo corpus from SQL generators "
    "(upgraded from rows-only in r4 — the whole TIFF encode -> stream -> "
    "decode -> aggregate path is now hash-checked)",
    tags=("streaming", "raster", "source"),
)
def q_stream_raster_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's daily raster cadence as Structured Streaming: the
    fixture corpus stands in for the drop directory; availableNow drains
    it exactly once and aggregates per day."""
    from pyspark.sql import functions as F

    from shared_etl_pipelines_spark.sources.raster import ensure_demo_rasters
    from shared_etl_pipelines_spark.sources.raster_stream import (
        GeoTiffStreamDataSource,
    )

    spark.dataSource.register(GeoTiffStreamDataSource)
    drop_dir = ensure_demo_rasters()
    px = spark.readStream.format("geotiff_stream").option("path", drop_dir).load()
    agg = px.groupBy("day").agg(
        F.count(F.lit(1)).alias("n_px"),
        F.sum("value").alias("sum_value"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    )
    return _run(agg, "complete").orderBy("day")


def _documents_stream(spark: SparkSession, sf_dir: str):
    path = os.path.join(sf_dir, "documents.parquet")
    schema = parquet_schema(spark, path)
    return (
        spark.readStream.format("parquet")
        .schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .load(sf_dir)
    )


@defquery(
    "stream_new_doc_dedup",
    """
    SELECT doc_id, source FROM documents
    WHERE md5(text) NOT IN (SELECT md5(text) FROM documents
                            WHERE doc_id % 10 = 0)
    """,
    doc="streaming ingestion dedup: arriving documents anti-joined "
    "against the static corpus' content hashes (the streaming twin of "
    "incremental_dedup) — only never-seen documents pass through; the "
    "anti-join is stateless per batch, so the oracle is the batch "
    "anti-join",
    tags=("streaming", "dedup", "llm"),
)
def q_stream_new_doc_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static LEFT ANTI join: the arrival-time form of
    operators/dedup.py incremental_dedup. The static side (the already-
    ingested corpus, here docs with doc_id % 10 == 0) is re-resolved per
    micro-batch and broadcast; no streaming state is kept — the hash
    membership check is stateless per batch, which is what makes this
    shape safe at any stream length."""
    from pyspark.sql import functions as F

    stream = _documents_stream(spark, sf_dir)
    corpus = (
        read_parquet(spark, os.path.join(sf_dir, "documents.parquet"))
        .filter(F.col("doc_id") % 10 == 0)
        .select(F.md5("text").alias("content_hash"))
        .distinct()
    )
    novel = stream.withColumn("content_hash", F.md5("text")).join(
        corpus, "content_hash", "left_anti"
    )
    out = _run(novel.select("doc_id", "source"), "append")
    return out


# ---------------------------------------------------------------------------
# Streaming CDC ingestion into a merge-on-read table — the Delta
# streaming-merge pattern: a change feed (drop-directory of change-
# batch files, one micro-batch per file via maxFilesPerTrigger=1,
# oldest-mtime first) drains through foreachBatch, and each micro-batch
# applies its upserts + deletes to the versioned table with
# mor_apply_changes (O(|batch|) appends, never a base rewrite). The
# final folded state must be IDENTICAL to applying the same batches in
# batch mode — the mor_orders_state oracle — and the emitted max_seq
# pins that the feed really arrived as two ordered micro-batches (the
# delete-then-reinsert sequencing is what a coalesced single batch
# could fake; the seq counter cannot). Fresh scratch table per run (the
# stream actually drains every invocation); the tiny aggregate is
# collected so the scratch can be reclaimed immediately.
# ---------------------------------------------------------------------------
@defquery(
    "stream_mor_cdc_apply",
    """
    WITH final AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 26 = 0 THEN '5-LOW'
                  WHEN o_orderkey % 17 = 0 THEN '1-URGENT'
                  ELSE o_orderpriority END AS o_orderpriority,
             CASE WHEN o_orderkey % 26 = 0 THEN 123450
                  WHEN o_orderkey % 17 = 0
                       THEN CAST(ROUND(o_totalprice * 100) AS BIGINT) + 100000
                  ELSE CAST(ROUND(o_totalprice * 100) AS BIGINT) END AS cents
      FROM orders
      WHERE o_orderkey % 26 = 0 OR o_orderkey % 17 = 0 OR o_orderkey % 13 <> 0
    )
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(SUM(cents) / 100.0, 4) AS total_price,
           CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
           CAST(MAX(o_orderkey) AS BIGINT) AS max_key,
           CAST(2 AS BIGINT) AS max_seq
    FROM final GROUP BY o_orderpriority
    """,
    doc="streaming CDC feed (one micro-batch per change file) applied "
    "through foreachBatch into a merge-on-read table: the folded final "
    "state equals batch-mode application exactly, and max_seq = 2 "
    "proves the feed arrived as two ordered micro-batches",
    tags=("streaming", "warehouse", "cdc", "merge", "scale-path"),
)
def q_stream_mor_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    import glob
    import shutil
    import tempfile
    import time

    from pyspark.sql import functions as F

    from shared_etl_pipelines_spark.sources.tables import load_table
    from shared_etl_pipelines_spark.sources.warehouse import (
        mor_apply_changes,
        mor_read,
        mor_write_base,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    root = tempfile.mkdtemp(prefix="spark_graft_mor_stream_")
    try:
        table = os.path.join(root, "table")
        drop = os.path.join(root, "drop")
        os.makedirs(drop)
        mor_write_base(orders, table)
        k = F.col("o_orderkey")
        batches = [
            orders.filter((k % 17 == 0) | (k % 13 == 0)).select(
                "o_orderkey",
                F.lit("1-URGENT").alias("o_orderpriority"),
                (F.col("o_totalprice") + 1000.0).alias("o_totalprice"),
                F.when(k % 17 == 0, F.lit("upsert"))
                .otherwise(F.lit("delete"))
                .alias("op"),
            ),
            orders.filter(k % 26 == 0).select(
                "o_orderkey",
                F.lit("5-LOW").alias("o_orderpriority"),
                F.lit(1234.5).alias("o_totalprice"),
                F.lit("upsert").alias("op"),
            ),
        ]
        # batch 1 must ALSO tombstone its upsert keys' old versions and
        # keep same-batch delete+upsert resolution — mor_apply_changes
        # does both; here a key that is %13 AND %17 (=%221) ships as an
        # upsert row, matching the batch-mode fixture exactly
        now = time.time()
        for i, b in enumerate(batches):
            stage = os.path.join(root, f"stage{i}")
            b.coalesce(1).write.parquet(stage)
            (part,) = glob.glob(os.path.join(stage, "part-*.parquet"))
            dst = os.path.join(drop, f"b{i:03d}.parquet")
            shutil.move(part, dst)
            shutil.rmtree(stage)
            os.utime(dst, (now + 10 * i, now + 10 * i))  # oldest-first order

        schema = parquet_schema(spark, os.path.join(drop, "b000.parquet"))

        def apply_batch(bdf: DataFrame, _bid: int) -> None:
            # robust to micro-batch coalescing: apply per source batch
            # file in op-preserving order (one distinct per micro-batch
            # at feed scale)
            bdf = bdf.withColumn("_src", F.input_file_name())
            for (src,) in sorted(bdf.select("_src").distinct().collect()):
                one = bdf.filter(F.col("_src") == src)
                mor_apply_changes(
                    spark,
                    table,
                    ["o_orderkey"],
                    upserts=one.filter(F.col("op") == "upsert").select(
                        "o_orderkey", "o_orderpriority", "o_totalprice"
                    ),
                    delete_keys=one.filter(F.col("op") == "delete").select(
                        "o_orderkey"
                    ),
                )

        feed = (
            spark.readStream.format("parquet")
            .schema(schema)
            .option("maxFilesPerTrigger", 1)
            .load(drop)
        )
        key = "spark.sql.shuffle.partitions"
        prev = spark.conf.get(key, None)
        spark.conf.set(key, "8")
        try:
            q = (
                feed.writeStream.foreachBatch(apply_batch)
                .option("checkpointLocation", os.path.join(root, "ckpt"))
                .trigger(availableNow=True)
                .start()
            )
            if not q.awaitTermination(300):
                q.stop()
                raise TimeoutError("stream_mor_cdc_apply drain exceeded 300s")
        finally:
            if prev is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, prev)

        max_seq = (
            read_parquet(spark, os.path.join(table, "_deletes"))
            .agg(F.max("_seq"))
            .collect()[0][0]
        )
        state = mor_read(spark, table, ["o_orderkey"])
        cents = F.round(F.col("o_totalprice") * 100).cast("long")
        out = state.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.round(F.sum(cents) / 100.0, 4).alias("total_price"),
            F.min("o_orderkey").cast("long").alias("min_key"),
            F.max("o_orderkey").cast("long").alias("max_key"),
        ).withColumn("max_seq", F.lit(int(max_seq)).cast("long"))
        rows = out.collect()  # tiny (priority groups) — lets scratch go
        return spark.createDataFrame(rows, out.schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)


# ---------------------------------------------------------------------------
# Arbitrary-state streaming (applyInPandasWithState — the custom-state
# API that runs on the default state store, next to the RocksDB-gated
# transformWithState welford_stats): per-user spend alarms where an
# event fires when its amount exceeds twice the running mean of all
# PRIOR events. The feed arrives as TWO time-ordered files (one
# micro-batch each via maxFilesPerTrigger), so every user's state must
# survive the batch boundary — a state reset would misnumber n_prior
# for every second-file event, which the cumulative-window oracle would
# catch row-by-row. The alarm rule is kept in cross-multiplied integer
# form (cents * n_prior > 2 * sum_prior), so both engines compare exact
# BIGINTs — no float anywhere.
# ---------------------------------------------------------------------------
@defquery(
    "stream_custom_state_alarms",
    """
    WITH s AS (
      SELECT user_id, event_id,
             CAST(ROUND(value * 100) AS BIGINT) AS cents,
             ROW_NUMBER() OVER w - 1 AS n_prior,
             COALESCE(SUM(CAST(ROUND(value * 100) AS BIGINT)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS s_prior
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id, event_id, CAST(n_prior AS BIGINT) AS n_prior, cents
    FROM s WHERE n_prior >= 3 AND cents * n_prior > 2 * s_prior
    """,
    doc="custom-state streaming (applyInPandasWithState): per-user "
    "running-mean spend alarms over a two-micro-batch ordered feed; "
    "exact integer state (n, sum_cents) carried across the batch "
    "boundary, pinned row-by-row by the cumulative-window oracle",
    tags=("streaming", "stateful", "scale-path"),
)
def q_stream_custom_state_alarms(spark: SparkSession, sf_dir: str) -> DataFrame:
    import glob
    import shutil
    import tempfile
    import time

    from pyspark.sql import functions as F

    from shared_etl_pipelines_spark.sources.tables import load_table
    from shared_etl_pipelines_spark.streaming.windows import spend_alarms

    events = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "value"
    )
    split = events.agg(
        F.min("ts") + F.expr("INTERVAL 15 DAYS")
    ).collect()[0][0]
    root = tempfile.mkdtemp(prefix="spark_graft_alarm_stream_")
    try:
        drop = os.path.join(root, "drop")
        os.makedirs(drop)
        halves = [
            events.filter(F.col("ts") < F.lit(split)),
            events.filter(F.col("ts") >= F.lit(split)),
        ]
        now = time.time()
        for i, h in enumerate(halves):
            stage = os.path.join(root, f"stage{i}")
            h.coalesce(1).write.parquet(stage)
            (part,) = glob.glob(os.path.join(stage, "part-*.parquet"))
            dst = os.path.join(drop, f"b{i:03d}.parquet")
            shutil.move(part, dst)
            shutil.rmtree(stage)
            os.utime(dst, (now + 10 * i, now + 10 * i))  # oldest-first order

        schema = parquet_schema(spark, os.path.join(drop, "b000.parquet"))
        feed = (
            spark.readStream.format("parquet")
            .schema(schema)
            .option("maxFilesPerTrigger", 1)
            .load(drop)
        )
        feed = feed.select(
            "user_id",
            "event_id",
            "ts",
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
        out = _run(spend_alarms(feed), "append")
        rows = out.collect()  # bounded (alarm rows) — lets scratch go
        return spark.createDataFrame(rows, out.schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)


# ---------------------------------------------------------------------------
# Streaming WebDataset shard ingestion (r8): new tar shards dropped
# into a corpus directory stream through the same member-explode as
# the batch reader (binaryFile streaming source + mapInPandas — a
# STATELESS 1->N flatMap, so append mode needs no watermark and the
# oracle is the closed-form member census). This is the arrival-time
# form every training-corpus ingest actually runs: each shard is one
# unit of work, exactly-once by the file source's filename tracking.
# ---------------------------------------------------------------------------
@defquery(
    "stream_webdataset_ingest",
    """
    WITH a AS (SELECT doc_id, octet_length(encode(text)) AS nb FROM documents)
    SELECT doc_id, 'txt' AS ext, CAST(nb AS BIGINT) AS n_bytes FROM a
    UNION ALL
    SELECT doc_id, 'json',
           CAST(15 + length(CAST(doc_id AS VARCHAR))
                   + length(CAST(nb AS VARCHAR)) AS BIGINT)
    FROM a
    UNION ALL
    SELECT doc_id, 'cls', CAST(1 AS BIGINT) FROM a WHERE doc_id % 43 <> 0
    """,
    doc="streaming WebDataset ingest: tar shards arriving in a drop "
    "directory explode to member rows via the binaryFile streaming "
    "source + the stdlib-tarfile walk — stateless 1->N, exactly-once "
    "per shard; oracle reconstructs the member census in closed form",
    tags=("streaming", "llm", "source", "webdataset"),
)
def q_stream_webdataset_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    import io
    import tarfile

    from pyspark.sql import functions as F

    from shared_etl_pipelines_spark.functions.rows import map_rows
    from shared_etl_pipelines_spark.sources.webdataset import (
        ensure_demo_webdataset,
    )

    root = ensure_demo_webdataset(sf_dir)
    schema = (
        "path string, modificationTime timestamp, length long, content binary"
    )
    raw = (
        spark.readStream.format("binaryFile")
        .schema(schema)
        .option("pathGlobFilter", "*.tar")
        .load(root)
        .select("path", "content")
    )

    def explode(_path, content):
        with tarfile.open(fileobj=io.BytesIO(bytes(content))) as t:
            for m in t.getmembers():
                if not m.isfile():
                    continue
                # first-dot split on the basename — the
                # WebDataset key convention, matching the batch
                # reader read_webdataset (advice r9 #2)
                base = os.path.basename(m.name)
                key, _, ext = base.partition(".")
                yield key, ext, int(m.size)

    members = map_rows(raw, explode, "key string, ext string, n_bytes long")
    out = members.select(
        F.col("key").cast("long").alias("doc_id"), "ext", "n_bytes"
    )
    return _run(out, "append")


@defquery(
    "stream_zipdataset_ingest",
    """
    WITH a AS (SELECT doc_id, octet_length(encode(text)) AS nb FROM documents)
    SELECT doc_id, 'txt' AS ext, CAST(nb AS BIGINT) AS n_bytes FROM a
    UNION ALL
    SELECT doc_id, 'json',
           CAST(15 + length(CAST(doc_id AS VARCHAR))
                   + length(CAST(nb AS VARCHAR)) AS BIGINT)
    FROM a
    UNION ALL
    SELECT doc_id, 'meta', CAST(7 AS BIGINT) FROM a WHERE doc_id % 37 = 0
    """,
    doc="streaming ZIP-shard ingest (r9, VERDICT r8 item 6 — the tar "
    "path had a streaming twin, the ZIP path didn't): zip shards "
    "arriving in a drop directory explode to member rows via the "
    "binaryFile streaming source + a central-directory walk with "
    "per-member DEFLATE decompression — stateless 1->N, exactly-once "
    "per shard; oracle reconstructs the member census (incl. the "
    "extra-modality .meta class) in closed form",
    tags=("streaming", "llm", "source", "webdataset"),
)
def q_stream_zipdataset_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    import io
    import zipfile

    from pyspark.sql import functions as F

    from shared_etl_pipelines_spark.functions.rows import map_rows
    from shared_etl_pipelines_spark.sources.webdataset import (
        ensure_demo_zipdataset,
    )

    root = ensure_demo_zipdataset(sf_dir)
    schema = (
        "path string, modificationTime timestamp, length long, content binary"
    )
    raw = (
        spark.readStream.format("binaryFile")
        .schema(schema)
        .option("pathGlobFilter", "*.zip")
        .load(root)
        .select("path", "content")
    )

    def explode(_path, content):
        with zipfile.ZipFile(io.BytesIO(bytes(content))) as z:
            for name in z.namelist():
                if name.endswith("/"):
                    continue
                base = os.path.basename(name)
                key, _, ext = base.partition(".")
                # decompressed size — read the member so the
                # stream exercises DEFLATE, not just the walk
                yield key, ext, len(z.read(name))

    members = map_rows(raw, explode, "key string, ext string, n_bytes long")
    out = members.select(
        F.col("key").cast("long").alias("doc_id"), "ext", "n_bytes"
    )
    return _run(out, "append")


@defquery(
    "stream_tfrecord_ingest",
    """
    WITH a AS (SELECT doc_id AS d, octet_length(encode(text)) AS n FROM documents)
    SELECT d AS doc_id,
           CAST(CASE WHEN d % 43 = 0 THEN 5 ELSE 4 END AS INT) AS n_features,
           CAST(n AS INT) AS text_len,
           CAST(d % 3 AS INT) AS n_tags,
           ROUND(CAST(d % 50 AS DOUBLE) / 4, 4) AS score
    FROM a
    """,
    doc="streaming TFRecord ingest (r9-continued): training shards "
    "arriving in a drop directory explode to Example rows via the "
    "binaryFile streaming source + the CRC32C-verified frame walk and "
    "protobuf Example decode — stateless 1->N, exactly-once per shard; "
    "doc_id%43==0 examples carry an extra feature (the schema-drift "
    "class the n_features census surfaces); oracle reconstructs every "
    "row in closed form",
    tags=("streaming", "llm", "source", "multimodal"),
)
def q_stream_tfrecord_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from shared_etl_pipelines_spark.functions.rows import map_rows
    from shared_etl_pipelines_spark.sources.tfrecord import (
        ensure_demo_tfrecords,
    )

    root = ensure_demo_tfrecords(sf_dir)
    schema = (
        "path string, modificationTime timestamp, length long, content binary"
    )
    raw = (
        spark.readStream.format("binaryFile")
        .schema(schema)
        .option("pathGlobFilter", "*.tfrecord")
        .load(root)
        .select("content")
    )

    def explode(content):
        from shared_etl_pipelines_spark.sources import tfrecord as T

        for payload in T.read_tfrecords(bytes(content)):
            feats, _ = T.parse_example(payload)
            yield (
                feats["id"][1][0], len(feats), len(feats["text"][1][0]),
                len(feats["tags"][1]), round(feats["score"][1][0], 4),
            )

    out = map_rows(
        raw,
        explode,
        "doc_id long, n_features int, text_len int, n_tags int, "
        "score double",
    )
    return _run(out, "append")


# ---------------------------------------------------------------------------
# Streaming CDC off the Delta transaction log (r10): the commit files
# ARE a change stream — new ``_delta_log/*.json`` files arriving in the
# drop directory explode to add/remove action events via the text file
# source + JVM-side from_json (stateless 1->N, the shard-ingest twin
# pattern). This is how a downstream index/compaction service tails a
# lakehouse table without a vendor connector; exactly-once per commit
# file by the file source's filename tracking. Oracle reconstructs the
# full action census from the demo log's closed forms
# (sources/deltalog.py ensure_demo_delta_table).
# ---------------------------------------------------------------------------
@defquery(
    "stream_delta_log_cdc",
    """
    WITH a AS (SELECT doc_id, octet_length(encode(text)) AS n FROM documents)
    SELECT doc_id, 'add' AS kind,
           CAST(doc_id // 25 + 1 AS BIGINT) AS version,
           CAST(n AS BIGINT) AS size
    FROM a
    UNION ALL
    SELECT doc_id, 'remove', CAST(doc_id // 25 + 3 AS BIGINT),
           CAST(NULL AS BIGINT)
    FROM a WHERE doc_id % 9 = 8
    """,
    doc="streaming Delta-log CDC tail: commit JSONs arriving in "
    "_delta_log stream through the text source + from_json into "
    "add/remove action events — stateless 1->N, exactly-once per "
    "commit file; oracle replays the demo log's closed-form churn",
    tags=("streaming", "llm", "lakehouse", "source"),
)
def q_stream_delta_log_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from shared_etl_pipelines_spark.sources.deltalog import (
        ensure_demo_delta_table,
    )

    root = ensure_demo_delta_table(sf_dir)
    raw = (
        spark.readStream.format("text")
        .schema("value string")
        .option("pathGlobFilter", "*.json")
        .load(os.path.join(root, "_delta_log"))
    )
    add_schema = (
        "struct<add:struct<path:string,size:bigint,modificationTime:bigint>>"
    )
    rem_schema = "struct<remove:struct<path:string,deletionTimestamp:bigint>>"
    # version comes from the commit FILE name (input_file_name), the
    # same derivation the batch reader uses
    acts = (
        raw.withColumn("_file", F.input_file_name())
        .select(
            F.from_json(F.col("value"), add_schema)["add"].alias("a"),
            F.from_json(F.col("value"), rem_schema)["remove"].alias("r"),
            F.regexp_extract(F.col("_file"), r"(\d{20})\.json", 1)
            .cast("long")
            .alias("version"),
        )
        .filter(F.col("a").isNotNull() | F.col("r").isNotNull())
        .select(
            F.regexp_extract(
                F.coalesce(F.col("a.path"), F.col("r.path")),
                r"part-(\d+)\.parquet",
                1,
            )
            .cast("long")
            .alias("doc_id"),
            F.when(F.col("a").isNotNull(), F.lit("add"))
            .otherwise(F.lit("remove"))
            .alias("kind"),
            "version",
            F.col("a.size").alias("size"),
        )
    )
    return _run(acts, "append")


# ---------------------------------------------------------------------------
# Streaming CDC off the Hudi timeline (r11): completed commit /
# deltacommit instants arriving under ``.hoodie/`` ARE the table's
# change stream — each JSON body explodes to per-file write-stat events
# (base slices and log-file appends) via the text source + JVM-side
# from_json, the same stateless 1->N shape as stream_delta_log_cdc.
# The ``*.*commit`` glob admits only completed instants (requested/
# inflight markers carry a state suffix and never match), so the
# reader's state filtering happens at the listing, exactly-once per
# instant file. Oracle replays the MOR demo timeline's closed forms.
# ---------------------------------------------------------------------------
@defquery(
    "stream_hudi_timeline_cdc",
    """
    WITH a AS (SELECT doc_id, octet_length(encode(text)) AS n,
                      doc_id // 25 AS k FROM documents),
    g AS (SELECT k, COUNT(*) AS nb, SUM(n) AS bytes,
                 COUNT(CASE WHEN doc_id % 9 = 8 THEN 1 END) AS churn,
                 SUM(CASE WHEN doc_id % 9 = 8 THEN n END) AS churn_bytes,
                 COUNT(CASE WHEN doc_id % 13 = 5 THEN 1 END) AS ndel
          FROM a GROUP BY k)
    SELECT CAST(k AS BIGINT) AS bucket, CAST(1 AS BIGINT) AS v,
           FALSE AS is_log, CAST(nb AS BIGINT) AS num_writes,
           CAST(0 AS BIGINT) AS num_update_writes,
           CAST(bytes AS BIGINT) AS total_write_bytes
    FROM g
    UNION ALL
    SELECT CAST(k AS BIGINT), CAST(2 AS BIGINT), TRUE, CAST(0 AS BIGINT),
           CAST(churn AS BIGINT), CAST(3 * churn_bytes AS BIGINT)
    FROM g WHERE churn > 0
    UNION ALL
    SELECT CAST(k AS BIGINT), CAST(3 AS BIGINT), TRUE, CAST(0 AS BIGINT),
           CAST(0 AS BIGINT), CAST(0 AS BIGINT)
    FROM g WHERE ndel > 0
    """,
    doc="streaming Hudi timeline CDC: completed instants stream "
    "through the text source + from_json into per-file write events "
    "(base vs log slices); in-flight markers are excluded by the "
    "completed-only glob; oracle replays the MOR demo's closed forms",
    tags=("streaming", "llm", "lakehouse", "source"),
)
def q_stream_hudi_timeline_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from shared_etl_pipelines_spark.sources.hudi import (
        ensure_demo_hudi_mor_table,
    )

    root = ensure_demo_hudi_mor_table(sf_dir)
    raw = (
        spark.readStream.format("text")
        .schema("value string")
        .option("pathGlobFilter", "*.*commit")
        .load(os.path.join(root, ".hoodie"))
    )
    stats_schema = (
        "struct<partitionToWriteStats:map<string,array<struct<"
        "fileId:string,path:string,numWrites:bigint,"
        "numUpdateWrites:bigint,totalWriteBytes:bigint>>>>"
    )
    acts = (
        raw.withColumn("_file", F.input_file_name())
        .select(
            F.from_json(F.col("value"), stats_schema)[
                "partitionToWriteStats"
            ].alias("stats"),
            (
                F.regexp_extract(F.col("_file"), r"(\d{17})\.", 1).cast("long")
                - F.lit(20250101000000000)
            ).alias("v"),
        )
        .filter(F.col("stats").isNotNull())
        .select("v", F.explode("stats").alias("partition", "files"))
        .select("v", F.explode("files").alias("f"))
        .select(
            F.regexp_extract(F.col("f.fileId"), r"f-(\d+)", 1)
            .cast("long")
            .alias("bucket"),
            "v",
            F.col("f.path").contains(".log.").alias("is_log"),
            F.col("f.numWrites").alias("num_writes"),
            F.col("f.numUpdateWrites").alias("num_update_writes"),
            F.col("f.totalWriteBytes").alias("total_write_bytes"),
        )
    )
    return _run(acts, "append")


# ---------------------------------------------------------------------------
# Streaming CDC for deletion vectors (r12, VERDICT r11 task #5): a
# commit that ADDS a DV to an existing file writes no new data file, so
# a file-arrival stream sees nothing — but incremental corpus curation
# must consume exactly those deletes (takedowns, opt-outs) without
# replaying snapshots. The commit JSONs stream through the text source;
# add-actions carrying a deletionVector descriptor group by file into
# applyInPandasWithState, whose per-file state is the roaring-serialized
# set of already-emitted positions (DV descriptors are cumulative per
# the protocol, so newly-deleted = decoded minus state); the fresh
# positions join the static bucket-ranked documents to surface the
# deleted doc_ids. Oracle: the fixture's commit 2 DVs cover exactly the
# doc_id%9==8 rows, deleted at their in-file positions.
# ---------------------------------------------------------------------------
@defquery(
    "stream_delta_dv_cdc",
    """
    SELECT doc_id, CAST(doc_id // 25 AS BIGINT) AS bucket,
           CAST(2 AS BIGINT) AS version
    FROM documents WHERE doc_id % 9 = 8
    """,
    doc="streaming DV CDC: commits that attach deletion vectors to "
    "existing files emit the newly-deleted rows as delete events — "
    "per-file roaring-serialized state diffs cumulative DV descriptors "
    "across micro-batches; no snapshot replay",
    tags=("streaming", "llm", "lakehouse", "dedup"),
)
def q_stream_delta_dv_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from shared_etl_pipelines_spark.sources.deltalog import (
        _ADD_SCHEMA,
        ensure_demo_delta_dv_table,
    )

    root = ensure_demo_delta_dv_table(sf_dir)
    raw = (
        spark.readStream.format("text")
        .schema("value string")
        .option("pathGlobFilter", "*.json")
        .load(os.path.join(root, "_delta_log"))
    )
    adds = (
        raw.withColumn("_file", F.input_file_name())
        .select(
            F.from_json(F.col("value"), f"struct<add:{_ADD_SCHEMA}>")[
                "add"
            ].alias("a"),
            F.regexp_extract(F.col("_file"), r"(\d{20})\.json", 1)
            .cast("long")
            .alias("version"),
        )
        .filter(F.col("a.deletionVector").isNotNull())
        .select(
            F.col("a.path").alias("path"),
            "version",
            F.col("a.deletionVector.storageType").alias("storageType"),
            F.col("a.deletionVector.pathOrInlineDv").alias("pathOrInlineDv"),
            F.col("a.deletionVector.offset").alias("offset"),
            F.col("a.deletionVector.sizeInBytes").alias("sizeInBytes"),
            F.col("a.deletionVector.cardinality").alias("cardinality"),
        )
    )

    def emit_new_deletes(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        from shared_etl_pipelines_spark.sources.deletion_vectors import (
            read_dv_descriptor,
        )
        from shared_etl_pipelines_spark.sources.roaring import (
            deserialize_roaring64,
            serialize_roaring64,
        )

        seen: set[int] = (
            set(deserialize_roaring64(bytes(state.get[0])))
            if state.exists
            else set()
        )
        out_v: list[int] = []
        out_p: list[int] = []
        rows = [r for pdf in pdfs for r in pdf.itertuples(index=False)]
        for rec in sorted(rows, key=lambda r: r.version):
            desc = {
                "storageType": rec.storageType,
                "pathOrInlineDv": rec.pathOrInlineDv,
                "offset": rec.offset,
                "sizeInBytes": rec.sizeInBytes,
                "cardinality": rec.cardinality,
            }
            for pos in read_dv_descriptor(root, desc):
                if pos not in seen:
                    seen.add(pos)
                    out_v.append(int(rec.version))
                    out_p.append(int(pos))
        state.update((serialize_roaring64(seen),))
        yield pd.DataFrame(
            {"path": [key[0]] * len(out_p), "version": out_v, "pos": out_p}
        )

    deletes = adds.groupBy("path").applyInPandasWithState(
        emit_new_deletes,
        outputStructType="path string, version long, pos long",
        stateStructType="seen binary",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    # static side: in-file position -> doc_id (files are written sorted
    # by doc_id per 25-doc bucket, the fixture's closed form)
    docs = read_parquet(
        spark, os.path.join(sf_dir, "documents.parquet")
    ).select("doc_id")
    from pyspark.sql import Window

    w = Window.partitionBy("bucket").orderBy("doc_id")
    ranked = docs.withColumn(
        "bucket", (F.col("doc_id") / 25).cast("long")
    ).withColumn("pos", F.row_number().over(w) - 1)
    out = (
        deletes.withColumn(
            "bucket",
            F.regexp_extract(F.col("path"), r"part-b(\d+)\.parquet", 1).cast(
                "long"
            ),
        )
        .join(ranked, ["bucket", "pos"])
        .select("doc_id", "bucket", "version")
    )
    return _run(out, "append")


# ---------------------------------------------------------------------------
# Streaming CDC for Iceberg v2 delete files (r13, VERDICT r12 task #7):
# the Iceberg twin of stream_delta_dv_cdc. A delete commit appends only
# a position/equality delete FILE — no new data file — so a data-file
# arrival stream sees nothing; the signal is the new manifest list each
# commit writes. Those snap-*.avro files stream through the binaryFile
# source; a stateless mapInPandas decodes each list with the repo's own
# Avro reader and resolves its delete files to candidate
# (data_path, pos, seq, kind) claims (position deletes name positions
# directly; equality deletes scan the data files with SMALLER data
# sequence numbers for matching rows — a real engine prunes that scan
# with manifest column stats; this fixture-scale resolver reads them
# all and says so). applyInPandasWithState keyed by DATA FILE holds the
# roaring-serialized set of already-deleted positions, which both
# de-duplicates the cumulative manifest lists AND suppresses
# re-deletion of a row an earlier sequence already removed (equality-
# over-position). Fresh positions join the static bucket-ranked
# documents to surface doc_ids.
# ---------------------------------------------------------------------------
@defquery(
    "stream_iceberg_delete_cdc",
    """
    SELECT doc_id, CAST(2 AS BIGINT) AS version, 'position' AS kind
    FROM documents WHERE doc_id % 9 = 8
    UNION ALL
    SELECT doc_id, CAST(3 AS BIGINT) AS version, 'equality' AS kind
    FROM documents WHERE doc_id % 11 = 3 AND doc_id % 9 <> 8
    """,
    doc="streaming Iceberg v2 delete CDC: appended position/equality "
    "delete files emit the newly-deleted rows as delete events — "
    "per-data-file roaring state diffs the cumulative manifest lists "
    "and enforces the already-deleted suppression rule; no snapshot "
    "replay",
    tags=("streaming", "llm", "lakehouse", "dedup"),
)
def q_stream_iceberg_delete_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from shared_etl_pipelines_spark.functions.rows import map_rows
    from shared_etl_pipelines_spark.sources.iceberg import (
        ensure_demo_iceberg_stream_table,
    )

    root = ensure_demo_iceberg_stream_table(sf_dir)
    raw = (
        spark.readStream.format("binaryFile")
        .schema(
            "path string, modificationTime timestamp, "
            "length long, content binary"
        )
        .option("pathGlobFilter", "snap-*.avro")
        .load(os.path.join(root, "metadata"))
        .select("content")
    )

    def resolve_deletes(blob):
        import pyarrow.parquet as _pq

        from shared_etl_pipelines_spark.sources.avro import read_avro_ocf

        recs = read_avro_ocf(bytes(blob))["records"]
        data_entries: list[tuple[str, int]] = []  # (path, seq)
        del_entries: list[dict] = []
        for m in recs:
            with open(m["manifest_path"], "rb") as fh:
                entries = read_avro_ocf(fh.read())["records"]
            for e in entries:
                f = e["data_file"]
                if f["content"] == 0:
                    data_entries.append(
                        (f["file_path"], e["sequence_number"])
                    )
                else:
                    del_entries.append(
                        {
                            "path": f["file_path"],
                            "content": f["content"],
                            "seq": e["sequence_number"],
                            "eq_ids": f["equality_ids"],
                        }
                    )
        for de in del_entries:
            if de["content"] == 1:
                t = _pq.read_table(de["path"])
                for p, pos in zip(
                    t.column("file_path").to_pylist(),
                    t.column("pos").to_pylist(),
                ):
                    yield p, int(pos), int(de["seq"]), "position"
            else:
                if de["eq_ids"] != [1]:
                    raise ValueError(
                        "iceberg cdc: equality delete on fields "
                        f"{de['eq_ids']} unsupported — quarantine"
                    )
                vals = set(
                    _pq.read_table(de["path"])
                    .column("doc_id")
                    .to_pylist()
                )
                # strictly-smaller rule: only data files written
                # BEFORE the delete's sequence are scanned (a
                # 100 TB consumer prunes by manifest stats first)
                for dp, dseq in data_entries:
                    if dseq >= de["seq"]:
                        continue
                    col = _pq.read_table(
                        dp, columns=["doc_id"]
                    ).column("doc_id").to_pylist()
                    for pos, v in enumerate(col):
                        if v in vals:
                            yield dp, pos, int(de["seq"]), "equality"

    claims = map_rows(
        raw, resolve_deletes, "data_path string, pos long, seq long, kind string"
    )

    def emit_new_deletes(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        from shared_etl_pipelines_spark.sources.roaring import (
            deserialize_roaring64,
            serialize_roaring64,
        )

        seen: set[int] = (
            set(deserialize_roaring64(bytes(state.get[0])))
            if state.exists
            else set()
        )
        out_pos: list[int] = []
        out_seq: list[int] = []
        out_kind: list[str] = []
        rows = [r for pdf in pdfs for r in pdf.itertuples(index=False)]
        # earliest sequence wins a position: a row position-deleted at
        # seq 2 is ALREADY dead when an equality delete matches it at
        # seq 3, so it must not re-emit
        for rec in sorted(rows, key=lambda r: (r.seq, r.pos)):
            if rec.pos not in seen:
                seen.add(rec.pos)
                out_pos.append(int(rec.pos))
                out_seq.append(int(rec.seq))
                out_kind.append(rec.kind)
        state.update((serialize_roaring64(seen),))
        yield pd.DataFrame(
            {
                "data_path": [key[0]] * len(out_pos),
                "pos": out_pos,
                "version": out_seq,
                "kind": out_kind,
            }
        )

    deletes = claims.groupBy("data_path").applyInPandasWithState(
        emit_new_deletes,
        outputStructType=(
            "data_path string, pos long, version long, kind string"
        ),
        stateStructType="seen binary",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    # static side: in-file position -> doc_id (data files are written
    # sorted by doc_id per 25-doc bucket, the fixture's closed form)
    docs = read_parquet(
        spark, os.path.join(sf_dir, "documents.parquet")
    ).select("doc_id")
    from pyspark.sql import Window

    w = Window.partitionBy("bucket").orderBy("doc_id")
    ranked = docs.withColumn(
        "bucket", (F.col("doc_id") / 25).cast("long")
    ).withColumn("pos", F.row_number().over(w) - 1)
    out = (
        deletes.withColumn(
            "bucket",
            F.regexp_extract(
                F.col("data_path"), r"b1-(\d+)\.parquet", 1
            ).cast("long"),
        )
        .join(ranked, ["bucket", "pos"])
        .select("doc_id", "version", "kind")
    )
    return _run(out, "append")
