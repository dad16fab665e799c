"""Event-time window aggregations + custom stateful operators.

- tumbling / sliding / session windows with watermark-bounded state:
  the streaming forms of the reference's daily/annual partitions and the
  G2 trailing windows (SURVEY.md §7.6).
- running_totals: an applyInPandasWithState custom stateful operator —
  the per-key cumulative analog of G2's trailing sum, and the template
  for any reference-style "plugin" that must keep state across batches.

Watermarks bound state size: a stream over years of daily files holds
only ``watermark`` worth of open windows per key, so state survives a
100x scale-up in keys as long as the lateness bound holds.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
)


def tumbling_agg(
    df: DataFrame,
    ts_col: str,
    window: str,
    keys: list[str],
    aggs: dict[str, str],
    watermark: str = "1 day",
) -> DataFrame:
    """Tumbling-window aggregate with watermark, e.g. the daily rollup of
    the PRISM cadence. ``aggs`` maps out_col -> 'fn(col)' expression."""
    agg_cols = [F.expr(expr).alias(name) for name, expr in aggs.items()]
    return (
        df.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("win"), *keys)
        .agg(*agg_cols)
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            *keys,
            *[F.col(name) for name in aggs],
        )
    )


def sliding_agg(
    df: DataFrame,
    ts_col: str,
    window: str,
    slide: str,
    keys: list[str],
    aggs: dict[str, str],
    watermark: str = "1 day",
) -> DataFrame:
    """Sliding-window aggregate — the streaming analog of G2's trailing
    w-day rolling sum (window='3 days', slide='1 day')."""
    agg_cols = [F.expr(expr).alias(name) for name, expr in aggs.items()]
    return (
        df.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window, slide).alias("win"), *keys)
        .agg(*agg_cols)
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            *keys,
            *[F.col(name) for name in aggs],
        )
    )


def session_agg(
    df: DataFrame,
    ts_col: str,
    gap: str,
    keys: list[str],
    aggs: dict[str, str],
    watermark: str = "1 day",
) -> DataFrame:
    """Session windows: activity bursts separated by >= gap of silence."""
    agg_cols = [F.expr(expr).alias(name) for name, expr in aggs.items()]
    return (
        df.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap).alias("win"), *keys)
        .agg(*agg_cols)
        .select(
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            *keys,
            *[F.col(name) for name in aggs],
        )
    )


_RUNNING_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
    ]
)
_RUNNING_STATE = StructType(
    [StructField("n", LongType()), StructField("total", DoubleType())]
)


def _running_fn(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (n, total) = state.get if state.exists else (0, 0.0)
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].sum())
    state.update((n, total))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
    )


def running_totals(df: DataFrame, key: str = "user_id") -> DataFrame:
    """Custom stateful operator: per-key cumulative count/sum across
    micro-batches via applyInPandasWithState (Arrow-batched, update mode).

    This is the engine's template for reference-style stateful plugins:
    state is a tiny tuple per key, grouped state lives in the state store,
    and output is one row per key per batch."""
    return df.groupBy(key).applyInPandasWithState(
        _running_fn,
        outputStructType=_RUNNING_SCHEMA,
        stateStructType=_RUNNING_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def dedup_stream(
    df: DataFrame, hash_cols: list[str], ts_col: str = "ts", delay: str = "1 day"
) -> DataFrame:
    """Streaming exact dedup: keep the first arrival per content hash,
    expiring dedup state once the watermark passes ``delay`` — the
    streaming form of operators.dedup.exact_dedup, and the only way the
    state store stays bounded on an unbounded stream (plain
    dropDuplicates would grow keys forever).

    Emits ``(content_hash, event_time)`` of kept rows; duplicates arriving
    within the watermark horizon are suppressed exactly, later ones are
    best-effort (the documented dropDuplicatesWithinWatermark contract).
    """
    from pyspark.sql import functions as F

    hashed = df.select(
        F.md5(F.concat_ws("|", *hash_cols)).alias("content_hash"),
        F.col(ts_col).alias("event_time"),
    ).withWatermark("event_time", delay)
    return hashed.dropDuplicatesWithinWatermark(["content_hash"])


def interval_join_stream(
    left: DataFrame,
    right: DataFrame,
    key: str,
    ts_col: str = "ts",
    within: str = "1 hour",
    delay: str = "1 day",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream interval join: each left event pairs with right
    events for the same key whose time falls in [left_ts, left_ts+within].

    Both sides carry watermarks so Spark can bound the join state buffer
    (the time-range condition tells it when a buffered row can never match
    again and is evicted) — without both, stream-stream joins grow state
    forever. The batch equivalent is a plain theta join on
    (key, time-range); tests assert the two agree.

    ``how="left_outer"`` additionally emits unmatched left events with
    NULL right columns — but only once the watermark proves no future
    right row can match (the time-bound condition is what makes outer
    stream-stream joins legal at all): unmatched emission is inherently
    delayed by ``within + delay`` of event time.
    """
    from pyspark.sql import functions as F

    l = left.select(
        F.col(key).alias("l_key"),
        F.col("event_id").alias("l_event"),
        F.col(ts_col).alias("l_ts"),
    ).withWatermark("l_ts", delay)
    r = right.select(
        F.col(key).alias("r_key"),
        F.col("event_id").alias("r_event"),
        F.col(ts_col).alias("r_ts"),
    ).withWatermark("r_ts", delay)
    return l.join(
        r,
        (F.col("l_key") == F.col("r_key"))
        & (F.col("r_ts") >= F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr(f"INTERVAL {within}")),
        how,
    ).select("l_key", "l_event", "l_ts", "r_event", "r_ts")


# ---------------------------------------------------------------------------
# transformWithStateInPandas — the Spark 4.x successor to
# applyInPandasWithState (running_totals above keeps the older API as
# the portable template). The processor owns NAMED, TYPED state
# variables through a handle instead of one opaque tuple, so operators
# can mix ValueState/ListState/MapState and add TTL per variable; the
# state store must be RocksDB — welford_stats requires the CALLER to set
# the provider conf and raises ValueError otherwise (fail-loud, because
# silently flipping a session-wide provider mid-stream is worse).
#
# Environment note: the Python side of this API speaks protobuf to the
# JVM driver worker; `google.protobuf` is NOT in this sandbox, so the
# e2e path raises at query start here (tests skip it) while the merge
# arithmetic below is pure and fully tested. On a real cluster with
# protobuf installed the operator runs as-is.
# ---------------------------------------------------------------------------
def welford_merge(
    n: int, mean: float, m2: float, v: "pd.Series"
) -> tuple[int, float, float]:
    """Merge a batch of values into a running (n, mean, m2) Welford
    triple by the Chan et al. parallel-variance formula — exact up to fp
    rounding regardless of how the stream is cut into micro-batches."""
    nb = int(len(v))
    if nb == 0:
        return n, mean, m2
    v = v.astype("float64")
    mb = float(v.mean())
    m2b = float(((v - mb) ** 2).sum())
    delta = mb - mean
    tot = n + nb
    m2 = m2 + m2b + delta * delta * n * nb / tot
    mean = mean + delta * nb / tot
    return tot, mean, m2


_WELFORD_OUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("mean_value", DoubleType()),
        StructField("var_value", DoubleType()),
    ]
)


def _make_welford_processor():
    """Build the StatefulProcessor subclass lazily: the import only
    exists on Spark >= 4.0, and module import must not require it."""
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class WelfordProcessor(StatefulProcessor):
        """Per-key running mean/variance (Welford/Chan parallel merge):
        state is one (n, mean, m2) triple per key; each batch computes
        its own moments vectorized in pandas, then merges with state by
        the parallel-variance formula — numerically stable across any
        number of micro-batches, O(1) state per key."""

        def init(self, handle: StatefulProcessorHandle) -> None:
            self._agg = handle.getValueState(
                "welford", "n long, mean double, m2 double"
            )

        def handleInputRows(self, key, rows, timer_values):
            if self._agg.exists():
                n, mean, m2 = self._agg.get()
            else:
                n, mean, m2 = 0, 0.0, 0.0
            for pdf in rows:
                n, mean, m2 = welford_merge(n, mean, m2, pdf["value"])
            self._agg.update((n, mean, m2))
            var = m2 / (n - 1) if n > 1 else 0.0
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "mean_value": [mean],
                    "var_value": [var],
                }
            )

        def close(self) -> None:
            pass

    return WelfordProcessor()


def welford_stats(df: DataFrame, key: str = "user_id") -> DataFrame:
    """Per-key streaming running mean/variance via
    transformWithStateInPandas (Spark 4.x typed-state API).

    Emits one (key, n, mean, var) row per key per micro-batch; state is
    a single fixed-width triple per key, so the store stays O(keys)
    forever.

    REQUIRES the RocksDB state store provider
    (``spark.sql.streaming.stateStore.providerClass`` =
    ``...RocksDBStateStoreProvider``) — transformWithState refuses the
    default HDFS-backed store. The provider class is a SESSION-WIDE
    setting that affects every streaming query started after it
    changes, so this function never mutates it silently: set it on the
    session (or per-query via the writer's options on a cluster that
    supports it) before calling, or get a ValueError here."""
    spark = df.sparkSession
    _ROCKSDB = (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    )
    current = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass", ""
    )
    if not current.endswith("RocksDBStateStoreProvider"):
        raise ValueError(
            "welford_stats needs the RocksDB state store. Set "
            "spark.conf.set('spark.sql.streaming.stateStore.providerClass', "
            f"'{_ROCKSDB}') before calling — it is session-wide for all "
            "streaming queries, so the engine refuses to change it "
            "behind your back."
        )
    return df.groupBy(key).transformWithStateInPandas(
        statefulProcessor=_make_welford_processor(),
        outputStructType=_WELFORD_OUT,
        outputMode="Update",
        timeMode="None",
    )


_ALARM_OUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("event_id", LongType()),
        StructField("n_prior", LongType()),
        StructField("cents", LongType()),
    ]
)


def spend_alarms(df: DataFrame, key: str = "user_id") -> DataFrame:
    """Per-key spend alarms with ARBITRARY user state — the
    applyInPandasWithState path (works on the default HDFS state store,
    unlike transformWithStateInPandas/welford_stats which needs RocksDB
    + protobuf). State is one exact integer pair (n, sum_cents) per
    key; an event raises an alarm when its amount exceeds twice the
    running mean of everything before it:

        n_prior >= 3  AND  cents * n_prior > 2 * sum_prior

    kept in cross-multiplied integer form so there is no float anywhere
    — a batch-mode SQL replay (cumulative window) matches bit-for-bit.
    Within a micro-batch rows walk in (ts, event_id) order; across
    micro-batches the state carries, so a multi-file ordered feed folds
    exactly like the global sort — which is what the oracle pins: a
    state reset between batches would misnumber every later n_prior.
    Input must carry ``event_id``, ``ts`` and integer ``cents``
    columns. O(1) state per key, alarms-only output (append mode)."""

    def fn(key_tuple, pdfs: Iterator["pd.DataFrame"], state):
        if state.exists:
            n, s = state.get
        else:
            n, s = 0, 0
        chunks = list(pdfs)
        pdf = pd.concat(chunks) if len(chunks) > 1 else chunks[0]
        pdf = pdf.sort_values(["ts", "event_id"])
        alarms = []
        for eid, c in zip(
            pdf["event_id"].astype("int64"), pdf["cents"].astype("int64")
        ):
            c = int(c)
            if n >= 3 and c * n > 2 * s:
                alarms.append((int(key_tuple[0]), int(eid), n, c))
            n += 1
            s += c
        state.update((n, s))
        if alarms:
            yield pd.DataFrame.from_records(alarms, columns=_ALARM_OUT.names)

    return df.groupBy(key).applyInPandasWithState(
        fn,
        outputStructType=_ALARM_OUT,
        stateStructType="n long, s long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
