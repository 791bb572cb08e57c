"""Incremental / streaming operators.

Three shapes:

1. ``incremental_append_available_now`` — the reference's idempotent
   monthly load as a stream: file source over a landing dir,
   ``foreachBatch`` running the K2 append-ignore-conflicts sink, and
   ``Trigger.AvailableNow`` so each invocation drains exactly the
   files that have arrived then stops (incremental batch). File
   progress is tracked in the checkpoint, PK-level idempotence by the
   anti-join — so BOTH re-delivered files and re-delivered rows are
   safe.
2. ``windowed_event_stats`` — tumbling event-time window + watermark
   for late data (the batch twin is the registered
   ``hourly_event_stats`` query).
3. ``running_user_totals`` — custom stateful operator via
   ``applyInPandasWithState``: per-user running count/sum kept in
   GroupState across micro-batches.

Scale notes: the streaming aggs shuffle on (window, key) exactly like
their batch twins; state is per-key and partitioned, so a 1000-executor
cluster spreads it. ``availableNow`` + ``maxFilesPerTrigger`` bounds
per-batch memory on backlog catch-up.
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..operators.sinks import write_append_nodup


def incremental_append_available_now(
    spark: SparkSession,
    landing_dir: str,
    table_path: str,
    checkpoint_dir: str,
    pk: Sequence[str],
    schema: T.StructType,
    fmt: str = "parquet",
) -> None:
    """Drain the landing dir into the table, idempotently, then stop."""

    def _merge(batch: DataFrame, _batch_id: int) -> None:
        write_append_nodup(batch.sparkSession, batch, table_path, pk)

    stream = (
        spark.readStream.schema(schema).format(fmt).load(landing_dir)
    )
    q = (
        stream.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def windowed_event_stats(
    events: DataFrame,
    ts_col: str = "ts",
    window_duration: str = "1 hour",
    watermark_delay: str = "30 minutes",
) -> DataFrame:
    """Watermarked tumbling-window aggregation (streaming or batch DF).

    Late rows beyond the watermark are dropped in streaming mode; the
    aggregate matches the batch ``hourly_event_stats`` shape.
    """
    return (
        events.withWatermark(ts_col, watermark_delay)
        .groupBy(
            F.window(F.col(ts_col), window_duration).alias("janela"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.sum(F.col("value").cast("decimal(28,10)")).cast("double"), 6
            ).alias("soma_valor"),
        )
        .select(
            F.col("janela.start").alias("inicio"),
            "event_type",
            "n",
            "soma_valor",
        )
    )


def sessionized_event_stats(
    events: DataFrame,
    ts_col: str = "ts",
    gap: str = "30 minutes",
    watermark_delay: str = "30 minutes",
) -> DataFrame:
    """Streaming session windows: per-user sessions that close after
    ``gap`` of silence, emitted once the watermark passes the session
    end (the streaming twin of the registered batch
    ``sessionize_events`` query — same 30-min gap rule).

    Boundary note: ``session_window`` merges an event into a session
    only while its timestamp is STRICTLY inside the previous window
    (ts < prev_end = prev_ts + gap); the batch query keeps a gap of
    exactly 30:00.000000 in-session (``diff > gap`` starts a new one).
    A measure-zero divergence on real clocks, asserted against the
    fixtures in tests.

    Scale notes: state is keyed by (user, session) and partitioned;
    the watermark both admits bounded lateness and lets completed
    sessions leave state, so long-running streams don't accumulate.
    """
    return (
        events.withWatermark(ts_col, watermark_delay)
        .groupBy(
            F.session_window(F.col(ts_col), gap).alias("sessao"),
            "user_id",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(
                F.sum(F.col("value").cast("decimal(28,10)")).cast("double"), 6
            ).alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("sessao.start").alias("session_start"),
            F.col("sessao.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


def dedup_events_stream(
    events: DataFrame,
    pk: Sequence[str] = ("event_id",),
    ts_col: str = "ts",
    watermark_delay: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup on the PK, state bounded by watermark.

    The streaming twin of K2's idempotence: re-delivered events inside
    the watermark horizon are dropped by keyed state;
    ``dropDuplicatesWithinWatermark`` expires that state so it cannot
    grow unboundedly (the classic at-least-once -> effectively-once
    repair for event streams).
    """
    return events.withWatermark(ts_col, watermark_delay).dropDuplicatesWithinWatermark(
        list(pk)
    )


_RUNNING_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType(), False),
        T.StructField("n_events", T.LongType(), False),
        T.StructField("total_value", T.DoubleType(), True),
    ]
)

_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n", T.LongType(), False),
        T.StructField("total", T.DoubleType(), False),
    ]
)


def _running_totals_fn(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    n, total = state.get if state.exists else (0, 0.0)
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].fillna(0.0).sum())
    state.update((n, float(total)))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
    )


def running_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator: per-user running (count, sum) held in
    GroupState across micro-batches (applyInPandasWithState)."""
    return (
        events.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _running_totals_fn,
            outputStructType=_RUNNING_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def attributed_click_pairs(
    views: DataFrame,
    clicks: DataFrame,
    ts_col: str = "ts",
    join_window: str = "1 hour",
    watermark_delay: str = "24 hours",
) -> DataFrame:
    """Stream-stream interval join: (view, click) pairs per user with
    the click inside ``join_window`` after the view.

    Both inputs must be watermarked streams (or batch frames — the
    same plan runs in either mode): Spark requires watermarks on both
    sides of a stream-stream join so it can expire join state; a
    view's state row is dropped once the global watermark (min of the
    two streams' maxima minus their delays) passes
    ``view.ts + join_window``, which bounds state to one window of
    per-user timeline per side.

    Emits the raw qualifying pairs. The last-touch reduction (argmax
    view per click) is a second stateful operator downstream; its
    batch semantics — including the two-batch watermark admission —
    are oracle-pinned by the registered
    ``streaming_join_attribution`` replay
    (``plans/streaming_queries.py``).
    """
    v = views.withWatermark(ts_col, watermark_delay).select(
        F.col("user_id").alias("v_user"),
        F.col("event_id").alias("view_id"),
        F.col(ts_col).alias("v_ts"),
    )
    c = clicks.withWatermark(ts_col, watermark_delay).select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col(ts_col).alias("c_ts"),
    )
    return v.join(
        c,
        F.expr(
            f"v_user = c_user AND c_ts > v_ts "
            f"AND c_ts <= v_ts + interval {join_window}"
        ),
    ).select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "view_id",
        F.expr("(unix_micros(c_ts) - unix_micros(v_ts)) div 1000000").alias(
            "lag_sec"
        ),
    )


# --- inactivity-timeout burst close (EventTimeTimeout state) ---------
# The stateful shape session_window CANNOT express: do something
# CUSTOM when a key goes silent — here, emit one "burst closed by
# inactivity" alert row per (user, burst) only once the event-time
# watermark passes last_seen + gap. The state machine is explicit:
# data updates the open burst and re-arms the timeout; the timeout
# callback (state.hasTimedOut, empty input iterator) emits the close
# record and clears state. This is the abandoned-cart / crawler-went-
# quiet / device-offline alerting primitive.

_BURST_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("burst_start", T.TimestampType()),
        T.StructField("burst_end", T.TimestampType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("sum_value", T.DoubleType()),
    ]
)

# (burst_start_us, last_ts_us, n_events, sum_value)
_BURST_STATE_SCHEMA = T.StructType(
    [
        T.StructField("start_us", T.LongType()),
        T.StructField("last_us", T.LongType()),
        T.StructField("n", T.LongType()),
        T.StructField("total", T.DoubleType()),
    ]
)

_BURST_GAP_MS = 30 * 60 * 1000  # close a burst after 30 min silence


def _burst_close_fn(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    if state.hasTimedOut:
        # silence exceeded the gap: emit the close record, drop state
        start_us, last_us, n, total = state.get
        state.remove()
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "burst_start": [pd.Timestamp(start_us, unit="us")],
                "burst_end": [pd.Timestamp(last_us, unit="us")],
                "n_events": [n],
                "sum_value": [float(total)],
            }
        )
        return
    start_us, last_us, n, total = (
        state.get if state.exists else (None, None, 0, 0.0)
    )
    for pdf in pdfs:
        us = pdf["ts"].astype("int64") // 1000  # ns -> us
        lo, hi = int(us.min()), int(us.max())
        start_us = lo if start_us is None else min(start_us, lo)
        last_us = hi if last_us is None else max(last_us, hi)
        n += len(pdf)
        total += float(pdf["value"].fillna(0.0).sum())
    state.update((int(start_us), int(last_us), int(n), float(total)))
    # re-arm: fire once the WATERMARK passes last event + gap. The
    # timestamp must sit strictly beyond the current watermark, which
    # holds by construction (watermark <= max event time already seen).
    state.setTimeoutTimestamp(last_us // 1000 + _BURST_GAP_MS)
    return
    yield  # pragma: no cover — generator marker


def burst_close_alerts(
    events: DataFrame,
    ts_col: str = "ts",
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """Bursts closed by inactivity: one row per (user, burst) emitted
    ONLY when event time moves {gap} past the user's last event.

    Scale shape: state is one fixed-width tuple per ACTIVE user —
    closed bursts leave state immediately via ``state.remove()`` and
    the event-time timeout guarantees every silent key eventually
    drains, so state size tracks concurrently-active users, not
    history. The per-batch work is one hash exchange on user_id plus
    an Arrow-batched pass per group; output mode is append (each
    burst emitted exactly once), which downstream sinks can treat as
    an immutable fact stream.
    """
    return (
        events.withWatermark(ts_col, watermark_delay)
        .select("user_id", F.col(ts_col).alias("ts"), "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _burst_close_fn,
            outputStructType=_BURST_OUT_SCHEMA,
            stateStructType=_BURST_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
