"""Structured Streaming surface over the events corpus.

The reference is pure batch (SURVEY §1.1) — this module is the engine's
north-star streaming extension: the same event-time windowed aggregation
the batch query ``events_tumbling_window`` computes, expressed as a
Structured Streaming pipeline with watermarked late-data handling, plus a
custom stateful sessionizer via ``applyInPandasWithState``.

Scale notes: file-source streaming discovers new files incrementally (the
pattern for a landing-zone ingest at 100 TB); watermark bounds state size;
the sessionizer keys state by ``user_id`` so it shuffles once and scales
with the user count, not the event count.
"""

from __future__ import annotations

from collections.abc import Iterable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def read_events_stream(spark: SparkSession, events_dir: str) -> DataFrame:
    """File-source stream over a directory of events parquet files.
    Explicit schema (streaming sources cannot infer; also reference S8's
    best practice). One file per micro-batch keeps backfills incremental."""
    return (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(events_dir)
    )


def windowed_event_counts(
    events: DataFrame,
    window: str = "10 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Event-time tumbling-window counts with late-data watermark —
    the streaming twin of the batch ``events_tumbling_window`` query.
    Works on both batch and streaming DataFrames (same logical plan)."""
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        src.groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


_SESSION_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("session_start", T.TimestampType()),
        T.StructField("session_end", T.TimestampType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
    ]
)
_SESSION_STATE_SCHEMA = "start_us LONG, last_us LONG, n LONG, total DOUBLE"
_GAP_US = 30 * 60 * 1_000_000  # 30-minute inactivity gap


def _fold_sessions(
    ts_list: list[int], val_list: list[float], st: tuple | None
) -> tuple[list[tuple], tuple]:
    """The sessionizer core, kept free of any stateful API so it is
    testable without a stream: fold time-ordered events into (start,
    last, n, total) runs split on >30 min gaps; returns (finished
    sessions, open state)."""
    start_us, last_us, n, total = st if st is not None else (None, None, 0, 0.0)
    order = sorted(range(len(ts_list)), key=ts_list.__getitem__)
    finished: list[tuple] = []
    for i in order:
        t_us, v = ts_list[i], val_list[i]
        if start_us is None:
            start_us = last_us = t_us
        elif t_us > last_us + _GAP_US:
            # gap after the current session: close it, start fresh
            finished.append((start_us, last_us, n, total))
            start_us, last_us, n, total = t_us, t_us, 0, 0.0
        elif t_us < start_us - _GAP_US:
            # bounded-disorder tolerance: an event far BEFORE the current
            # session is its own (already-complete) session
            finished.append((t_us, t_us, 1, v))
            continue
        else:
            # merge into the open session (extends <= one gap per event,
            # so span <= (n-1)*gap stays invariant under disorder)
            start_us = min(start_us, t_us)
            last_us = max(last_us, t_us)
        n += 1
        total += v
    return finished, (start_us, last_us, n, total)


def _session_fn(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    """Per-user session accumulator: emit a session row whenever a gap of
    more than 30 minutes separates consecutive events (or state times out)."""
    (user_id,) = key
    if state.hasTimedOut:
        if state.exists:
            start_us, last_us, n, total = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [user_id],
                    "session_start": [pd.Timestamp(start_us, unit="us")],
                    "session_end": [pd.Timestamp(last_us, unit="us")],
                    "n_events": [n],
                    "total_value": [total],
                }
            )
        return

    ts_list: list[int] = []
    val_list: list[float] = []
    for pdf in pdfs:
        ts_list.extend(int(t.value // 1000) for t in pdf["ts"])  # ns -> us
        val_list.extend(float(v) for v in pdf["value"])

    st = tuple(state.get) if state.exists else None
    finished, new_state = _fold_sessions(ts_list, val_list, st)

    state.update(new_state)
    try:
        state.setTimeoutDuration(60 * 60 * 1000)  # close idle sessions after 1h
    except Exception:
        pass  # NoTimeout mode (finite backfills): open sessions stay in state
    if finished:
        yield pd.DataFrame(
            {
                "user_id": [user_id] * len(finished),
                "session_start": [pd.Timestamp(s, unit="us") for s, _, _, _ in finished],
                "session_end": [pd.Timestamp(e, unit="us") for _, e, _, _ in finished],
                "n_events": [n_ for _, _, n_, _ in finished],
                "total_value": [tot for _, _, _, tot in finished],
            }
        )


def sessionize_stream(events: DataFrame, idle_timeout: bool = False) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): per-user sessions
    split on >30 min inactivity. State is one small tuple per live user.

    ``idle_timeout=True`` enables processing-time timeouts so idle users'
    open sessions eventually flush — the long-running-service mode. Leave
    it off for finite drains (availableNow backfills): a query with
    processing-time timeouts keeps scheduling timeout batches and never
    self-terminates.
    """
    conf = (
        GroupStateTimeout.ProcessingTimeTimeout
        if idle_timeout
        else GroupStateTimeout.NoTimeout
    )
    return (
        events.groupBy("user_id")
        .applyInPandasWithState(
            _session_fn,
            outputStructType=_SESSION_OUT_SCHEMA,
            stateStructType=_SESSION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=conf,
        )
    )


def run_stream_to_memory(
    stream_df: DataFrame,
    query_name: str,
    output_mode: str = "complete",
    timeout_sec: float = 120.0,
) -> None:
    """Drain all available input into an in-memory sink (availableNow
    trigger — batch-like finite run, the pattern for tests + backfills).
    ``complete`` suits finite windowed aggregations (no watermark advance
    needed to see the final windows); stateful append operators pass
    ``append``."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout_sec)
    q.stop()


def dedup_events_stream(
    events: DataFrame,
    keys: list[str] | None = None,
    watermark: str = "30 minutes",
) -> DataFrame:
    """Streaming deduplication: drop events whose key re-appears within
    the watermark horizon (``dropDuplicatesWithinWatermark``) — the
    standard cleanup for at-least-once upstream delivery.

    State is bounded by the watermark: each key is remembered only until
    the event-time clock passes its timestamp + horizon, so at 100 TB of
    events per day state size tracks the duplicate window, not history.
    Falls back to plain ``dropDuplicates`` for batch DataFrames (same
    semantics when the whole input is visible at once).
    """
    keys = keys or ["event_id"]
    if not events.isStreaming:
        return events.dropDuplicates(keys)
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keys)


def purchase_attribution_join(
    views: DataFrame,
    purchases: DataFrame,
    attribution_window: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Watermarked STREAM-STREAM inner join: attribute each purchase to
    the same user's preceding view within the attribution window — the
    canonical two-stream correlation (ad-click attribution shape).

    Both sides carry event-time watermarks and the join condition bounds
    the time skew (``view.ts <= purchase.ts <= view.ts + window``), so
    Spark can expire buffered state on both sides — without the time
    bound, stream-stream join state grows forever. Works identically on
    batch frames (same logical plan), which is how the test cross-checks
    results against a plain batch join.

    State scale: buffered rows ≈ input rate x (watermark + window) per
    side, sharded by the equi-join key (user_id) — independent of total
    history size.
    """
    v = views.select(
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("view_ts"),
        F.col("event_id").alias("view_id"),
    )
    p = purchases.select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"),
        F.col("value").alias("purchase_value"),
    )
    if views.isStreaming:
        v = v.withWatermark("view_ts", watermark)
    if purchases.isStreaming:
        p = p.withWatermark("purchase_ts", watermark)
    return v.join(
        p,
        (F.col("v_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("view_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("view_ts") + F.expr(f"INTERVAL {attribution_window}")
        ),
    ).select(
        F.col("p_user").alias("user_id"),
        "view_id",
        "purchase_id",
        "view_ts",
        "purchase_ts",
        "purchase_value",
    )
