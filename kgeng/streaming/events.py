"""Structured-Streaming surface.

The reference is batch-only (SURVEY.md §2.10); incremental ingest of
new page/event files maps onto ``readStream`` + ``Trigger.AvailableNow``.
This module provides the streaming twin of the batch event rollup
(``q_events_daily``) plus batch sessionization, so the engine covers
the stream-shaped part of a training-data pipeline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kgeng.io.scanmeta import parquet_schema, read_parquet

SESSION_GAP_MINUTES = 30


def _event_stream(spark: SparkSession, events_dir: str) -> DataFrame:
    """A file-source stream over ``events_dir``, one file per
    micro-batch. The streaming source needs its schema up front; it is
    inferred once per directory state (a grown directory is inferred
    again)."""
    return (
        spark.readStream.schema(parquet_schema(spark, events_dir))
        .option("maxFilesPerTrigger", 1)
        .parquet(events_dir)
    )


def streaming_event_counts(
    spark: SparkSession, events_dir: str, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """readStream over a directory of event parquet files with
    watermarked tumbling windows; drive with ``Trigger.AvailableNow`` /
    memory sink in tests. Late rows beyond the watermark are dropped —
    the standard late-data contract. ``events_dir`` must be a
    directory (the streaming file source tails directories)."""
    stream = _event_stream(spark, events_dir)
    # parquet NTZ timestamps -> session-TZ timestamps (watermarks
    # require TIMESTAMP, not TIMESTAMP_NTZ)
    stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(F.col("win.start").alias("win_start"), "event_type", "n", "total_value")
    )


def streaming_user_totals(spark: SparkSession, events_dir: str) -> DataFrame:
    """Custom stateful streaming operator via
    ``applyInPandasWithState``: a per-user running event counter +
    value sum, state carried across micro-batches. The engine's
    pattern for any keyed incremental accumulator (dedup-seen sets,
    per-entity rollups) over an unbounded stream."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    stream = _event_stream(spark, events_dir)

    def update_totals(key, pdf_iter, state):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdf_iter:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [round(total, 2)]}
        )

    return stream.groupBy("user_id").applyInPandasWithState(
        update_totals,
        outputStructType="user_id long, n_events long, total_value double",
        stateStructType="n long, total double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_sessions(
    spark: SparkSession,
    events_dir: str,
    gap_minutes: int = SESSION_GAP_MINUTES,
    watermark: str = "1 minute",
) -> DataFrame:
    """Streaming sessionization with event-time state timeout — the
    incremental twin of :func:`q_events_sessions`.

    ``applyInPandasWithState`` keys state by user; a session closes
    when a later event arrives past the gap, or when the watermark
    passes the session's timeout (``EventTimeTimeout``) — the pattern
    for emitting completed sessions from an unbounded stream without
    unbounded state. Emits one row per CLOSED session
    ``(user_id, session_start, session_end, n_events)``; sessions
    still open when the stream pauses stay in state.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    gap_s = gap_minutes * 60
    stream = _event_stream(spark, events_dir)
    stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))

    def update(key, pdf_iter, state):
        closed: list[tuple[int, float, float, int]] = []
        uid = key[0]
        if state.hasTimedOut:
            start, last, n = state.get
            closed.append((uid, start, last, n))
            state.remove()
        else:
            ts: list[float] = []
            for pdf in pdf_iter:
                ts.extend(float(x) for x in pdf["ts"].astype("int64") // 10**9)
            ts.sort()
            cur = state.get if state.exists else None
            for t in ts:
                if cur is None:
                    cur = (t, t, 1)
                elif t - cur[1] > gap_s:
                    closed.append((uid, cur[0], cur[1], cur[2]))
                    cur = (t, t, 1)
                else:
                    cur = (cur[0], t, cur[2] + 1)
            if cur is not None:
                state.update(cur)
                state.setTimeoutTimestamp(int((cur[1] + gap_s) * 1000))
        yield pd.DataFrame(
            {
                "user_id": [c[0] for c in closed],
                "session_start": [c[1] for c in closed],
                "session_end": [c[2] for c in closed],
                "n_events": [c[3] for c in closed],
            }
        )

    return (
        stream.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType="user_id long, session_start double, session_end double, n_events long",
            stateStructType="start double, last double, n long",
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def streaming_dedup_events(
    spark: SparkSession, events_dir: str, watermark: str = "2 hours"
) -> DataFrame:
    """Streaming exact dedup: incremental ingest of event files with
    duplicates dropped by key within the watermark horizon
    (``dropDuplicatesWithinWatermark`` keys the state store on
    event_id and expires entries past the watermark — the bounded-state
    streaming twin of ``dedup_exact``). The pattern a training-data
    pipeline uses to dedup a document firehose: key = content
    fingerprint, watermark = ingestion-time horizon."""
    stream = _event_stream(spark, events_dir)
    stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


ATTRIB_WINDOW_HOURS = 1


def streaming_click_attribution(
    spark: SparkSession, events_dir: str, watermark: str = "2 hours"
) -> DataFrame:
    """Watermarked stream-stream interval join — the incremental twin
    of the batch ``q_events_attrib``: every purchase joined to the
    same user's clicks in the preceding ATTRIB_WINDOW_HOURS. Both
    sides carry watermarks and the join condition carries the time
    range, so Spark bounds each side's state buffer to the watermark
    horizon (the unbounded-state trap of naive stream joins) and can
    drop rows that can no longer match. Inner join: matches emit as
    soon as both sides arrive; state expires as the watermark passes.

    Scale shape: the state store is keyed by the equi-column
    (user_id); per-key buffered rows are bounded by rate × horizon.
    A whale user bounds at its own event rate within the window — the
    same per-(user, hour) bound as the batch twin's bucketed join."""

    def src() -> DataFrame:
        s = _event_stream(spark, events_dir)
        return s.withColumn("ts", F.col("ts").cast("timestamp"))

    clicks = (
        src()
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            "user_id",
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", watermark)
    )
    purchases = (
        src()
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    return clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("click_ts") + F.expr(f"INTERVAL {ATTRIB_WINDOW_HOURS} HOUR")
        ),
        "inner",
    ).select("user_id", "click_id", "purchase_id", "click_ts", "purchase_ts")


def q_events_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization: gap > 30 min starts a new session;
    per-user session count and mean session length (rows)."""
    ev = read_parquet(spark, f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    epoch = F.col("ts").cast("timestamp").cast("long")  # NTZ -> TS -> seconds
    gap = epoch - F.lag(epoch).over(w)
    with_flag = ev.withColumn(
        "new_session",
        F.when(gap.isNull() | (gap > SESSION_GAP_MINUTES * 60), 1).otherwise(0),
    )
    with_sid = with_flag.withColumn(
        "session_id", F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    per_session = with_sid.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events")
    )
    return per_session.groupBy("user_id").agg(
        F.count("*").alias("n_sessions"),
        F.round(F.avg("n_events"), 4).alias("avg_session_events"),
    )


def q_events_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON property extraction from the ``props`` column, bucketed."""
    ev = read_parquet(spark, f"{sf_dir}/events.parquet")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (
        ev.select((k % 10).alias("k_bucket"), "value")
        .groupBy("k_bucket")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
    )
