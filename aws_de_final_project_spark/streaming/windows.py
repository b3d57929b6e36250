"""Event-time windowed aggregation with late-data handling.

The reference has no true streaming operators (SURVEY.md §2.10): late
data is handled by *re-delivery* (the Socrata ``updated_on`` filter
re-fetches updated rows) with no dedup. This module supplies the
missing pieces as Structured Streaming plans:

* tumbling-window counts with a watermark (bounded state, late rows
  dropped deterministically after the horizon);
* the batch twin of the same plan (identical ``F.window`` expression)
  so results are testable without a stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def windowed_event_counts(
    events: DataFrame,
    window_duration: str = "1 hour",
    watermark: str | None = "2 hours",
    ts_col: str = "ts",
) -> DataFrame:
    """Tumbling-window counts per event_type. Works on both batch and
    streaming frames; the watermark only binds in streaming mode
    (bounds state: window entries older than the horizon are evicted
    and late rows beyond it dropped)."""
    df = events
    if watermark is not None and events.isStreaming:
        from aws_de_final_project_spark.streaming.evtime import ensure_event_time

        df = ensure_event_time(events, ts_col).withWatermark(ts_col, watermark)
    return (
        df.groupBy(F.window(F.col(ts_col), window_duration), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def session_stats(
    events: DataFrame,
    gap: str = "30 minutes",
    ts_col: str = "ts",
    key_col: str = "user_id",
) -> DataFrame:
    """Session-window aggregation via the built-in ``session_window``
    (Spark >= 3.2): events within ``gap`` of each other merge into one
    session per key; ``end`` = last event + gap.

    The same expression runs in batch (oracle-checkable via a
    gaps-and-islands SQL rewrite) and streaming (state store holds one
    open session per key, closed by the watermark). Prefer this over
    hand-rolled state whenever plain sessionization is the need —
    applyInPandasWithState (see :func:`sessionize_stateful`) is for
    semantics the built-ins can't express.
    """
    return (
        events.groupBy(
            F.session_window(F.col(ts_col), gap).alias("sw"), key_col
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
        .select(
            key_col,
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


def session_stats_stream(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "0 seconds",
    ts_col: str = "ts",
    key_col: str = "user_id",
) -> DataFrame:
    """The STREAMING form of :func:`session_stats`: event-time
    watermark (required — it both bounds the state store and decides
    when an open session is final) + the same ``session_window``
    aggregate, in append mode one row per CLOSED session.

    The watermark machinery needs TIMESTAMP (LTZ), so the NTZ event
    time is cast through LTZ and the emitted bounds cast back to NTZ —
    an identity roundtrip under the pinned-UTC session
    (``evtime.ensure_event_time`` documents why the offset cancels
    regardless). Omits ``sum_value``: a session spanning micro-batches
    folds doubles in replay order, and the repo's cross-engine
    discipline keeps order-sensitive float sums out of oracle-checked
    columns."""
    from aws_de_final_project_spark.streaming.evtime import ensure_event_time

    df = ensure_event_time(events, ts_col).withWatermark(ts_col, watermark)
    return (
        df.groupBy(F.session_window(F.col(ts_col), gap).alias("sw"), key_col)
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            key_col,
            F.col("sw.start").cast("timestamp_ntz").alias("session_start"),
            F.col("sw.end").cast("timestamp_ntz").alias("session_end"),
            "n_events",
        )
    )

