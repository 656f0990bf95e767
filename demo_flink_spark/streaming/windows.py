"""Streaming window operators + watermarks (SURVEY §2.5).

The batch twins in `plans.windows` prove the grouping semantics against
DuckDB; these wire the same `window()`/`session_window()` groupings
into Structured Streaming with watermarks. Semantics notes:

- `withWatermark(ts, delay)` is the same bounded-out-of-orderness
  contract as the reference's custom generator (max-seen − delay,
  `EventTimeWordCountDebug.java:45-74`); Spark advances it between
  micro-batches instead of on a 200 ms timer.
- Flink's allowed-lateness re-fire ≈ `update` output mode with the
  lateness folded into the watermark delay: a record inside the
  watermark re-emits its window's corrected row (W4). Verified by
  tests/test_streaming.py::test_allowed_lateness_refire.
- Records older than the watermark are silently dropped by the agg —
  the late-data side output (W5) is `streaming.late_data.LateRouter`.
- The sliding window (W7) is covered by the batch query
  `window_sliding_10m_5m` alone; it has no streaming operator here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def windowed_count_stream(
    stream: DataFrame,
    ts_col: str = "ts",
    key_col: str = "word",
    window_duration: str = "10 seconds",
    watermark_delay: str = "10 seconds",
) -> DataFrame:
    """Tumbling event-time window count with watermark (W1+W3+W4).

    The reference pipeline (`EventTimeWordCountDebug.java:100-105`):
    5 s disorder bound + 5 s allowed lateness = 10 s watermark delay
    here (SURVEY §3.2 mapping).
    """
    return (
        stream.withWatermark(ts_col, watermark_delay)
        .groupBy(F.window(F.col(ts_col), window_duration).alias("w"), F.col(key_col))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.col("w.start").alias("window_start"), key_col, "cnt")
    )


def session_count_stream(
    stream: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
    gap: str = "5 minutes",
    watermark_delay: str = "10 seconds",
) -> DataFrame:
    """Session windows in streaming (engine extension, SURVEY §2.5)."""
    return (
        stream.withWatermark(ts_col, watermark_delay)
        .groupBy(
            F.session_window(F.col(ts_col), gap).alias("w"), F.col(key_col)
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            key_col,
            "n_events",
        )
    )


def streaming_dedup(
    stream: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    watermark_delay: str = "10 seconds",
) -> DataFrame:
    """Streaming exact dedup on the KEY: first occurrence wins, even
    when re-deliveries carry different timestamps; state is evicted
    once the watermark passes (`dropDuplicatesWithinWatermark`), so a
    key can reappear after the watermark window — the bounded-state
    trade every streaming dedup makes."""
    return stream.withWatermark(ts_col, watermark_delay).dropDuplicatesWithinWatermark(
        key_cols
    )


def ohlc_bars_stream(
    stream: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    value_col: str = "value",
    id_col: str = "event_id",
    window_duration: str = "15 minutes",
    watermark_delay: str = "30 minutes",
) -> DataFrame:
    """Streaming twin of `operators.timeseries.ohlc_bars`: watermarked
    tumbling-window OHLC bars over an event stream.

    The batch operator decides open/close with row_number over an
    explicit (ts, id) order; a streaming aggregate can't rank, so the
    same total order rides `min_by`/`max_by` with a (ts, id) struct
    key — identical semantics (verified by the batch/streaming parity
    test), expressible as an incremental aggregate the state store
    maintains per (key, window). Late ticks inside the watermark
    update their bar (update mode); ticks beyond it are dropped —
    route them with `late_data.LateRouter` when they must be kept.
    """
    from demo_flink_spark.operators.relational import dsum

    ordk = F.struct(F.col(ts_col), F.col(id_col))
    v = F.col(value_col)
    return (
        stream.withWatermark(ts_col, watermark_delay)
        .groupBy(
            F.window(F.col(ts_col), window_duration).alias("w"),
            F.col(key_col).alias("key"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_ticks"),
            F.min_by(v, ordk).alias("open"),
            F.max(v).alias("high"),
            F.min(v).alias("low"),
            F.max_by(v, ordk).alias("close"),
            dsum(v).alias("vsum"),
        )
        .select(
            F.col("w.start").alias("bucket_ts"),
            "key",
            "n_ticks",
            "open",
            "high",
            "low",
            "close",
            "vsum",
        )
    )
