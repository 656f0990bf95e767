"""Timer-driven state flush (Flink timer parity, SURVEY §2.6).

The reference's fraud detector registers a timer and clears its flag
state when it fires (`FraudDetectorExample.java` — the canonical Flink
KeyedProcessFunction pattern: `ctx.timerService().registerTimer(...)`
+ `onTimer()` clearing state). Spark's equivalent is the timeout
channel of `applyInPandasWithState`: `setTimeoutTimestamp` arms the
timer, and the function is re-invoked with `state.hasTimedOut` and no
rows when the event-time watermark passes it — exactly Flink's
`onTimer` callback.

This module's operator is the general form of that pattern: per-key
accumulation that FLUSHES (emits + clears state) after `gap_ms` of
event-time inactivity. It is how a 100 TB streaming pipeline bounds
state: keys that go quiet leave the store instead of accumulating
forever.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupStateTimeout

from demo_flink_spark.streaming.stateful_ops import StatefulOp


def inactivity_flush_op(gap_ms: int) -> StatefulOp:
    """The operator: accumulate per key; when no event arrives for
    `gap_ms` of event time, emit one summary row and remove the state
    (Flink onTimer parity). Apply it with
    `GroupStateTimeout.EventTimeTimeout` over a watermarked stream."""

    def fn(key, pdfs: Iterator[pd.DataFrame], state) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            n, total, _last = state.get
            state.remove()
            yield pd.DataFrame(
                [(key[0], int(n), float(total))],
                columns=["user_id", "n_events", "sum_value"],
            )
            return
        n, total, last_ts = state.get if state.exists else (0, 0.0, 0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
            last_ts = max(last_ts, int(pdf["ts_ms"].max()))
        state.update((n, total, last_ts))
        # arm the event-time timer: fires once the watermark passes it
        state.setTimeoutTimestamp(last_ts + gap_ms)
        yield pd.DataFrame(columns=["user_id", "n_events", "sum_value"])

    return StatefulOp(
        name="inactivity_flush",
        fn=fn,
        output_schema="user_id string, n_events long, sum_value double",
        state_schema="n long, total double, last_ts long",
    )


def inactivity_flush_stream(
    stream: DataFrame,
    gap_ms: int,
    key_col: str = "user_id",
    watermark_delay: str = "5 seconds",
    ts_col: str = "ts",
) -> DataFrame:
    """Wire the operator: expects `ts` (timestamp) and `ts_ms`/`value`
    columns; emits one (user_id, n_events, sum_value) row per flushed
    key. EventTimeTimeout requires a watermark on the input."""
    return inactivity_flush_op(gap_ms).apply(
        stream.withWatermark(ts_col, watermark_delay).groupBy(key_col),
        GroupStateTimeout.EventTimeTimeout,
    )
