"""Event-time timer semantics (Flink onTimer parity): keys flush and
leave the state store after event-time inactivity; live keys don't."""

from __future__ import annotations

from pyspark.sql import functions as F

from demo_flink_spark.sources.streams import file_stream
from demo_flink_spark.streaming.harness import run_to_memory, stage_batches
from demo_flink_spark.streaming.timers import inactivity_flush_stream


def test_inactivity_flush_fires_on_watermark_and_clears_state(spark, tmp_path):
    rows = [
        # u1: two events, then silence -> must flush (n=2, sum=3.0)
        (0, 1_000, "u1", 1.0),
        (0, 2_000, "u1", 2.0),
        # u2: stays active across batches -> flushes later with n=2
        (0, 1_000, "u2", 5.0),
        (1, 30_000, "u2", 7.0),
        # sentinels push the watermark (5 s delay) forward so timers fire:
        # after b2 (ts 60 s) wm=55 s -> u1 (timeout 12 s) and eventually
        # u2 (timeout 40 s) fire; u3/u4 themselves never time out
        (2, 60_000, "u3", 0.0),
        (3, 100_000, "u4", 0.0),
        (4, 140_000, "u4", 0.0),
    ]
    df = spark.createDataFrame(rows, "b int, ts_ms long, user_id string, value double")
    frames = [df.filter(F.col("b") == b).drop("b") for b in range(5)]
    stream = file_stream(
        spark, stage_batches(frames, tmp_path / "src"), frames[0].schema
    ).withColumn("ts", F.timestamp_millis(F.col("ts_ms")))
    flushes = inactivity_flush_stream(stream, gap_ms=10_000)
    got = {
        r["user_id"]: (r["n_events"], r["sum_value"])
        for r in run_to_memory(flushes, tmp_path / "ckpt").collect()
    }
    # quiet keys flushed with their full accumulation
    assert got["u1"] == (2, 3.0)
    assert got["u2"] == (2, 12.0)
    assert got["u3"] == (1, 0.0)  # sentinel itself times out later
    # still-live keys (timers not yet passed by the watermark) held
    assert "u4" not in got
