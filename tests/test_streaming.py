"""Streaming semantics tests (FIXTURES.md F2, SURVEY §2.5/§3.2).

The F2 watermark/lateness scenario runs through a REAL multi-batch
Structured Streaming query: update-mode window agg re-fires for
late-but-allowed records (W4) and drops too-late ones; the LateRouter
side output (W5) diverts exactly the too-late rows.
"""

from __future__ import annotations

import socket
import threading
import time
import uuid

from pyspark.sql import functions as F

from demo_flink_spark.sources.streams import file_stream, socket_lines
from demo_flink_spark.streaming.late_data import LateRouter
from demo_flink_spark.streaming.windows import (
    streaming_dedup,
    windowed_count_stream,
)

# FIXTURES.md F2: (batch, ts_ms, word). Batch splits chosen so Spark's
# between-batch watermark reproduces Flink's per-record timing: seq5
# (9000,a) shares a batch with seq4 so the watermark (lagging one
# batch) still admits it -> re-fire; seq7 (9500,a) comes after the
# 30000 batch -> watermark 20000 -> dropped/diverted.
F2 = [
    (0, 1000, "a"),
    (0, 12000, "b"),
    (0, 8000, "a"),
    (1, 21000, "c"),
    (1, 9000, "a"),
    (2, 30000, "d"),
    (3, 9500, "a"),
]


def _write_batches(spark, tmp_path, rows, schema="b int, ts_ms long, word string"):
    stage = str(tmp_path / "src")
    df = spark.createDataFrame(rows, schema)
    n_batches = df.select(F.max("b")).first()[0] + 1
    # FileStreamSource orders by mtime (path-tiebreak is a random UUID
    # name): stamp strictly increasing mtimes so trigger order is the
    # batch order regardless of filesystem timestamp granularity.
    import os

    base = time.time() - n_batches - 1
    stamped: set[str] = set()
    for b in range(n_batches):
        df.filter(F.col("b") == b).drop("b").coalesce(1).write.mode("append").parquet(
            stage
        )
        for fname in os.listdir(stage):
            if fname.endswith(".parquet") and fname not in stamped:
                os.utime(os.path.join(stage, fname), (base + b, base + b))
                stamped.add(fname)
    return stage, df.drop("b").schema


def _with_ts(stream):
    return stream.withColumn("ts", F.timestamp_millis(F.col("ts_ms")))


def test_allowed_lateness_refire_and_silent_drop(spark, tmp_path):
    stage, schema = _write_batches(spark, tmp_path, F2)
    stream = _with_ts(file_stream(spark, stage, schema))
    counts = windowed_count_stream(
        stream, ts_col="ts", key_col="word", watermark_delay="10 seconds"
    )
    name = f"wmtest_{uuid.uuid4().hex[:8]}"
    q = (
        counts.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.table(name).collect()
    emissions = [
        (str(r["window_start"]), r["word"], r["cnt"]) for r in rows
    ]
    a_counts = [c for ws, w, c in emissions if w == "a"]
    # W4 re-fire: a=2 emitted first, then corrected to a=3 by seq5.
    assert 2 in a_counts and 3 in a_counts
    # W5 silent drop: seq7 (9500) never produces a=4.
    assert 4 not in a_counts
    final = {}
    for ws, w, c in emissions:  # update mode: later emission wins
        final[(ws, w)] = c
    assert final[("1970-01-01 00:00:00", "a")] == 3
    assert final[("1970-01-01 00:00:10", "b")] == 1
    assert final[("1970-01-01 00:00:20", "c")] == 1
    assert final[("1970-01-01 00:00:30", "d")] == 1


def test_late_router_side_output(spark, tmp_path):
    stage, schema = _write_batches(spark, tmp_path, F2)
    stream = _with_ts(file_stream(spark, stage, schema))
    on_time_rows, late_rows = [], []
    router = LateRouter(
        ts_col="ts",
        delay_ms=15_000,
        on_time=lambda df, _bid: on_time_rows.extend(
            (r["ts_ms"], r["word"]) for r in df.collect()
        ),
        on_late=lambda df, _bid: late_rows.extend(
            (r["ts_ms"], r["word"]) for r in df.collect()
        ),
    )
    q = (
        stream.writeStream.foreachBatch(router)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # FIXTURES F2 golden: late output = exactly (9500, a).
    assert late_rows == [(9500, "a")]
    assert (9000, "a") in on_time_rows  # late-but-allowed stays on time
    assert len(on_time_rows) == 6


def test_streaming_dedup(spark, tmp_path):
    rows = [
        (0, 1000, "x"),
        (0, 1000, "x"),  # dup inside one batch
        (1, 1000, "x"),  # dup across batches (within watermark state)
        (1, 2000, "y"),
    ]
    stage, schema = _write_batches(spark, tmp_path, rows)
    stream = _with_ts(file_stream(spark, stage, schema))
    deduped = streaming_dedup(stream, ["word"], ts_col="ts")
    name = f"dedup_{uuid.uuid4().hex[:8]}"
    q = (
        deduped.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = sorted((r["ts_ms"], r["word"]) for r in spark.table(name).collect())
    assert got == [(1000, "x"), (2000, "y")]


def test_socket_source_wordcount(spark, tmp_path):
    """S1 parity: live socket server → socket source → rolling count."""
    server = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    server.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    server.bind(("127.0.0.1", 0))
    port = server.getsockname()[1]
    server.listen(1)

    def serve():
        conn, _ = server.accept()
        with conn:
            conn.sendall(b"hello world\nhello spark\n")
            time.sleep(8)  # keep the socket open while Spark reads

    t = threading.Thread(target=serve, daemon=True)
    t.start()

    lines = socket_lines(spark, "127.0.0.1", port)
    counts = (
        lines.select(F.explode(F.split("value", " ")).alias("word"))
        .groupBy("word")
        .count()
    )
    name = f"sock_{uuid.uuid4().hex[:8]}"
    q = (
        counts.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        deadline = time.time() + 60
        got = {}
        while time.time() < deadline:
            got = {r["word"]: r["count"] for r in spark.table(name).collect()}
            if got.get("hello") == 2:
                break
            time.sleep(1)
        assert got.get("hello") == 2 and got.get("world") == 1
    finally:
        q.stop()
        server.close()


def test_streaming_session_window(spark, tmp_path):
    """Session windows under real streaming: in-batch session merging,
    watermark-driven finalization (append mode only emits a session
    once the watermark passes its end), and still-open sessions held
    back."""
    from demo_flink_spark.streaming.windows import session_count_stream

    rows = [
        # u1: three events within the 10 s gap -> ONE merged session
        # [1000, 18000); u2: single event -> [19000, 29000)
        (0, 1000, "u1"),
        (0, 5000, "u1"),
        (0, 8000, "u1"),
        (0, 19000, "u2"),
        # u1 again later -> second session [40000, 50000)
        (1, 40000, "u1"),
        # sentinels: advance the watermark (10 s delay) far enough to
        # close everything above; u3's first session is itself closed
        # by the second sentinel, the second stays open (never emits)
        (2, 70000, "u3"),
        (3, 100000, "u3"),
    ]
    stage, schema = _write_batches(
        spark, tmp_path, rows, schema="b int, ts_ms long, word string"
    )
    stream = _with_ts(file_stream(spark, stage, schema)).withColumnRenamed(
        "word", "user"
    )
    sessions = session_count_stream(
        stream, ts_col="ts", key_col="user", gap="10 seconds",
        watermark_delay="10 seconds",
    )
    name = f"sess_{uuid.uuid4().hex[:8]}"
    q = (
        sessions.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = sorted(
        (r["user"], str(r["session_start"]), str(r["session_end"]), r["n_events"])
        for r in spark.table(name).collect()
    )
    assert got == [
        ("u1", "1970-01-01 00:00:01", "1970-01-01 00:00:18", 3),
        ("u1", "1970-01-01 00:00:40", "1970-01-01 00:00:50", 1),
        ("u2", "1970-01-01 00:00:19", "1970-01-01 00:00:29", 1),
        ("u3", "1970-01-01 00:01:10", "1970-01-01 00:01:20", 1),
    ]


def test_streaming_windowed_topn_matches_batch(spark, tmp_path):
    """Streaming Top-N (the Flink TopN pattern): complete-mode windowed
    counts re-ranked per micro-batch in foreachBatch; after the final
    batch the snapshot equals the batch windowed-TopN computation. Two
    micro-batches prove rankings REVISE as late counts arrive (u3
    overtakes u1 in window 0 only after batch 1)."""
    H = 3_600_000
    rows = [
        # batch 0: window 0 -> u1 x2, u3 x1 ; window 1 -> u2 x1
        (0, 1 * H // 4, "u1"),
        (0, 2 * H // 4, "u1"),
        (0, 3 * H // 4, "u3"),
        (0, H + 1000, "u2"),
        # batch 1: u3 gains 2 in window 0 -> overtakes u1
        (1, 5 * H // 8, "u3"),
        (1, 6 * H // 8, "u3"),
        (1, H + 2000, "u2"),
    ]
    stage, schema = _write_batches(
        spark, tmp_path, rows, "b int, ts_ms long, user string"
    )
    stream = _with_ts(file_stream(spark, stage, schema))
    counts = stream.groupBy(F.window("ts", "1 hour").alias("w"), "user").count()

    from pyspark.sql.window import Window as W

    snapshots = []

    def rerank(df, _epoch):
        rk = F.row_number().over(
            W.partitionBy("w").orderBy(F.desc("count"), F.asc("user"))
        )
        snapshots.append(
            sorted(
                (str(r["w"].start), r["user"], r["count"], r["rk"])
                for r in df.withColumn("rk", rk)
                .filter(F.col("rk") <= 2)
                .collect()
            )
        )

    q = (
        counts.writeStream.outputMode("complete")
        .foreachBatch(rerank)
        .option("maxFilesPerTrigger", 1)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    assert len(snapshots) >= 2
    final = snapshots[-1]
    # batch truth: window 0 -> u3 (3) then u1 (2); window 1 -> u2 (2)
    w0 = "1970-01-01 00:00:00"
    w1 = "1970-01-01 01:00:00"
    assert final == sorted(
        [(w0, "u3", 3, 1), (w0, "u1", 2, 2), (w1, "u2", 2, 1)]
    )
    # and the ranking genuinely revised: batch-0 snapshot had u1 first
    assert (w0, "u1", 2, 1) in snapshots[0]


def test_ohlc_stream_matches_batch_twin(spark, tmp_path):
    from demo_flink_spark.operators.timeseries import ohlc_bars
    from demo_flink_spark.streaming.windows import ohlc_bars_stream

    # two micro-batches of ticks, out of order within the watermark,
    # a same-ts pair (id tiebreak decides close), two keys
    base = 1_700_000_000_000  # ms, on a 15-min boundary? normalize below
    base -= base % 900_000  # align to a 15-min boundary
    rows = [
        # (batch, event_id, ts_ms, event_type, value)
        (0, 1, base + 10_000, "x", 5.0),
        (0, 2, base + 200_000, "x", 9.0),
        (0, 3, base + 60_000, "y", 100.0),
        # batch 1: late-but-inside-watermark tick updates the open
        (1, 4, base + 5_000, "x", 7.0),
        # same-ts pair: higher id wins close
        (1, 5, base + 890_000, "x", 2.0),
        (1, 6, base + 890_000, "x", 3.0),
        # next window
        (1, 7, base + 910_000, "x", 4.0),
    ]
    stage, schema = _write_batches(
        spark,
        tmp_path,
        rows,
        "b int, event_id long, ts_ms long, event_type string, value double",
    )
    stream = _with_ts(file_stream(spark, stage, schema))
    bars = ohlc_bars_stream(stream, watermark_delay="30 minutes")
    name = f"ohlc_{uuid.uuid4().hex[:8]}"
    q = (
        bars.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # update mode re-emits corrected bars: keep the LAST emission per key
    final = {}
    for r in spark.table(name).collect():
        final[(r["key"], str(r["bucket_ts"]))] = r
    batch_df = spark.createDataFrame(rows, "b int, event_id long, ts_ms long, event_type string, value double")
    batch = ohlc_bars(
        batch_df.withColumn("ts", F.timestamp_millis("ts_ms")).drop("b", "ts_ms"),
        step="15 minutes",
    )
    want = {(r["key"], str(r["bucket_ts"])): r for r in batch.collect()}
    assert set(final) == set(want)
    for k in want:
        for c in ("n_ticks", "open", "high", "low", "close", "vsum"):
            assert final[k][c] == want[k][c], (k, c, final[k][c], want[k][c])
    # spot-check the interesting bar: late tick owns open, id-6 close
    xbar = want[("x", str(final[("x", sorted(ts for kk, ts in final if kk == "x")[0])]["bucket_ts"]))]
    assert xbar["open"] == 7.0 and xbar["close"] == 3.0 and xbar["n_ticks"] == 5
