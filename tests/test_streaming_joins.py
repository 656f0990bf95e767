"""Stream-stream and stream-static join tests (SURVEY §2.3 ext)."""

from __future__ import annotations

from pyspark.sql import functions as F

from demo_flink_spark.sources.streams import file_stream
from demo_flink_spark.streaming.harness import run_to_memory, stage_batches
from demo_flink_spark.streaming.joins import stream_static_enrich, stream_stream_join


def _stream_of(spark, stage, rows, schema="ts_ms long, key string, v string"):
    df = spark.createDataFrame(rows, schema)
    return file_stream(spark, stage_batches([df], stage), df.schema).withColumn(
        "ts", F.timestamp_millis("ts_ms")
    )


def test_stream_stream_join_within_time_bound(spark, tmp_path):
    clicks = _stream_of(
        spark,
        tmp_path / "clicks",
        [(1_000, "u1", "click"), (30_000, "u2", "click"), (5_000, "u3", "click")],
    )
    views = _stream_of(
        spark,
        tmp_path / "views",
        [(4_000, "u1", "view"), (50_000, "u2", "view"), (5_500, "u9", "view")],
    )
    joined = stream_stream_join(
        clicks, views, key="key", watermark="10 seconds", within="10 seconds"
    ).select(
        F.col("l.key").alias("key"),
        F.col("l.ts_ms").alias("click_ms"),
        F.col("r.ts_ms").alias("view_ms"),
    )
    got = sorted(map(tuple, run_to_memory(joined, tmp_path / "ckpt").collect()))
    # u1: 4000 within 10s of 1000 -> match; u2: 50000 vs 30000 -> 20s
    # apart, outside the bound; u3/u9: no key match.
    assert got == [("u1", 1_000, 4_000)]


def test_stream_static_enrich(spark, tmp_path):
    events = _stream_of(
        spark, tmp_path / "src", [(1_000, "u1", "click"), (2_000, "u2", "view")]
    )
    dim = spark.createDataFrame(
        [("u1", "gold"), ("u2", "silver")], "key string, tier string"
    )
    enriched = stream_static_enrich(events, dim, "key").select("key", "v", "tier")
    got = sorted(map(tuple, run_to_memory(enriched, tmp_path / "ckpt").collect()))
    assert got == [("u1", "click", "gold"), ("u2", "view", "silver")]


def test_stream_stream_left_outer_emits_unmatched_after_watermark(spark, tmp_path):
    # u1 matches; u2 has no right-side row; the "wm" pair advances the
    # watermark far past u2's join window so the outer result for u2
    # (null-extended) can be emitted by the no-data micro-batch.
    clicks = _stream_of(
        spark,
        tmp_path / "clicks",
        [(1_000, "u1", "click"), (5_000, "u2", "click"), (200_000, "wm", "click")],
    )
    views = _stream_of(
        spark,
        tmp_path / "views",
        [(2_000, "u1", "view"), (200_000, "wm", "view")],
    )
    joined = stream_stream_join(
        clicks,
        views,
        key="key",
        watermark="10 seconds",
        within="10 seconds",
        how="left_outer",
    ).select(
        F.col("l.key").alias("key"),
        F.col("l.ts_ms").alias("click_ms"),
        F.col("r.ts_ms").alias("view_ms"),
    )
    rows = run_to_memory(joined, tmp_path / "ckpt").collect()
    got = sorted((r.key, r.click_ms, r.view_ms) for r in rows)
    assert got == [
        ("u1", 1_000, 2_000),
        ("u2", 5_000, None),
        ("wm", 200_000, 200_000),
    ]
