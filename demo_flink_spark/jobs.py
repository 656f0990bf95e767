"""The reference's eight jobs, re-expressed as Spark pipelines.

One function per reference main(); a user of the reference switches by
calling the matching job. Batch-shaped demos (the fromElements /
fromCollection jobs) take a DataFrame and return a DataFrame; the
streaming jobs take/return streaming DataFrames the caller wires to a
sink (`sources.streams.console_sink` ≈ `.print()`).

| reference main                     | here                         |
|------------------------------------|------------------------------|
| DataStreamJob (empty skeleton)     | — (nothing to port)          |
| WindowWordCount                    | window_word_count            |
| AdvancedWordCount                  | advanced_word_count          |
| EventTimeWordCountDebug            | event_time_word_count        |
| UserClickCounter                   | user_click_counter           |
| UserEventListState                 | user_event_list              |
| FraudDetectorExample               | fraud_detector               |
| kafka.TradeChangeDetectionJob      | trade_change_detection       |
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from demo_flink_spark.operators.wordcount import (
    STOPWORDS,
    normalize_text,
)
from demo_flink_spark.sources.streams import socket_lines
from demo_flink_spark.streaming.harness import run_stateful
from demo_flink_spark.streaming.stateful_ops import (
    CDC_DETECTOR,
    EVENT_LIST,
    FRAUD_DETECTOR,
    RUNNING_COUNTER,
)
from demo_flink_spark.streaming.windows import windowed_count_stream


def window_word_count(
    spark: SparkSession, host: str = "localhost", port: int = 9999
) -> DataFrame:
    """`WindowWordCount.java:16-27`: socket → tokenize → keyed rolling
    sum. Complete/update-mode groupBy reproduces the continuously-
    updated per-word totals."""
    lines = socket_lines(spark, host, port)
    return (
        lines.select(F.explode(F.split("value", " ")).alias("word"))
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def advanced_word_count(
    spark: SparkSession, host: str = "localhost", port: int = 9999
) -> DataFrame:
    """`AdvancedWordCount.java:20-48`: + normalization and the 11-word
    stopword filter."""
    lines = socket_lines(spark, host, port)
    return (
        lines.select(normalize_text(F.col("value")).alias("line"))
        .select(F.explode(F.split("line", r"\s+")).alias("word"))
        .filter((F.length("word") > 0) & ~F.col("word").isin(*STOPWORDS))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def event_time_word_count(
    spark: SparkSession, host: str = "localhost", port: int = 9999
) -> DataFrame:
    """`EventTimeWordCountDebug.java:30-111`: parse "ts,word" lines,
    5 s disorder + 5 s allowed lateness (folded into a 10 s watermark,
    SURVEY §3.2), 10 s tumbling window count in update mode. Late-data
    side output: wire the source through `streaming.late_data.LateRouter`
    instead of a direct sink."""
    lines = socket_lines(spark, host, port)
    parsed = lines.select(
        F.split("value", ",").getItem(0).cast("long").alias("ts_ms"),
        F.lower(F.trim(F.split("value", ",").getItem(1))).alias("word"),
    ).withColumn("ts", F.timestamp_millis("ts_ms"))
    return windowed_count_stream(
        parsed, ts_col="ts", key_col="word", watermark_delay="10 seconds"
    )


def user_click_counter(spark: SparkSession, clicks: DataFrame) -> DataFrame:
    """`UserClickCounter.java`: per-user ValueState running counter,
    one output per record. Input: (seq, user_id, ...)."""
    return run_stateful(spark, clicks, ["user_id"], RUNNING_COUNTER)


def user_event_list(spark: SparkSession, events: DataFrame) -> DataFrame:
    """`UserEventListState.java`: per-user ListState history, emitted
    per record. Input: (seq, user_id, event)."""
    return run_stateful(spark, events, ["user_id"], EVENT_LIST)


def fraud_detector(spark: SparkSession, transactions: DataFrame) -> DataFrame:
    """`FraudDetectorExample.java`: alerts for ≥3 high-value txs in 10
    minutes with 10-minute throttling. Input: (seq, user_id, amount,
    ts_ms)."""
    return run_stateful(spark, transactions, ["user_id"], FRAUD_DETECTOR)


def trade_change_detection(
    spark: SparkSession,
    bootstrap_servers: str = "broker:29092",
    topic: str = "trades",
):
    """`TradeChangeDetectionJob.java:28-52` — the fat-jar main: Kafka
    `trades` topic → key by JSON `id` → stateful CDC diff → sink.

    Returns the un-sunk streaming DataFrame of change rows; wire to
    `console_sink` (≈ .print()) or `kafka_sink` (the production note at
    `TradeChangeDetectionJob.java:48`). Requires the Kafka connector.
    """
    from demo_flink_spark.sources.streams import kafka_available

    if not kafka_available(spark):
        raise RuntimeError(
            "Kafka connector not on classpath; add "
            "org.apache.spark:spark-sql-kafka-0-10_2.13 via --packages"
        )
    # Read raw (not value-only): Kafka (partition, offset) is the
    # arrival order, which the CDC kernel needs as its seq column.
    # (monotonically_increasing_id is rejected on streaming DataFrames.)
    # seq = partition << 42 | offset keeps seq unique across partitions
    # (a bare offset collides between partitions of a multi-partition
    # topic). NOTE: per-key total order still requires the producer to
    # key-partition — records of one trade_id spread across partitions
    # have no cross-partition arrival order, in Kafka or in the
    # reference job (which implicitly assumes keyed production too).
    raw = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", "earliest")
        .load()
    )
    keyed = raw.select(
        F.get_json_object(F.col("value").cast("string"), "$.id").alias("trade_id"),
        (F.shiftleft(F.col("partition").cast("long"), 42) + F.col("offset"))
        .alias("seq"),
        F.col("value").cast("string").alias("value"),
    )
    return CDC_DETECTOR.apply(keyed.groupBy("trade_id"))
