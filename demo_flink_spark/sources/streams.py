"""Streaming sources & sinks (SURVEY §2.1 S1-S6).

Parity map:
- S1 socket text source  (`WindowWordCount.java:18`)        → `socket_lines`
- S2/S3 in-memory source (`UserClickCounter.java:19-26`)    → batch
  `spark.createDataFrame`, or frames staged as a file-drop stream by
  `streaming.harness.stage_batches` and read by `file_stream`
- S4 Kafka source        (`TradeChangeDetectionJob.java:31-41`) → `kafka_stream`
- S5 print sink          (`stream.print()`)                  → `console_sink`
- Kafka sink (the reference's "in production you'd write to another
  topic" comment, `TradeChangeDetectionJob.java:48`)         → `kafka_sink`

The Kafka connector is a separate Spark package
(`spark-sql-kafka-0-10`); this container doesn't ship it, so the
builders raise a clear error when the format is missing instead of
Spark's generic ClassNotFound at `.load()` time. On a real cluster add
`--packages org.apache.spark:spark-sql-kafka-0-10_2.13:<spark-ver>`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def kafka_available(spark: SparkSession) -> bool:
    """True when the Kafka connector jar is on the classpath."""
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.spark.sql.kafka010.KafkaSourceProvider"
        )
        return True
    except Exception:  # noqa: BLE001 — Py4J wraps ClassNotFound opaquely
        return False


def socket_lines(spark: SparkSession, host: str = "localhost", port: int = 9999) -> DataFrame:
    """Unbounded stream of text lines from a TCP socket (S1).

    Dev/demo source only (single-reader, no replay, no offsets) — the
    same caveat Flink's socketTextStream carries.
    """
    return (
        spark.readStream.format("socket")
        .option("host", host)
        .option("port", port)
        .load()
    )


def kafka_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str = "trades",
    starting_offsets: str = "earliest",
) -> DataFrame:
    """Kafka value stream as strings (S4).

    Mirrors the reference's source config (`TradeChangeDetectionJob.java:31-41`):
    topic `trades`, earliest offsets, value-only string deserialization.
    Consumer-group management is Spark-internal (no groupId knob needed).
    Backpressure at scale: set `maxOffsetsPerTrigger` so one micro-batch
    never exceeds cluster throughput (SURVEY §7.5).
    """
    if not kafka_available(spark):
        raise RuntimeError(
            "Kafka connector not on classpath; add "
            "org.apache.spark:spark-sql-kafka-0-10_2.13 via --packages"
        )
    return (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .load()
        .select(F.col("value").cast("string").alias("value"))
    )


def file_stream(
    spark: SparkSession, path: str, schema, fmt: str = "parquet", max_files: int = 1
) -> DataFrame:
    """File-drop stream (the replayable test/ingest source)."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files)
        .format(fmt)
        .load(path)
    )


def console_sink(df: DataFrame, mode: str = "update", label: str | None = None):
    """S5 print-sink twin: started console writer (label ≈ queryName)."""
    writer = df.writeStream.format("console").outputMode(mode)
    if label:
        writer = writer.queryName(label)
    return writer.start()


def rate_stream(
    spark: SparkSession, rows_per_second: int = 100, partitions: int | None = None
) -> DataFrame:
    """Built-in load-generator source: (timestamp, value) rows.

    The perf-testing twin of the reference's in-memory element source —
    unbounded, deterministic row values, parallelism via
    `numPartitions`. Use for sink/backpressure testing without Kafka.
    """
    reader = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_second)
    )
    if partitions is not None:
        reader = reader.option("numPartitions", partitions)
    return reader.load()


def parquet_sink(
    df: DataFrame,
    path: str,
    checkpoint_dir: str,
    trigger_available_now: bool = False,
):
    """Exactly-once streaming file sink.

    Spark's file sink commits each micro-batch atomically through the
    checkpoint's write-ahead metadata log — a reader listing the
    directory through Spark sees only committed files, so replays
    after failure never double-count (the Flink
    StreamingFileSink/checkpoint contract, which the reference's
    print-sink demos skip entirely). Append mode only, by design:
    files are immutable at scale.
    """
    writer = (
        df.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def foreach_batch_sink(df: DataFrame, fn, checkpoint_dir: str, **trigger):
    """ForeachBatch sink: `fn(batch_df, batch_id)` per micro-batch.

    The idiomatic escape hatch for sinks Spark lacks (JDBC upsert,
    MERGE INTO, multi-table fan-out). `batch_id` is stable across
    replays of the same epoch — an idempotent `fn` keyed on it gives
    effectively-once semantics.
    """
    writer = df.writeStream.foreachBatch(fn).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()


def memory_sink(df: DataFrame, name: str, mode: str = "append"):
    """In-memory table sink (driver-resident) for tests/debugging —
    query results with `spark.table(name)`. Never for production size."""
    return (
        df.writeStream.format("memory").queryName(name).outputMode(mode).start()
    )


def kafka_sink(
    df: DataFrame,
    bootstrap_servers: str,
    topic: str,
    checkpoint_dir: str,
    mode: str = "update",
):
    """Kafka sink for a DataFrame with a string `value` column."""
    if not kafka_available(df.sparkSession):
        raise RuntimeError(
            "Kafka connector not on classpath; add "
            "org.apache.spark:spark-sql-kafka-0-10_2.13 via --packages"
        )
    return (
        df.writeStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("topic", topic)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode(mode)
        .start()
    )
