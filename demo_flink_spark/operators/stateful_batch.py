"""Batch twins of the keyed stateful operators (SURVEY §2.6).

Each streaming stateful operator (`streaming.stateful_ops`) has a
batch equivalent here. Where the semantics are pure window algebra
(running counter, history, trailing count, lag-diff) the twin is
built-in window functions — fully Catalyst-planned, oracle-checkable,
and the shape you'd actually run over 100 TB of *stored* history.
Where the rule is inherently sequential (alert throttling, no-change
state freeze) the twin is `applyInPandas` per key, stepping the SAME
kernel functions the streaming operators use.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)
from pyspark.sql.window import Window

from demo_flink_spark.functions.state_kernels import FraudState, cdc_step_parsed, fraud_step
from demo_flink_spark.functions.time import epoch_ms


def running_count(
    df: DataFrame, key_col: str, seq_col: str, out_col: str = "clicks"
) -> DataFrame:
    """ST4 batch twin: running per-key count in arrival (seq) order.

    `count(*) over (partition by key order by seq)` — the exact oracle
    shape from SURVEY §2.4 A3. One shuffle on the key.
    """
    w = Window.partitionBy(key_col).orderBy(seq_col)
    return df.select(
        key_col, seq_col, F.count(F.lit(1)).over(w).alias(out_col)
    )


def event_history(
    df: DataFrame, key_col: str, seq_col: str, event_col: str
) -> DataFrame:
    """ST3 batch twin: cumulative per-key event history as a joined
    string (`collect_list ... rows unbounded preceding`)."""
    w = (
        Window.partitionBy(key_col)
        .orderBy(seq_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return df.select(
        key_col,
        seq_col,
        F.concat_ws(",", F.collect_list(event_col).over(w)).alias("history"),
    )


def fraud_candidates(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    amount_col: str,
    id_col: str = "event_id",
    threshold: float = 100.0,
    window_ms: int = 600_000,
    min_count: int = 3,
) -> DataFrame:
    """ST1's window-algebra half: trailing 10-min count of high-value
    rows per key, flagging rows where the rule's count condition holds
    (throttling excluded — that half is sequential, see fraud_alerts).

    `count(when(amount>θ)) over (range between 600000 preceding)` on
    epoch millis — SURVEY §2.6's documented oracle shape for ST1.
    """
    ts_ms = epoch_ms(ts_col).alias("ts_ms")
    w = (
        Window.partitionBy(key_col)
        .orderBy("ts_ms")
        .rangeBetween(-window_ms, Window.currentRow)
    )
    high = F.when(F.col(amount_col) > threshold, 1)
    return (
        df.select(key_col, id_col, ts_ms, amount_col)
        .withColumn("n_high_10min", F.count(high).over(w))
        .withColumn("would_alert", F.col("n_high_10min") >= min_count)
        .select(key_col, id_col, "n_high_10min", "would_alert")
    )


def fraud_alerts(
    df: DataFrame,
    key_col: str,
    seq_col: str,
    ts_ms_col: str,
    amount_col: str,
    threshold: float = 100.0,
    window_ms: int = 600_000,
    min_count: int = 3,
) -> DataFrame:
    """ST1 full rule in batch: per-key ordered replay of `fraud_step`
    (prune + threshold + 10-min alert throttle) via applyInPandas.

    The throttle makes each alert depend on the previous alert — not
    expressible as a frame — so the replay is a sort-merge pass: one
    shuffle on the key, sort within partitions by (key, seq), then ONE
    `mapInPandas` generator per partition that steps the kernel and
    resets state on key change. State carries across Arrow chunks, so
    memory stays flat no matter the key size — unlike grouped-map
    `applyInPandas`, which materializes a whole key's rows in one task
    (a 10⁹-event hot key would be an OOM, and 10⁵ small keys pay a
    per-group pandas/Arrow round-trip that dominated round 1's bench).
    A hot key is still a sequential scan (the rule is inherently
    per-key sequential; salting can't apply), but a streaming one.

    Output columns: (key_col, seq, ts_ms, tracked) — the key keeps the
    caller's name and type.
    """
    key_field = df.schema[key_col]
    out_schema = StructType(
        [
            StructField(key_col, key_field.dataType),
            StructField("seq", LongType()),
            StructField("ts_ms", LongType()),
            StructField("tracked", IntegerType()),
        ]
    )

    def run(pdfs):
        cur_key = object()  # sentinel unequal to any real key
        state = FraudState()
        for pdf in pdfs:
            rows = []
            for k, seq, ts, amount in zip(
                pdf[key_col], pdf[seq_col], pdf[ts_ms_col], pdf[amount_col]
            ):
                if k != cur_key:
                    cur_key, state = k, FraudState()
                count, fired = fraud_step(
                    state,
                    float(amount),
                    int(ts),
                    threshold=threshold,
                    window_ms=window_ms,
                    min_count=min_count,
                )
                if fired:
                    rows.append((k, int(seq), int(ts), count))
            yield pd.DataFrame(rows, columns=[key_col, "seq", "ts_ms", "tracked"])

    return (
        df.select(key_col, seq_col, ts_ms_col, amount_col)
        .repartition(F.col(key_col))
        .sortWithinPartitions(key_col, seq_col)
        .mapInPandas(run, out_schema)
    )


CDC_BATCH_SCHEMA = StructType(
    [
        StructField("key", StringType()),
        StructField("seq", LongType()),
        StructField("field", StringType()),
        StructField("action", StringType()),
        StructField("old_value", StringType()),
        StructField("new_value", StringType()),
    ]
)


def cdc_diff_batch(df: DataFrame, key_col: str, seq_col: str, json_col: str) -> DataFrame:
    """ST2 full rule in batch: per-key ordered replay of `cdc_step`.

    Not a plain lag() diff: the reference does NOT update state on a
    no-change record (`TradeChangeDetectionJob.java:109-111`), so the
    comparison baseline is "last record that produced a diff", which
    lag() can't express. The replay steps the same kernel the
    streaming operator uses, as a sort-merge `mapInPandas` pass
    (shuffle on key → sort within partitions → one streaming generator
    per partition, state reset on key change) — flat memory on hot
    keys and no per-group pandas round-trip; see `fraud_alerts`.
    """

    def run(pdfs):
        cur_key = object()
        prev = None
        for pdf in pdfs:
            rows = []
            for k, seq, raw in zip(pdf[key_col], pdf[seq_col], pdf[json_col]):
                if k != cur_key:
                    cur_key, prev = k, None
                prev, diffs = cdc_step_parsed(prev, str(raw))
                for fname, action, old_v, new_v in diffs:
                    rows.append((str(k), int(seq), fname, action, old_v, new_v))
            yield pd.DataFrame(
                rows,
                columns=["key", "seq", "field", "action", "old_value", "new_value"],
            )

    return (
        df.select(key_col, seq_col, json_col)
        .repartition(F.col(key_col))
        .sortWithinPartitions(key_col, seq_col)
        .mapInPandas(run, CDC_BATCH_SCHEMA)
    )


def cdc_lag_diff(df: DataFrame, key_col: str, seq_col: str, json_col: str) -> DataFrame:
    """ST2's oracle-friendly window form: diff each record's JSON map
    against the strictly-previous record (lag) — pure built-ins.

    Equivalent to the stateful CDC when consecutive records always
    differ (true for the events table); declared with a full DuckDB
    oracle. Values canonicalize to extracted string text (documented
    delta from the type-sensitive kernel: '1' vs '"1"' both → '1').
    """
    parsed = df.select(
        F.col(key_col).cast("string").alias("key"),
        F.col(seq_col).alias("seq"),
        F.from_json(F.col(json_col), "map<string,string>").alias("m"),
    )
    w = Window.partitionBy("key").orderBy("seq")
    lagged = parsed.withColumn("prev_m", F.lag("m").over(w)).filter(
        F.col("prev_m").isNotNull()
    )
    keys = F.array_distinct(
        F.concat(F.map_keys("m"), F.map_keys("prev_m"))
    )
    exploded = lagged.select(
        "key", "seq", "m", "prev_m", F.explode(keys).alias("field")
    )
    old_v = F.col("prev_m")[F.col("field")]
    new_v = F.col("m")[F.col("field")]
    return exploded.select(
        "key",
        "seq",
        "field",
        F.when(old_v.isNull(), F.lit("ADDED"))
        .when(new_v.isNull(), F.lit("REMOVED"))
        .when(old_v != new_v, F.lit("MODIFIED"))
        .alias("action"),
        old_v.alias("old_value"),
        new_v.alias("new_value"),
    ).filter(F.col("action").isNotNull())
