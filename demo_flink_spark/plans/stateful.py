"""Declared queries: keyed stateful operators, batch twins (SURVEY §2.6).

The streaming stateful operators themselves are exercised by the
golden fixture tests (tests/test_stateful.py, FIXTURES.md F3-F6) under
real Structured Streaming; these declared queries are their batch
twins over the `events` table — window-algebra forms with full DuckDB
oracles where expressible, shared-kernel applyInPandas replays
(rows-only check) where the rule is inherently sequential.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from demo_flink_spark.functions.time import epoch_ms
from demo_flink_spark.operators import stateful_batch as sb
from demo_flink_spark.plans.spec import QuerySpec
from demo_flink_spark.sources import load_table


def q_running_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST4 twin: running event count per user in event_id order."""
    ev = load_table(spark, sf_dir, "events")
    return sb.running_count(ev, "user_id", "event_id", out_col="clicks")


def q_event_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST3 twin: cumulative event_type history per user."""
    ev = load_table(spark, sf_dir, "events")
    return sb.event_history(ev, "user_id", "event_id", "event_type")


def q_fraud_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST1 window half: trailing 10-min high-value count + flag."""
    ev = load_table(spark, sf_dir, "events")
    return sb.fraud_candidates(ev, "user_id", "ts", "value")


def q_fraud_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST1 full rule (incl. throttle) via shared-kernel applyInPandas.

    events mapping: value>100 is "high-value", event_id is the arrival
    order, epoch-millis of ts is the rule clock.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.col("event_id").alias("seq"),
        epoch_ms("ts").alias("ts_ms"),
        F.col("value").alias("amount"),
    )
    # 1-day window (vs the reference's 10 min): the synthetic events are
    # too sparse for the 10-min rule to ever fire — same kernel, wider
    # clock, so the throttle path actually exercises.
    return sb.fraud_alerts(
        ev, "user_id", "seq", "ts_ms", "amount", window_ms=86_400_000
    )


def q_cdc_lag_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST2 window form: lag-diff of events.props JSON per user."""
    ev = load_table(spark, sf_dir, "events")
    return sb.cdc_lag_diff(ev, "user_id", "event_id", "props")


def q_cdc_diff_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST2 full rule (no-change records freeze state) via kernel replay."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.col("event_id").alias("seq"), F.col("props").alias("value")
    )
    return sb.cdc_diff_batch(ev, "user_id", "seq", "value")


def q_cdc_upsert_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE/upsert compaction: apply a keyed changelog and emit the
    final table state — the other half of CDC (the diff queries derive
    the changelog; this one consumes it).

    events as changelog: per user, each event upserts `props` as the
    row state; an 'error' event is a DELETE marker. Final snapshot =
    the latest record per key, dropped when that record is a delete.

    Scale design: `max_by` aggregation, NOT a row_number window — the
    aggregate gets map-side partial combine (each task keeps one
    candidate row per key before the exchange), so the shuffle carries
    ≤ |keys| rows per task instead of the full changelog. String-typed
    max_by buffers make Spark pick SortAggregate (per-partition key
    sort) rather than HashAggregate, but the partial_max_by before the
    exchange — the part that bounds shuffle volume — is retained.
    This is the standard log-compaction shape.
    """
    ev = load_table(spark, sf_dir, "events")
    latest = ev.groupBy("user_id").agg(
        F.max("event_id").alias("last_event_id"),
        F.max_by("event_type", "event_id").alias("last_op"),
        F.max_by("props", "event_id").alias("state"),
    )
    return latest.filter(F.col("last_op") != "error").select(
        "user_id", "last_event_id", "state"
    )


SPECS = [
    QuerySpec(
        "stateful_running_count",
        q_running_count,
        oracle="""
        SELECT user_id, event_id,
               count(*) OVER (PARTITION BY user_id ORDER BY event_id) AS clicks
        FROM events
        """,
    ),
    QuerySpec(
        "stateful_event_history",
        q_event_history,
        oracle="""
        SELECT user_id, event_id,
               string_agg(event_type, ',') OVER (
                   PARTITION BY user_id ORDER BY event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS history
        FROM events
        """,
    ),
    QuerySpec(
        "stateful_fraud_candidates",
        q_fraud_candidates,
        oracle="""
        SELECT user_id, event_id,
               count(CASE WHEN value > 100 THEN 1 END) OVER (
                   PARTITION BY user_id ORDER BY epoch_ms(ts)
                   RANGE BETWEEN 600000 PRECEDING AND CURRENT ROW) AS n_high_10min,
               count(CASE WHEN value > 100 THEN 1 END) OVER (
                   PARTITION BY user_id ORDER BY epoch_ms(ts)
                   RANGE BETWEEN 600000 PRECEDING AND CURRENT ROW) >= 3 AS would_alert
        FROM events
        """,
    ),
    QuerySpec(
        "stateful_fraud_alerts",
        q_fraud_alerts,
        # Full-rule reconstruction: the windowed candidate count is a
        # RANGE frame; the alert throttle is sequentially dependent
        # (each alert rearms the 1-day clock), reconstructed with a
        # recursive walk over the per-user candidate sequence.
        oracle="""
        WITH RECURSIVE counted AS (
            SELECT user_id, event_id AS seq, epoch_ms(ts) AS ts_ms,
                   count(CASE WHEN value > 100 THEN 1 END) OVER (
                       PARTITION BY user_id ORDER BY epoch_ms(ts)
                       RANGE BETWEEN 86400000 PRECEDING AND CURRENT ROW
                   ) AS tracked
            FROM events
        ),
        cand AS (
            SELECT user_id, seq, ts_ms, tracked,
                   row_number() OVER (PARTITION BY user_id ORDER BY seq) AS rn
            FROM counted WHERE tracked >= 3
        ),
        walk AS (
            SELECT user_id, seq, ts_ms, tracked, rn,
                   TRUE AS fired, ts_ms AS last_alert
            FROM cand WHERE rn = 1
            UNION ALL
            SELECT c.user_id, c.seq, c.ts_ms, c.tracked, c.rn,
                   c.ts_ms - w.last_alert > 86400000 AS fired,
                   CASE WHEN c.ts_ms - w.last_alert > 86400000
                        THEN c.ts_ms ELSE w.last_alert END AS last_alert
            FROM cand c JOIN walk w
              ON c.user_id = w.user_id AND c.rn = w.rn + 1
        )
        SELECT user_id, seq, ts_ms, CAST(tracked AS INTEGER) AS tracked
        FROM walk WHERE fired
        """,
    ),
    QuerySpec(
        "stateful_cdc_lag_diff",
        q_cdc_lag_diff,
        oracle="""
        WITH lagged AS (
            SELECT CAST(user_id AS VARCHAR) AS key, event_id AS seq, props,
                   lag(props) OVER (PARTITION BY user_id ORDER BY event_id) AS prev_props
            FROM events
        ),
        pairs AS (
            SELECT key, seq, props, prev_props,
                   unnest(list_distinct(list_cat(json_keys(props), json_keys(prev_props))))
                       AS field
            FROM lagged WHERE prev_props IS NOT NULL
        )
        SELECT key, seq, field,
               CASE WHEN json_extract_string(prev_props, '$.' || field) IS NULL THEN 'ADDED'
                    WHEN json_extract_string(props, '$.' || field) IS NULL THEN 'REMOVED'
                    WHEN json_extract_string(props, '$.' || field)
                         <> json_extract_string(prev_props, '$.' || field) THEN 'MODIFIED'
               END AS action,
               json_extract_string(prev_props, '$.' || field) AS old_value,
               json_extract_string(props, '$.' || field) AS new_value
        FROM pairs
        WHERE CASE WHEN json_extract_string(prev_props, '$.' || field) IS NULL THEN 'ADDED'
                   WHEN json_extract_string(props, '$.' || field) IS NULL THEN 'REMOVED'
                   WHEN json_extract_string(props, '$.' || field)
                        <> json_extract_string(prev_props, '$.' || field) THEN 'MODIFIED'
              END IS NOT NULL
        """,
    ),
    QuerySpec(
        "stateful_cdc_diff_full",
        q_cdc_diff_full,
        # Kernel replay == lag-diff here because no-change records
        # freeze state at a value canonically equal to their own, so
        # the lag twin reconstructs it; values are CANONICAL JSON text
        # (json_extract, quotes preserved — type-sensitive like the
        # kernel), unlike the _lag_diff query's extracted strings.
        oracle="""
        WITH lagged AS (
            SELECT CAST(user_id AS VARCHAR) AS key, event_id AS seq, props,
                   lag(props) OVER (PARTITION BY user_id ORDER BY event_id)
                       AS prev_props
            FROM events
        ),
        pairs AS (
            SELECT key, seq, props, prev_props,
                   unnest(list_distinct(list_cat(json_keys(props),
                                                 json_keys(prev_props))))
                       AS field
            FROM lagged WHERE prev_props IS NOT NULL
        ),
        diffs AS (
            SELECT key, seq, field,
                   CAST(json_extract(prev_props, '$.' || field) AS VARCHAR)
                       AS old_value,
                   CAST(json_extract(props, '$.' || field) AS VARCHAR)
                       AS new_value
            FROM pairs
        )
        SELECT key, seq, field,
               CASE WHEN old_value IS NULL THEN 'ADDED'
                    WHEN new_value IS NULL THEN 'REMOVED'
                    ELSE 'MODIFIED' END AS action,
               old_value, new_value
        FROM diffs
        WHERE old_value IS DISTINCT FROM new_value
        """,
    ),
    QuerySpec(
        "cdc_upsert_snapshot",
        q_cdc_upsert_snapshot,
        # event_id is globally unique, so arg_max is deterministic and
        # matches Spark's max_by exactly.
        oracle="""
        WITH latest AS (
            SELECT user_id,
                   max(event_id) AS last_event_id,
                   arg_max(event_type, event_id) AS last_op,
                   arg_max(props, event_id) AS state
            FROM events GROUP BY user_id
        )
        SELECT user_id, last_event_id, state
        FROM latest WHERE last_op <> 'error'
        """,
    ),
]
