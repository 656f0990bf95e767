"""Incremental aggregate snapshot (materialized view over foreachBatch)
and observed-metrics coverage."""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import functions as F

from demo_flink_spark.sources.streams import file_stream
from demo_flink_spark.sources.tables import load_table
from demo_flink_spark.streaming.harness import stage_batches
from demo_flink_spark.streaming.materialized import IncrementalAggSink, incremental_agg_sink

SF_DIR = "/root/testdata/sf0.001"


def test_incremental_agg_matches_batch_groupby(spark):
    """Multi-micro-batch maintenance: the final snapshot equals a plain
    batch GROUP BY over all the data, and intermediate generations were
    replaced atomically (only the final generation remains)."""
    ev = load_table(spark, SF_DIR, "events").select(
        "event_type", "value", (F.col("event_id") % 3).cast("int").alias("b")
    )
    with tempfile.TemporaryDirectory() as d:
        frames = [ev.filter(F.col("b") == b).drop("b") for b in range(3)]
        stage = stage_batches(frames, f"{d}/src")
        stream = file_stream(spark, stage, frames[0].schema)
        q, sink = incremental_agg_sink(
            stream,
            spark,
            f"{d}/mv",
            ["event_type"],
            {
                "n": F.count(F.lit(1)),
                "sum_value": F.round(F.sum(F.col("value").cast("decimal(38,6)")), 6),
            },
            f"{d}/ckpt",
        )
        q.awaitTermination(120)
        snap = sink.read_snapshot()
        got = {
            r["event_type"]: (r["n"], float(r["sum_value"]))
            for r in snap.collect()
        }
        want = {
            r["event_type"]: (r["n"], float(r["sum_value"]))
            for r in ev.groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.round(F.sum(F.col("value").cast("decimal(38,6)")), 6).alias(
                    "sum_value"
                ),
            )
            .collect()
        }
        assert got == want
        gens = [n for n in os.listdir(f"{d}/mv") if n.startswith("gen-")]
        assert len(gens) == 1  # superseded generations GC'd


def test_incremental_agg_replay_is_idempotent(spark):
    """A replayed batch id (restart semantics) must not double-count."""
    df = spark.createDataFrame([("a", 1), ("a", 2), ("b", 3)], "k string, v long")
    with tempfile.TemporaryDirectory() as d:
        sink = IncrementalAggSink(
            spark, d, ["k"], {"n": F.count(F.lit(1)), "s": F.sum("v")}
        )
        sink(df, 0)
        sink(df, 0)  # replay of the same batch id: skipped
        got = {r["k"]: (r["n"], r["s"]) for r in sink.read_snapshot().collect()}
        assert got == {"a": (2, 3), "b": (1, 3)}


def test_observed_metrics_single_pass(spark):
    from demo_flink_spark.operators.scale import with_observed_metrics

    ev = load_table(spark, SF_DIR, "events")
    observed, obs = with_observed_metrics(
        ev,
        "ev_metrics",
        n_rows=F.count(F.lit(1)),
        n_null_props=F.sum(F.when(F.col("props").isNull(), 1).otherwise(0)),
        max_value=F.max("value"),
    )
    n = observed.filter(F.col("value") >= 0).count()  # the job's own action
    m = obs.get
    assert m["n_rows"] == ev.count()
    assert m["n_null_props"] == ev.filter(F.col("props").isNull()).count()
    assert m["max_value"] == ev.agg(F.max("value")).first()[0]
    assert n <= m["n_rows"]


def test_upsert_sink_last_write_wins_and_deletes(spark):
    """UpsertSink: within-batch and cross-batch last-write-wins by seq,
    tombstones delete keys, replayed batch ids are skipped."""
    from demo_flink_spark.streaming.materialized import upsert_sink

    rows = [
        # (b, seq, key, val, deleted)
        (0, 1, "a", 10, False),
        (0, 2, "a", 11, False),   # within-batch: seq 2 wins
        (0, 3, "b", 20, False),
        (1, 4, "a", 12, False),   # cross-batch update
        (1, 5, "b", 0, True),     # tombstone deletes b
        (1, 6, "c", 30, False),
    ]
    df = spark.createDataFrame(
        rows, "b int, seq long, key string, val long, deleted boolean"
    )
    with tempfile.TemporaryDirectory() as d:
        frames = [df.filter(F.col("b") == b).drop("b") for b in range(2)]
        stage = stage_batches(frames, f"{d}/src")
        stream = file_stream(spark, stage, frames[0].schema)
        q, sink = upsert_sink(
            stream,
            spark,
            f"{d}/tbl",
            ["key"],
            "seq",
            f"{d}/ckpt",
            delete_col="deleted",
        )
        try:
            q.awaitTermination(120)
        finally:
            q.stop()
        snap = {r.key: (r.seq, r.val) for r in sink.read_snapshot().collect()}
        assert snap == {"a": (4, 12), "c": (6, 30)}  # b deleted

        # replay safety: re-applying an old batch id is a no-op
        sink(df.filter(F.col("b") == 0).drop("b"), 0)
        snap2 = {r.key: (r.seq, r.val) for r in sink.read_snapshot().collect()}
        assert snap2 == snap


def test_upsert_sink_matches_batch_twin(spark):
    """The streaming upsert snapshot equals the batch MERGE/compaction
    (cdc_upsert_snapshot's keep-latest-per-key semantics) over the
    same changelog."""
    from demo_flink_spark.streaming.materialized import UpsertSink

    ev = load_table(spark, SF_DIR, "events").select(
        (F.col("event_id") % 4).cast("int").alias("b"),
        F.col("event_id").alias("seq"),
        F.col("user_id").alias("key"),
        F.col("value").alias("val"),
    )
    with tempfile.TemporaryDirectory() as d:
        sink = UpsertSink(spark, f"{d}/tbl", ["key"], "seq")
        for b in range(4):
            sink(ev.filter(F.col("b") == b).drop("b"), b)
        got = {r.key: (r.seq, r.val) for r in sink.read_snapshot().collect()}
    want = {
        r.key: (r.seq, r.val)
        for r in ev.drop("b")
        .groupBy("key")
        .agg(F.max_by(F.struct("seq", "val"), "seq").alias("w"))
        .select("key", "w.seq", "w.val")
        .collect()
    }
    assert got == want and len(got) >= 10
