"""Per-record emission parity (SURVEY §7.4, the one semantic delta a
Flink migrant hits first).

Flink's `.keyBy(w).sum(1)` (`WindowWordCount.java:20-23`,
`AdvancedWordCount.java:30-42`) emits the UPDATED running total on
every input record. Spark's declarative twin —
`groupBy().agg(sum)` in update output mode — emits once per key per
MICRO-BATCH, coalescing intermediate totals that land in the same
batch. This file pins the exact relationship:

1. with coarse batches, update mode emits the per-batch-final totals
   only (the coalescing, demonstrated not hand-waved);
2. as batches shrink to one record each, the update-mode emission
   sequence CONVERGES to Flink's per-record sequence, record for
   record;
3. when true per-record emission is required at any batch size, the
   stateful-processor form (RUNNING_COUNTER golden F5,
   tests/test_stateful.py) provides it — one output row per input
   record regardless of batching.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from demo_flink_spark.sources.streams import file_stream
from demo_flink_spark.streaming.harness import stage_batches

# Flink reference sequence for the F5 click stream: .keyBy(user).sum
# emits (user, new_total) on every record, in record order.
CLICKS = [
    ("user1",),
    ("user2",),
    ("user1",),
    ("user3",),
    ("user2",),
    ("user1",),
]
PER_RECORD_EMISSIONS = [
    ("user1", 1),
    ("user2", 1),
    ("user1", 2),
    ("user3", 1),
    ("user2", 2),
    ("user1", 3),
]


def _stage(spark, tmp_path, batch_of: list[int]) -> str:
    """Stage CLICKS with record i in micro-batch `batch_of[i]`."""
    df = spark.createDataFrame(
        [(b, u) for b, (u,) in zip(batch_of, CLICKS)], "b int, user_id string"
    )
    frames = [df.filter(F.col("b") == b).drop("b") for b in sorted(set(batch_of))]
    return stage_batches(frames, tmp_path / "src")


def _update_mode_emissions(spark, stage: str) -> list[list[tuple[str, int]]]:
    """Run groupBy().count() in update mode, one file per trigger;
    return each micro-batch's emitted (user, total) rows."""
    counts = file_stream(spark, stage, "user_id string").groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("clicks")
    )
    emissions: list[list[tuple[str, int]]] = []

    def sink(df, _epoch: int) -> None:
        rows = sorted((r.user_id, r.clicks) for r in df.collect())
        if rows:
            emissions.append(rows)

    q = (
        counts.writeStream.outputMode("update")
        .foreachBatch(sink)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return emissions


def test_coarse_batches_coalesce_intermediate_totals(spark, tmp_path):
    # 2 batches of 3 records: user1's intermediate total (1) never
    # appears — the same-batch coalescing Flink users must expect
    stage = _stage(spark, tmp_path, [0, 0, 0, 1, 1, 1])
    got = _update_mode_emissions(spark, stage)
    assert got == [
        [("user1", 2), ("user2", 1)],
        [("user1", 3), ("user2", 2), ("user3", 1)],
    ]
    # 5 emissions vs Flink's 6: exactly one intermediate coalesced
    assert sum(len(b) for b in got) == len(PER_RECORD_EMISSIONS) - 1


def test_one_record_batches_reproduce_flink_sequence(spark, tmp_path):
    # 6 batches of 1 record: update mode emits Flink's per-record
    # sequence exactly, in order
    stage = _stage(spark, tmp_path, list(range(len(CLICKS))))
    got = _update_mode_emissions(spark, stage)
    assert [rows[0] for rows in got] == PER_RECORD_EMISSIONS
    assert all(len(rows) == 1 for rows in got)


def test_stateful_processor_is_per_record_at_any_batch_size(spark):
    # the engine's answer when exact per-record output is REQUIRED:
    # the RUNNING_COUNTER stateful processor emits one row per input
    # record even with all records in one batch
    from demo_flink_spark.streaming.harness import run_stateful
    from demo_flink_spark.streaming.stateful_ops import RUNNING_COUNTER

    rows = [(i + 1, u, "click") for i, (u,) in enumerate(CLICKS)]
    src = spark.createDataFrame(rows, "seq long, user_id string, action string")
    out = run_stateful(spark, src, ["user_id"], RUNNING_COUNTER)
    got = sorted((r.seq, r.clicks) for r in out.collect())
    want = sorted(
        (i + 1, total) for i, (_u, total) in enumerate(PER_RECORD_EMISSIONS)
    )
    assert got == want  # 6 records in, 6 emissions out
