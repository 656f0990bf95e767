"""Streaming state-boundedness receipts (VERDICT r12 #3): drive a
SLIDING key population — fresh keys every micro-batch, event time
advancing well past the watermark — through the stream-stream join
and a watermarked window aggregate, and assert via Spark's own state
accounting (`stateOperators[].numRowsTotal`) that buffered state
PLATEAUS at the watermark-window bound instead of growing with total
input. This is the streaming analog of the batch scale probes: the
claim "watermarks bound the join buffers" was previously a docstring;
these tests make it a measured number (recorded in SCALING.md r13).

Every batch uses NEW keys, so a non-evicting implementation must
retain every row ever seen (nothing is an update) — the series would
track cumulative input and fail both plateau checks by construction.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from demo_flink_spark.sources.streams import file_stream
from demo_flink_spark.streaming.harness import run_to_memory, stage_batches
from demo_flink_spark.streaming.state_receipt import assert_plateaus

N_BATCHES = 22
ROWS_PER_BATCH = 24
# event time advances 60 s per batch — far past watermark (10 s) +
# join window (10 s), so each batch's state is evictable two
# watermark advances later
STEP_S = 60
BASE_EPOCH = 1_700_000_000
SLIDING_SCHEMA = "key string, sec long"


def _stage_sliding(spark, tmp_path) -> str:
    """One file per micro-batch; keys are unique per batch — the
    sliding population."""
    frames = [
        spark.createDataFrame(
            [
                (f"k{b}_{i}", BASE_EPOCH + b * STEP_S + (i % 5))
                for i in range(ROWS_PER_BATCH)
            ],
            SLIDING_SCHEMA,
        )
        for b in range(N_BATCHES)
    ]
    return stage_batches(frames, tmp_path / "src")


def _sliding_stream(spark, stage):
    return (
        file_stream(spark, stage, SLIDING_SCHEMA)
        .withColumn("ts", F.col("sec").cast("timestamp"))
        .drop("sec")
    )


def test_stream_stream_join_state_plateaus(spark, tmp_path):
    """The stream-stream join buffers BOTH sides in the state store;
    the event-time constraint + watermark must evict rows that can no
    longer match. 22 micro-batches x 24 fresh keys per side = 1056
    rows/side ingested; unbounded buffering would end at ~2112 state
    rows. Measured: the plateau holds at ~2-3 batches' worth."""
    from demo_flink_spark.streaming.joins import stream_stream_join

    stage = _stage_sliding(spark, tmp_path)
    joined = stream_stream_join(
        _sliding_stream(spark, stage), _sliding_stream(spark, stage),
        key="key", left_ts="ts", right_ts="ts",
        watermark="10 seconds", within="10 seconds",
    )
    metrics: list[dict] = []
    out = run_to_memory(
        joined.select(F.col("l.key").alias("key")),
        tmp_path / "ckpt",
        metrics_out=metrics,
    )

    total_output = out.count()
    # every key matches itself within the window, both directions
    # collapse to one row per (l,r) pair; the 5 distinct second
    # offsets all sit within ±10 s, so each key yields >= 1 match
    assert total_output >= N_BATCHES * ROWS_PER_BATCH

    series = [m["state_rows"] for m in metrics if m["input_rows"] > 0]
    ingested = 2 * N_BATCHES * ROWS_PER_BATCH  # both sides buffered
    assert_plateaus(series, ingested)


def test_windowed_agg_state_plateaus(spark, tmp_path):
    """Watermarked tumbling-window count (W1+W3): open windows are
    the state; closed windows must evict after the watermark passes.
    Fresh keys per batch mean a non-evicting agg would retain one
    state row per (window, key) forever — cumulative growth."""
    from demo_flink_spark.streaming.windows import windowed_count_stream

    stream = _sliding_stream(spark, _stage_sliding(spark, tmp_path))
    stream = stream.withColumnRenamed("key", "word")
    counted = windowed_count_stream(
        stream,
        ts_col="ts",
        key_col="word",
        window_duration="10 seconds",
        watermark_delay="10 seconds",
    )
    metrics: list[dict] = []
    out = run_to_memory(counted, tmp_path / "ckpt", metrics_out=metrics)

    # append mode emits each window exactly once, after it closes;
    # the final batches' windows stay open at stream end
    emitted = out.count()
    distinct_keys = N_BATCHES * ROWS_PER_BATCH
    assert emitted >= distinct_keys - 3 * ROWS_PER_BATCH

    series = [m["state_rows"] for m in metrics if m["input_rows"] > 0]
    assert_plateaus(series, distinct_keys)


def test_streaming_dedup_state_plateaus(spark, tmp_path):
    """dropDuplicatesWithinWatermark (streaming_dedup): the seen-keys
    set is the state; its docstring claims eviction once the watermark
    passes — the bounded-state trade every streaming dedup makes.
    Fresh keys per batch make a non-evicting dedup retain every key
    ever seen. Each batch's rows are emitted in full (duplicate-free
    input), so correctness is total passthrough."""
    from demo_flink_spark.streaming.windows import streaming_dedup

    deduped = streaming_dedup(
        _sliding_stream(spark, _stage_sliding(spark, tmp_path)),
        key_cols=["key"], ts_col="ts", watermark_delay="10 seconds",
    )
    metrics: list[dict] = []
    out = run_to_memory(deduped, tmp_path / "ckpt", metrics_out=metrics)

    # every key is unique corpus-wide -> nothing is actually dropped
    assert out.count() == N_BATCHES * ROWS_PER_BATCH

    series = [m["state_rows"] for m in metrics if m["input_rows"] > 0]
    assert_plateaus(series, N_BATCHES * ROWS_PER_BATCH)


def _flush_source(spark):
    """Sliding key population shaped for the inactivity-flush kernel:
    one row per fresh key per batch (user_id, ts, ts_ms, value) with
    event time advancing STEP_S per batch — far past watermark (10 s)
    + flush gap (15 s), so every batch's keys become evictable two
    watermark advances later."""
    rows = []
    for b in range(N_BATCHES):
        for i in range(ROWS_PER_BATCH):
            rows.append((f"k{b}_{i}", BASE_EPOCH + b * STEP_S + (i % 5), b))
    return (
        spark.createDataFrame(rows, "user_id string, sec long, batch int")
        .select(
            "user_id",
            F.col("sec").cast("timestamp").alias("ts"),
            (F.col("sec") * 1000).alias("ts_ms"),
            F.lit(1.0).alias("value"),
            "batch",
        )
    )


def test_custom_stateful_op_timeout_evicts(spark, tmp_path):
    """The fourth receipt (VERDICT r13 #2): a CUSTOM keyed stateful
    operator — applyInPandasWithState with the timers.py inactivity-
    flush kernel — through run_stateful's opt-in EventTimeTimeout.
    Keys that go quiet are flushed AND removed from the store, so
    `numRowsTotal` plateaus at ~2-3 batches of keys instead of
    tracking every key ever seen. This closes the one stateful class
    (custom ops) whose 100 TB boundedness story was prose: the three
    r13 receipts cover only Spark's built-in stateful operators."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    from demo_flink_spark.streaming.harness import run_stateful
    from demo_flink_spark.streaming.timers import inactivity_flush_op

    op = inactivity_flush_op(gap_ms=15_000)
    metrics: list[dict] = []
    out = run_stateful(
        spark,
        _flush_source(spark),
        ["user_id"],
        op,
        n_batches=N_BATCHES,
        batch_col="batch",
        work_dir=str(tmp_path),
        timeout_conf=GroupStateTimeout.EventTimeTimeout,
        watermark=("ts", "10 seconds"),
        metrics_out=metrics,
    )
    total_keys = N_BATCHES * ROWS_PER_BATCH
    # each flushed key emits exactly one summary row (n_events=1,
    # value 1.0); the final batches' keys stay armed at stream end
    flushed = {r.user_id: r for r in out.collect()}
    assert len(flushed) >= total_keys - 3 * ROWS_PER_BATCH
    assert all(r.n_events == 1 and r.sum_value == 1.0 for r in flushed.values())
    series = [m["state_rows"] for m in metrics if m["input_rows"] > 0]
    assert_plateaus(series, total_keys)


def test_custom_stateful_op_no_timeout_grows_with_keys(spark, tmp_path):
    """The measured NoTimeout growth law (SCALING.md r14): without a
    timeout the store holds exactly one state row per DISTINCT KEY
    EVER SEEN — faithful to the reference's W2 no-watermark CDC
    semantics (unbounded by design), and the counterfactual proving
    the receipt above measures eviction, not harness noise: the same
    sliding population through a no-timeout accumulator must end at
    state_rows == total keys and FAIL the plateau guard."""
    import pandas as pd

    from demo_flink_spark.streaming.harness import run_stateful
    from demo_flink_spark.streaming.stateful_ops import StatefulOp

    def accumulate(key, pdfs, state):
        n = state.get[0] if state.exists else 0
        for pdf in pdfs:
            n += len(pdf)
        state.update((n,))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [int(n)]})

    op = StatefulOp(
        name="no_timeout_accumulator",
        fn=accumulate,
        output_schema="user_id string, n_events long",
        state_schema="n long",
    )
    metrics: list[dict] = []
    run_stateful(
        spark,
        _flush_source(spark),
        ["user_id"],
        op,
        n_batches=N_BATCHES,
        batch_col="batch",
        work_dir=str(tmp_path),
        metrics_out=metrics,
    )
    series = [m["state_rows"] for m in metrics if m["input_rows"] > 0]
    total_keys = N_BATCHES * ROWS_PER_BATCH
    # the growth law, exactly: state rows = distinct keys seen
    assert series[-1] == total_keys
    assert series == sorted(series)  # monotone, never evicts
    with pytest.raises(AssertionError):
        assert_plateaus(series, total_keys)


def test_plateau_guard_rejects_cumulative_growth():
    """The receipt's own sanity check: a non-evicting buffer's series
    (cumulative input) must FAIL assert_plateaus — otherwise the two
    streaming tests above prove nothing."""
    cumulative = [24 * (b + 1) for b in range(N_BATCHES)]
    with pytest.raises(AssertionError):
        assert_plateaus(cumulative, 24 * N_BATCHES)


def test_plateau_guard_rejects_slow_monotone_leak():
    """ADVICE r13: a store leaking ~1.5%/batch passes the adjacent-
    window tail check (1.015^8 = 1.13 < 1.15 slack) and, on a short
    enough run, the total-fraction check too — the whole-series
    early-vs-tail comparison must catch it independently. 40 batches
    at 1.5%/batch: early-window max ~72, tail max ~103 → ratio 1.44."""
    leak = [int(60 * 1.015**b) for b in range(40)]
    # confirm the leak is slow enough to slip the ADJACENT-window
    # check alone (tail max / mid max under the 1.15 slack) — i.e.
    # this test exercises the new check, not check 2
    assert max(leak[-8:]) <= 1.15 * max(leak[-16:-8])
    with pytest.raises(AssertionError, match="slow monotone leak"):
        assert_plateaus(leak, total_ingested=24 * 40_000)


def test_plateau_guard_rejects_midrun_spike():
    """A store that ballooned mid-run and drained before the tail
    still needed spike-sized memory; checks 1-2 look only at the tail
    and would bless it. The global-vs-tail check must reject it."""
    spike = [60] * 10 + [600] + [60] * 11
    with pytest.raises(AssertionError, match="peaked mid-run"):
        assert_plateaus(spike, total_ingested=24 * N_BATCHES * 100)
