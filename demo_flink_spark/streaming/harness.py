"""The file-drop stream harness: stage micro-batches as files, run a
streaming query to a memory sink, and wire a keyed stateful operator
between them.

This is how the golden fixture tests (FIXTURES.md F2-F6), the recovery
tests and the stream/batch twin tests exercise the exact production
code path — file source, state store, Arrow transfer, micro-batch
execution — rather than a pure-Python simulation. Multi-batch replay
proves state survives micro-batch boundaries.

- `stage_batches` writes one parquet file per micro-batch, in replay
  order;
- `run_to_memory` drains a streaming DataFrame into a memory table;
- `run_stateful` composes the two around `StatefulOp.apply`, the
  engine's one keyed-state wiring (see `streaming.stateful_ops`).
"""

from __future__ import annotations

import os
import shutil
import tempfile
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.state import GroupStateTimeout

from demo_flink_spark.sources.streams import file_stream
from demo_flink_spark.streaming.state_receipt import batch_state_metrics
from demo_flink_spark.streaming.stateful_ops import StatefulOp


def stage_batches(frames: list[DataFrame], stage_dir) -> str:
    """Write each frame as one `coalesce(1)` parquet file under
    `stage_dir`, so a file stream reading one file per trigger replays
    the frames as micro-batches in list order. Returns the directory.

    FileStreamSource orders new files by modification time, with ties
    broken by path — and paths contain random UUID part names, so
    same-mtime-tick writes could replay out of order. Each frame's file
    is stamped with an explicit mtime one second after the previous
    one, and the first after every file already in the directory, so
    a later call (data landing while a query is down) replays after
    the earlier ones regardless of filesystem timestamp granularity
    (ADVICE r1).
    """
    stage = str(stage_dir)
    os.makedirs(stage, exist_ok=True)

    def parquet_files() -> set[str]:
        return {f for f in os.listdir(stage) if f.endswith(".parquet")}

    stamped = parquet_files()
    mtime = max(
        [time.time() - len(frames) - 1]
        + [os.path.getmtime(os.path.join(stage, f)) + 1 for f in stamped]
    )
    for frame in frames:
        frame.coalesce(1).write.mode("append").parquet(stage)
        new = parquet_files() - stamped
        for fname in new:
            os.utime(os.path.join(stage, fname), (mtime, mtime))
        stamped |= new
        mtime += 1
    return stage


def run_to_memory(
    df: DataFrame,
    checkpoint_dir,
    mode: str = "append",
    metrics_out: list | None = None,
) -> DataFrame:
    """Run streaming `df` into a memory sink until every available
    input is processed, stop the query, and return the sink table.

    `metrics_out`: a caller-supplied list extended with the per-batch
    state metrics (`state_receipt.batch_state_metrics`) before the
    query stops — the memory-sink result alone cannot recover
    `stateOperators[].numRowsTotal`.
    """
    name = f"stream_{uuid.uuid4().hex[:8]}"
    query = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .option("checkpointLocation", str(checkpoint_dir))
        .start()
    )
    try:
        query.processAllAvailable()
        if metrics_out is not None:
            metrics_out.extend(batch_state_metrics(query))
    finally:
        query.stop()
    return df.sparkSession.table(name)


def run_stateful(
    spark: SparkSession,
    source: DataFrame,
    key_cols: list[str],
    op: StatefulOp,
    n_batches: int = 1,
    batch_col: str | None = None,
    work_dir: str | None = None,
    timeout_conf: str = GroupStateTimeout.NoTimeout,
    watermark: tuple[str, str] | None = None,
    metrics_out: list | None = None,
) -> DataFrame:
    """Execute `op` over `source` as a streaming query; return the
    fully-materialized result as a batch DataFrame.

    With n_batches > 1, `batch_col` (an int column 0..n_batches-1)
    splits the input into one staged micro-batch per value, so state
    must carry across batch boundaries.

    `timeout_conf` (VERDICT r13 #2): default NoTimeout is the
    reference's W2 no-watermark CDC semantics — keyed state is
    unbounded BY DESIGN (state rows = distinct keys seen; SCALING.md
    r14 states the growth law with a measured number). Pass
    `GroupStateTimeout.EventTimeTimeout` plus `watermark=(ts_col,
    delay)` for ops that arm `state.setTimeoutTimestamp` and evict on
    fire (the Flink onTimer parity pattern of streaming/timers.py) —
    that is how a 100 TB pipeline bounds custom-op state, and
    tests/test_state_bounded.py measures the resulting plateau.
    EventTimeTimeout requires the watermark.

    `metrics_out`: see `run_to_memory`.

    Staging + checkpoint dirs live under `work_dir` when a caller
    passes one (that caller's cleanup then owns them); otherwise under
    a mkdtemp that this function removes on every exit, success or
    exception. The memory sink holds the result rows driver-side, so
    the returned DataFrame never re-reads the staged files.
    """
    if n_batches > 1 and batch_col is None:
        raise ValueError("batch_col required when n_batches > 1")
    if timeout_conf == GroupStateTimeout.EventTimeTimeout and watermark is None:
        raise ValueError("EventTimeTimeout requires watermark=(ts_col, delay)")
    own_dir = work_dir is None
    root = tempfile.mkdtemp(prefix="stateful_run_") if own_dir else work_dir
    try:
        if n_batches > 1:
            frames = [
                source.filter(f"{batch_col} = {b}").drop(batch_col)
                for b in range(n_batches)
            ]
        else:
            frames = [source]
        tag = uuid.uuid4().hex[:8]
        stage = stage_batches(frames, os.path.join(root, f"src_{tag}"))
        stream = file_stream(spark, stage, frames[0].schema)
        if watermark is not None:
            stream = stream.withWatermark(*watermark)
        return run_to_memory(
            op.apply(stream.groupBy(*key_cols), timeout_conf),
            os.path.join(root, f"ckpt_{tag}"),
            metrics_out=metrics_out,
        )
    finally:
        if own_dir:
            shutil.rmtree(root, ignore_errors=True)
