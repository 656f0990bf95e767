"""The stream workload: the reference's TradeChangeDetectionJob wired as
`jobs.trade_change_detection` wires it, with the file source in place
of Kafka:

    sources.streams.file_stream -> groupBy(trade_id)
      .applyInPandasWithState(CDC_DETECTOR) -> sources.streams.foreach_batch_sink

One process feeds it seeded trade files in three phases:

1. warm-up (set-up): WARM_FILES drain-sized files, closed loop, untimed;
2. drain: DRAIN_FILES files of DRAIN_EVENTS trades, closed loop - each
   file is written once the previous one's output has been emitted, so
   every micro-batch holds exactly one file;
3. open loop: FILE_EVENTS-trade files on a fixed schedule of RATE files
   a second for `--seconds`, whatever the stream is doing. A file's
   latency runs from its scheduled creation time to the end of the
   foreachBatch callback of the micro-batch that emitted its output.

Files map to micro-batches from outside the operator: the files are
consumed whole and in modification-time order, so a batch's listener
`numInputRows` says which files it held. The collected output must
equal the batch twin `operators.stateful_batch.cdc_diff_batch` over the
same events.
"""

from __future__ import annotations

import json
import os
import time
from collections import Counter

import datagen
import eventlog
import stats

FILE_EVENTS = 20  # trades per open-loop file
RATE = 8.0  # open-loop files per second
DRAIN_FILES = 2
DRAIN_EVENTS = 500  # trades per drain file
# the first micro-batch costs about twice a steady one; the warm-up
# files are drain-sized, so `streaming.batch_trend` compares like work
WARM_FILES = 3
EMIT_TIMEOUT_S = 60.0
# a file still waiting after this many median micro-batch durations means
# the open-loop backlog grew instead of draining
BACKLOG_BATCHES = 3.0


class Feed:
    """Writes trade files into the source directory and tracks, per
    file, its row range and its scheduled time."""

    def __init__(self, in_dir: str, gen: datagen.TradeGenerator):
        self.in_dir = in_dir
        self.gen = gen
        self.rows: list[tuple[str, int, str]] = []
        self.files: list[dict] = []
        # strictly increasing, whole-second modification times: the file
        # source orders new files by mtime, so no two files may share one
        self.mtime0 = time.time() - 100_000

    def write(self, n_events: int, scheduled: float | None = None) -> dict:
        i = len(self.files)
        batch = self.gen.events(n_events)
        path = os.path.join(self.in_dir, f"trades-{i:05d}.parquet")
        datagen.write_trade_file(batch, path, self.mtime0 + i)
        rec = {"start": len(self.rows), "end": len(self.rows) + n_events, "scheduled": scheduled}
        self.rows.extend(batch)
        self.files.append(rec)
        return rec


def open_loop(write, n: int, rate: float, start: float, clock=time.time, sleep=time.sleep) -> list[float]:
    """Call `write(due)` for the `n` files due at `start + i / rate`,
    never before their due time and never waiting for the system: a
    slow write makes later files late, it does not move their due
    times. Returns each file's lateness, from its due time to the end
    of its write."""
    late = []
    for i in range(n):
        due = start + i / rate
        wait = due - clock()
        if wait > 0:
            sleep(wait)
        write(due)
        late.append(clock() - due)
    return late


class Progress:
    """Collects the query's progress events and the sink callback
    times, and maps input rows to the batch that emitted them."""

    def __init__(self):
        self.events: list[dict] = []
        self.callbacks: dict[int, tuple[float, float]] = {}

    def rows_done(self) -> int:
        return sum(int(p["numInputRows"]) for p in list(self.events))

    def emit_time(self, end_row: int) -> float | None:
        """End of the sink callback of the batch holding row `end_row - 1`."""
        done = 0
        for p in list(self.events):
            done += int(p["numInputRows"])
            if done >= end_row:
                cb = self.callbacks.get(p["batchId"])
                return cb[1] if cb else None
        return None

    def wait(self, end_row: int, timeout: float) -> bool:
        deadline = time.time() + timeout
        while self.rows_done() < end_row:
            if time.time() > deadline:
                return False
            time.sleep(0.005)
        return True


def _listener(progress: Progress):
    from pyspark.sql.streaming import StreamingQueryListener

    class _L(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = json.loads(event.progress.json)
            if int(p.get("numInputRows", 0)) > 0:
                progress.events.append(p)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return _L()


def run_stream(run, process_start: float) -> None:
    from pyspark.sql.streaming.state import GroupStateTimeout

    from demo_flink_spark.operators.stateful_batch import cdc_diff_batch
    from demo_flink_spark.sources.streams import file_stream, foreach_batch_sink
    from demo_flink_spark.streaming.stateful_ops import CDC_DETECTOR

    tr = run.tracer
    in_dir = os.path.join(run.work, "trades")
    os.makedirs(in_dir)
    feed = Feed(in_dir, datagen.TradeGenerator(run.seed))
    spark = run.start_session()
    progress = Progress()
    listener = _listener(progress)
    spark.streams.addListener(listener)
    out_rows: list[tuple] = []

    def sink(df, batch_id):
        t = time.time()
        with tr.span("sink.callback", batch=batch_id):
            rows = df.collect()
        out_rows.extend(tuple(r) for r in rows)
        progress.callbacks[batch_id] = (t, time.time())

    with tr.span("stream.start"):
        changes = (
            file_stream(spark, in_dir, datagen.TRADE_SCHEMA, max_files=100_000)
            .groupBy("trade_id")
            .applyInPandasWithState(
                CDC_DETECTOR.fn,
                outputStructType=CDC_DETECTOR.output_schema,
                stateStructType=CDC_DETECTOR.state_schema,
                outputMode="append",
                timeoutConf=GroupStateTimeout.NoTimeout,
            )
        )
        query = foreach_batch_sink(changes, sink, os.path.join(run.work, "ckpt"))
    try:
        _phases(run, feed, progress, process_start)
    finally:
        query.stop()
        spark.streams.removeListener(listener)

    with tr.span("check"):
        twin = spark.createDataFrame(feed.rows, datagen.TRADE_SCHEMA)
        expected = Counter(tuple(r) for r in cdc_diff_batch(twin, "trade_id", "seq", "value").collect())
    if Counter(out_rows) != expected:
        run.fail(
            f"stream output ({len(out_rows)} rows) differs from cdc_diff_batch "
            f"({sum(expected.values())} rows)"
        )
    if run.trace:
        spark.stop()  # flushes the event log
        lines = eventlog.read_dir(os.path.join(run.work, "eventlog"))
        timed = eventlog.total(eventlog.fold(lines, window_ms=run.window_ms))
        n = max(run.layers.get("streaming.batches", 0), 1)
        for k in eventlog.METRICS:
            run.layers[k] = timed[k] / n


def _phases(run, feed: Feed, progress: Progress, process_start: float) -> None:
    tr = run.tracer
    with tr.span("warmup"):
        t = time.time()
        for _ in range(WARM_FILES):
            f = feed.write(DRAIN_EVENTS)
            if not progress.wait(f["end"], EMIT_TIMEOUT_S + 60):
                raise RuntimeError("a warm-up micro-batch never completed")
        run.layers["session.warmup_s"] = time.time() - t
    warm_batches = len(progress.events)

    t0 = time.time()
    run.e2e["setup_s"] = t0 - process_start
    run.attempted = DRAIN_FILES + int(RATE * run.seconds)

    with tr.span("drain"):
        for _ in range(DRAIN_FILES):
            f = feed.write(DRAIN_EVENTS)
            if not progress.wait(f["end"], EMIT_TIMEOUT_S):
                run.failed += 1
                run.fail("a drain file was never emitted")
                return
        drained = progress.emit_time(f["end"])
    if drained is None:
        run.failed += 1
        run.fail("the last drain batch has no sink callback")
        return
    run.e2e["throughput_per_s"] = DRAIN_FILES * DRAIN_EVENTS / (drained - t0)

    n_open = int(RATE * run.seconds)
    with tr.span("open_loop"):
        lateness = open_loop(
            lambda due: feed.write(FILE_EVENTS, scheduled=due), n_open, RATE, time.time() + 0.05
        )
        backlog_end = len(feed.files) - sum(
            1 for f in feed.files if f["end"] <= progress.rows_done()
        )
        progress.wait(feed.files[-1]["end"], EMIT_TIMEOUT_S)
    t1 = time.time()
    run.window_ms = (t0 * 1000, t1 * 1000)

    batches = progress.events[warm_batches:]
    open_files = feed.files[-n_open:]
    durations = [p["durationMs"]["triggerExecution"] for p in batches]
    # steadiness: the last drain batch against the last warm-up batch
    trend = durations[DRAIN_FILES - 1] / progress.events[warm_batches - 1]["durationMs"]["triggerExecution"]
    limit = BACKLOG_BATCHES * stats.median(durations) / 1000.0
    latencies = []
    for f in open_files:
        emitted = progress.emit_time(f["end"])
        if emitted is None:
            run.failed += 1
            continue
        latencies.append(emitted - f["scheduled"])
        if latencies[-1] > limit:
            run.failed += 1  # waited behind a growing backlog
    if run.failed:
        run.fail(f"{run.failed} open-loop files missed emission or waited past {limit:.1f} s")
    if not latencies:
        return
    run.e2e["latency_p50_s"] = stats.percentile(latencies, 0.5)
    run.e2e["latency_p90_s"] = stats.percentile(latencies, 0.9)

    def p50(values):
        return stats.median(values) if values else 0.0

    ops = [(p.get("stateOperators") or [{}])[0] for p in batches]
    d = [p["durationMs"] for p in batches]
    run.layers.update(
        {
            "streaming.batches": len(batches),
            "streaming.batch_ms_p50": p50(durations),
            "streaming.batch_trend": trend,
            "streaming.add_batch_ms_p50": p50([x.get("addBatch", 0) for x in d]),
            "streaming.state_update_ms_p50": p50([o.get("allUpdatesTimeMs", 0) for o in ops]),
            "streaming.state_commit_ms_p50": p50([o.get("commitTimeMs", 0) for o in ops]),
            "streaming.wal_ms_p50": p50([x.get("walCommit", 0) + x.get("commitOffsets", 0) for x in d]),
            "streaming.state_rows": ops[-1].get("numRowsTotal", 0),
            "streaming.state_bytes": ops[-1].get("memoryUsedBytes", 0),
            "streaming.state_partitions": ops[-1].get("numStateStoreInstances", 0),
            "sources.list_ms_p50": p50([x.get("latestOffset", 0) + x.get("getBatch", 0) for x in d]),
            "sink.callback_ms_p50": 1000.0 * p50(
                [e - s for b, (s, e) in progress.callbacks.items() if b >= batches[0]["batchId"]]
            ),
            "gen.late_s_max": max(lateness),
            "gen.backlog_files_end": backlog_end,
            "latency.samples": len(latencies),
            "latency.p90_beyond": stats.beyond(len(latencies), 0.9),
        }
    )
    print(
        f"# stream_cdc: drain {run.e2e['throughput_per_s']:.1f} events/s over {DRAIN_FILES} batches, "
        f"{len(latencies)} open-loop files in {len(batches) - DRAIN_FILES} batches, "
        f"batch p50 {run.layers['streaming.batch_ms_p50']:.0f} ms, setup {run.e2e['setup_s']:.2f} s",
        flush=True,
    )
