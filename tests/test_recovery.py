"""Checkpoint recovery: stateful streaming state survives a full query
stop/restart (the fault-tolerance the reference never configures —
SURVEY §4.1 notes checkpointing is absent there; Spark gives it per
micro-batch).

Sink note: the memory sink refuses checkpoint recovery, so this test
collects through foreachBatch — one of the recovery-capable sinks."""

from __future__ import annotations

import uuid

from pyspark.sql.streaming.state import GroupStateTimeout

from demo_flink_spark.streaming.stateful_ops import RUNNING_COUNTER


def _start(spark, stage, schema, ckpt, sink_rows):
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(stage)
    )
    transformed = stream.groupBy("user_id").applyInPandasWithState(
        RUNNING_COUNTER.fn,
        outputStructType=RUNNING_COUNTER.output_schema,
        stateStructType=RUNNING_COUNTER.state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return (
        transformed.writeStream.foreachBatch(
            lambda df, _bid: sink_rows.extend(
                (r["seq"], r["clicks"]) for r in df.collect()
            )
        )
        .queryName(f"recov_{uuid.uuid4().hex[:6]}")
        .option("checkpointLocation", ckpt)
        .start()
    )


def test_state_survives_query_restart(spark, tmp_path):
    stage, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    schema = "seq long, user_id string"

    batch0 = spark.createDataFrame([(1, "u1"), (2, "u1"), (3, "u2")], schema)
    batch0.coalesce(1).write.mode("append").parquet(stage)
    rows1: list = []
    q1 = _start(spark, stage, batch0.schema, ckpt, rows1)
    try:
        q1.processAllAvailable()
    finally:
        q1.stop()
    assert dict(rows1) == {1: 1, 2: 2, 3: 1}

    # new data lands while the query is DOWN; restart from checkpoint
    batch1 = spark.createDataFrame([(4, "u1"), (5, "u3")], schema)
    batch1.coalesce(1).write.mode("append").parquet(stage)
    rows2: list = []
    q2 = _start(spark, stage, batch0.schema, ckpt, rows2)
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()

    # u1 had 2 clicks before the restart -> seq 4 must continue at 3;
    # u3 is new -> 1. Pre-restart offsets must NOT be reprocessed.
    assert dict(rows2) == {4: 3, 5: 1}


def test_budget_prefix_state_survives_query_restart(spark, tmp_path):
    """The kept-prefix state (including the overflow cut) survives a
    full stop/restart: batch 2 after recovery must evict against the
    state batch 1 built, and a post-cut arrival must stay dropped —
    the cut is the part of state a naive reimplementation would lose.
    """
    import hashlib
    import uuid

    from pyspark.sql.streaming.state import GroupStateTimeout

    from demo_flink_spark.streaming.budget_stream import token_budget_op

    stage, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    schema = "doc_id long, grp string, text string"
    op = token_budget_op({"g": 6})

    def start(sink_rows):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stage)
        )
        transformed = stream.groupBy("grp").applyInPandasWithState(
            op.fn,
            outputStructType=op.output_schema,
            stateStructType=op.state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
        return (
            transformed.writeStream.foreachBatch(
                lambda df, _bid: sink_rows.extend(
                    (r["doc_id"], r["kept"], r["seq"]) for r in df.collect()
                )
            )
            .queryName(f"recov_bgt_{uuid.uuid4().hex[:6]}")
            .option("checkpointLocation", ckpt)
            .start()
        )

    # rank docs 0..5 by the kernel's salt to engineer the scenario
    ranked = sorted(range(6), key=lambda i: hashlib.md5(f"tb1{i}".encode()).hexdigest())
    first, second, third = ranked[0], ranked[1], ranked[2]
    # batch 1: second-ranked doc with 5 tokens (cum 5 <= 6, kept) and
    # third-ranked with 4 (cum 9 > 6: dropped, cut remembered)
    b1 = spark.createDataFrame(
        [(second, "g", "w w w w w"), (third, "g", "w w w w")], schema
    )
    b1.coalesce(1).write.mode("append").parquet(stage)
    rows1: list = []
    q1 = start(rows1)
    q1.processAllAvailable()
    q1.stop()
    got1 = {d: k for d, k, _ in rows1}
    assert got1 == {second: True, third: False}

    # restart; batch 2: first-ranked doc with 3 tokens -> evicts the
    # 5-token doc (cum 8 > 6 at its rank); a doc ranked after the cut
    # must stay dropped even though its own tokens would "fit"
    after_cut = ranked[3]
    b2 = spark.createDataFrame(
        [(first, "g", "w w w"), (after_cut, "g", "w")], schema
    )
    b2.coalesce(1).write.mode("append").parquet(stage)
    rows2: list = []
    q2 = start(rows2)
    q2.processAllAvailable()
    q2.stop()
    got2 = {d: k for d, k, _ in rows2}
    assert got2 == {
        first: True,       # lowest rank, 3 <= 6
        second: False,     # retraction: 3+5 > 6 at its rank
        after_cut: False,  # beyond the remembered cut: dropped forever
    }


def _cdc_trade_files(n_files=4, per_file=24, n_ids=6, seed=3):
    """Seeded trade versions: price/quantity edits, an added and a
    removed field, and exact repeats (which must emit nothing)."""
    import json
    import random

    rng = random.Random(seed)
    last: dict = {}
    files, seq = [], 0
    for _ in range(n_files):
        rows = []
        for _ in range(per_file):
            tid = f"TRD{rng.randrange(n_ids)}"
            rec = dict(last.get(tid) or {"id": tid, "price": 10.0, "trader": "7"})
            roll = rng.random()
            if roll < 0.5:
                rec["price"] = round(rec["price"] + rng.choice([-1, 1]) * 0.25, 2)
            elif roll < 0.65:
                rec["venue"] = rng.choice(["XNAS", "XNYS"])
            elif roll < 0.8:
                rec.pop("trader", None)
            elif roll < 0.9:
                rec["quantity"] = rng.randrange(1, 500)
            last[tid] = rec
            seq += 1
            rows.append((tid, seq, json.dumps(rec)))
        files.append(rows)
    return files


def _start_cdc(spark, stage, ckpt, sink_rows):
    from pyspark.sql.streaming.state import GroupStateTimeout

    from demo_flink_spark.sources.streams import file_stream, foreach_batch_sink
    from demo_flink_spark.streaming.stateful_ops import CDC_DETECTOR

    changes = (
        file_stream(spark, stage, "trade_id string, seq long, value string")
        .groupBy("trade_id")
        .applyInPandasWithState(
            CDC_DETECTOR.fn,
            outputStructType=CDC_DETECTOR.output_schema,
            stateStructType=CDC_DETECTOR.state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    return foreach_batch_sink(
        changes,
        lambda df, _bid: sink_rows.extend(tuple(r) for r in df.collect()),
        ckpt,
    )


def _changelog_files(ckpt):
    import os

    return [
        f
        for _dir, _sub, names in os.walk(os.path.join(ckpt, "state"))
        for f in names
        if f.endswith(".changelog")
    ]


def test_cdc_restart_across_partition_and_changelog_change(spark, tmp_path):
    """A CDC stream checkpointed on 6 shuffle partitions with full
    RocksDB snapshots restarts under a session of 3 partitions with
    changelog checkpointing on: the state layout stays the
    checkpoint's (6 store instances), commits switch to changelog
    files, and the stitched output equals an uninterrupted run and the
    batch twin `cdc_diff_batch`."""
    from collections import Counter

    from demo_flink_spark.operators.stateful_batch import cdc_diff_batch

    schema = "trade_id string, seq long, value string"
    files = _cdc_trade_files()
    stage, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    parts_key = "spark.sql.shuffle.partitions"
    log_key = "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
    prev = {k: spark.conf.get(k) for k in (parts_key, log_key)}

    def stage_file(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(stage)

    try:
        spark.conf.set(parts_key, "6")
        spark.conf.set(log_key, "false")
        for rows in files[:2]:
            stage_file(rows)
        out: list = []
        q1 = _start_cdc(spark, stage, ckpt, out)
        try:
            q1.processAllAvailable()
        finally:
            q1.stop()
        assert _changelog_files(ckpt) == []

        for rows in files[2:]:
            stage_file(rows)
        spark.conf.set(parts_key, "3")
        spark.conf.set(log_key, "true")
        q2 = _start_cdc(spark, stage, ckpt, out)
        try:
            q2.processAllAvailable()
            ops = [p["stateOperators"][0] for p in q2.recentProgress if p["numInputRows"]]
        finally:
            q2.stop()
        assert len(ops) == 2
        assert {o["numStateStoreInstances"] for o in ops} == {6}
        assert _changelog_files(ckpt)

        # uninterrupted: the same four files from a fresh checkpoint
        whole: list = []
        q3 = _start_cdc(spark, stage, str(tmp_path / "ckpt_whole"), whole)
        try:
            q3.processAllAvailable()
        finally:
            q3.stop()
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)

    twin = spark.createDataFrame([r for rows in files for r in rows], schema)
    expected = Counter(
        tuple(r) for r in cdc_diff_batch(twin, "trade_id", "seq", "value").collect()
    )
    assert sum(expected.values()) > 0
    assert Counter(out) == Counter(whole) == expected
