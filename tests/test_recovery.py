"""Checkpoint recovery: stateful streaming state survives a full query
stop/restart (the fault-tolerance the reference never configures —
SURVEY §4.1 notes checkpointing is absent there; Spark gives it per
micro-batch).

Sink note: the memory sink refuses checkpoint recovery, so these tests
collect through foreachBatch — one of the recovery-capable sinks."""

from __future__ import annotations

from demo_flink_spark.sources.streams import file_stream, foreach_batch_sink
from demo_flink_spark.streaming.harness import stage_batches
from demo_flink_spark.streaming.stateful_ops import RUNNING_COUNTER


def _run_once(spark, op, key, stage, schema, ckpt):
    """Start `op` over the files at `stage` from checkpoint `ckpt`,
    drain every available file and stop. Returns the emitted rows and
    the query's progress reports."""
    rows: list = []
    q = foreach_batch_sink(
        op.apply(file_stream(spark, stage, schema).groupBy(key)),
        lambda df, _bid: rows.extend(df.collect()),
        ckpt,
    )
    try:
        q.processAllAvailable()
        return rows, q.recentProgress
    finally:
        q.stop()


def test_stage_batches_replays_after_existing_files(spark, tmp_path):
    """Replay order is mtime order, so every staged file gets its own
    mtime, increasing in write order — and a second call into the same
    directory (data landing while a query is down) stamps its files
    after every earlier one."""
    import os

    import pyarrow.parquet as pq

    stage = str(tmp_path / "src")
    for start in (0, 3):
        frames = [spark.createDataFrame([(start + i,)], "n long") for i in range(3)]
        stage_batches(frames, stage)
    paths = [
        os.path.join(stage, f) for f in os.listdir(stage) if f.endswith(".parquet")
    ]
    by_mtime = sorted(paths, key=os.path.getmtime)
    assert len({os.path.getmtime(p) for p in paths}) == len(paths) == 6
    assert [pq.read_table(p)["n"][0].as_py() for p in by_mtime] == list(range(6))


def test_state_survives_query_restart(spark, tmp_path):
    stage, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    schema = "seq long, user_id string"

    def run(rows):
        stage_batches([spark.createDataFrame(rows, schema)], stage)
        out, _ = _run_once(spark, RUNNING_COUNTER, "user_id", stage, schema, ckpt)
        return {r.seq: r.clicks for r in out}

    assert run([(1, "u1"), (2, "u1"), (3, "u2")]) == {1: 1, 2: 2, 3: 1}

    # new data lands while the query is DOWN; restart from checkpoint.
    # u1 had 2 clicks before the restart -> seq 4 must continue at 3;
    # u3 is new -> 1. Pre-restart offsets must NOT be reprocessed.
    assert run([(4, "u1"), (5, "u3")]) == {4: 3, 5: 1}


def test_budget_prefix_state_survives_query_restart(spark, tmp_path):
    """The kept-prefix state (including the overflow cut) survives a
    full stop/restart: batch 2 after recovery must evict against the
    state batch 1 built, and a post-cut arrival must stay dropped —
    the cut is the part of state a naive reimplementation would lose.
    """
    import hashlib

    from demo_flink_spark.streaming.budget_stream import token_budget_op

    stage, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    schema = "doc_id long, grp string, text string"
    op = token_budget_op({"g": 6})

    def run(rows):
        stage_batches([spark.createDataFrame(rows, schema)], stage)
        out, _ = _run_once(spark, op, "grp", stage, schema, ckpt)
        return {r.doc_id: r.kept for r in out}

    # rank docs 0..5 by the kernel's salt to engineer the scenario
    ranked = sorted(range(6), key=lambda i: hashlib.md5(f"tb1{i}".encode()).hexdigest())
    first, second, third = ranked[0], ranked[1], ranked[2]
    # batch 1: second-ranked doc with 5 tokens (cum 5 <= 6, kept) and
    # third-ranked with 4 (cum 9 > 6: dropped, cut remembered)
    got1 = run([(second, "g", "w w w w w"), (third, "g", "w w w w")])
    assert got1 == {second: True, third: False}

    # restart; batch 2: first-ranked doc with 3 tokens -> evicts the
    # 5-token doc (cum 8 > 6 at its rank); a doc ranked after the cut
    # must stay dropped even though its own tokens would "fit"
    after_cut = ranked[3]
    got2 = run([(first, "g", "w w w"), (after_cut, "g", "w")])
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
    from demo_flink_spark.streaming.stateful_ops import CDC_DETECTOR

    schema = "trade_id string, seq long, value string"
    files = _cdc_trade_files()
    stage, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    parts_key = "spark.sql.shuffle.partitions"
    log_key = "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
    prev = {k: spark.conf.get(k) for k in (parts_key, log_key)}

    def drop(rows_per_file):
        stage_batches([spark.createDataFrame(r, schema) for r in rows_per_file], stage)

    def run(checkpoint):
        return _run_once(spark, CDC_DETECTOR, "trade_id", stage, schema, checkpoint)

    try:
        spark.conf.set(parts_key, "6")
        spark.conf.set(log_key, "false")
        drop(files[:2])
        out, _ = run(ckpt)
        assert _changelog_files(ckpt) == []

        drop(files[2:])
        spark.conf.set(parts_key, "3")
        spark.conf.set(log_key, "true")
        rest, progress = run(ckpt)
        out += rest
        ops = [p["stateOperators"][0] for p in progress if p["numInputRows"]]
        assert len(ops) == 2
        assert {o["numStateStoreInstances"] for o in ops} == {6}
        assert _changelog_files(ckpt)

        # uninterrupted: the same four files from a fresh checkpoint
        whole, _ = run(str(tmp_path / "ckpt_whole"))
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)

    twin = spark.createDataFrame([r for rows in files for r in rows], schema)
    expected = Counter(
        tuple(r) for r in cdc_diff_batch(twin, "trade_id", "seq", "value").collect()
    )
    assert sum(expected.values()) > 0
    assert Counter(map(tuple, out)) == Counter(map(tuple, whole)) == expected
