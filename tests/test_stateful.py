"""Golden tests for the keyed stateful operators (FIXTURES.md F3-F6).

Each fixture runs through the REAL production path: file stream →
applyInPandasWithState (RocksDB state store) → memory sink, via
streaming.harness.run_stateful. Multi-batch variants prove state
survives micro-batch boundaries.
"""

from __future__ import annotations

import json

import pytest

from demo_flink_spark.functions.state_kernels import FraudState, fraud_step, json_diff
from demo_flink_spark.streaming.harness import run_stateful
from demo_flink_spark.streaming.stateful_ops import (
    CDC_DETECTOR,
    EVENT_LIST,
    FRAUD_DETECTOR,
    RUNNING_COUNTER,
)

# --- F5: click stream --------------------------------------------------------

F5_CLICKS = [
    (1, "user1", "click"),
    (2, "user2", "click"),
    (3, "user1", "click"),
    (4, "user3", "click"),
    (5, "user2", "click"),
    (6, "user1", "click"),
]
F5_GOLDEN = {1: 1, 2: 1, 3: 2, 4: 1, 5: 2, 6: 3}  # seq -> count


def test_running_counter_golden(spark):
    src = spark.createDataFrame(F5_CLICKS, "seq long, user_id string, action string")
    out = run_stateful(spark, src, ["user_id"], RUNNING_COUNTER)
    got = {r["seq"]: r["clicks"] for r in out.collect()}
    assert got == F5_GOLDEN


def test_running_counter_state_across_batches(spark):
    rows = [(s, u, a, 0 if s <= 3 else 1) for s, u, a in F5_CLICKS]
    src = spark.createDataFrame(rows, "seq long, user_id string, action string, b int")
    out = run_stateful(
        spark, src, ["user_id"], RUNNING_COUNTER, n_batches=2, batch_col="b"
    )
    got = {r["seq"]: r["clicks"] for r in out.collect()}
    assert got == F5_GOLDEN  # user1's count continues 2 -> 3 across batches


# --- F4: user event log ------------------------------------------------------

F4_EVENTS = [
    (1, "user1", "login"),
    (2, "user2", "view"),
    (3, "user1", "click"),
    (4, "user2", "logout"),
    (5, "user1", "purchase"),
]


def test_event_list_accumulator_golden(spark):
    src = spark.createDataFrame(F4_EVENTS, "seq long, user_id string, event string")
    out = run_stateful(spark, src, ["user_id"], EVENT_LIST)
    got = {r["seq"]: r["history"] for r in out.collect()}
    assert got == {
        1: "login",
        2: "view",
        3: "login,click",
        4: "view,logout",
        5: "login,click,purchase",
    }


# --- F3: fraud transactions --------------------------------------------------

F3_TXS = [
    (1, "user1", 120.0, 1000),
    (2, "user1", 250.0, 2000),
    (3, "user1", 300.0, 2500),
    (4, "user2", 50.0, 3000),
    (5, "user1", 200.0, 4000),
    (6, "user1", 500.0, 15000),
    (7, "user2", 700.0, 16000),
    (8, "user2", 800.0, 18000),
    (9, "user2", 900.0, 19000),
]


def test_fraud_detector_golden(spark):
    src = spark.createDataFrame(
        F3_TXS, "seq long, user_id string, amount double, ts_ms long"
    )
    out = run_stateful(spark, src, ["user_id"], FRAUD_DETECTOR)
    alerts = sorted(
        (r["user_id"], r["ts_ms"], r["tracked"]) for r in out.collect()
    )
    # FIXTURES.md F3 golden: exactly 2 alerts — user1@2500 (3rd high-value
    # tx), user2@19000; seq 5/6 throttled, seq 4 never tracked.
    assert alerts == [("user1", 2500, 3), ("user2", 19000, 3)]


def test_fraud_kernel_prune_and_rearm():
    state = FraudState()
    base = 0
    for i in range(3):
        count, fired = fraud_step(state, 200.0, base + i * 1000)
    assert fired and count == 3
    # 11 minutes later: prune clears old txs AND the throttle has
    # expired — three fresh high-value txs re-alert.
    later = base + 11 * 60 * 1000
    for i in range(3):
        count, fired = fraud_step(state, 200.0, later + i * 1000)
    assert fired and count == 3


# --- F6: versioned trades (CDC) ----------------------------------------------

T1 = {
    "id": "TRD1000", "symbol": "AAPL", "side": "BUY", "quantity": 199,
    "price": 10.32, "timestamp": "2025-10-04T19:20:00.123456",
    "trader": "1232", "version": 1,
}
T2 = {**T1, "price": 11.05, "version": 2}
T3 = {k: v for k, v in {**T2, "venue": "XNAS"}.items() if k != "trader"}
T5 = {
    "id": "TRD2000", "symbol": "MSFT", "side": "SELL", "quantity": 50,
    "price": 401.5, "timestamp": "2025-10-04T19:21:00.000000",
    "trader": "9001", "version": 1,
}
F6_TRADES = [
    (1, "TRD1000", json.dumps(T1)),
    (2, "TRD1000", json.dumps(T2)),
    (3, "TRD1000", json.dumps(T3)),
    (4, "TRD1000", json.dumps(T3)),  # identical: no output, state frozen
    (5, "TRD2000", json.dumps(T5)),
]


def test_cdc_golden(spark):
    src = spark.createDataFrame(F6_TRADES, "seq long, trade_id string, value string")
    out = run_stateful(spark, src, ["trade_id"], CDC_DETECTOR)
    got = sorted(
        (r["seq"], r["field"], r["action"], r["old_value"], r["new_value"])
        for r in out.collect()
    )
    assert got == [
        (2, "price", "MODIFIED", "10.32", "11.05"),
        (2, "version", "MODIFIED", "1", "2"),
        (3, "trader", "REMOVED", '"1232"', None),
        (3, "venue", "ADDED", None, '"XNAS"'),
    ]


def test_cdc_no_change_freezes_state(spark):
    # seq 4 (identical to seq 3) must produce nothing — and a later
    # record diffs against seq 3's state, not seq 4's.
    src = spark.createDataFrame(
        F6_TRADES + [(6, "TRD1000", json.dumps({**T3, "price": 12.0}))],
        "seq long, trade_id string, value string",
    )
    out = run_stateful(spark, src, ["trade_id"], CDC_DETECTOR)
    seq6 = [(r["field"], r["old_value"], r["new_value"])
            for r in out.collect() if r["seq"] == 6]
    assert seq6 == [("price", "11.05", "12.0")]


def test_cdc_file_drop_wiring_matches_batch(spark, tmp_path):
    """The benchmark's stream_cdc wiring, verbatim: file-drop batches
    of trades -> groupBy(trade_id).applyInPandasWithState(CDC_DETECTOR
    ...) must emit exactly cdc_diff_batch's rows. Four files drain as
    two micro-batches of two files each, and TRD1000 has a record in
    every file, so its state crosses files and micro-batches."""
    from collections import Counter

    from pyspark.sql.streaming.state import GroupStateTimeout

    from demo_flink_spark.operators.stateful_batch import cdc_diff_batch
    from demo_flink_spark.sources.streams import file_stream
    from demo_flink_spark.streaming.harness import run_to_memory, stage_batches

    schema = "trade_id string, seq long, value string"
    t4 = {**T3, "quantity": 250, "version": 4}
    files = [
        [("TRD1000", 1, T1), ("TRD2000", 2, T5)],
        # modify twice in one file, and a first sighting
        [("TRD1000", 3, T2), ("TRD1000", 4, {**T2, "version": 3}),
         ("TRD3000", 5, {**T5, "id": "TRD3000"})],
        # add + remove (T3 adds venue, drops trader); exact repeat
        [("TRD1000", 6, T3), ("TRD2000", 7, T5)],
        # exact repeat, then a modify against the pre-repeat state
        [("TRD1000", 8, T3), ("TRD1000", 9, t4),
         ("TRD2000", 10, {**T5, "price": 402.0})],
    ]
    rows = [[(k, seq, json.dumps(v)) for k, seq, v in f] for f in files]
    stage = stage_batches(
        [spark.createDataFrame(f, schema) for f in rows], tmp_path / "trades"
    )
    changes = (
        file_stream(spark, stage, schema, max_files=2)
        .groupBy("trade_id")
        .applyInPandasWithState(
            CDC_DETECTOR.fn,
            outputStructType=CDC_DETECTOR.output_schema,
            stateStructType=CDC_DETECTOR.state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    batches: list[dict] = []
    out = run_to_memory(changes, tmp_path / "ckpt", metrics_out=batches)
    got = Counter(tuple(r) for r in out.collect())
    assert [b["input_rows"] for b in batches if b["input_rows"]] == [5, 5]
    twin = spark.createDataFrame([r for f in rows for r in f], schema)
    want = Counter(
        tuple(r)
        for r in cdc_diff_batch(twin, "trade_id", "seq", "value").collect()
    )
    assert {a for _, _, _, a, _, _ in want} >= {"MODIFIED", "ADDED", "REMOVED"}
    assert not {seq for _, seq, *_ in want} & {7, 8}  # exact repeats
    assert got == want


def test_json_diff_type_sensitive():
    # Jackson JsonNode.equals parity: 199 != 199.0 != "199"
    assert json_diff({"q": 199}, {"q": 199.0}) == [("q", "MODIFIED", "199", "199.0")]
    assert json_diff({"q": 199}, {"q": "199"}) == [("q", "MODIFIED", "199", '"199"')]
    assert json_diff({"q": 199}, {"q": 199}) == []


@pytest.mark.parametrize("a", [{}, {"x": 1}, {"x": 1, "y": [1, {"z": None}]}])
def test_json_diff_identity(a):
    assert json_diff(a, a) == []


# --- cross-chunk ordering (ADVICE r1, medium) -------------------------------


class _FakeGroupState:
    """The slice of Spark's GroupState that the keyed ops touch."""

    def __init__(self):
        self._v = None

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = v


@pytest.mark.parametrize(
    "op, chunks, col, expected",
    [
        pytest.param(
            RUNNING_COUNTER,
            [{"seq": [5, 7, 6]}, {"seq": [2, 1, 3]}],
            "clicks",
            [(1, 1), (2, 2), (3, 3), (5, 4), (6, 5), (7, 6)],
            id="running_counter",
        ),
        pytest.param(
            EVENT_LIST,
            [{"seq": [2], "event": ["b"]}, {"seq": [1], "event": ["a"]}],
            "history",
            [(1, "a"), (2, "a,b")],
            id="event_list",
        ),
    ],
)
def test_op_sorts_across_arrow_chunks(op, chunks, col, expected):
    # One key's micro-batch rows arriving as MULTIPLE Arrow chunks must
    # be stepped in global seq order, not chunk-local order. The first
    # chunk holds the LATER seqs; per-chunk sorting would step them first.
    import pandas as pd

    pdfs = iter([pd.DataFrame(c) for c in chunks])
    [out] = list(op.fn(("u1",), pdfs, _FakeGroupState()))
    assert list(zip(out["seq"], out[col])) == expected
