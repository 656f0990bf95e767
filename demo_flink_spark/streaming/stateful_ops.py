"""Keyed stateful operators on the `applyInPandasWithState` API.

Same four operators as `streaming.processors` (SURVEY §2.6 ST1-ST4),
same shared kernels (`functions.state_kernels`), different state API:
`applyInPandasWithState` carries ONE state tuple per key (vs the named
ValueState/ListState handles of `transformWithStateInPandas`). The
reference's multiple state descriptors per operator collapse into one
struct — e.g. the fraud detector's ListState+ValueState becomes
`(recent_ts: array<long>, last_alert: long)`.

Why both APIs exist here: `transformWithStateInPandas` (Spark ≥4.0) is
the closer Flink-parity surface but its state client needs protobuf at
runtime; `applyInPandasWithState` (Spark ≥3.4) has no extra deps. The
harness picks whichever the environment supports — identical outputs,
proven by the same golden tests.
"""

from __future__ import annotations

from collections.abc import Iterator
from dataclasses import dataclass
from typing import Any, Callable

import pandas as pd

from demo_flink_spark.functions.state_kernels import (
    FraudState,
    cdc_step,
    fraud_step,
    iter_sorted,
)
from demo_flink_spark.streaming import processors as _tws


@dataclass(frozen=True)
class StatefulOp:
    """One keyed stateful operator, wired for applyInPandasWithState.

    `fn(key, pdf_iter, state)` yields output pandas frames;
    `processor_factory` (optional) builds the equivalent Spark-4.1
    StatefulProcessor for environments with protobuf.
    """

    name: str
    fn: Callable[..., Iterator[pd.DataFrame]]
    output_schema: str
    state_schema: str
    processor_factory: Callable[[], Any] | None = None


# Deterministic in-batch ordering shared with streaming.processors.
_iter_sorted = iter_sorted


# --- ST4: running counter (`UserClickCounter.java:39-61`) -------------------


def _running_counter(key, pdfs, state) -> Iterator[pd.DataFrame]:
    n = state.get[0] if state.exists else 0
    out = []
    for row in _iter_sorted(pdfs):
        n += 1
        out.append((key[0], int(row.seq), n))
    state.update((n,))
    yield pd.DataFrame(out, columns=["user_id", "seq", "clicks"])


RUNNING_COUNTER = StatefulOp(
    name="running_counter",
    fn=_running_counter,
    output_schema="user_id string, seq long, clicks long",
    state_schema="n long",
    processor_factory=_tws.RunningCounter,
)


# --- ST3: event list accumulator (`UserEventListState.java:40-64`) ----------


def _event_list(key, pdfs, state) -> Iterator[pd.DataFrame]:
    history = list(state.get[0]) if state.exists and state.get[0] is not None else []
    out = []
    for row in _iter_sorted(pdfs):
        history.append(str(row.event))
        out.append((key[0], int(row.seq), ",".join(history)))
    state.update((history,))
    yield pd.DataFrame(out, columns=["user_id", "seq", "history"])


EVENT_LIST = StatefulOp(
    name="event_list",
    fn=_event_list,
    output_schema="user_id string, seq long, history string",
    state_schema="events array<string>",
    processor_factory=_tws.EventListAccumulator,
)


# --- ST1: fraud detector (`FraudDetectorExample.java:71-121`) ---------------


def _fraud_detector(key, pdfs, state) -> Iterator[pd.DataFrame]:
    if state.exists:
        recent, last_alert = state.get
        st = FraudState(
            recent_ts=list(recent) if recent is not None else [],
            last_alert_ms=last_alert,
        )
    else:
        st = FraudState()
    out = []
    for row in _iter_sorted(pdfs):
        count, fired = fraud_step(st, float(row.amount), int(row.ts_ms))
        if fired:
            out.append(
                (
                    key[0],
                    int(row.seq),
                    int(row.ts_ms),
                    count,
                    f"FRAUD ALERT: {key[0]} had {count} high-value "
                    f"transactions in 10 minutes",
                )
            )
    state.update((st.recent_ts, st.last_alert_ms))
    yield pd.DataFrame(
        out, columns=["user_id", "seq", "ts_ms", "tracked", "alert"]
    )


FRAUD_DETECTOR = StatefulOp(
    name="fraud_detector",
    fn=_fraud_detector,
    output_schema="user_id string, seq long, ts_ms long, tracked int, alert string",
    state_schema="recent_ts array<long>, last_alert long",
    processor_factory=_tws.FraudDetector,
)


# --- ST2: JSON CDC diff (`TradeChangeDetectionJob.java:67-155`) -------------


def _cdc_detector(key, pdfs, state) -> Iterator[pd.DataFrame]:
    prev = state.get[0] if state.exists else None
    out = []
    for row in _iter_sorted(pdfs):
        prev, diffs = cdc_step(prev, str(row.value))
        for fname, action, old_v, new_v in diffs:
            out.append((str(key[0]), int(row.seq), fname, action, old_v, new_v))
    if prev is not None:
        state.update((prev,))
    # a key whose records only seed its state or repeat it emits no
    # diff; the runner drops empty frames, so do not build one
    if out:
        yield pd.DataFrame(
            out, columns=["key", "seq", "field", "action", "old_value", "new_value"]
        )


CDC_DETECTOR = StatefulOp(
    name="cdc_detector",
    fn=_cdc_detector,
    output_schema=(
        "key string, seq long, field string, action string, "
        "old_value string, new_value string"
    ),
    state_schema="raw string",
    processor_factory=_tws.TradeChangeDetector,
)
