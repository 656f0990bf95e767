"""Pure-Python state kernels shared by the streaming stateful operators
and their batch twins.

The reference implements each stateful rule once inside a Flink
Rich*Function; we do the same — one kernel function per rule — and
call it from BOTH execution paths (applyInPandasWithState for
streams, applyInPandas for batch), so golden tests pin a single
implementation.

Reference parity:
- fraud rule: `FraudDetectorExample.java:88-120`
- JSON CDC diff: `TradeChangeDetectionJob.java:115-155`
"""

from __future__ import annotations

import json
from collections import namedtuple
from collections.abc import Iterator
from dataclasses import dataclass, field
from functools import lru_cache

import pandas as pd


def iter_sorted(pdfs: Iterator[pd.DataFrame], seq_col: str = "seq"):
    """Deterministic in-batch order: concatenate ALL chunks, sort by seq.

    The reference pins parallelism to 1 so arrival order is list order
    (`FraudDetectorExample.java:44`); we sort on the explicit seq
    column instead, which stays deterministic under any partitioning.

    Shared by every keyed operator. Concatenating before sorting matters:
    one key's rows in a micro-batch can span multiple Arrow chunks
    (spark.sql.execution.arrow.maxRecordsPerBatch), and sorting each
    chunk independently would step the kernel in nondeterministic
    cross-chunk order.
    """
    frames = [pdf for pdf in pdfs if len(pdf)]
    if not frames:
        return iter(())
    # Called once per key per micro-batch, and most keys arrive as one
    # chunk of a row or two: skip the concat copy and the no-op sort,
    # and build rows from a cached namedtuple type (itertuples defines
    # a new class on every call, ~0.2 ms of a keyed stream's per-key cost).
    pdf = frames[0] if len(frames) == 1 else pd.concat(frames)
    if len(pdf) > 1:
        pdf = pdf.sort_values(seq_col)
    cols = tuple(pdf.columns)
    return map(_row_type(cols)._make, zip(*(pdf[c].tolist() for c in cols)))


@lru_cache(maxsize=None)
def _row_type(cols: tuple[str, ...]):
    """The row type `DataFrame.itertuples(index=False)` would build."""
    return namedtuple("Pandas", cols, rename=True)

# ---------------------------------------------------------------------------
# ST1 — fraud detector (`FraudDetectorExample.java:71-121`)
# ---------------------------------------------------------------------------

FRAUD_AMOUNT_THRESHOLD = 100.0  # `FraudDetectorExample.java:92`
FRAUD_MIN_COUNT = 3  # `:108`
FRAUD_WINDOW_MS = 10 * 60 * 1000  # prune + throttle, `:98,112`


@dataclass
class FraudState:
    """Per-key state: recent high-value tx timestamps + last alert time.

    Mirrors the reference's `ListState<Transaction>` + `ValueState<Long>`
    (`FraudDetectorExample.java:73-85`). We keep only timestamps in the
    list — the rule never reads amounts back out.
    """

    recent_ts: list[int] = field(default_factory=list)
    last_alert_ms: int | None = None


def fraud_step(
    state: FraudState,
    amount: float,
    ts_ms: int,
    threshold: float = FRAUD_AMOUNT_THRESHOLD,
    window_ms: int = FRAUD_WINDOW_MS,
    min_count: int = FRAUD_MIN_COUNT,
) -> tuple[int, bool]:
    """Process one transaction; returns (tracked_count, alert_fired).

    Exact transcription of the rule (`FraudDetectorExample.java:88-120`)
    with the reference's constants as defaults: track txs with
    amount > 100; prune entries older than ts−10min; alert when ≥3
    tracked AND (never alerted OR last alert >10min ago).
    """
    if amount > threshold:
        state.recent_ts.append(ts_ms)
    cutoff = ts_ms - window_ms
    state.recent_ts = [t for t in state.recent_ts if t >= cutoff]
    count = len(state.recent_ts)
    if count >= min_count and (
        state.last_alert_ms is None or ts_ms - state.last_alert_ms > window_ms
    ):
        state.last_alert_ms = ts_ms
        return count, True
    return count, False


# ---------------------------------------------------------------------------
# ST2 — JSON change detection / CDC diff (`TradeChangeDetectionJob.java:115-155`)
# ---------------------------------------------------------------------------

ADDED = "ADDED"
MODIFIED = "MODIFIED"
REMOVED = "REMOVED"


def _canon(value) -> str:
    """Canonical JSON text of a scalar/nested value.

    Preserves the reference's type-sensitive equality
    (`TradeChangeDetectionJob.java:132`, Jackson `JsonNode.equals`):
    1, 1.0 and "1" canonicalize to '1', '1.0', '"1"' — all distinct.
    """
    return json.dumps(value, sort_keys=True, separators=(",", ":"))


def json_diff(old: dict, new: dict) -> list[tuple[str, str, str | None, str | None]]:
    """Field-level diff of two JSON objects.

    Returns [(field, action, old_canonical, new_canonical)] sorted by
    field name; empty list = no change (caller must then NOT update
    state, `TradeChangeDetectionJob.java:109-111`). Actions follow the
    reference exactly: in new only → ADDED; in both but unequal →
    MODIFIED; in old only → REMOVED (`:115-155`).
    """
    out: list[tuple[str, str, str | None, str | None]] = []
    for k in sorted(set(old) | set(new)):
        if k not in old:
            out.append((k, ADDED, None, _canon(new[k])))
        elif k not in new:
            out.append((k, REMOVED, _canon(old[k]), None))
        else:
            oc, nc = _canon(old[k]), _canon(new[k])
            if oc != nc:
                out.append((k, MODIFIED, oc, nc))
    return out


def cdc_step_parsed(
    prev: tuple[str, dict] | None, raw: str
) -> tuple[tuple[str, dict] | None, list[tuple[str, str, str | None, str | None]]]:
    """One CDC step carrying the parsed previous record.

    `prev` is (raw_json, parsed_dict) or None. Returns the (possibly
    unchanged) state and the field diffs. Carrying the parse avoids
    re-deserializing the state on every record — the hot-path cost in
    the batch replay. Semantics identical to the reference
    (`TradeChangeDetectionJob.java:82-113`): first occurrence stores
    silently; no-change records do NOT update state; malformed or
    non-object records are skipped.
    """
    try:
        new = json.loads(raw)
    except (ValueError, TypeError):
        return prev, []
    if not isinstance(new, dict):
        return prev, []
    if prev is None:
        return (raw, new), []
    diffs = json_diff(prev[1], new)
    if not diffs:
        return prev, []  # state NOT updated on no-change
    return (raw, new), diffs


def cdc_step(
    prev_raw: str | None, raw: str
) -> tuple[str | None, list[tuple[str, str, str | None, str | None]]]:
    """One CDC step over raw-string state (the durable-state form used
    by the streaming operator, whose state holds the raw JSON).
    Returns (new_state_raw, diffs). See `cdc_step_parsed`.
    """
    prev = (prev_raw, json.loads(prev_raw)) if prev_raw is not None else None
    new_state, diffs = cdc_step_parsed(prev, raw)
    return (new_state[0] if new_state else None), diffs
