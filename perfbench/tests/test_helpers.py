"""Unit tests for the benchmark's pure helpers (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import statistics
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import datagen  # noqa: E402
import eventlog  # noqa: E402
import stats  # noqa: E402
import stream  # noqa: E402

FIXTURE = os.path.join(HERE, "fixtures", "eventlog.jsonl")


# --- percentile rule ---------------------------------------------------------


def test_nearest_rank_percentile():
    values = list(range(1, 101))
    assert stats.percentile(values, 0.5) == 50
    assert stats.percentile(values, 0.9) == 90
    assert stats.percentile(values[::-1], 0.9) == 90
    assert stats.percentile([7.0], 0.9) == 7.0


def test_ten_beyond_rule_needs_a_hundred_samples_for_p90():
    assert stats.beyond(100, 0.9) == 10
    assert stats.beyond(99, 0.9) == 9
    assert stats.beyond(20, 0.5) == 10 and stats.beyond(19, 0.5) == 9
    # every sample beyond p90 really is larger than it
    values = [float(v) for v in range(100)]
    p90 = stats.percentile(values, 0.9)
    assert sum(v > p90 for v in values) == stats.beyond(len(values), 0.9)


def test_percentile_rejects_bad_input():
    with pytest.raises(ValueError):
        stats.percentile([], 0.5)
    with pytest.raises(ValueError):
        stats.percentile([1.0], 0.0)


def test_quartile_spread_matches_statistics_quantiles():
    values = [10.0, 11.0, 9.0, 10.5, 9.5, 10.0, 10.2, 9.8, 10.1, 9.9]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    assert stats.quartile_spread(values) == pytest.approx((q3 - q1) / q2)


# --- event-log folder --------------------------------------------------------


def _fixture_lines():
    with open(FIXTURE) as f:
        return f.readlines()


def test_fold_sums_task_and_sql_metrics_per_job_group():
    groups = eventlog.fold(_fixture_lines())
    q1 = groups["p0:q1"]
    assert q1["operators.task_cpu_s"] == pytest.approx(0.75)
    assert q1["operators.task_run_s"] == pytest.approx(1.0)
    assert q1["operators.gc_s"] == pytest.approx(0.02)
    assert q1["sources.scan_bytes"] == 4096
    assert q1["sources.scan_records"] == 100
    assert q1["sources.scan_ms"] == 12
    assert q1["operators.shuffle_write_bytes"] == 300
    assert q1["operators.shuffle_read_bytes"] == 300
    assert q1["operators.spill_bytes"] == 64
    assert q1["operators.python_run_s"] == pytest.approx(1.5)
    assert q1["operators.python_start_s"] == pytest.approx(0.25)
    assert q1["operators.python_bytes_sent"] == 1000
    assert q1["operators.python_bytes_returned"] == 2000
    # a job without a group folds under "", a task of an unknown stage is dropped
    assert groups[""]["operators.task_run_s"] == 0
    assert groups[""]["sources.scan_records"] == 0
    assert groups["warmup"]["operators.task_run_s"] == pytest.approx(9.0)


def test_fold_window_drops_jobs_submitted_outside_it():
    groups = eventlog.fold(_fixture_lines(), window_ms=(1500, 2500))
    assert set(groups) == {"p0:q1"}
    timed = eventlog.total(groups, keep=lambda g: g.startswith("p"))
    assert timed["operators.task_run_s"] == pytest.approx(1.0)


def test_read_dir_skips_status_files(tmp_path):
    d = tmp_path / "eventlog_v2_app"
    d.mkdir()
    (d / "events_1_app").write_text("".join(_fixture_lines()))
    (d / "appstatus_app").write_text("")
    (d / ".appstatus_app.crc").write_text("xx")
    assert eventlog.read_dir(str(tmp_path)) == _fixture_lines()


# --- generator: inputs, schedule, lateness and mtimes -------------------------


def test_tables_depend_on_the_seed_only():
    a, b = datagen.make_tables(5, sf=0.01), datagen.make_tables(5, sf=0.01)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(datagen.make_tables(6, sf=0.01)["lineitem"])
    assert a["lineitem"].num_rows == 60_000 and a["documents"].num_rows == 500


def test_trade_events_are_seeded_and_numbered_in_order():
    g1, g2 = datagen.TradeGenerator(3), datagen.TradeGenerator(3)
    first = g1.events(200)
    assert first == g2.events(200)
    assert [r[1] for r in first] == list(range(200))
    assert first != datagen.TradeGenerator(4).events(200)
    for tid, _, raw in first:
        rec = json.loads(raw)
        assert rec["id"] == tid and rec["version"] >= 1


def test_trade_mix_produces_every_mutation():
    rows = datagen.TradeGenerator(1).events(2000)
    assert len({r[0] for r in rows}) <= datagen.TRADE_KEYS
    recs = [json.loads(r[2]) for r in rows]
    assert any(r["version"] > 1 for r in recs)
    assert any("venue" in r for r in recs)
    assert any("trader" not in r for r in recs)
    raws = [r[2] for r in rows]
    assert len(set(raws)) < len(raws)  # unchanged repeats


def test_open_loop_keeps_its_schedule_when_a_write_stalls():
    now = [100.0]
    written = []

    def clock():
        return now[0]

    def sleep(s):
        now[0] += s

    def write(due):
        written.append(due)
        now[0] += 0.75 if len(written) == 3 else 0.01  # the third write stalls

    late = stream.open_loop(write, 6, rate=2.0, start=100.0, clock=clock, sleep=sleep)
    assert written == [100.0, 100.5, 101.0, 101.5, 102.0, 102.5]
    assert late[2] == pytest.approx(0.75)
    assert late[3] == pytest.approx(0.26)  # due at 101.5, started late at 101.75
    assert late[4] == pytest.approx(0.01)
    assert max(late) == late[2]


def test_feed_stamps_strictly_increasing_mtimes(tmp_path):
    feed = stream.Feed(str(tmp_path), datagen.TradeGenerator(2))
    recs = [feed.write(n) for n in (5, 3, 7)]
    assert [(r["start"], r["end"]) for r in recs] == [(0, 5), (5, 8), (8, 15)]
    files = sorted(os.listdir(tmp_path))
    assert files == ["trades-00000.parquet", "trades-00001.parquet", "trades-00002.parquet"]
    mtimes = [os.stat(tmp_path / f).st_mtime for f in files]
    assert all(b - a >= 1.0 for a, b in zip(mtimes, mtimes[1:]))
    assert len(feed.rows) == 15


def test_progress_maps_files_to_the_batch_that_emitted_them():
    p = stream.Progress()
    p.events = [
        {"batchId": 0, "numInputRows": 5},
        {"batchId": 1, "numInputRows": 10},
        {"batchId": 2, "numInputRows": 7},
    ]
    p.callbacks = {0: (1.0, 2.0), 1: (2.5, 4.0), 2: (4.5, 6.0)}
    assert p.rows_done() == 22
    assert p.emit_time(5) == 2.0
    assert p.emit_time(6) == 4.0
    assert p.emit_time(15) == 4.0
    assert p.emit_time(22) == 6.0
    assert p.emit_time(23) is None
    assert p.wait(22, timeout=0.01) and not p.wait(23, timeout=0.01)
