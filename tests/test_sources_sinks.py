"""Source/sink coverage: rate source, streaming parquet sink,
foreachBatch, memory sink, partitioned batch writes, CSV/JSON scans.

The reference's sinks are print/Kafka (`SURVEY.md` §2.1 S5); a batch
engine at scale additionally needs exactly-once file sinks and
partition-pruned reads — tested here end to end.
"""

from __future__ import annotations

import os
import tempfile
import time

from pyspark.sql import functions as F

from demo_flink_spark.sources.streams import (
    file_stream,
    foreach_batch_sink,
    memory_sink,
    parquet_sink,
    rate_stream,
)
from demo_flink_spark.sources.tables import (
    binary_files,
    csv_table,
    json_table,
    load_table,
    orc_table,
    write_orc,
    write_partitioned,
)
from demo_flink_spark.streaming.harness import stage_batches

SF_DIR = "/root/testdata/sf0.001"


def test_streaming_parquet_sink_exactly_once_listing(spark):
    """File sink: rows written under checkpoint WAL; reading the
    directory via Spark returns exactly the input rows."""
    ev = load_table(spark, SF_DIR, "events").select("event_id", "event_type")
    n_in = ev.count()
    with tempfile.TemporaryDirectory() as d:
        src, out, ckpt = f"{d}/src", f"{d}/out", f"{d}/ckpt"
        stream = file_stream(spark, stage_batches([ev], src), ev.schema)
        q = parquet_sink(stream, out, ckpt, trigger_available_now=True)
        q.awaitTermination(120)
        got = spark.read.parquet(out)
        assert got.count() == n_in
        assert {r["event_id"] for r in got.select("event_id").collect()} == {
            r["event_id"] for r in ev.select("event_id").collect()
        }
        # the WAL metadata log is what makes the listing transactional
        assert os.path.isdir(os.path.join(out, "_spark_metadata"))


def test_foreach_batch_sink_sees_all_rows(spark):
    ev = load_table(spark, SF_DIR, "events").select("event_id")
    n_in = ev.count()
    seen: list[tuple[int, int]] = []

    def collect_batch(batch_df, batch_id):
        seen.append((batch_id, batch_df.count()))

    with tempfile.TemporaryDirectory() as d:
        q = foreach_batch_sink(
            file_stream(spark, stage_batches([ev], f"{d}/src"), ev.schema),
            collect_batch,
            f"{d}/ckpt",
            availableNow=True,
        )
        q.awaitTermination(120)
    assert sum(n for _, n in seen) == n_in
    assert [b for b, _ in seen] == sorted({b for b, _ in seen})  # stable ids


def test_rate_source_and_memory_sink(spark):
    """Rate source produces (timestamp, value) rows; memory sink makes
    them queryable. Bounded wait, then stop."""
    q = memory_sink(rate_stream(spark, rows_per_second=50, partitions=2), "rate_t")
    try:
        deadline = time.time() + 30
        while time.time() < deadline:
            if spark.table("rate_t").count() >= 10:
                break
            time.sleep(0.5)
        rows = spark.table("rate_t")
        assert rows.count() >= 10
        assert dict(rows.dtypes) == {"timestamp": "timestamp", "value": "bigint"}
        # values are the deterministic 0..n sequence
        assert rows.agg(F.min("value")).first()[0] == 0
    finally:
        q.stop()


def test_partitioned_write_prunes_on_read(spark):
    ev = load_table(spark, SF_DIR, "events")
    with tempfile.TemporaryDirectory() as d:
        out = f"{d}/events_by_type"
        write_partitioned(ev, out, ["event_type"])
        back = spark.read.parquet(out)
        assert back.count() == ev.count()
        one = back.filter(F.col("event_type") == "click")
        plan = one._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters: [isnotnull(event_type" in plan
        assert one.count() == ev.filter(F.col("event_type") == "click").count()
        # partition dirs exist; no dir for values not in the data
        assert os.path.isdir(os.path.join(out, "event_type=click"))


def test_partitioned_write_file_spread(spark):
    ev = load_table(spark, SF_DIR, "events")
    with tempfile.TemporaryDirectory() as d:
        out = f"{d}/spread"
        write_partitioned(ev, out, ["event_type"], files_per_partition=3)
        click_dir = os.path.join(out, "event_type=click")
        files = [f for f in os.listdir(click_dir) if f.endswith(".parquet")]
        assert 1 <= len(files) <= 3


def test_csv_json_round_trip(spark):
    orders = load_table(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    with tempfile.TemporaryDirectory() as d:
        orders.coalesce(1).write.option("header", "true").csv(f"{d}/csv")
        orders.coalesce(1).write.json(f"{d}/json")
        from_csv = csv_table(spark, f"{d}/csv", orders.schema)
        from_json = json_table(spark, f"{d}/json", orders.schema)
        want = {tuple(r) for r in orders.collect()}
        assert {tuple(r) for r in from_csv.collect()} == want
        assert {tuple(r) for r in from_json.collect()} == want


def test_json_table_captures_corrupt_records(spark):
    # PERMISSIVE read: malformed lines land in _corrupt_record instead
    # of failing the scan (the behavior json_table documents)
    from demo_flink_spark.sources.tables import json_table

    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "rows.jsonl")
        with open(path, "w") as f:
            f.write('{"id": 1, "v": "ok"}\n')
            f.write("THIS IS NOT JSON\n")
            f.write('{"id": 2, "v": "also ok"}\n')
        df = json_table(
            spark, path, "id long, v string, _corrupt_record string"
        )
        rows = df.collect()
        good = {r.id: r.v for r in rows if r.id is not None}
        bad = [r._corrupt_record for r in rows if r.id is None]
        assert good == {1: "ok", 2: "also ok"}
        assert bad == ["THIS IS NOT JSON"]


def test_orc_round_trip_with_pushdown(spark):
    orders = load_table(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    with tempfile.TemporaryDirectory() as d:
        write_orc(orders, f"{d}/orc")
        back = orc_table(spark, f"{d}/orc")
        assert {tuple(r) for r in back.collect()} == {
            tuple(r) for r in orders.collect()
        }
        # predicate reaches the ORC scan, not a post-filter over all rows
        filtered = back.filter(F.col("o_orderstatus") == "O").select("o_orderkey")
        plan = filtered._jdf.queryExecution().executedPlan().toString()
        assert "PushedFilters: [" in plan and "o_orderstatus" in plan
        # column pruning: scan reads only the two referenced columns
        assert "o_totalprice" not in plan.split("ReadSchema")[1][:200]


def test_binary_files_source(spark):
    with tempfile.TemporaryDirectory() as d:
        payloads = {"a.img": b"\x89IMG" + b"x" * 100, "b.img": b"\x89IMG" + b"y" * 50}
        for name, content in payloads.items():
            with open(os.path.join(d, name), "wb") as f:
                f.write(content)
        with open(os.path.join(d, "ignore.txt"), "w") as f:
            f.write("not media")
        df = binary_files(spark, d, glob="*.img")
        rows = {os.path.basename(r.path): r for r in df.collect()}
        assert set(rows) == set(payloads)
        for name, content in payloads.items():
            assert bytes(rows[name].content) == content
            assert rows[name].length == len(content)


def test_clear_table_handles_fences_in_flight_load():
    """A clear_table_handles() that lands while a load is reading must
    keep that load's handle (which may hold the pre-clear listing) out
    of the cache; the next load reads afresh."""
    from demo_flink_spark.sources import tables

    class _Reader:
        def __init__(self):
            self.reads = 0

        def parquet(self, path):
            self.reads += 1
            if self.reads == 1:
                tables.clear_table_handles()
            return (path, self.reads)

    class _Session:
        _dfs_session_ready = True  # skip ensure_session's Spark setup

        def __init__(self):
            self.read = _Reader()

    s = _Session()
    first = tables.load_table(s, "/sf", "orders")
    assert tables.load_table(s, "/sf", "orders") != first
    assert tables.load_table(s, "/sf", "orders") == ("/sf/orders.parquet", 2)


# Two fake sessions in a fresh interpreter: ensure_session needs only
# conf.set and sparkContext.addPyFile.
_TWO_SESSIONS = """
import glob, os, tempfile
from demo_flink_spark.sources.tables import ensure_session

class _Conf:
    def set(self, key, value):
        pass

class _Context:
    def __init__(self):
        self.py_files = []

    def addPyFile(self, path):
        self.py_files.append(path)

class _Session:
    def __init__(self):
        self.conf, self.sparkContext = _Conf(), _Context()

def zip_dirs():
    return set(glob.glob(os.path.join(tempfile.gettempdir(), "dfs_pyfiles_*")))

first, second = _Session(), _Session()
ensure_session(first)
built = zip_dirs()
ensure_session(second)
assert len(built) == 1 and zip_dirs() == built, sorted(zip_dirs())
assert first.sparkContext.py_files == second.sparkContext.py_files
print(first.sparkContext.py_files[0])
"""


def test_ensure_session_ships_one_package_zip(tmp_path):
    """Every session of a process ships the same package zip, built
    once in a temp dir that is removed when the interpreter exits."""
    import subprocess
    import sys

    run = subprocess.run(
        [sys.executable, "-c", _TWO_SESSIONS],
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        env={**os.environ, "TMPDIR": str(tmp_path)},
        capture_output=True,
        text=True,
    )
    assert run.returncode == 0, run.stderr
    shipped = run.stdout.strip().splitlines()[-1]
    assert shipped.startswith(str(tmp_path)) and shipped.endswith(".zip")
    assert not os.path.exists(os.path.dirname(shipped))
