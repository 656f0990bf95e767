"""tools/probe.py: the one sf1 builder and the A/B equality gate."""

from __future__ import annotations

import os
import sys

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from demo_flink_spark.sources.tables import load_table
from tests.conftest import SF_DIR

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
)
import probe  # noqa: E402


def _row_groups(table_dir: str) -> int:
    return sum(
        pq.ParquetFile(os.path.join(table_dir, f)).num_row_groups
        for f in os.listdir(table_dir)
        if f.endswith(".parquet")
    )


def test_build_sf1_replicates_keys_and_text_across_splits(spark, tmp_path):
    dst = probe.build_sf1(SF_DIR, str(tmp_path / "sf"), copies=3)
    assert os.path.exists(os.path.join(dst, probe.SF1_READY))
    for name in ("lineitem", "orders", "documents"):
        assert _row_groups(os.path.join(dst, f"{name}.parquet")) >= 2, name

    def lineitem_orders(sf_dir):
        return load_table(spark, sf_dir, "lineitem").join(
            load_table(spark, sf_dir, "orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        ).count()

    base_rows = lineitem_orders(SF_DIR)
    assert base_rows > 0
    assert lineitem_orders(dst) == 3 * base_rows

    base = load_table(spark, SF_DIR, "documents").select(
        "doc_id", F.col("text").alias("base_text")
    )
    stride = base.agg(F.max("doc_id")).collect()[0][0] + 1
    replicas = load_table(spark, dst, "documents").select(
        (F.col("doc_id") % stride).alias("doc_id"), "text"
    ).join(base, "doc_id")
    assert replicas.count() == 3 * base.count()
    lettered = replicas.filter(F.col("base_text").rlike("[A-Za-z]"))
    assert lettered.count() > 0
    assert lettered.filter(F.col("text") == F.col("base_text")).count() == 0


def test_alternate_asserts_equal_results_before_timing(spark):
    ten = spark.range(10)
    with pytest.raises(AssertionError):
        probe.alternate({"a": lambda: ten, "b": lambda: spark.range(11)}, reps=1)
    times = probe.alternate({"a": lambda: ten, "b": lambda: spark.range(10)}, reps=1)
    assert {k: len(v) for k, v in times.items()} == {"a": 1, "b": 1}

    with pytest.raises(AssertionError):
        probe.alternate({"a": lambda: [(1,), (2,)], "b": lambda: [(1,), (3,)]}, reps=1)
    probe.alternate({"a": lambda: [(1,), (2,)], "b": lambda: [(2,), (1,)]}, reps=1)
