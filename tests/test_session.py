"""Session defaults: the shuffle-partition count follows the cores the
local master runs on (the env override and the argument still win), and
RocksDB state commits by changelog."""

from __future__ import annotations

from demo_flink_spark.session import get_spark

PARTS = "spark.sql.shuffle.partitions"
CHANGELOG = "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"


def test_session_defaults(spark, monkeypatch):
    prev = spark.conf.get(PARTS)
    try:
        monkeypatch.delenv("SPARK_GRAFT_SHUFFLE_PARTITIONS", raising=False)
        s = get_spark("tests")
        assert s.conf.get(PARTS) == str(s.sparkContext.defaultParallelism)
        assert s.conf.get(CHANGELOG) == "true"

        monkeypatch.setenv("SPARK_GRAFT_SHUFFLE_PARTITIONS", "7")
        assert get_spark("tests").conf.get(PARTS) == "7"
        assert get_spark("tests", shuffle_partitions=5).conf.get(PARTS) == "5"
    finally:
        spark.conf.set(PARTS, prev)
