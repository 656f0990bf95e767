"""Tests for the hot-key scale utilities."""

from __future__ import annotations

import uuid

from pyspark.sql import functions as F

from demo_flink_spark.operators.scale import (
    observed_watermark,
    salted_agg,
    salted_join,
)


def test_salted_agg_matches_plain(spark):
    # one hot key (90% of rows) + long tail
    rows = [("hot", float(i)) for i in range(900)] + [
        (f"k{i}", float(i)) for i in range(100)
    ]
    df = spark.createDataFrame(rows, "key string, v double")
    plain = {
        r["key"]: (r["s"], r["n"], r["mx"])
        for r in df.groupBy("key")
        .agg(F.sum("v").alias("s"), F.count("v").alias("n"), F.max("v").alias("mx"))
        .collect()
    }
    salted = {
        r["key"]: (r["sum_v"], r["n_v"], r["max_v"])
        for r in salted_agg(
            df,
            ["key"],
            {
                "sum_v": F.sum("v"),
                "n_v": F.count("v"),
                "max_v": F.max("v"),
            },
        ).collect()
    }
    assert salted.keys() == plain.keys()
    for k in plain:
        assert abs(salted[k][0] - plain[k][0]) < 1e-6
        assert salted[k][1:] == plain[k][1:]


def test_salted_join_matches_plain(spark):
    big = spark.createDataFrame(
        [("hot", i) for i in range(500)] + [("cold", i) for i in range(5)],
        "key string, v int",
    )
    dim = spark.createDataFrame(
        [("hot", "H"), ("cold", "C")], "key string, label string"
    )
    plain = sorted(
        (r["key"], r["v"], r["label"]) for r in big.join(dim, "key").collect()
    )
    salted = sorted(
        (r["key"], r["v"], r["label"])
        for r in salted_join(big, dim, "key").collect()
    )
    assert salted == plain


def test_observed_watermark(spark, tmp_path):
    stage = str(tmp_path / "src")
    df = spark.createDataFrame([(60_000, "a")], "ts_ms long, word string")
    df.coalesce(1).write.mode("overwrite").parquet(stage)
    stream = (
        spark.readStream.schema(df.schema)
        .parquet(stage)
        .withColumn("ts", F.timestamp_millis("ts_ms"))
    )
    agg = (
        stream.withWatermark("ts", "10 seconds")
        .groupBy(F.window("ts", "10 seconds"), "word")
        .count()
    )
    q = (
        agg.writeStream.format("memory")
        .queryName(f"wm_{uuid.uuid4().hex[:8]}")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        wm = observed_watermark(q)
    finally:
        q.stop()
    # watermark = max event time (60s) − delay (10s) = 50s
    assert wm is not None and wm.startswith("1970-01-01T00:00:50")


def test_bucketed_join_has_zero_exchanges(spark):
    # pay the shuffle at write time, join shuffle-free forever after —
    # the bucketing contract write_bucketed documents
    from pyspark.sql import functions as F

    from demo_flink_spark.operators.scale import write_bucketed

    sf = "/root/testdata/sf0.001"
    write_bucketed(
        spark.read.parquet(f"{sf}/orders.parquet"), "tb_orders", "o_orderkey", 8
    )
    write_bucketed(
        spark.read.parquet(f"{sf}/lineitem.parquet"), "tb_lineitem", "l_orderkey", 8
    )
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("tb_orders").join(
            spark.table("tb_lineitem"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange") == 0, plan
        assert "SortMergeJoin" in plan
        assert joined.count() == spark.read.parquet(f"{sf}/lineitem.parquet").count()
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS tb_orders")
        spark.sql("DROP TABLE IF EXISTS tb_lineitem")


def test_compact_parquet_merges_small_files(spark, tmp_path):
    from demo_flink_spark.operators.scale import compact_parquet

    src = str(tmp_path / "frag")
    dst = str(tmp_path / "compact")
    # 64 tiny files
    spark.range(10_000).repartition(64).write.parquet(src)
    import os

    n_in = sum(f.endswith(".parquet") for _r, _d, fs in os.walk(src) for f in fs)
    assert n_in >= 32
    compact_parquet(spark, src, dst, target_file_bytes=1 << 30)
    n_out = sum(f.endswith(".parquet") for _r, _d, fs in os.walk(dst) for f in fs)
    assert n_out == 1
    assert spark.read.parquet(dst).count() == 10_000


def test_compact_parquet_respects_target_size(spark, tmp_path):
    from demo_flink_spark.operators.scale import compact_parquet

    src = str(tmp_path / "frag2")
    dst = str(tmp_path / "compact2")
    spark.range(200_000).selectExpr("id", "repeat('x', 64) AS pad") \
        .repartition(32).write.parquet(src)
    import os

    total = sum(os.path.getsize(os.path.join(r, f))
                for r, _d, fs in os.walk(src) for f in fs if f.endswith(".parquet"))
    # target a quarter of the data -> expect ~4 output files
    n_out = compact_parquet(spark, src, dst, target_file_bytes=total // 4)
    files = sum(f.endswith(".parquet") for _r, _d, fs in os.walk(dst) for f in fs)
    assert files == n_out
    assert 3 <= n_out <= 6
    assert spark.read.parquet(dst).count() == 200_000


def test_dynamic_partition_pruning_on_partitioned_fact(spark, tmp_path):
    """A join against a FILTERED dim over a hive-partitioned fact must
    plan a dynamicpruning partition filter: at 100 TB this is whole
    directories of I/O skipped at runtime from the dim's filter result
    (the DPP subquery reuses the broadcast exchange)."""
    import contextlib
    import io

    from demo_flink_spark.sources.tables import load_table, write_partitioned
    from tests.conftest import SF_DIR

    path = str(tmp_path / "pe")
    write_partitioned(load_table(spark, SF_DIR, "events"), path, ["event_type"])
    fact = spark.read.parquet(path)
    dim = spark.createDataFrame(
        [(t, i) for i, t in enumerate(
            ["purchase", "click", "view", "error", "signup"])],
        "event_type string, flag int",
    )
    joined = (
        fact.join(dim.filter(F.col("flag") == 0), "event_type")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        joined.explain("formatted")
    assert "dynamicpruning" in buf.getvalue().lower()
    # and it computes the right answer: only the dim-selected partition
    rows = joined.collect()
    assert [r.event_type for r in rows] == ["purchase"]


def test_compact_parquet_sort_within_restores_clustering(spark, tmp_path):
    from demo_flink_spark.operators.scale import compact_parquet

    src = str(tmp_path / "frag3")
    dst = str(tmp_path / "compact3")
    spark.range(50_000).selectExpr("id", "id % 97 AS k") \
        .repartition(16).write.parquet(src)
    compact_parquet(spark, src, dst, target_file_bytes=1 << 30,
                    sort_within_by=["k", "id"])
    out = spark.read.parquet(dst)
    assert out.count() == 50_000
    # single output file, sorted within: ids non-decreasing per k run
    import pandas as pd

    pdf = out.toPandas()
    assert (pdf["k"].diff().fillna(0) >= 0).all()
