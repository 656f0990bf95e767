"""SparkSession factory with scale-oriented defaults.

All engine entry points get their session here so that the same
configuration discipline applies in tests, bench, and the driver
harness:

- **AQE on** (adaptive coalescing, skew-join splitting, runtime
  broadcast demotion) — at 100 TB the static plan is always wrong
  somewhere; AQE re-plans from real shuffle statistics.
- **Arrow on** for every Python boundary (pandas UDFs, toPandas,
  applyInPandas) — batch transfer, not per-row pickling.
- **Shuffle partitions** default to the core count `local[...]` runs
  on: `SPARK_GRAFT_CPUS` when set, else the CPUs this process may use
  (`nproc`). `SPARK_GRAFT_SHUFFLE_PARTITIONS` or the `shuffle_partitions`
  argument overrides it; on a real cluster pass ~2-3x total executor
  cores. Batch work barely notices, since AQE coalesces the excess (a
  `sql_dedup` pass runs 117 tasks at 32 and at 4 partitions). Streaming
  state does notice: each stateful operator opens, updates and commits
  one state store per partition per micro-batch, and a fixed 32 on a
  4-core host made the keyed-state CDC stream's batches ~4-5x slower
  (SCALING.md).
- **Joins on Spark's default strategy**: sort-merge is preferred over
  shuffled-hash. Preferring shuffled-hash measured within noise on
  `sql_dedup` (throughput 1.397 vs 1.388 /s, p50 0.561 vs 0.536 s) and
  trades sort-merge's spill for an OOM when the planner under-estimates
  a build side.
- **RocksDB state with changelog checkpointing**: a micro-batch commit
  writes the batch's changelog instead of a full snapshot, which roughly
  halved the CDC stream's commit time (SCALING.md).
- **Worker daemon** `demo_flink_spark.worker_daemon`: the stock
  `pyspark.daemon` minus the import-cache rescan PySpark runs at the
  start of every Python task. That rescan re-read Spark's 15 MB
  `spark-core` jar and every unchanged zip on the worker's path, ~78 ms
  per task on 4 vCPUs; without it the keyed-state CDC stream's p50
  latency fell ~25% (SCALING.md, "Python task start"). The daemon
  module is static conf: a session built elsewhere and prepared by
  `sources.tables.ensure_session` keeps the stock daemon.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _host_cores() -> int:
    """CPUs this process may run on: `nproc`, and the count the JVM's
    `local[*]` resolves to unless a cgroup CPU quota lowers the JVM's
    view (then the default errs high, which AQE coalesces away)."""
    if hasattr(os, "sched_getaffinity"):
        return len(os.sched_getaffinity(0))
    return os.cpu_count() or 1


def get_spark(
    app_name: str = "demo_flink_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    Safe to call repeatedly — Spark returns the existing session and
    re-applies the runtime SQL conf set here to it; static conf (master,
    driver memory) only applies on first creation.
    """
    # Python workers (pandas UDFs, applyInPandasWithState functions)
    # are separate processes that must import this package. Locally
    # that's PYTHONPATH; on a real cluster you'd ship a wheel via
    # --py-files / spark.submit.pyFiles instead. Must be set before the
    # JVM starts — child workers inherit the JVM's environment.
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if repo_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{repo_root}{os.pathsep}{existing}" if existing else repo_root
        )

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    partitions = int(
        shuffle_partitions
        or os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS")
        or (cpus if cpus.isdigit() else _host_cores())
    )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # --- adaptive execution: runtime re-planning from shuffle stats ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # --- shuffle sizing ---
        .config("spark.sql.shuffle.partitions", str(partitions))
        # --- Arrow across every JVM<->Python hop ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.execution.pythonUDTF.arrow.enabled", "true")
        # --- broadcast joins for dimension tables (small side < 32 MiB) ---
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        # --- ANSI off: match the permissive semantics of the oracle data ---
        .config("spark.sql.ansi.enabled", "false")
        # --- session timezone pinned so timestamp semantics match DuckDB ---
        .config("spark.sql.session.timeZone", "UTC")
        # --- the events table stores TIMESTAMP(NANOS); read as long nanos
        #     (sources.tables converts to microsecond timestamps, matching
        #     DuckDB's truncation of the same files) ---
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # --- streaming state: RocksDB provider scales past heap at 100 TB ---
        .config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
        .config(
            "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
            "true",
        )
        # --- Python workers fork from the rescan-free daemon ---
        .config("spark.python.daemon.module", "demo_flink_spark.worker_daemon")
        .config("spark.ui.enabled", "false")
        # Sized to the stated harness container (local[32], 128 GiB):
        # in local mode the ONE driver JVM holds all 32 executor
        # threads' execution memory, the block-manager storage
        # (localCheckpoints), AND every broadcast build. At 8g the
        # synthetic dedup probe's 1.28M-doc verification joins died in
        # BroadcastExchange ("Not enough memory to build and broadcast")
        # while the prefix-join stages were still materializing; 24g
        # clears it with headroom and is still <1/5 of the box. A real
        # cluster splits these pools per executor, so this knob is
        # local-harness sizing, not engine semantics.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # Reliable-checkpoint knob (operators/checkpointing.py): when set,
    # every iterative operator's lineage cut survives executor loss —
    # point it at HDFS/S3 on a real cluster. Unset (the local default)
    # falls back to executor-local localCheckpoint.
    ckpt_dir = os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR")
    if ckpt_dir and spark.sparkContext.getCheckpointDir() is None:
        spark.sparkContext.setCheckpointDir(ckpt_dir)
    return spark
