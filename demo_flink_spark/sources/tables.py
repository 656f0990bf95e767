"""Batch table sources: the driver's parquet star schema.

Reference parity: the reference's bounded sources are in-memory
collections (`UserClickCounter.java:19-26`, `FraudDetectorExample.java:47-59`);
our batch source is the parquet scan, which at 100 TB is where
predicate pushdown + column pruning + partition pruning happen. Every
query in the engine goes through `load_table` so scans stay
declarative (`spark.read.parquet`) and Catalyst prunes them.
"""

from __future__ import annotations

import atexit
import functools
import os
import shutil
import tempfile
import threading
import weakref

from pyspark.sql import DataFrame, SparkSession

# The driver-generated tables (TESTDATA.md). Names double as the
# DuckDB oracle view names.
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def ensure_session(spark: SparkSession) -> None:
    """Make ANY SparkSession able to run the engine's queries.

    The driver harness builds its own session, so the engine can't rely
    on `demo_flink_spark.session.get_spark` having configured it. This
    sets the runtime-settable requirements idempotently:

    - `nanosAsLong`: events.parquet stores TIMESTAMP(NANOS);
    - session timezone UTC: timestamp values must canonicalize the
      same way DuckDB's (naive, UTC-semantics) timestamps do;
    - Arrow on: every pandas-based operator assumes Arrow transfer;
    - ships the package source via `addPyFile` so Python workers can
      unpickle module-level functions even when the driver process
      never exported PYTHONPATH (worker sys.path includes shipped
      pyfiles; static-conf PYTHONPATH can't be set post-JVM-start).
    """
    if getattr(spark, "_dfs_session_ready", False):
        return
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    try:
        spark.sparkContext.addPyFile(_package_zip())
    except Exception:  # noqa: BLE001 — best-effort; PYTHONPATH may already cover it
        pass
    spark._dfs_session_ready = True


@functools.cache
def _package_zip() -> str:
    """The package source as a zip for `addPyFile`: built once per
    process in a temp dir that is removed at interpreter exit, so
    every session of the process ships the same file and none leaks."""
    pkg_dir = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    tmp = tempfile.mkdtemp(prefix="dfs_pyfiles_")
    atexit.register(shutil.rmtree, tmp, ignore_errors=True)
    return shutil.make_archive(
        os.path.join(tmp, "demo_flink_spark"), "zip",
        os.path.dirname(pkg_dir), os.path.basename(pkg_dir),
    )


# Session-scoped table-HANDLE cache. Every `spark.read.parquet` call
# pays a driver-side file listing plus a footer schema read (~100 ms
# measured at sf0.1), and all declared queries come through
# load_table — several hundred calls per bench run. The cache stores
# the immutable DataFrame handle (logical plan + resolved schema)
# per (session, sf_dir, table): METADATA only, zero rows — the same
# discipline as Spark's own per-session file-index cache
# (`spark.sql.hive.filesourcePartitionFileCacheSize`, guide §6),
# applied at the source wrapper because these are path tables with no
# catalog. Keyed WEAKLY by the SparkSession OBJECT (review r14: a
# `spark.newSession()` sibling shares the applicationId but must not
# receive a DataFrame bound to the parent session), so a new or
# sibling session re-lists and re-infers and a dead session's entries
# are collectable; per-session maps are bounded so a long-lived
# session sweeping many sf_dirs cannot grow one without limit.
# Contract for table MUTATION (the memo contract, mirrored): a flow
# that rewrites <sf_dir>/<name>.parquet mid-session must call
# `clear_table_handles()` or the cached handle's frozen file listing
# points at deleted part-files. The one in-repo flow that writes a
# load_table path is tools/probe.py::build_sf1, which calls this hook
# after it rebuilds its derived dir.
_HANDLES: "weakref.WeakKeyDictionary[SparkSession, dict]" = (
    weakref.WeakKeyDictionary()
)
_MAX_HANDLES = 64
# load_table is called from driver thread pools (profile_table's
# concurrent jobs, bench warm-up threads), and WeakKeyDictionary /
# dict mutation is not atomic across the setdefault/pop/insert
# sequence below (ADVICE r14). One lock around the cache operations;
# the uncached read itself runs outside it so concurrent cold loads
# of DIFFERENT tables still overlap (worst case two threads race the
# same cold table and one result wins — both are valid handles).
_HANDLES_LOCK = threading.Lock()


def clear_table_handles() -> None:
    """Drop every cached table handle (all sessions). Call after
    rewriting any table file a prior `load_table` of this session may
    have listed — the handle cache is metadata-only but its file
    listing is frozen at first read."""
    with _HANDLES_LOCK:
        _HANDLES.clear()


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one parquet table. Columns/filters prune at the scan.

    `events.ts` is stored as TIMESTAMP(NANOS), which Spark only reads
    via `spark.sql.legacy.parquet.nanosAsLong` (long nanos). Convert to
    a microsecond timestamp — the same floor-truncation DuckDB applies
    when it reads the file — so both engines see identical instants.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    ensure_session(spark)
    key = (sf_dir, name)
    with _HANDLES_LOCK:
        per_session = _HANDLES.setdefault(spark, {})
        cached = per_session.get(key)
    if cached is not None:
        return cached
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            from pyspark.sql import functions as F

            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            # Spark 4.1 parquet inference yields TIMESTAMP_NTZ; normalize to
            # LTZ (session tz = UTC, so wall-clock is preserved) so every
            # datetime function (`unix_millis` rejects NTZ) sees ONE type.
            from pyspark.sql import functions as F

            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    with _HANDLES_LOCK:
        # Re-fetch the live dict: a clear_table_handles() during the read
        # above replaced it, and this handle may hold the pre-clear file
        # listing, so it is returned uncached instead of entering the
        # fresh cache (clear fences in-flight loads).
        if _HANDLES.setdefault(spark, {}) is per_session:
            if len(per_session) >= _MAX_HANDLES:
                per_session.pop(next(iter(per_session)))
            per_session[key] = df
    return df


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    mode: str = "overwrite",
    files_per_partition: int = 1,
) -> None:
    """Hive-partitioned parquet write — the batch sink for 100 TB.

    Readers filtering on `partition_cols` prune whole directories
    (PartitionFilters in the scan, zero I/O for skipped partitions).
    Guard against the classic small-files failure: without care, every
    task writes one file per partition value it holds (tasks ×
    partitions files). Repartitioning by the partition columns first
    bounds each output partition to `files_per_partition` writers;
    raise it for hot partitions so files land near the 128-512 MB
    sweet spot (placement-only randomness — data content is unchanged
    under recompute).
    """
    from pyspark.sql import functions as F

    keys = [F.col(c) for c in partition_cols]
    if files_per_partition > 1:
        keys.append(F.floor(F.rand(seed=7) * files_per_partition))
    df.repartition(*keys).write.mode(mode).partitionBy(*partition_cols).parquet(path)


def csv_table(
    spark: SparkSession, path: str, schema, header: bool = True
) -> DataFrame:
    """CSV scan with an explicit schema — never `inferSchema` at scale
    (it is a full extra pass over the data before the query starts)."""
    return (
        spark.read.schema(schema)
        .option("header", str(header).lower())
        .option("timestampFormat", "yyyy-MM-dd HH:mm:ss[.SSSSSS]")
        .csv(path)
    )


def json_table(spark: SparkSession, path: str, schema) -> DataFrame:
    """JSON-lines scan with an explicit schema (same no-infer rule);
    malformed rows land in `_corrupt_record` instead of failing the job
    when the schema includes it."""
    return spark.read.schema(schema).json(path)


def orc_table(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan — the other columnar format Spark reads natively (no
    extra jar). Same pushdown story as parquet: predicates and column
    pruning reach the ORC reader (PushedFilters in the scan), so a
    warehouse already standardized on ORC plugs into every query here
    unchanged."""
    return spark.read.orc(path)


def write_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """ORC batch sink (snappy by default, same as parquet)."""
    df.write.mode(mode).orc(path)


def binary_files(spark: SparkSession, path: str, glob: str | None = None) -> DataFrame:
    """Raw-file ingestion: one row per file with (path, modificationTime,
    length, content binary) — the entry point for multimodal corpora
    (images/audio/video on a blob store) into
    `operators.multimodal.decode_stats` and friends.

    Scale notes: the source parallelizes over files (each task reads
    whole files), so millions of small media files scan in parallel,
    but a single giant file is one task — shard huge archives upstream.
    Filters on `path`/`length`/`modificationTime` prune at the listing
    (pushed to the file index, before any content I/O).
    """
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    return reader.load(path)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for spark.sql() queries."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
