"""Scale-conditional join-strategy hints.

A forced ``F.broadcast`` is the one Spark construct that turns into an
executor OOM instead of a slow plan when its input outgrows memory: it
bypasses ``spark.sql.autoBroadcastJoinThreshold`` entirely, so the
optimizer never gets the chance to fall back to a shuffle join.

Iterative graph operators broadcast O(|V|) relations (rank vectors,
component maps). On catalog-keyed graphs |V| is tiny next to |E| and
the broadcast is the right plan; on node-heavy graphs (users, URLs)
|V| grows with the data and the broadcast must degrade to a shuffle
join — a slower plan, never a failure. ``broadcast_if_small`` makes
that choice explicit: the caller passes the row count it already knows
(these loops count |V| anyway for their convergence/base terms, so the
estimate is free — no extra job), and the hint is applied only when
the estimated in-memory size fits the session's own broadcast
threshold.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Conservative per-row estimate for the narrow (key, value) relations
# these loops broadcast: two 8-byte columns plus UnsafeRow + hashmap
# overhead. Erring high only means falling back to a shuffle join a
# little early — safe in both directions.
_EST_ROW_BYTES = 64


def broadcast_threshold_bytes(df: DataFrame) -> int:
    """The session's broadcast budget in bytes.

    Reads ``spark.sql.autoBroadcastJoinThreshold`` (supports plain
    byte counts and the k/m/g suffixed forms Spark accepts); ``-1``
    (auto-broadcast disabled) maps to 0 so nothing force-broadcasts.
    """
    raw = (
        df.sparkSession.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
        or "10485760"
    )
    s = raw.strip().lower()
    mult = 1
    for suffix, m in (("kb", 1 << 10), ("mb", 1 << 20), ("gb", 1 << 30),
                      ("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30),
                      ("b", 1)):
        if s.endswith(suffix):
            s = s[: -len(suffix)]
            mult = m
            break
    try:
        val = int(float(s)) * mult
    except ValueError:
        val = 10 << 20
    return max(val, 0)


def widen_if_narrow(df: DataFrame, target: int | None = None) -> DataFrame:
    """Round-robin repartition `df` UP to the session's default
    parallelism when its physical plan currently yields fewer
    partitions; return it unchanged otherwise.

    Why: a single small parquet file is one row group, so its scan is
    ONE task no matter how many cores the session has — and every
    narrow operation chained on it (an Arrow kernel, an explode, the
    map side of the first exchange) runs sequentially. Paying one tiny
    exchange of the base rows unlocks full-width parallelism for an
    expensive downstream pass (guide §2.5 "input skew: one huge
    unsplittable file... repartition immediately after the read").

    Scale-adaptive by construction (NOT a local[32] constant): the
    target is `sparkContext.defaultParallelism` (total cores in local
    mode and on clusters), and the repartition only fires when the
    actual scan is narrower — at 100 TB the input has thousands of
    splits, the guard sees width ≥ cores, and NO shuffle is added.
    Apply only where the downstream per-row work dwarfs one exchange
    of the input (measured per site; at sf0.1 that is the shingle/
    signature family — cheap-stage-1 queries got slower from the
    added exchange and were left alone, OPTIMIZATION_r15.md).

    Correctness-invisible: round-robin repartition is deterministic
    under Spark's sort-before-repartition default, and every declared
    query is partitioning-independent (pinned by the shake gate).
    """
    t = target or df.sparkSession.sparkContext.defaultParallelism
    # physical partition count of the frame as planned (for a scan:
    # the file-split count). Not free: getNumPartitions() builds the
    # physical plan and a Python RDD over it, though it runs no job
    if df.rdd.getNumPartitions() < t:
        return df.repartition(t)
    return df


def broadcast_if_small(
    df: DataFrame, est_rows: int, row_bytes: int = _EST_ROW_BYTES
) -> DataFrame:
    """Broadcast-hint ``df`` only when ``est_rows * row_bytes`` fits
    the session's broadcast threshold; otherwise return it unhinted so
    the join planner picks a shuffle strategy.

    ``est_rows`` is a count the caller already holds (loop invariants
    like |V|); this helper never runs a job to find out.
    """
    if est_rows * row_bytes <= broadcast_threshold_bytes(df):
        return F.broadcast(df)
    return df
