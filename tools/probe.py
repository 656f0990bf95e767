"""One probe tool: plan dumps, query timing, same-session A/Bs and the
scaling families recorded in SCALING.md.

    python tools/probe.py plans OUTDIR q1 q2 ...        # explain("formatted")
    python tools/probe.py time [--sf DIR] [--reps N] q1 q2 ...
    python tools/probe.py ab {bfs,profile,hybrid} [--sf DIR]
    python tools/probe.py scale sf [max_sf]              # rewrites SCALING.md
    python tools/probe.py scale synth [max_n]
    python tools/probe.py scale template [max_n] [bucket_cap]
    python tools/probe.py scale {graph,cc,skew} [max_nodes] [min_nodes]
    python tools/probe.py scale pysource [max_rows]
    python tools/probe.py scale stream [T ...]

`--sf` defaults to $SPARK_GRAFT_SF_DIR, else the sf0.1 fixture, as in
bench.py. Each shared piece exists once: `session` (get_spark, ERROR
logging, the bench warm-up, an optional probe-owned checkpoint dir),
`time_reps` (the median-of-reps timer), `alternate` (the same-session
A/B that asserts equal results before it times anything),
`slope_table` (the log-log slope table) and `build_sf1` (the one
synthetic decade above sf0.1).

The probes are not part of the bench or of the `__spark_entry__`
query contract. Run them on a quiet box: slopes and A/B medians assume
roughly constant load, so do not run other Spark work alongside.
"""

from __future__ import annotations

import argparse
import atexit
import gc
import json
import math
import os
import shutil
import statistics
import sys
import tempfile
import time
from urllib.parse import urlparse

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# The sf fixture root (TESTDATA.md).
TESTDATA = "/root/testdata"
SF_DEFAULT = os.environ.get("SPARK_GRAFT_SF_DIR", f"{TESTDATA}/sf0.1")


# --------------------------------------------------------------------------
# Shared pieces
# --------------------------------------------------------------------------


def warm_up(spark, sf_dir: str | None = None) -> None:
    """bench.py's warm-up, step for step, so no first cell is charged
    session startup: the JVM/codegen aggregate, a full-column hash scan
    of each fact table (page decompression and codec init; footers alone
    leave them to the first query), the Python workers and Arrow path,
    the Python DataSource machinery (a throwaway one-row source, so a
    connector under test still pays its own registration), and the
    string-expression codegen path."""
    from pyspark.sql import functions as F
    from pyspark.sql.datasource import DataSource, DataSourceReader

    spark.range(1_000_000).groupBy(F.col("id") % 7).count().collect()
    for tbl in ("lineitem", "orders", "part", "customer", "documents", "embeddings", "events"):
        if sf_dir:
            df = spark.read.parquet(os.path.join(sf_dir, f"{tbl}.parquet"))
            df.select(F.xxhash64(*[F.col(c).cast("string") for c in df.columns])).count()
    spark.range(64).repartition(32).mapInPandas(lambda it: it, "id long").count()

    class _WarmupSource(DataSource):
        @classmethod
        def name(cls):
            return "probe_warmup_src"

        def schema(self):
            return "i long"

        def reader(self, schema):
            class _R(DataSourceReader):
                def read(self, partition):
                    yield (0,)

            return _R()

    spark.dataSource.register(_WarmupSource)
    spark.read.format("probe_warmup_src").load().count()
    spark.createDataFrame([("a b. C",)], "text string").select(
        F.explode(
            F.split(F.regexp_replace(F.lower("text"), r"[^a-z\s]", ""), r"\s+")
        ).alias("w")
    ).filter(~F.col("w").isin("a", "the")).groupBy("w").count().collect()


def session(name: str, conf: dict | None = None, *, sf_dir: str | None = None,
            checkpoint: bool = False):
    """The probe's Spark session: `get_spark`, ERROR logging and the
    bench warm-up (over `sf_dir`'s tables when given).

    checkpoint=True gives the family reliable (disk) checkpoints, the
    documented scale configuration (operators/checkpointing.py honors
    the dir): without one every cut_lineage localCheckpoints into the
    same heap the broadcast builds need, which a cluster never does.
    Spark never deletes reliable checkpoint files itself
    (spark.cleaner.referenceTracking.cleanCheckpoints defaults to
    false), so the probe owns the dir's lifecycle: a per-run mkdtemp
    (concurrent probe runs cannot wipe each other's live checkpoints)
    removed at exit (multi-GB of checkpoints per run would otherwise
    accumulate in /tmp). A dir set through SPARK_GRAFT_CHECKPOINT_DIR
    is the user's: the probe neither wipes it nor registers cleanup
    for it.
    """
    from demo_flink_spark.session import get_spark

    spark = get_spark(
        name,
        extra_conf={"spark.ui.showConsoleProgress": "false", **(conf or {})},
    )
    spark.sparkContext.setLogLevel("ERROR")
    if checkpoint and spark.sparkContext.getCheckpointDir() is None:
        ckpt_dir = tempfile.mkdtemp(prefix=f"spark_graft_{name}_ckpt_")
        spark.sparkContext.setCheckpointDir(ckpt_dir)
        atexit.register(shutil.rmtree, ckpt_dir, ignore_errors=True)
    warm_up(spark, sf_dir)
    return spark


class CheckpointRotation:
    """Moves reliable checkpoints to a fresh subdir of the session's
    checkpoint dir and deletes the previous subdir. Checkpoint files
    otherwise accumulate for the whole session: the growing dir's
    write-back perturbed the later big template cells (a 3.6x rep
    spread at 2.56M docs before rotation), and the graph cc 1.6M cell
    exhausted ~80 GB of free disk mid-rep without it.

    Only a local checkpoint dir rotates: os.makedirs/rmtree on an
    HDFS/S3 URI would create bogus local 's3:/...' dirs while the
    remote files kept accumulating. The subdirs are the probe's; the
    root stays whoever's it was."""

    def __init__(self, spark):
        self.spark = spark
        root = spark.sparkContext.getCheckpointDir()
        if root is not None and urlparse(root).scheme not in ("", "file"):
            root = None
        self.root = None if root is None else root.removeprefix("file:")
        self.prev: str | None = None

    def rotate(self, tag: str, settle=None) -> None:
        """Point checkpoints at subdir `tag`; `settle()` runs before the
        previous subdir is removed."""
        if self.root is None:
            return
        sub = os.path.join(self.root, tag)
        os.makedirs(sub, exist_ok=True)
        self.spark.sparkContext.setCheckpointDir(sub)
        if settle is not None:
            settle()
        if self.prev is not None:
            shutil.rmtree(self.prev, ignore_errors=True)
        self.prev = sub


def time_reps(fn, reps: int = 3, *, warm: bool = False, before=None,
              after=None, one_rep_over_s: float | None = None):
    """Median of `reps` timed calls of `fn`; returns (median_s, rep_s).

    Single reps on a shared box swing 2-3x (GC, page cache, checkpoint
    write-back: 103.7 s then 36.1 s for consecutive same-session 1.28M
    LSH reps), so a one-rep slope is noise. `warm` adds one untimed
    call first, absorbing first-touch codegen and shuffle-file costs
    that would otherwise read as super-linear growth at exactly one
    size. `before` and `after` run outside the clock around every
    call. A warm call slower than `one_rep_over_s` buys one rep: the
    spread matters at seconds, not at tens of minutes, and a 4x repeat
    of a 10-minute cell buys spread data at an unaffordable price.
    """
    if warm:
        if before:
            before()
        t0 = time.time()
        fn()
        if one_rep_over_s is not None and time.time() - t0 > one_rep_over_s:
            reps = 1
        if after:
            after()
    ts = []
    for _ in range(reps):
        if before:
            before()
        t0 = time.time()
        fn()
        ts.append(time.time() - t0)
        if after:
            after()
    return statistics.median(ts), ts


def same_result(a, b, label: str = "") -> None:
    """Raise AssertionError unless `a` and `b` hold the same rows: a
    sym-diff (exceptAll both ways) for DataFrames, sorted rows for
    collected results."""
    from pyspark.sql import DataFrame

    if isinstance(a, DataFrame):
        extra, missing = a.exceptAll(b).count(), b.exceptAll(a).count()
        if extra or missing:
            raise AssertionError(
                f"{label} result drift: sym-diff {extra} + {missing} rows"
            )
    elif sorted(map(tuple, a)) != sorted(map(tuple, b)):
        raise AssertionError(f"{label} result drift: collected rows differ")


def alternate(variants: dict, reps: int = 5) -> dict[str, list[float]]:
    """Same-session A/B (OPTIMIZATION_r14.md, "the box lies"): variants
    alternate inside ONE process, so host-steal drift lands on every
    side alike. Each variant is a zero-argument callable returning a
    DataFrame (timed through count()) or a collected list. Every
    variant's result must equal the first's before anything is timed;
    then rep r runs the variants rotated by r."""
    from pyspark.sql import DataFrame

    labels = list(variants)
    first = variants[labels[0]]()
    for label in labels[1:]:
        same_result(first, variants[label](), f"{labels[0]} vs {label}")
    print(f"equal results: {', '.join(labels)}", flush=True)
    times: dict[str, list[float]] = {label: [] for label in labels}
    for r in range(reps):
        order = labels[r % len(labels):] + labels[: r % len(labels)]
        for label in order:
            t0 = time.time()
            out = variants[label]()
            if isinstance(out, DataFrame):
                out.count()
            times[label].append(round(time.time() - t0, 3))
        print(f"rep{r}: " + " ".join(f"{x}={times[x][-1]:.2f}s" for x in order),
              flush=True)
    for label in labels:
        print(f"{label}: med {statistics.median(times[label]):.3f}s"
              f" {sorted(times[label])}")
    return times


def slope(t_hi, t_lo, n_hi, n_lo) -> float | None:
    """Log-log growth exponent between two sizes: ~1.0 linear, ~2.0
    quadratic; None when either time is missing."""
    if t_hi is None or t_lo is None:
        return None
    return math.log10(t_hi / t_lo) / math.log10(n_hi / n_lo)


def slope_table(size_header: str, rows: list[dict], cols, prec: int = 1) -> None:
    """Print the markdown table a scale family ends with. Each row holds
    the size "n" and a value per column key; `cols` lists (header, key,
    timed). A timed cell prints seconds ("cost-model" where the budget
    skipped it) followed by its slope against the previous row."""
    head = [size_header]
    for header, _, timed in cols:
        head += [header, "slope"] if timed else [header]
    print("\n| " + " | ".join(head) + " |")
    print("|" + "---|" * len(head))
    prev = None
    for r in rows:
        cells = [f"{r['n']:,}"]
        for _, key, timed in cols:
            v = r[key]
            if not timed:
                cells.append(f"{v:,}" if isinstance(v, int) else str(v))
                continue
            cells.append("cost-model" if v is None else f"{v:.{prec}f}s")
            s = None if prev is None else slope(v, prev[key], r["n"], prev["n"])
            cells.append("—" if s is None else f"{s:.2f}")
        print("| " + " | ".join(cells) + " |")
        prev = r


# --------------------------------------------------------------------------
# The synthetic decade above sf0.1
# --------------------------------------------------------------------------

SF1_DIR = "/tmp/spark_graft_sf1"
# Versioned marker: bumping it invalidates dirs built by older builders
# (v1 copied documents/embeddings unchanged; v2 kept part a fixed dim;
# v3 wrote most tables as one file, so every scan was one task).
SF1_READY = "_READY_v4"
# Files per table: enough that a scan splits across the cores of a
# 32-core box (one task per file once files pass Spark's 4 MB open
# cost; on fewer cores the files pack into fewer tasks).
SF1_SPLITS = 32


def build_sf1(src: str, dst: str, copies: int = 10) -> str:
    """Build (once, cached by a marker) a ×`copies` synthetic decade
    above `src` in `dst`, with the active Spark session.

    Replication with key shifts, not bare duplication: lineitem and
    orders offset their orderkeys by replica·(max+1) so each replica
    contributes NEW orders joining to NEW lineitems (join fan-out and
    group count scale, referential integrity holds); events offset
    event_id and user_id the same way so event-keyed windows gain
    `copies`× groups.

    part (v3): replicated with a shared p_partkey stride that
    lineitem's l_partkey also shifts by, so replica r lineitems join
    replica r parts — part-keyed joins keep their per-replica fan-out
    while the part scan AND the part-derived graphs scale honestly
    (the co-order graph becomes disjoint copies of the base graph; the
    cust↔part bipartite graph keeps its customers as cross-replica hubs
    with `copies`× degree — realistic dim-key skew).

    documents/embeddings: replicated with key shifts AND a per-replica
    content perturbation, so the decade scales the WORKLOAD, not just
    the row count. Bare text copies would make every doc a 10-way
    exact/near dup (posting lists ×10 → candidate pairs ×100 — a
    corpus-structure change masquerading as quadratic cost), so
    replica r suffixes every alphabetic token with the letter
    chr(ord('a') + r): token counts, lengths and WITHIN-replica dup
    structure are preserved exactly, while replicas share no shingles.
    Embedding replicas circularly shift coordinates by r —
    intra-replica cosines are permutation-invariant (structure
    preserved), cross-replica directions decorrelate.

    Small dims (region, nation, customer, supplier) copy unchanged —
    fact-dominated growth, which is what the decade's slope should
    measure.

    Every table is written in SF1_SPLITS files (the tiny dims in one
    row per file), so a scan splits across cores: the sf fixtures are
    one row group per table, one scan task whatever the core count.

    Crash safety: a build interrupted mid-write leaves `dst` without
    the marker, and a missing marker means the whole dir is suspect,
    so it is rebuilt from scratch.
    """
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from demo_flink_spark.sources.tables import (
        TABLES,
        clear_table_handles,
        load_table,
    )

    if not 1 <= copies <= 26:
        raise ValueError(f"copies must be in 1..26 (one suffix letter each), got {copies}")
    dst = str(dst)
    if os.path.exists(os.path.join(dst, SF1_READY)):
        return dst
    if os.path.exists(dst):
        shutil.rmtree(dst)
    os.makedirs(dst)
    spark = SparkSession.active()

    def write(name: str, df, rows: int) -> None:
        df.write.option("maxRecordsPerFile", max(1, -(-rows // SF1_SPLITS))).parquet(
            os.path.join(dst, f"{name}.parquet")
        )

    def max_plus_one(name: str, col: str) -> int:
        return load_table(spark, src, name).agg(F.max(col)).collect()[0][0] + 1

    replicas = F.explode(F.array([F.lit(i) for i in range(copies)])).alias("_r")

    def shifted(name: str, shifts: dict[str, int]) -> None:
        df = load_table(spark, src, name)
        out = df.select("*", replicas)
        for col, stride in shifts.items():
            out = out.withColumn(col, F.col(col) + F.col("_r") * F.lit(stride))
        write(name, out.drop("_r"), df.count() * copies)

    # ONE orderkey stride shared by orders and lineitem, and ONE partkey
    # stride shared by part and lineitem: replica r of a lineitem still
    # joins replica r of its order and of its part
    ok_stride = max_plus_one("orders", "o_orderkey")
    pk_stride = max_plus_one("part", "p_partkey")
    shifted("orders", {"o_orderkey": ok_stride})
    shifted("lineitem", {"l_orderkey": ok_stride, "l_partkey": pk_stride})
    shifted("part", {"p_partkey": pk_stride})
    shifted("events", {"event_id": max_plus_one("events", "event_id"),
                       "user_id": max_plus_one("events", "user_id")})

    # documents: one statically-transformed frame per replica, so the
    # regex replacement string stays a literal
    docs = load_table(spark, src, "documents")
    doc_stride = max_plus_one("documents", "doc_id")
    doc_parts = [
        docs.select(
            (F.col("doc_id") + r * doc_stride).alias("doc_id"),
            F.regexp_replace("text", "([A-Za-z]+)", "$1" + chr(ord("a") + r)).alias("text"),
            "lang",
            "source",
        ).withColumn("n_chars", F.length("text").cast("long"))
        for r in range(copies)
    ]
    d = doc_parts[0]
    for p in doc_parts[1:]:
        d = d.union(p)
    write("documents", d, docs.count() * copies)

    emb = load_table(spark, src, "embeddings")
    vec_stride = max_plus_one("embeddings", "vec_id")
    emb_parts = [
        emb.select(
            (F.col("vec_id") + r * vec_stride).alias("vec_id"),
            F.expr(
                f"concat(slice(embedding, {r} + 1, size(embedding) - {r}),"
                f" slice(embedding, 1, {r}))"
                if r
                else "embedding"
            ).alias("embedding"),
            "label",
        )
        for r in range(copies)
    ]
    v = emb_parts[0]
    for p in emb_parts[1:]:
        v = v.union(p)
    write("embeddings", v, emb.count() * copies)

    replicated = {"orders", "lineitem", "part", "events", "documents", "embeddings"}
    for name in TABLES:
        if name not in replicated:
            raw = spark.read.parquet(os.path.join(src, f"{name}.parquet"))
            write(name, raw, raw.count())
    with open(os.path.join(dst, SF1_READY), "w") as f:
        f.write("ok")
    # the handle cache freezes a file listing at first read, and a
    # rebuild replaced every file of `dst`
    clear_table_handles()
    return dst


# --------------------------------------------------------------------------
# plans / time / ab
# --------------------------------------------------------------------------


def plans(outdir: str, names: list[str], sf_dir: str) -> None:
    """Dump explain("formatted") for each query to OUTDIR/<query>.txt.
    Plans are load-independent. Memos are cleared before each query,
    so a memo consumer shows its cold build whatever the argument
    order (a consumer planned after a memo-mate would otherwise show
    an InMemoryTableScan of the shared build)."""
    import __spark_entry__ as e
    from demo_flink_spark.plans.memo import clear_session_memos

    spark = session("probe_plans")
    qs = e.queries()
    os.makedirs(outdir, exist_ok=True)
    for name in names:
        clear_session_memos()
        df = qs[name](spark, sf_dir)
        txt = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(outdir, f"{name}.txt")
        with open(path, "w") as f:
            f.write(txt)
        print(f"wrote {path} ({len(txt)} bytes)")


def time_queries(names: list[str], sf_dir: str, reps: int) -> None:
    """Median of `reps` count() runs per query, the bench's action, so
    cells compare 1:1 with bench.py's.

    One discipline for every timing: the bench warm-up first, so the
    first query is not charged session startup; then session memos
    cleared before EVERY rep. Without the clear, a query timed after a
    memo-mate measures the memo-HIT path while the first consumer
    measures the BUILD, so cells mix semantics depending on argument
    order, and rep 2 of a consumer times a hit its rep 1 paid for.
    Every cell now includes its shared-build stage; the amortization a
    bench session gets from the memos is reported by bench.py's
    `memo_builds`, not here."""
    import __spark_entry__ as e
    from demo_flink_spark.plans.memo import clear_session_memos

    spark = session("probe_time", sf_dir=sf_dir)
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    qs = e.queries()
    for name in names:
        med, ts = time_reps(lambda: qs[name](spark, sf_dir).count(), reps,
                            before=clear_session_memos)
        print(f"cpus={cpus} {name}: median {med:.3f}s reps {[round(t, 3) for t in ts]}",
              flush=True)


def ab_bfs(sf_dir: str) -> None:
    """graph_bfs_hops's loop, old (r13: re-materializing, unhinted) vs
    new (r14: lazy union + exact-count hints), same session. The
    bench floors read WORSE for the new shape (ROADMAP item 5)."""
    from pyspark.sql import functions as F

    from demo_flink_spark.operators.checkpointing import cut_lineage, cut_lineage_lazy
    from demo_flink_spark.operators.graph import bfs_hops
    from demo_flink_spark.plans.graph import _bipartite_edges
    from demo_flink_spark.sources import load_table

    spark = session("probe_ab", sf_dir=sf_dir)
    edges = _bipartite_edges(spark, sf_dir)
    seeds = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy(F.col("n_orders").desc(), F.col("o_custkey"))
        .limit(5)
        .select((F.col("o_custkey") * 2).alias("node"))
    )

    def old_bfs(edges, seeds, max_hops=4):
        e = edges.select("src", "dst").transform(cut_lineage_lazy)
        dist = seeds.select(F.col(seeds.columns[0]).alias("node")).distinct()
        dist = dist.withColumn("hops", F.lit(0)).transform(cut_lineage)
        frontier = dist.select("node")
        for h in range(1, max_hops + 1):
            nxt = (
                frontier.join(e, frontier.node == e.src)
                .select(F.col("dst").alias("node"))
                .distinct()
                .join(dist.select("node"), "node", "left_anti")
                .withColumn("hops", F.lit(h))
            )
            dist = dist.union(nxt).transform(cut_lineage)
            if nxt.isEmpty():
                break
            frontier = nxt.select("node")
        return dist.select("node", F.col("hops").cast("int").alias("hops"))

    alternate({
        "old": lambda: old_bfs(edges, seeds),
        "new": lambda: bfs_hops(edges, seeds, max_hops=4),
    })


def ab_profile(sf_dir: str) -> None:
    """profile_lineitem's candidate `widen_if_narrow` site: the raw
    single-row-group lineitem scan vs the widened input. profile_table
    runs its two jobs AT CONSTRUCTION (wide agg first() + melt-distinct
    collect()), so each variant times the constructor and collects the
    5-row local result; a noop write of the returned frame measures
    nothing."""
    from demo_flink_spark.operators.hints import widen_if_narrow
    from demo_flink_spark.operators.relational import profile_table
    from demo_flink_spark.sources import load_table

    spark = session("probe_ab", sf_dir=sf_dir)
    cols = ["l_orderkey", "l_quantity", "l_returnflag", "l_shipdate",
            "l_extendedprice"]
    li = load_table(spark, sf_dir, "lineitem")
    wide = widen_if_narrow(li)
    alternate({
        "narrow": lambda: profile_table(li, cols).collect(),
        "widened": lambda: profile_table(wide, cols).collect(),
    })


def ab_hybrid(sf_dir: str) -> None:
    """Where do hybrid_search_rrf's seconds go? The query is rebuilt
    from its two ranked branches and the fuse; the rebuild must equal
    the registry query (sym-diff) before each part is timed with a noop
    sink."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    import __spark_entry__ as e
    from demo_flink_spark.operators import similarity as sim
    from demo_flink_spark.operators.search import bm25_batch, rrf_fuse
    from demo_flink_spark.plans.similarity import _N_QUERIES, _RRF_DEPTH, _queries_df
    from demo_flink_spark.sources import load_table

    spark = session("probe_ab", sf_dir=sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    qdocs = docs.filter(F.col("doc_id") < _N_QUERIES).select(
        F.col("doc_id").alias("query_id"), "text"
    )
    bm = bm25_batch(docs, qdocs).filter(F.col("doc_id") != F.col("query_id"))
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    bm_ranked = (
        bm.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= _RRF_DEPTH)
        .select("query_id", F.col("doc_id").alias("vec_id"), "rk")
    )
    emb = load_table(spark, sf_dir, "embeddings")
    cos_ranked = sim.cosine_topk_bruteforce(
        emb, _queries_df(spark, sf_dir), k=_RRF_DEPTH
    ).select("query_id", "vec_id", "rk")
    fused = rrf_fuse(bm_ranked, cos_ranked, k_rrf=60, topn=10,
                     rk_a_name="rk_bm25", rk_b_name="rk_cos")
    same_result(fused, e.queries()["hybrid_search_rrf"](spark, sf_dir), "hybrid rebuild")
    print("equal results: rebuild, hybrid_search_rrf", flush=True)
    for label, df in (("bm25 ranked branch", bm_ranked),
                      ("cosine ranked branch", cos_ranked),
                      ("full hybrid (fused)", fused)):
        med, ts = time_reps(
            lambda: df.write.format("noop").mode("overwrite").save()
        )
        print(f"{label}: med {med:.3f}s {[round(t, 3) for t in ts]}", flush=True)


# --------------------------------------------------------------------------
# scale sf: the registry queries across the sf ladder → SCALING.md
# --------------------------------------------------------------------------

SFS = ["0.001", "0.01", "0.1", "1"]

# query -> primary input table (decides which steps carry signal)
PROBES = {
    "q1_pricing_summary": "lineitem",
    "q9_product_profit": "lineitem",
    "window_topn_users_hourly": "events",
    "asof_join_last_purchase": "orders",
    "heavy_hitter_words": "documents",
    "dedup_exact": "documents",
    "dedup_minhash_lsh": "documents",
    "dedup_embedding_cosine": "embeddings",
    "similarity_topk_bruteforce": "embeddings",
    "hybrid_search_rrf": "documents",
    "graph_pagerank_copurchase": "orders",
    "graph_label_propagation": "orders",
    "mau_rolling_28d": "events",
    "layout_zorder_part": "part",
    "sequence_packing": "documents",
    "token_budget_mixture": "documents",
    "pipeline_attrition_funnel": "documents",
    "cdc_chunk_dedup": "documents",
    "split_leakage_audit": "documents",
    "bigram_novelty_vs_train": "documents",
    "ngram_diversity_by_source": "documents",
    "perplexity_bucket_filter": "documents",
    "repetition_removal": "documents",
    # r10 (VERDICT r9 item 2): the bench-cost ceiling — the slowest
    # registry queries previously unprobed
    "graph_bfs_hops": "orders",
    "graph_adamic_adar": "lineitem",
    "dedup_cluster_keep_longest": "documents",
    "dedup_ppjoin_prefix": "documents",
    "textrank_keywords": "documents",
    "sql_recursive_date_spine": "orders",
    "profile_lineitem": "lineitem",
    # r11 (VERDICT r10 item 4): the last unprobed multi-second bench
    # cells. (pysource_event_counts, the third one named, generates
    # its own input — sf_dir is unused by design — so it gets its own
    # n_rows-decade family: `scale pysource`.)
    "anomaly_mad_hampel": "events",
    "anomaly_stl_residual": "events",
}

# tables that genuinely grow 10x per SF step (documents/embeddings
# are flat 500 rows between sf0.001 and sf0.01)
_SCALES_FROM_0001 = {"lineitem", "orders", "events", "customer", "part"}

# probes that get the synthetic sf1 third decade — r7 extends it from
# the relational core to the document/embedding families (their
# replicas are content-perturbed, see build_sf1)
THIRD_DECADE = {
    "q1_pricing_summary",
    "q9_product_profit",
    "window_topn_users_hourly",
    "asof_join_last_purchase",
    "graph_pagerank_copurchase",
    "graph_label_propagation",
    "mau_rolling_28d",
    "heavy_hitter_words",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_embedding_cosine",
    "similarity_topk_bruteforce",
    "hybrid_search_rrf",
    "split_leakage_audit",
    "ngram_diversity_by_source",
    "perplexity_bucket_filter",
    # r9: the remaining "—" cells (part scales in sf1 as of v3, so
    # layout_zorder_part carries third-decade signal too)
    "layout_zorder_part",
    "sequence_packing",
    "token_budget_mixture",
    "cdc_chunk_dedup",
    "bigram_novelty_vs_train",
    "pipeline_attrition_funnel",
    # r9b: the round's registry addition — zero-exchange array
    # machinery per doc, expected linear (per-replica token suffixes
    # preserve intra-doc repetition structure exactly)
    "repetition_removal",
    # r10: the cost-ceiling additions. All have honest sf1 growth:
    # the co-order/bipartite graphs gain 10 disjoint replicas (v3
    # part scaling), documents gain 10 shingle-disjoint replicas,
    # lineitem/orders replicate with key shifts. The date spine's
    # SPAN is fixed (replicas keep order dates) — its sf1 step
    # measures the daily-count aggregation over 10× orders joined to
    # the same ~2.4k-day spine, which is the honest scale shape of a
    # calendar report.
    "graph_bfs_hops",
    "graph_adamic_adar",
    "dedup_cluster_keep_longest",
    "dedup_ppjoin_prefix",
    "textrank_keywords",
    "sql_recursive_date_spine",
    "profile_lineitem",
    # r11: events replicas in sf1 shift event/user ids (the event_type
    # key set stays fixed), so these cells measure 10×-denser series
    # per key — the honest scale shape for per-key robust statistics
    # and decomposition.
    "anomaly_mad_hampel",
    "anomaly_stl_residual",
}

# queries whose pair work is quadratic BY DEFINITION (exact all-pairs
# baselines) — a super-linear largest-step slope is expected for
# these and only these; anything else super-linear is a regression
EXPECTED_SUPERLINEAR = {"dedup_embedding_cosine"}

SCALING_HEADER = """\
# SCALING.md — measured growth exponents

Generated by `python tools/probe.py scale sf`. Each cell is the MEDIAN
of 3 reps with session memos cleared before every rep, so
every cell uniformly includes its shared-build stage and
single-rep box noise is absorbed (r9 methodology — cells are
NOT comparable to pre-r9 single-rep tables, where a query
probed after a memo-mate at the same sf silently measured the
memo-HIT path). Each slope is
log10(t_hi/t_lo) across one 10× data step: ~1.0 = linear,
~2.0 = quadratic (an all-pairs hazard), << 1 = fixed overheads
still dominate at this size (the asymptote hasn't kicked in).
documents/embeddings hold 500 rows at BOTH sf0.001 and sf0.01
(TESTDATA.md), so document-shaped queries carry signal only on
the 0.01 → 0.1 step — their first-step slope is omitted.
The sf1 column is the SYNTHETIC third decade: fact tables
replicated ×10 above sf0.1 with key-shifted replicas, and
(r7) documents/embeddings replicated ×10 with per-replica
content perturbation — replica r suffixes every token with a
replica letter / circularly shifts embedding coordinates, so
within-replica dup/similarity structure is preserved exactly
while replicas stay disjoint (a bare copy would square the
candidate-pair count — a corpus change, not a scale step).
As of v3 (r9) `part` also replicates ×10 with a p_partkey
stride that lineitem's l_partkey shares, so part-keyed joins
keep their per-replica fan-out while part scans and the
part-derived graphs scale honestly — the graph-family sf1
numbers are NOT comparable to the pre-r9 (v2) table, where
part was a fixed dim and the co-order graph did not grow.
As of v4 every sf1 table is split into up to 32 files, so its scans
split across cores (v3 tables were mostly one file: one scan task).
See tools/probe.py::build_sf1 — built locally, never
part of the fixture data.
"""


def scale_sf(args: list[str]) -> None:
    """Time the PROBES queries at every sf up to `max_sf` (default 1,
    the full ladder) and fit the growth exponent per 10× step. "Would
    this survive 100×?" should be measured, not argued: a slope near
    1.0 means linear scaling in input size (what a scan-shaped or
    banded-join operator should show); a slope near 2 exposes an
    all-pairs hazard the plan audit missed; slopes well below 1 mean
    fixed overheads still dominate at these sizes.

    The fixtures stop at sf0.1, so the full ladder builds an sf1 with
    build_sf1 at SF1_DIR and times the THIRD_DECADE queries there.
    Only a full-ladder run rewrites SCALING.md, and only its header
    and table (sections below the table belong to the other families
    and to hand-written records); a shorter run prints its JSON only.
    """
    from demo_flink_spark.plans import all_specs
    from demo_flink_spark.plans.memo import clear_session_memos

    max_sf = args[0] if args else "1"
    if max_sf not in SFS:
        raise SystemExit(f"max_sf must be one of {SFS}, got {max_sf!r}")
    ladder = SFS[: SFS.index(max_sf) + 1]
    spark = session("probe_scale_sf")
    specs = all_specs()
    dirs = {sf: f"{TESTDATA}/sf{sf}" for sf in ladder if sf != "1"}
    if "1" in ladder:
        dirs["1"] = build_sf1(f"{TESTDATA}/sf0.1", SF1_DIR)

    rows = []
    for name, table in PROBES.items():
        t = {}
        for sf, sf_dir in dirs.items():
            if sf == "1" and name not in THIRD_DECADE:
                continue
            med, _ = time_reps(lambda: specs[name].fn(spark, sf_dir).count(),
                               before=clear_session_memos)
            t[sf] = round(med, 3)

        def step(lo: str, hi: str) -> float | None:
            if lo == "0.001" and table not in _SCALES_FROM_0001:
                return None
            if not t.get(lo) or hi not in t:
                return None
            return round(math.log10(t[hi] / t[lo]), 2)

        rows.append({
            "query": name,
            "table": table,
            "t_sf0.001": t.get("0.001"),
            "t_sf0.01": t.get("0.01"),
            "t_sf0.1": t.get("0.1"),
            "t_sf1synth": t.get("1"),
            "slope_0.001_to_0.01": step("0.001", "0.01"),
            "slope_0.01_to_0.1": step("0.01", "0.1"),
            "slope_0.1_to_1": step("0.1", "1"),
        })
        print(json.dumps(rows[-1]), flush=True)

    print(json.dumps({"probes": rows, "sfs": ladder}))
    if max_sf != "1":
        return

    def cell(v, fmt):
        return "—" if v is None else fmt.format(v)

    md = [
        SCALING_HEADER,
        "| query | input | t@sf0.001 | t@sf0.01 | t@sf0.1 | t@sf1synth | slope 0.001→0.01 | slope 0.01→0.1 | slope 0.1→1 |",
        "|---|---|---|---|---|---|---|---|---|",
    ]
    for r in rows:
        md.append(
            f"| {r['query']} | {r['table']} | {r['t_sf0.001']:.2f}s "
            f"| {r['t_sf0.01']:.2f}s | {r['t_sf0.1']:.2f}s"
            f" | {cell(r['t_sf1synth'], '{:.2f}s')}"
            f" | {cell(r['slope_0.001_to_0.01'], '{:.2f}')}"
            f" | {cell(r['slope_0.01_to_0.1'], '{:.2f}')}"
            f" | {cell(r['slope_0.1_to_1'], '{:.2f}')} |"
        )
    md.append("")
    # derive the summary from the data — never assert "all linear"
    # when a measured slope says otherwise, and never auto-explain a
    # super-linear slope as expected unless the query is on the
    # known-quadratic-by-definition list
    hot = [
        (r["query"], r["slope_0.1_to_1"])
        for r in rows
        if r["slope_0.1_to_1"] is not None and r["slope_0.1_to_1"] > 1.0
    ]
    expected = [(q, sl) for q, sl in hot if q in EXPECTED_SUPERLINEAR]
    regressions = [(q, sl) for q, sl in hot if q not in EXPECTED_SUPERLINEAR]
    if not hot:
        md.append(
            "Every probed operator stays at or below linear growth on "
            "the largest measured step; none approaches the quadratic "
            "regime."
        )
    else:
        parts = []
        if expected:
            listed = ", ".join(f"{q} ({s:.2f})" for q, s in expected)
            parts.append(
                f"Super-linear as EXPECTED on the largest measured step: "
                f"{listed} — exact all-pairs baselines whose pair work "
                "is Θ(n²) by definition (the block-GEMM computes every "
                "cosine; the documented scale path is the LSH/IVF "
                "variants probed alongside, which stay sub-linear)."
            )
        if regressions:
            listed = ", ".join(f"{q} ({s:.2f})" for q, s in regressions)
            parts.append(
                f"**SCALING REGRESSION — investigate before shipping: "
                f"{listed}** (super-linear on the largest step and NOT "
                "on the known-quadratic list)."
            )
        parts.append("Every other probed operator is at or below linear.")
        md.append(" ".join(parts))
    md.append("")
    path = os.path.join(REPO, "SCALING.md")
    # preserve the sections below the table: only the header and the
    # table are this family's
    keep = ""
    marker = "## Synthetic-corpus probe"
    if os.path.exists(path):
        with open(path) as f:
            old = f.read()
        if marker in old:
            keep = old[old.index(marker):]
    with open(path, "w") as f:
        f.write("\n".join(md))
        if keep:
            f.write("\n" + keep)


# --------------------------------------------------------------------------
# scale synth / template: the dedup flagship operators on generated corpora
# --------------------------------------------------------------------------

DOC_SIZES = (10_000, 40_000, 160_000, 640_000, 1_280_000, 2_560_000)

# Size shuffles to the data, the way a deployment does (session.py:
# "err high, AQE coalesces"): at 32 partitions the ≥1.28M steps put
# ~2M posting rows per partition into the rank/agg sorts and the
# measurements become spill-bound — PPJoin at 2.56M measured median
# 103 s with a 3× rep spread at 32 partitions vs 73.2 s median-of-3 at
# 128 (the apparent slope fell from a fake 2.36 to 1.16 on the final
# step). AQE coalesces the excess at the small sizes, so one setting
# serves every decade; the iterative graph state joins at the top
# sizes would spill at 32 exactly like these PPJoin cells.
WIDE_SHUFFLE = {"spark.sql.shuffle.partitions": "128"}


def _tok(seed, i: int):
    """A letters-only 8-char token, a pure md5 function of (seed, i):
    the dedup canonicalizer strips digits, so they map to letters."""
    from pyspark.sql import functions as F

    return F.translate(
        F.substring(F.md5(F.concat(seed.cast("string"), F.lit("_"), F.lit(i))), 1, 8),
        "0123456789",
        "ghijklmnop",
    )


def _pair_docs(spark, lo: int, hi: int):
    """Docs [lo, hi) in identical pairs of 25 tokens unique per pair:
    each pair shares every shingle and no shingle with any other doc
    (a single-token md5 collision across pairs cannot make a shared
    3-token shingle)."""
    from pyspark.sql import functions as F

    grp = (F.col("id") / 2).cast("long")
    return spark.range(lo, hi).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(" ", *[_tok(grp, i) for i in range(25)]).alias("text"),
    )


def scale_synth(args: list[str]) -> None:
    """The dedup flagship operators at 10k → 640k generated docs
    (pass 1280000 or 2560000 for the fifth/sixth decades in
    SCALING.md). The parquet fixtures top out at 5k documents, where
    fixed overheads still dominate, so `scale sf` slopes sit well under
    1; these corpora are large enough that the asymptotic exponent is
    measurable, with NON-degenerate duplicate structure: docs come in
    pairs sharing all 25 tokens, tokens unique per pair, so the correct
    answer is exactly n/2 pairs and posting lists stay constant-size. A
    quadratic regression in the banding/inverted-index shape shows up
    as a slope ≥ 2 here long before it OOMs a cluster. Pair counts are
    asserted every rep, so a recall regression fails the probe rather
    than flattering its timing.

    PPJoin is the documented LOSSLESS near-dup scale path (plans use it
    where the max_df cut would be an approximation), so its asymptote
    gets the same asserted-recall receipt: identical paired texts give
    Jaccard 1.0 ≥ 0.4 and cross-pair docs share no shingles.
    """
    from demo_flink_spark.operators.dedup import (
        exact_dedup,
        minhash_lsh_pairs,
        ppjoin_prefix_pairs,
    )

    max_n = int(args[0]) if args else 640_000
    spark = session("probe_scale_synth", WIDE_SHUFFLE, checkpoint=True)
    ops = {
        "lsh": lambda df: minhash_lsh_pairs(df, n=3, threshold=0.2),
        "exact": exact_dedup,
        "ppjoin": lambda df: ppjoin_prefix_pairs(df, n=3, threshold_num=2, threshold_den=5),
    }
    rows = []
    for n in (s for s in DOC_SIZES if s <= max_n):
        # persist (NOT localCheckpoint): Dataset.unpersist() releases
        # only CacheManager entries, so a localCheckpointed corpus's
        # blocks would survive the per-size cleanup below until the JVM
        # GCs the reference. The corpus lineage is trivial, so persist
        # materializes it outside the timings with a deterministic
        # release.
        df = _pair_docs(spark, 0, n).persist()
        df.count()
        row = {"n": n}
        for label, op in ops.items():
            def run(op=op, label=label):
                got = op(df).count()
                if got != n // 2:
                    raise AssertionError(f"{label} recall regression: {got} != {n // 2}")
            row[label], _ = time_reps(run, warm=True)
        rows.append(row)
        print(f"n={n} pairs={n // 2} (asserted: lsh, exact, ppjoin)"
              f" lsh={row['lsh']:.1f}s exact={row['exact']:.1f}s"
              f" ppjoin={row['ppjoin']:.1f}s", flush=True)
        # Session hygiene between sizes: without releasing the corpus,
        # the 640k step ran against a JVM holding every smaller corpus
        # plus all prior shuffle state — measured 5× slower (158.8 s vs
        # ~30-50 s clean-session), which read as a fake super-linear
        # slope.
        df.unpersist(blocking=True)
        spark.catalog.clearCache()
    slope_table("docs", rows, [("minhash_lsh_pairs", "lsh", True),
                               ("exact_dedup", "exact", True),
                               ("ppjoin_prefix_pairs", "ppjoin", True)])


def scale_template(args: list[str]) -> None:
    """The DEGENERATE case `scale synth` deliberately avoids: one
    near-dup template cluster owning 10% of the corpus — k = n/10 docs
    of 50 tokens sharing a 49-token template, each with a unique last
    token (pairwise shingle Jaccard 47/49 ~ 0.96: near-identical
    boilerplate that exact dedup does NOT collapse, the real-crawl
    hazard). Closed-form truth: the cluster owes k(k-1)/2 pairs on top
    of the background's (n-k)/2, so
      - UNGUARDED minhash_lsh_pairs / ppjoin_prefix_pairs must count
        exactly (n-k)/2 + k(k-1)/2 — and their cost is Theta(k^2),
        measured until a cell exceeds its time budget
        ($SPARK_GRAFT_PROBE_BUDGET_S, default 600) or the candidate
        volume predicted by lsh_bucket_stats exceeds
        $SPARK_GRAFT_PROBE_CAND_CAP (default 5e9); past either the
        cell is a cost model (the measured slope is the receipt);
      - GUARDED minhash_lsh_pairs(bucket_cap=C) must keep CLUSTER-level
        truth: connected components over its pairs = (n-k)/2 + 1
        components with the largest exactly k, at Theta(k) cost per
        over-cap bucket;
      - lsh_bucket_stats must DETECT the plant: max bucket width within
        [k/2, k] (the modal band bucket holds ~J^4*k ~ 0.85k members);
      - keep-longest over the guarded pairs (the declared composite's
        final rung: capped pairs -> CC -> keep-best) keeps one doc per
        cluster, the template cluster its min id (all 50 tokens, id
        tiebreak), so the kept score is exactly 50 + 25 * (n - k) / 2.
    """
    from pyspark.sql import functions as F

    from demo_flink_spark.operators.dedup import (
        connected_components,
        dedup_keep_best,
        lsh_bucket_stats,
        minhash_lsh_pairs,
        ppjoin_prefix_pairs,
    )

    max_n = int(args[0]) if args else 640_000
    bucket_cap = int(args[1]) if len(args) > 1 else 64
    budget_s = float(os.environ.get("SPARK_GRAFT_PROBE_BUDGET_S", "600"))
    cand_hard_cap = float(os.environ.get("SPARK_GRAFT_PROBE_CAND_CAP", "5e9"))
    spark = session("probe_scale_template", WIDE_SHUFFLE, checkpoint=True)
    ckpt = CheckpointRotation(spark)

    def corpus(n: int):
        k = n // 10
        template = F.concat_ws(" ", *[_tok(F.lit("tmpl"), i) for i in range(49)])
        cluster = spark.range(k).select(
            F.col("id").alias("doc_id"),
            F.concat_ws(
                " ", template,
                _tok(F.concat(F.lit("uniq"), F.col("id").cast("string")), 0),
            ).alias("text"),
        )
        return cluster.unionByName(_pair_docs(spark, k, n))

    rows = []
    unguarded_alive = {"lsh": True, "ppjoin": True}
    for n in (s for s in DOC_SIZES if s <= max_n):
        ckpt.rotate(f"size_{n}")
        k = n // 10
        truth_pairs = (n - k) // 2 + k * (k - 1) // 2
        df = corpus(n).persist()
        df.count()

        # 1) detection: the monitoring stats must SEE the plant
        stats = lsh_bucket_stats(df, n=3, bucket_cap=bucket_cap).collect()[0]
        if not (k // 2 <= stats["max_width"] <= k and stats["n_over_cap"] >= 1):
            raise AssertionError(f"plant not detected: {stats}")
        # sum of w*(w-1)/2 = the candidate volume the unguarded band
        # join must pay — the hazard's own number, printed per cell
        cand_pairs = stats["candidate_pairs"]

        # 2) guarded LSH, timed like the pair-mode cells (construction
        #    + count); per-rep truth = count determinism, per-size
        #    truth = cluster-level recall via connected components
        #    (untimed — the guard's contract is cluster recall, and
        #    connectivity across k nodes also implies >= k-1 pairs)
        guard_counts: list[int] = []

        def guarded_fn():
            guard_counts.append(
                minhash_lsh_pairs(df, n=3, threshold=0.2, bucket_cap=bucket_cap).count()
            )

        t_guard, ts = time_reps(guarded_fn, warm=True, one_rep_over_s=120)
        r_guard = len(ts)
        if len(set(guard_counts)) != 1:
            raise AssertionError(f"guarded pair count not deterministic: {guard_counts}")
        guarded_pairs = minhash_lsh_pairs(
            df, n=3, threshold=0.2, bucket_cap=bucket_cap
        ).select("doc_a", "doc_b")
        comp = connected_components(guarded_pairs)
        res = (
            comp.groupBy("comp").count()
            .agg(F.count(F.lit(1)).alias("n_comp"), F.max("count").alias("biggest"))
            .collect()[0]
        )
        if res["n_comp"] != (n - k) // 2 + 1 or res["biggest"] != k:
            raise AssertionError(f"guarded cluster recall: {res} n={n} k={k}")

        # 2b) resolution, untimed: what this buys is the END-TO-END
        #     playbook truth at probe scale, not a slope
        kept = dedup_keep_best(
            df, guarded_pairs,
            F.size(F.split(F.col("text"), " ")).cast("long"),
            components=comp,
        )
        krow = kept.agg(
            F.sum(F.col("is_kept").cast("long")).alias("n_kept"),
            F.sum(F.when(F.col("is_kept"), F.col("score")).otherwise(F.lit(0))).alias("kept_score"),
            F.min(
                F.when(F.col("is_kept") & (F.col("cluster_id") == 0), F.col("doc_id"))
            ).alias("tmpl_keeper"),
        ).collect()[0]
        if (krow["n_kept"] != (n - k) // 2 + 1
                or krow["kept_score"] != 50 + 25 * ((n - k) // 2)
                or krow["tmpl_keeper"] != 0):
            raise AssertionError(f"keep-longest truth: {krow} n={n} k={k}")
        print(f"n={n} truth: stats={stats.asDict()} comp={res.asDict()}"
              f" kept={krow.asDict()}", flush=True)

        # 3) unguarded LSH / PPJoin: exact closed-form pair count
        #    asserted every rep, run while the previous cell stayed
        #    under budget and the predicted volume is attemptable
        def unguarded(make):
            got = make().count()
            if got != truth_pairs:
                raise AssertionError(f"unguarded pairs {got} != {truth_pairs} n={n} k={k}")

        timed = {}
        for label, make in (
            ("lsh", lambda: minhash_lsh_pairs(df, n=3, threshold=0.2)),
            ("ppjoin", lambda: ppjoin_prefix_pairs(df, n=3, threshold_num=2, threshold_den=5)),
        ):
            timed[label] = (None, 0)
            if unguarded_alive[label] and cand_pairs <= cand_hard_cap:
                t, ts = time_reps(lambda: unguarded(make), warm=True, one_rep_over_s=120)
                timed[label] = (t, len(ts))
                unguarded_alive[label] = t < budget_s
            else:
                unguarded_alive[label] = False
        rows.append({"n": n, "k": k, "cand": cand_pairs, "guard": t_guard,
                     "lsh": timed["lsh"][0], "ppjoin": timed["ppjoin"][0]})

        def fmt(label):
            t, r = timed[label]
            return "SKIP" if t is None else f"{t:.1f}(x{r})"

        print(
            f"n={n} k={k} cand={cand_pairs} truth_pairs={truth_pairs}"
            f" guard_pairs={guard_counts[0]} guarded={t_guard:.1f}s(x{r_guard})"
            f" lsh={fmt('lsh')} ppjoin={fmt('ppjoin')}",
            flush=True,
        )
        df.unpersist(blocking=True)
        spark.catalog.clearCache()
    slope_table("docs", rows, [
        ("cluster k", "k", False),
        ("band candidates", "cand", False),
        (f"guarded lsh (cap={bucket_cap})", "guard", True),
        ("unguarded lsh", "lsh", True),
        ("ppjoin", "ppjoin", True),
    ])


# --------------------------------------------------------------------------
# scale graph / cc / skew: the iterative graph family on planted graphs
# --------------------------------------------------------------------------

GRAPH_SIZES = (102_000, 408_000, 1_632_000, 6_426_000, 25_704_000)
CC_SIZES = (100_000, 400_000, 1_600_000, 6_400_000)
K_STAR = 17  # star component size (hub + 16 leaves)
K_CHAIN = 5  # chain component size
K_LONG = 1000  # cc chain length: diameter 999
K_MEGA_FRAC = 10  # skew mega block = n / 10 nodes, hub = node 0


class GraphFamily:
    """Planted-truth graphs for the iterative family (pagerank, label
    propagation, BFS, CC). These queries are the bench's cost
    ceiling, so their asymptote gets the synthetic-decade treatment the
    dedup family got. Every cell asserts exact closed-form truth before
    its timing counts, so a convergence/recall regression fails the
    probe rather than flattering it.

    graph — uniform components:
    - pagerank: C disjoint SYMMETRIZED STARS of 17 nodes (hub = min
      id). Symmetry ⇒ every hub rank identical, every leaf rank
      identical — assert exactly 2 distinct Q52 rank values, hub >
      leaf, node count, and Σrank = 1 (no dangling nodes ⇒ mass
      conserved; Q52 quantization bounds the drift far under 1e-6).
      The uniform start is NOT the fixed point, so all n_iter=10
      rounds run — the declared query's shape.
    - label propagation: C disjoint undirected CHAINS of 5 nodes with
      the min id at the head. Synchronous-with-self-vote LPA with min
      tie-break converges in exactly k-1 = 4 rounds (the declared
      query's default n_rounds): assert EVERY node's community equals
      its chain head.
    - BFS: the same chains, directed head→tail, seeds = the C heads —
      the hop histogram is exactly {h: C for h in 0..4}.

    cc — connected_components over LONG chains (length 1000, diameter
    999: the adversarial shape for label propagation, which would need
    999 rounds). Asserts EVERY node's component equals its chain head;
    large-star/small-star rounds stay ~log² (the loop's 30-round cap is
    never hit) while work per round is linear in edges.

    skew — the 100 TB brief's named hazard is the HOT KEY, so this
    plants hub-dominated graphs:
    - pagerank: ONE mega-star over the first n/10 nodes (hub 0, ~10.6%
      of all edge rows, so the contributions groupBy(dst) has one key
      carrying 10% of the shuffle) + uniform 17-stars over the rest.
      Symmetry makes every mega-leaf / small-hub / small-leaf rank
      identical, and the four group values follow an exact scalar
      recurrence (the engine's update collapsed by symmetry): each
      group's rank must match it to 1e-6 relative (Q52 drift is
      ~1.4e-10 absolute on the mega hub), plus per-group uniqueness,
      node count and Σrank = 1.
    - BFS: a star-of-chains, hub 0 → C chain heads of 5-node chains
      (n = 5C + 1): the hop-1 expansion explodes one frontier row into
      C neighbors, and the histogram is exactly {0: 1, h: C for h ∈ 1..5}.
    n must be divisible by 170 so both shapes tile.

    Sizes are multiples of lcm(17, 5) = 85 in 4× steps; the default
    max (6.426M) covers the first four, pass 25704000 for the top
    decade in SCALING.md, and a min_nodes reruns one upper cell without
    re-measuring the smaller ones. Every rep is followed, outside the
    clock, by `reclaim`: each heavy rep writes tens of GB of reliable
    checkpoints and shuffle files that local mode reclaims only when
    the JVM garbage-collects their references.
    """

    def __init__(self, name: str):
        self.spark = session(
            name,
            {
                **WIDE_SHUFFLE,
                # reliable checkpoints of GC'd RDDs are deleted (paired
                # with the forced GC in reclaim)
                "spark.cleaner.referenceTracking.cleanCheckpoints": "true",
            },
            checkpoint=True,
        )
        self.ckpt = CheckpointRotation(self.spark)
        self.rep = 0
        self.seen: dict = {}  # the planted truth each cell last observed
        self.reclaim()

    def reclaim(self) -> None:
        """Point the next rep at a fresh checkpoint subdir, force a JVM
        GC so ContextCleaner deletes dead shuffles and checkpoints, then
        remove the dead rep's subdir outright — peak disk stays at about
        one rep's footprint whatever the GC timing."""

        def settle():
            gc.collect()
            self.spark.sparkContext._jvm.System.gc()
            time.sleep(3)

        self.rep += 1
        self.ckpt.rotate(f"rep{self.rep}", settle)

    def cell(self, edges, run, label: str) -> tuple[float, int]:
        """Persist `edges`, time `run(edges)` (warm + median of 3,
        reclaiming after each call), release; returns (median_s, edges).
        Each call runs in its own job group; the jobs of every timed rep
        are printed beside its time."""
        edges = edges.persist()
        m = edges.count()
        sc = self.spark.sparkContext
        groups: list[str] = []

        def grouped():
            groups.append(f"{label} call {len(groups)}")
            sc.setJobGroup(groups[-1], groups[-1])
            try:
                run(edges)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)

        t, ts = time_reps(grouped, warm=True, after=self.reclaim)
        # read after the reclaim sleeps, so the listener bus has caught up
        jobs = [len(sc.statusTracker().getJobIdsForGroup(g)) for g in groups[1:]]
        # per-cell progress: the top cells run minutes each
        print(f"  {label}: reps {[round(x, 1) for x in ts]} jobs {jobs}", flush=True)
        edges.unpersist(blocking=True)
        self.spark.catalog.clearCache()
        return t, m

    @staticmethod
    def _both_ways(src, dst):
        from pyspark.sql import functions as F

        return F.explode(F.array(
            F.struct(src.alias("src"), dst.alias("dst")),
            F.struct(dst.alias("src"), src.alias("dst")),
        )).alias("e")

    def star_edges(self, lo: int, hi: int):
        """Symmetrized 17-stars over nodes [lo, hi), hub = lo + 17c."""
        from pyspark.sql import functions as F

        hub = F.col("id") - (F.col("id") - F.lit(lo)) % K_STAR
        return (
            self.spark.range(lo, hi)
            .filter((F.col("id") - F.lit(lo)) % K_STAR != 0)
            .select(self._both_ways(F.col("id"), hub))
            .select("e.src", "e.dst")
        )

    def chain_edges(self, n: int, length: int, symmetric: bool, names=("src", "dst")):
        """i → i+1 within each block of `length` nodes; both directions
        when symmetric."""
        from pyspark.sql import functions as F

        base = self.spark.range(n).filter(F.col("id") % length != length - 1)
        if symmetric:
            return base.select(self._both_ways(F.col("id"), F.col("id") + 1)).select("e.src", "e.dst")
        return base.select(F.col("id").alias(names[0]), (F.col("id") + 1).alias(names[1]))

    @staticmethod
    def hop_histogram(hops) -> dict[int, int]:
        from pyspark.sql import functions as F

        return {
            r["hops"]: r["cnt"]
            for r in hops.groupBy("hops").agg(F.count(F.lit(1)).alias("cnt")).collect()
        }

    # ---- graph ----

    def pagerank(self, n: int) -> tuple[float, int]:
        from pyspark.sql import functions as F

        from demo_flink_spark.operators.graph import pagerank

        def run(edges):
            agg = pagerank(edges).agg(  # query defaults: n_iter=10, d=0.85
                F.count(F.lit(1)).alias("n"),
                F.countDistinct("rank").alias("ndv"),
                F.sum("rank").alias("s"),
                F.max(F.when(F.col("node") % K_STAR == 0, F.col("rank"))).alias("hub"),
                F.max(F.when(F.col("node") % K_STAR != 0, F.col("rank"))).alias("leaf"),
            ).collect()[0]
            if agg["n"] != n or agg["ndv"] != 2 or abs(agg["s"] - 1.0) >= 1e-6 \
                    or not agg["hub"] > agg["leaf"]:
                raise AssertionError(f"pagerank planted truth: {agg} n={n}")
            self.seen["pagerank"] = agg.asDict()

        return self.cell(self.star_edges(0, n), run, f"pagerank n={n}")

    def lpa(self, n: int) -> tuple[float, int]:
        from pyspark.sql import functions as F

        from demo_flink_spark.operators.graph import label_propagation

        def run(edges):
            lab = label_propagation(edges)  # query default n_rounds=4
            bad = lab.filter(
                F.col("community") != F.col("node") - F.col("node") % K_CHAIN
            ).count()
            total = lab.count()
            if bad or total != n:
                raise AssertionError(f"LPA planted truth: {bad} bad of {total}, n={n}")
            self.seen["lpa"] = {"bad": bad, "nodes": total}

        return self.cell(self.chain_edges(n, K_CHAIN, True), run, f"lpa n={n}")

    def bfs(self, n: int) -> tuple[float, int]:
        from pyspark.sql import functions as F

        from demo_flink_spark.operators.graph import bfs_hops

        c = n // K_CHAIN
        seeds = self.spark.range(c).select((F.col("id") * K_CHAIN).alias("node"))

        def run(edges):
            hist = self.hop_histogram(bfs_hops(edges, seeds, max_hops=K_CHAIN - 1))
            want = {h: c for h in range(K_CHAIN)}
            if hist != want:
                raise AssertionError(f"BFS hop histogram {hist} != planted {want}")
            self.seen["bfs"] = dict(sorted(hist.items()))

        return self.cell(self.chain_edges(n, K_CHAIN, False), run, f"bfs n={n}")

    def run_graph(self, sizes) -> None:
        rows = []
        for n in sizes:
            self.seen = {}
            t_pr, m_pr = self.pagerank(n)
            t_lpa, m_lpa = self.lpa(n)
            t_bfs, m_bfs = self.bfs(n)
            rows.append({"n": n, "m_pr": m_pr, "pr": t_pr, "m_lpa": m_lpa,
                         "lpa": t_lpa, "m_bfs": m_bfs, "bfs": t_bfs})
            print(f"n={n:,} pagerank={t_pr:.1f}s ({m_pr:,} edges)"
                  f" lpa={t_lpa:.1f}s ({m_lpa:,}) bfs={t_bfs:.1f}s ({m_bfs:,})"
                  f" truth={self.seen}", flush=True)
        slope_table("nodes", rows, [
            ("pagerank edges", "m_pr", False), ("pagerank", "pr", True),
            ("lpa edges", "m_lpa", False), ("lpa", "lpa", True),
            ("bfs edges", "m_bfs", False), ("bfs", "bfs", True),
        ])

    # ---- cc ----

    def run_cc(self, sizes) -> None:
        from pyspark.sql import functions as F

        from demo_flink_spark.operators.dedup import connected_components

        rows = []
        for n in sizes:
            def run(edges):
                comp = connected_components(edges)
                bad = comp.filter(
                    F.col("comp") != F.col("node") - F.col("node") % K_LONG
                ).count()
                total = comp.count()
                if bad or total != n:
                    raise AssertionError(f"CC planted truth: {bad} bad of {total}, n={n}")

            edges = self.chain_edges(n, K_LONG, False, names=("doc_a", "doc_b"))
            t, m = self.cell(edges, run, f"cc n={n}")
            rows.append({"n": n, "m": m, "cc": t})
            print(f"n={n:,} cc={t:.1f}s ({m:,} edges) truth: every node"
                  f" in its chain head's component, {n:,} nodes", flush=True)
        slope_table("nodes", rows, [("edges", "m", False),
                                    ("cc (chains of 1000)", "cc", True)])

    # ---- skew ----

    @staticmethod
    def expected_group_ranks(n: int, d: float = 0.85, n_iter: int = 10) -> dict:
        """The engine's update collapsed by symmetry: four scalar values
        (mega hub/leaf, small hub/leaf) iterated exactly like the
        distributed Q52 pipeline — the planted truth."""
        M = n // K_MEGA_FRAC
        rmh = rml = rsh = rsl = 1.0 / n
        for _ in range(n_iter):
            rmh, rml, rsh, rsl = (
                (1 - d) / n + d * (M - 1) * rml,
                (1 - d) / n + d * rmh / (M - 1),
                (1 - d) / n + d * 16 * rsl,
                (1 - d) / n + d * rsh / 16,
            )
        return {"mh": rmh, "ml": rml, "sh": rsh, "sl": rsl}

    def pagerank_skew(self, n: int) -> tuple[float, int]:
        from pyspark.sql import functions as F

        from demo_flink_spark.operators.graph import pagerank

        M = n // K_MEGA_FRAC
        mega = self.spark.range(1, M).select(
            self._both_ways(F.col("id"), F.lit(0).cast("long"))
        ).select("e.src", "e.dst")
        edges = mega.unionAll(self.star_edges(M, n))
        want = self.expected_group_ranks(n)
        want_counts = {
            "mh": 1,
            "ml": M - 1,
            "sh": (n - M) // K_STAR,
            "sl": (n - M) // K_STAR * (K_STAR - 1),
        }

        def run(edges):
            grp = (
                F.when(F.col("node") == 0, F.lit("mh"))
                .when(F.col("node") < M, F.lit("ml"))
                .when((F.col("node") - M) % K_STAR == 0, F.lit("sh"))
                .otherwise(F.lit("sl"))
            )
            got = {
                row["g"]: row
                for row in pagerank(edges).groupBy(grp.alias("g")).agg(
                    F.count(F.lit(1)).alias("n"),
                    F.countDistinct("rank").alias("ndv"),
                    F.max("rank").alias("rank"),
                    F.sum("rank").alias("mass"),
                ).collect()
            }
            if set(got) != set(want_counts):
                raise AssertionError(f"groups {set(got)}")
            for g, row in got.items():
                rel = abs(row["rank"] - want[g]) / want[g]
                if row["n"] != want_counts[g] or row["ndv"] != 1 or rel >= 1e-6:
                    raise AssertionError(
                        f"group {g}: {row.asDict()} vs planted count"
                        f" {want_counts[g]}, rank {want[g]} (rel {rel:.2e})"
                    )
            mass = sum(row["mass"] for row in got.values())
            if abs(mass - 1.0) >= 1e-6:
                raise AssertionError(f"mass {mass}")
            self.seen["pagerank_skew"] = {g: got[g]["rank"] for g in sorted(got)}

        return self.cell(edges, run, f"pagerank_skew n={n}")

    def bfs_skew(self, n: int) -> tuple[float, int]:
        from pyspark.sql import functions as F

        from demo_flink_spark.operators.graph import bfs_hops

        c = n // K_CHAIN
        # hub 0 → c chain heads (ids 5j+1), each chain 4 more hops:
        # n = 5c + 1 nodes, hub out-degree c = the skewed expansion
        heads = self.spark.range(c).select(
            F.lit(0).cast("long").alias("src"), (F.col("id") * K_CHAIN + 1).alias("dst")
        )
        body = (
            self.spark.range(1, c * K_CHAIN + 1)
            .filter((F.col("id") - 1) % K_CHAIN != K_CHAIN - 1)
            .select(F.col("id").alias("src"), (F.col("id") + 1).alias("dst"))
        )
        seeds = self.spark.range(1).select(F.lit(0).cast("long").alias("node"))

        def run(edges):
            hist = self.hop_histogram(bfs_hops(edges, seeds, max_hops=K_CHAIN))
            want = {0: 1, **{h: c for h in range(1, K_CHAIN + 1)}}
            if hist != want:
                raise AssertionError(f"BFS skew histogram {hist} != {want}")
            self.seen["bfs_skew"] = dict(sorted(hist.items()))

        return self.cell(heads.unionAll(body), run, f"bfs_skew n={5 * c + 1}")

    def run_skew(self, sizes) -> None:
        rows = []
        for n in sizes:
            self.seen = {}
            t_pr, m_pr = self.pagerank_skew(n)
            t_bfs, m_bfs = self.bfs_skew(n)
            rows.append({"n": n, "m_pr": m_pr, "pr_deg": n // K_MEGA_FRAC - 1,
                         "pr": t_pr, "m_bfs": m_bfs, "bfs_deg": n // K_CHAIN,
                         "bfs": t_bfs})
            print(f"n={n:,} pagerank_skew={t_pr:.1f}s ({m_pr:,} edges,"
                  f" hub_deg={n // K_MEGA_FRAC - 1:,}) bfs_skew={t_bfs:.1f}s"
                  f" ({m_bfs:,} edges, hub_deg={n // K_CHAIN:,}) truth={self.seen}",
                  flush=True)
        slope_table("nodes", rows, [
            ("pr edges", "m_pr", False), ("hub deg", "pr_deg", False),
            ("pagerank_skew", "pr", True), ("bfs edges", "m_bfs", False),
            ("hub deg", "bfs_deg", False), ("bfs_skew", "bfs", True),
        ])


def scale_graph_family(mode: str, args: list[str]) -> None:
    max_nodes = int(args[0]) if args else 6_426_000
    min_nodes = int(args[1]) if len(args) > 1 else 0
    sizes = CC_SIZES if mode == "cc" else GRAPH_SIZES
    fam = GraphFamily(f"probe_scale_{mode}")
    run = {"graph": fam.run_graph, "cc": fam.run_cc, "skew": fam.run_skew}[mode]
    run([n for n in sizes if min_nodes <= n <= max_nodes])


# --------------------------------------------------------------------------
# scale pysource: the custom Python DataSource across n_rows decades
# --------------------------------------------------------------------------


def expected_aggregate(n: int) -> dict[str, tuple[int, int, int]]:
    """(n_events, n_users, value_sum_micros) per event type, computed
    from the same pure row function the connector uses. value micros
    are exact: each value has 2 decimals, so 1e6-scaled longs sum
    without float error (the query accumulates decimal(38,6))."""
    import hashlib

    types = ("view", "click", "purchase", "error")
    counts: dict[str, int] = {t: 0 for t in types}
    users: dict[str, set] = {t: set() for t in types}
    sums: dict[str, int] = {t: 0 for t in types}
    for i in range(n):
        h = hashlib.md5(f"syn:{i}".encode()).hexdigest()
        t = types[int(h[4], 16) % 4]
        counts[t] += 1
        users[t].add(int(h[:4], 16) % 100)
        # round(x/100, 2) of an integer/100 is exact in micros
        sums[t] += int(h[5:9], 16) % 20000 * 10000
    return {t: (counts[t], len(users[t]), sums[t]) for t in types if counts[t]}


def scale_pysource(args: list[str]) -> None:
    """`pysource_event_counts` generates its own input (sf_dir is unused
    — that is the point of the connector), so the sf ladder cannot carry
    its scaling story. This scales the `n_rows` option through four
    decades (20k → 20M; the registry cell is 2k) with `numPartitions`
    fixed at 32 (one generation task per core of a 32-core box — the
    shape a 1000-executor cluster would use, same per-partition work).

    Planted truth: every attribute of event `i` is a pure md5 function
    of `i` (`sources/pysource.py::_row`), so the full expected
    aggregate (per-type count, distinct users, value sum) is computed in
    plain Python once per size and must match exactly — the value sum
    as integral MICROS (2-decimal values; round-then-cast recovers the
    integer on both sides). A connector that dropped a partition,
    double-read an offset range, or mangled a batch boundary fails the
    cell before its timing counts. The timing is Arrow-batch generation
    in Python workers plus a 4-group aggregation: expected linear once
    the fixed worker startup is amortized.
    """
    from pyspark.sql import functions as F

    from demo_flink_spark.sources.pysource import SyntheticEventsDataSource

    max_rows = int(args[0]) if args else 20_000_000
    spark = session("probe_scale_pysource")
    spark.dataSource.register(SyntheticEventsDataSource)
    rows = []
    for n in (s for s in (20_000, 200_000, 2_000_000, 20_000_000) if s <= max_rows):
        want = expected_aggregate(n)

        def run():
            df = (
                spark.read.format("synthetic_events")
                .option("n_rows", n)
                .option("numPartitions", 32)
                .load()
            )
            got = {
                r["event_type"]: (r["n_events"], r["n_users"], r["value_sum_micros"])
                for r in df.groupBy("event_type").agg(
                    F.count(F.lit(1)).cast("long").alias("n_events"),
                    F.countDistinct("user_id").cast("long").alias("n_users"),
                    # ROUND before the cast: value*1e6 can land a hair
                    # under the integer (0.29 → 289999.99…) and a bare
                    # long cast truncates
                    F.sum(F.round(F.col("value") * 1_000_000).cast("long")).alias(
                        "value_sum_micros"
                    ),
                ).collect()
            }
            if got != want:
                diff = {k: (got.get(k), want.get(k)) for k in set(got) | set(want)
                        if got.get(k) != want.get(k)}
                raise AssertionError(f"connector aggregate mismatch at n={n}: {diff}")

        t, ts = time_reps(run, warm=True)
        rows.append({"n": n, "t": t, "tput": f"{n / t / 1e6:.2f}M rows/s"})
        print(f"n={n:,} pysource={t:.2f}s reps={[round(x, 2) for x in ts]}"
              f" ({n / t / 1e6:.2f}M rows/s) truth={sorted(want.items())}", flush=True)
    slope_table("rows", rows, [("pysource_event_counts", "t", True),
                               ("throughput", "tput", False)], prec=2)


# --------------------------------------------------------------------------
# scale stream: the streaming LSH width guard's closed forms
# --------------------------------------------------------------------------

N_BATCHES = 4
CAP = 8
TEMPLATE = (
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet "
    "kilo lima mike november oscar papa quebec romeo sierra tango "
    "uniform victor whiskey xray yankee zulu anchor beacon candle"
)


def _stream_epochs(spark, T: int, policy: str | None, root: str) -> dict:
    """Drive N_BATCHES epochs of T identical-canonical template docs
    through process_dedup_batch; return per-epoch sidecar stats and
    wall times. policy None = unguarded."""
    from demo_flink_spark.streaming.dedup_stream import process_dedup_batch, seed_index

    tag = policy or "raw"
    index_dir = f"{root}/idx_{tag}_{T}"
    stats_dir = f"{root}/s_{tag}_{T}"
    seed_index(
        spark.createDataFrame(
            [(1, "seed history document about nothing in particular here")],
            "doc_id long, text string",
        ),
        index_dir,
    )
    kwargs = {} if policy is None else {"bucket_cap": CAP, "overflow": policy}
    epoch_secs = []
    for e in range(N_BATCHES):
        base = 100 + e * T
        batch = spark.range(base, base + T).selectExpr("id AS doc_id", f"'{TEMPLATE}' AS text")
        t0 = time.time()
        process_dedup_batch(
            batch, e, index_dir, f"{root}/v_{tag}_{T}",
            threshold=1.01,  # candidate-volume isolation: nothing verifies
            stats_dir=stats_dir, **kwargs,
        )
        epoch_secs.append(time.time() - t0)
    stats = {r.epoch_id: r for r in spark.read.parquet(stats_dir).collect()}
    series = [stats[e].n_candidates for e in range(N_BATCHES)]
    last = stats[N_BATCHES - 1]
    return {
        "T": T,
        "policy": tag,
        "series": series,
        "total_candidates": sum(series),
        "n_over_cap_last": last.n_over_cap,
        "docs_over_last": last.docs_in_over_cap,
        "epoch_secs": [round(s, 2) for s in epoch_secs],
    }


def _stream_expect(T: int, policy: str) -> list[int]:
    if policy == "raw":
        return [T * T * e + T * (T - 1) // 2 for e in range(N_BATCHES)]
    if policy == "star":
        return [T - 1] + [T] * (N_BATCHES - 1)
    return [0] * N_BATCHES


def scale_stream(args: list[str]) -> int:
    """`incremental_lsh_dedup`'s per-epoch candidate volume, guarded vs
    unguarded — the streaming twin of `scale template`.

    Every template doc canonicalizes to the SAME text, so all T docs per
    epoch land in the same band bucket in all `bands` bands, and the
    threshold is set above 1.0 so NOTHING verifies — every doc stays
    novel and folds into the index. That isolates exactly the quantity
    the guard bounds (candidate generation; verification is downstream
    and unchanged by the guard) and makes every epoch's sidecar numbers
    CLOSED FORM:

      unguarded: n_candidates(e) = T^2 * e + T(T-1)/2   (hist + intra)
      star cap : n_candidates(0) = T-1; n_candidates(e>0) = T
      drop cap : n_candidates(e) = 0
      both caps: n_over_cap = bands; docs_in_over_cap = T(e+1)

    asserted as EXACT equalities. Across sizes the unguarded total is
    Theta(T^2 * B^2 / 2) over B epochs — quadratic in the accumulated
    cluster — while the star guard's is Theta(T * B). Returns the exit
    status: 1 when any closed form failed.
    """
    sizes = [int(a) for a in args] or [1000, 2000]
    spark = session("probe_scale_stream")
    root = tempfile.mkdtemp(prefix="probe_stream_")
    failures = 0
    results = []
    try:
        for T in sizes:
            for policy in (None, "star", "drop"):
                r = _stream_epochs(spark, T, policy, root)
                want = _stream_expect(T, r["policy"])
                ok = r["series"] == want
                if r["policy"] != "raw":
                    ok = ok and r["n_over_cap_last"] == 16
                    ok = ok and r["docs_over_last"] == T * N_BATCHES
                failures += 0 if ok else 1
                results.append(r)
                print(
                    f"{'OK ' if ok else 'BAD'} T={T} {r['policy']:4s} "
                    f"series={r['series']} (want {want}) "
                    f"total={r['total_candidates']} "
                    f"epoch_secs={r['epoch_secs']}",
                    flush=True,
                )
        # slope verdict across sizes: unguarded total is quadratic in
        # T (4x per 2x), star is linear (2x per 2x)
        if len(sizes) >= 2:
            for pol in ("raw", "star"):
                tot = {r["T"]: r["total_candidates"] for r in results if r["policy"] == pol}
                t1, t2 = sizes[0], sizes[-1]
                print(f"SLOPE {pol}: total {tot[t1]} -> {tot[t2]} "
                      f"= {tot[t2] / max(tot[t1], 1):.3f}x per {t2 / t1:.0f}x docs")
    finally:
        shutil.rmtree(root, ignore_errors=True)
    print(f"probe: {'ALL CLOSED-FORM ASSERTS GREEN' if failures == 0 else f'{failures} FAILURES'}")
    return 1 if failures else 0


# --------------------------------------------------------------------------
# CLI
# --------------------------------------------------------------------------

AB = {"bfs": ab_bfs, "profile": ab_profile, "hybrid": ab_hybrid}
SCALE = ("sf", "synth", "template", "graph", "cc", "skew", "pysource", "stream")


def main(argv: list[str] | None = None) -> int:
    sys.path.insert(0, REPO)
    sf = argparse.ArgumentParser(add_help=False)
    sf.add_argument("--sf", default=SF_DEFAULT, help="sf directory (default %(default)s)")
    p = argparse.ArgumentParser(
        description="Plan dumps, query timing, same-session A/Bs and scaling families."
    )
    sub = p.add_subparsers(dest="cmd", required=True)
    pl = sub.add_parser("plans", parents=[sf], help='dump explain("formatted")')
    pl.add_argument("outdir")
    pl.add_argument("queries", nargs="+")
    tm = sub.add_parser("time", parents=[sf], help="median count() time per query")
    tm.add_argument("--reps", type=int, default=3)
    tm.add_argument("queries", nargs="+")
    ab = sub.add_parser("ab", parents=[sf], help="same-session A/B with equality check")
    ab.add_argument("question", choices=sorted(AB))
    sc = sub.add_parser("scale", help="scaling family with planted truth")
    sc.add_argument("family", choices=SCALE)
    sc.add_argument("sizes", nargs="*", help="max size, then family extras (see module doc)")
    args = p.parse_args(argv)

    if args.cmd == "plans":
        plans(args.outdir, args.queries, args.sf)
    elif args.cmd == "time":
        if args.reps < 1:
            p.error("--reps must be at least 1")
        time_queries(args.queries, args.sf, args.reps)
    elif args.cmd == "ab":
        AB[args.question](args.sf)
    elif args.family == "stream":
        return scale_stream(args.sizes)
    elif args.family in ("graph", "cc", "skew"):
        scale_graph_family(args.family, args.sizes)
    else:
        {"sf": scale_sf, "synth": scale_synth, "template": scale_template,
         "pysource": scale_pysource}[args.family](args.sizes)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
