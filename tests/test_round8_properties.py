"""Round-8 hardening tests.

1. The driver-red class of round 7 — order-dependent ANSI overflow in
   iterative convergence signatures — is pinned three ways: a
   shuffle-partition shake regression for pagerank AND star-contraction
   CC (the two fixed sites), a unit test proving the new source lint
   catches the reverted construct, and hypothesis property tests for
   the remaining iterative operators
   (CC vs union-find, sketch_residual_quantile vs a full-sort
   reference incl. NULLs/ties, label propagation vs a Python
   simulation).
2. The advisor's winsorize NULL-passthrough and STL weekly-phase fixes
   get behavior tests the NULL-free driver fixture cannot provide.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


# ---------------------------------------------------------------- shake


def _collect_pagerank(spark, parts):
    from demo_flink_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [(f"n{i}", f"n{(i * 7 + 3) % 40}") for i in range(120)]
        + [(f"n{(i * 7 + 3) % 40}", f"n{i}") for i in range(120)],
        "src string, dst string",
    )
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(parts))
    try:
        return sorted(
            (r["node"], r["rank"])
            for r in pagerank(edges, n_iter=9, checkpoint_every=3).collect()
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def _collect_cc_star(spark, parts):
    from demo_flink_spark.operators.dedup import connected_components

    # two chains + a clique + an isolated pair: mixed shapes
    edges = (
        [(i, i + 1) for i in range(0, 12)]
        + [(100 + i, 100 + j) for i in range(5) for j in range(i + 1, 5)]
        + [(200, 201)]
    )
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(parts))
    try:
        return sorted(
            (r["node"], r["comp"])
            for r in connected_components(df).collect()
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def test_pagerank_stable_across_shuffle_partitions(spark):
    """The round-7 driver red was a partitioning-dependent crash
    (sum(xxhash64) partial-sum overflow order). The signature is now
    bit_xor; pagerank must run AND produce bit-identical ranks under
    wildly different shuffle layouts."""
    results = [_collect_pagerank(spark, p) for p in (2, 13, 64)]
    assert results[0] == results[1] == results[2]


def test_cc_star_stable_across_shuffle_partitions(spark):
    results = [_collect_cc_star(spark, p) for p in (2, 13, 64)]
    assert results[0] == results[1] == results[2]


def test_srclint_catches_sum_over_hash(tmp_path):
    """The plan_audit source lint must flag the exact construct that
    crashed the driver (both DataFrame and SQL spellings) and accept
    the two sanctioned fixes."""
    import sys

    sys.path.insert(0, "/root/repo")
    from tools.plan_audit import srclint_sum_over_hash

    bad = tmp_path / "pkg"
    bad.mkdir()
    (bad / "mod.py").write_text(
        'a = F.sum(F.xxhash64("node", "rank")).alias("h")\n'
        'b = spark.sql("select sum(xxhash64(u, v)) from t")\n'
        'ok1 = F.expr("bit_xor(xxhash64(node, rank))")\n'
        "ok2 = F.sum(F.xxhash64('a').cast('decimal(38,0)'))\n"
    )
    hits = srclint_sum_over_hash(str(bad))
    assert len(hits) == 2, hits
    assert "mod.py:1" in hits[0] and "mod.py:2" in hits[1]
    # and the real tree is clean
    assert srclint_sum_over_hash("/root/repo/demo_flink_spark") == []


# ------------------------------------------------- hypothesis: CC star


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 14), st.integers(0, 14)),
        min_size=1,
        max_size=25,
    )
)
def test_cc_star_matches_union_find(spark, edges):
    """Star-contraction components == a pure-Python union-find on
    random multigraphs (self-loops, duplicates, both orientations)."""
    from demo_flink_spark.operators.dedup import connected_components

    edges = [(a, b) for a, b in edges if a != b]
    if not edges:
        return
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {x: find(x) for x in parent}
    # canonicalize: union-find roots are already component minima here
    # because we always merge larger root onto smaller
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = {
        r["node"]: r["comp"] for r in connected_components(df).collect()
    }
    assert got == want


# --------------------------------- hypothesis: sketch-residual quantile


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["a", "b"]),
            st.one_of(st.none(), st.sampled_from([1.0, 2.0, 2.0, 3.0, 7.5])),
        ),
        min_size=1,
        max_size=40,
    )
)
def test_sketch_residual_quantile_matches_full_sort(spark, rows):
    """sketch+residual selection == the plain full-sort type-1 rank
    rule, on random groups with NULLs and heavy ties. NULL values are
    excluded from ranks; keys with zero non-NULL values drop out."""
    from demo_flink_spark.operators.scale import sketch_residual_quantile

    data = [(k, v, i) for i, (k, v) in enumerate(rows)]
    df = spark.createDataFrame(data, "k string, v double, tb long")
    got = {
        r["k"]: (r["n"], r["p50"], r["p90"])
        for r in sketch_residual_quantile(
            df, "k", "v", "tb", pcts=(50, 90), accuracy=50
        ).collect()
    }
    want = {}
    for key in {k for k, v, _ in data if v is not None}:
        vals = sorted(
            [(v, tb) for k, v, tb in data if k == key and v is not None]
        )
        n = len(vals)
        sel = {p: vals[(n - 1) * p // 100][0] for p in (50, 90)}
        want[key] = (n, sel[50], sel[90])
    assert got == want


# ------------------------------------------- winsorize NULL passthrough


def test_winsorize_null_rows_pass_through(spark):
    """A winsorizer caps values, it never drops rows: NULL-valued rows
    must come back (winsorized=NULL, was_clipped=false) and must NOT
    shift the fence ranks; an all-NULL key still emits its rows."""
    from demo_flink_spark.operators.timeseries import winsorize

    rows = [("k1", float(i), i) for i in range(1, 101)]  # 1..100
    rows += [("k1", None, 200), ("k1", None, 201)]
    rows += [("nul", None, 300), ("nul", None, 301)]
    df = spark.createDataFrame(rows, "key string, value double, id long")
    out = winsorize(df, "key", "value", "id", lo_pct=5, hi_pct=95).collect()
    assert len(out) == len(rows)  # nothing dropped
    by_id = {r["id"]: r for r in out}
    # NULL rows: passthrough, never flagged
    for i in (200, 201, 300, 301):
        assert by_id[i]["value_winsorized"] is None
        assert by_id[i]["was_clipped"] is False
    # fences computed over the 100 non-NULL values only:
    # rank floor(0.05*99)+1 = 5 -> 5.0, floor(0.95*99)+1 = 95 -> 95.0
    assert by_id[1]["value_winsorized"] == 5.0 and by_id[1]["was_clipped"]
    assert by_id[100]["value_winsorized"] == 95.0 and by_id[100]["was_clipped"]
    assert by_id[50]["value_winsorized"] == 50.0 and not by_id[50]["was_clipped"]


# ------------------------------------------------- STL weekly phase


def test_stl_weekly_period_uses_epoch_phase(spark):
    """period_hours=168 must produce 168 distinct phases over a
    multi-week hourly series — the old hour-of-day derivation
    collapsed any non-divisor-of-24 period to 24 buckets."""
    import datetime as dt

    from demo_flink_spark.operators.timeseries import stl_decompose

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        ("k", t0 + dt.timedelta(hours=h)) for h in range(24 * 7 * 3)
    ]  # 3 weeks hourly, 1 event per hour
    df = spark.createDataFrame(rows, "event_type string, ts timestamp")
    out = stl_decompose(df, period_hours=168, half_window_hours=12)
    # constant series: trend == 1e6 everywhere, so seasonal == 0 and
    # residual == 0 for every row — true for ANY phase derivation; the
    # phase cardinality is what the fix changes, so check it directly
    from pyspark.sql import functions as F

    phases = (
        df.select(F.unix_timestamp("ts").alias("epoch_s"))
        .select((F.expr("epoch_s div 3600") % 168).alias("phase"))
        .distinct()
        .count()
    )
    assert phases == 168
    got = out.collect()
    assert len(got) == 24 * 7 * 3
    assert all(r["seasonal_micros"] == 0 for r in got)
    assert all(r["residual_micros"] == 0 for r in got)


# ------------------------------------- hypothesis: label propagation


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 9)),
        min_size=1,
        max_size=18,
    ),
    rounds=st.integers(1, 3),
)
def test_label_propagation_matches_python(spark, edges, rounds):
    """Synchronous LPA with self-vote and min-label tie-break is a
    pure function of (edge list, round count): the engine must match
    a direct Python simulation on random directed multigraph inputs,
    for any round count."""
    from collections import Counter

    from demo_flink_spark.operators.graph import label_propagation

    edges = [(a, b) for a, b in edges if a != b]
    if not edges:
        return
    # dedupe like the engine sees them (it does not distinct edges;
    # multiplicity counts as extra votes — simulate identically)
    nodes = sorted({a for a, _ in edges} | {b for _, b in edges})
    lab = {v: v for v in nodes}
    for _ in range(rounds):
        nxt = {}
        for v in nodes:
            votes = Counter([lab[b] for a, b in edges if a == v])
            votes[lab[v]] += 1
            best = max(votes.items(), key=lambda kv: (kv[1], -kv[0]))
            # plurality, tie -> smallest label
            top = best[1]
            nxt[v] = min(l for l, c in votes.items() if c == top)
        lab = nxt
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["node"]: r["community"]
        for r in label_propagation(df, n_rounds=rounds).collect()
    }
    assert got == lab


def test_label_propagation_early_exit_is_exact(spark):
    """On a star graph every node converges to label 0 after one
    round; the signature + anti-join early exit must fire well before
    n_rounds and return exactly the fixed point."""
    from demo_flink_spark.operators.graph import label_propagation

    edges = [(0, i) for i in range(1, 6)] + [(i, 0) for i in range(1, 6)]
    df = spark.createDataFrame(edges, "src long, dst long")
    stats = {}
    out = {
        r["node"]: r["community"]
        for r in label_propagation(
            df, n_rounds=10, early_exit=True, checkpoint_every=2, stats=stats
        ).collect()
    }
    assert out == {i: 0 for i in range(6)}
    assert stats["rounds"] < 10


def test_session_memos_reuse_and_rescope(spark):
    """The graph/shingle session memos must return the SAME persisted
    frame for repeat calls (one build per session+sf_dir) and a
    different one for a different sf_dir."""
    from demo_flink_spark.plans.dedup import _shared_shingles
    from demo_flink_spark.plans.graph import _bipartite_edges, _copurchase_edges

    a1 = _bipartite_edges(spark, "/root/testdata/sf0.001")
    a2 = _bipartite_edges(spark, "/root/testdata/sf0.001")
    assert a1 is a2
    b = _bipartite_edges(spark, "/root/testdata/sf0.01")
    assert b is not a1
    s1 = _shared_shingles(spark, "/root/testdata/sf0.001")
    assert s1 is _shared_shingles(spark, "/root/testdata/sf0.001")
    c1 = _copurchase_edges(spark, "/root/testdata/sf0.001")
    assert c1 is _copurchase_edges(spark, "/root/testdata/sf0.001")
    # persisted, and usable
    assert a1.storageLevel.useMemory
    assert a1.count() > 0 and s1.count() > 0


# ------------------------------------------------------- z-order layout


def _py_interleave(x: int, y: int, bits: int = 16) -> int:
    z = 0
    for i in range(bits):
        z |= ((x >> i) & 1) << (2 * i)
        z |= ((y >> i) & 1) << (2 * i + 1)
    return z


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(
    rows=st.lists(
        st.tuples(st.integers(0, 10**6), st.integers(-(10**6), 10**6)),
        min_size=1,
        max_size=30,
    )
)
def test_zorder_key_matches_python(spark, rows):
    """Quantization + interleave == the direct Python computation on
    random (incl. negative) inputs; min maps to 0, max to 2^bits-1,
    and a constant column quantizes to all-zero."""
    from demo_flink_spark.operators.layout import zorder_key

    data = [(i, x, y) for i, (x, y) in enumerate(rows)]
    df = spark.createDataFrame(data, "id long, x long, y long")
    got = {
        r["id"]: (r["qx"], r["qy"], r["zkey"])
        for r in zorder_key(df, "x", "y", bits=16).collect()
    }
    xs = [x for _, x, _ in data]
    ys = [y for _, _, y in data]
    top = (1 << 16) - 1

    def q(v, lo, hi):
        return 0 if hi == lo else (v - lo) * top // (hi - lo)

    for i, x, y in data:
        qx = q(x, min(xs), max(xs))
        qy = q(y, min(ys), max(ys))
        assert got[i] == (qx, qy, _py_interleave(qx, qy)), (i, x, y)


def test_zorder_locality_beats_lexicographic(spark):
    """On a uniform 2-D grid, a 64-file Z-order layout must give the
    second column a far narrower average per-file min/max width than
    the lexicographic layout (whose second column spans ~the full
    range in every file) — the property that makes footer-stats
    pruning work on both columns."""
    from demo_flink_spark.operators.layout import zorder_locality_report

    rows = [(x, y) for x in range(64) for y in range(64)]
    df = spark.createDataFrame(rows, "x long, y long")
    rep = {
        r["layout"]: (r["avg_width_x_micros"], r["avg_width_y_micros"])
        for r in zorder_locality_report(df, "x", "y", bits=6, n_files=64).collect()
    }
    lex_x, lex_y = rep["lexicographic"]
    z_x, z_y = rep["zorder"]
    assert lex_y > 900_000  # second column ~full range per file
    assert z_y < lex_y / 4  # z-order splits the budget
    assert z_x < 500_000  # and still bounds the first column


# --------------------------------- hypothesis: two-phase global rank


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(
    vals=st.lists(
        st.sampled_from(["a", "b", "b", "c", "dd", ""]),
        min_size=1,
        max_size=40,
    ),
    parts=st.sampled_from([1, 3, 8]),
)
def test_global_sorted_rank_property(spark, vals, parts):
    """Two-phase distributed rank == Python sorted() position on
    random multisets (heavy ties broken by the unique key), for any
    partition count — the partition-layout-invariance claim the shake
    gate checks on the real query, pinned here on adversarial data."""
    from demo_flink_spark.operators.dedup import global_sorted_rank

    data = [(v, i) for i, v in enumerate(vals)]
    df = spark.createDataFrame(data, "v string, k long")
    got = {
        r["k"]: r["rn"]
        for r in global_sorted_rank(
            df, ["v", "k"], num_partitions=parts
        ).collect()
    }
    want = {
        k: i + 1
        for i, (v, k) in enumerate(sorted(data, key=lambda t: (t[0], t[1])))
    }
    assert got == want


# ------------------------------------------------------------ textrank


def test_textrank_hub_word_ranks_first(spark):
    """A word adjacent to every other word is the graph hub and must
    take the top TextRank slot; stopwords must never appear even when
    they dominate the raw text."""
    from demo_flink_spark.operators.textstats import textrank_keywords

    docs = spark.createDataFrame(
        [
            (1, "spark the engine. spark the cluster. spark the planner."),
            (2, "engine and cluster and planner and shuffle."),
            (3, "spark shuffle! spark planner? spark engine."),
        ],
        "doc_id long, text string",
    )
    out = textrank_keywords(docs, k=5).collect()
    words = [r["word"] for r in out]
    assert words[0] == "spark"
    assert "the" not in words and "and" not in words
    # ranks are a proper descending order with the word tie-break
    ranks = [r["rank"] for r in out]
    assert ranks == sorted(ranks, reverse=True)


def test_srclint_catches_indirect_sum_over_hash(tmp_path):
    """The lint must also flag the indirect form: a full-range hash
    bound to a column name, summed later in the file."""
    import sys

    sys.path.insert(0, "/root/repo")
    from tools.plan_audit import srclint_sum_over_hash

    pkg = tmp_path / "pkg"
    pkg.mkdir()
    (pkg / "m.py").write_text(
        'df = df.withColumn("h", F.xxhash64("a", "b"))\n'
        'out = df.groupBy("k").agg(F.sum("h").alias("sig"))\n'
        's2 = x.select(F.xxhash64("t").alias("fp"))\n'
        "ok = s2.agg(F.sum(F.col('fp').cast('decimal(38,0)')))\n"
        'bad2 = s2.agg(F.sum(F.col("fp")))\n'
        'fine = df.agg(F.sum("value"))\n'
    )
    hits = srclint_sum_over_hash(str(pkg))
    assert len(hits) == 2 and "m.py:2" in hits[0] and "m.py:5" in hits[1], hits


def test_srclint_rejects_cast_outside_sum_and_anchors_bindings(tmp_path):
    """Review-pass hardening: a decimal cast OUTSIDE the sum is still
    the overflow (must flag); 'decimal' in a comment must not exempt;
    hash-call substrings (canonical_hash) and non-hash aliases on a
    hash line must not bind."""
    import sys

    sys.path.insert(0, "/root/repo")
    from tools.plan_audit import srclint_sum_over_hash

    pkg = tmp_path / "pkg"
    pkg.mkdir()
    (pkg / "m.py").write_text(
        'bad = df.agg(F.sum(F.xxhash64("u","v")).cast("decimal(38,0)"))\n'
        'bad2 = df.agg(F.sum(F.xxhash64("u","v")))  # decimal later\n'
        'x = canonical_hash(df).alias("cnt")\n'
        'ok = df.agg(F.sum("cnt"))\n'
        'y = df.select(F.xxhash64("a").alias("fp"), F.col("n").alias("cnt2"))\n'
        'ok2 = df.agg(F.sum("cnt2"))\n'
        'bad3 = df.agg(F.sum("fp"))\n'
    )
    hits = srclint_sum_over_hash(str(pkg))
    assert len(hits) == 3, hits
    assert "m.py:1" in hits[0] and "m.py:2" in hits[1] and "m.py:7" in hits[2]
