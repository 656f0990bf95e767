"""Iterative graph operators on edge-list DataFrames.

Connected components (large-star/small-star) lives in
`operators.dedup` where its consumer (duplicate-cluster resolution)
is; this module holds the general-purpose iterative algorithms. The
design rules for iteration on Spark, applied throughout:

- the edge list is the loop invariant: materialize it ONCE with
  `localCheckpoint` and reuse, so each iteration re-reads a local
  shuffle-free RDD instead of re-running the upstream plan;
- per-iteration lineage must not accumulate: checkpoint the evolving
  rank/label state every few rounds or the plan tree (and task
  serialization time) grows linearly with iterations;
- everything is joins + aggregations on the key — no driver-side
  adjacency, so the graph can be arbitrarily larger than any single
  machine. Per-iteration cost: one shuffle join (contributions) plus
  one shuffle agg (per-dst sum).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from demo_flink_spark.operators.checkpointing import cut_lineage, cut_lineage_lazy
from demo_flink_spark.operators.hints import broadcast_if_small

# Q52 fixed-point scale for exact, engine-portable contribution sums
_Q52 = float(1 << 52)


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    n_iter: int = 10,
    src_col: str = "src",
    dst_col: str = "dst",
    checkpoint_every: int = 3,
    early_exit: bool = True,
    stats: dict | None = None,
) -> DataFrame:
    """Power-iteration PageRank over a directed edge list; returns
    (node, rank) for every node that appears in the edge list.

    rank_{t+1}(v) = (1-d)/N + d * Σ_{u→v} rank_t(u)/outdeg(u)

    Dangling nodes (no out-edges) leak their mass under this update —
    standard behavior for the simple formulation; callers who need
    mass conservation should symmetrize the edge list (see
    `q_pagerank_copurchase`, which uses an undirected bipartite graph,
    so every node has out-edges and total rank stays 1).

    Floating-point note: contributions accumulate in Q52 fixed point —
    each per-edge product (a deterministic IEEE double ≤ 1) is scaled
    by 2^52 (EXACT: power-of-two multiply), floored to a long, summed
    exactly (longs; per-dst total ≤ 2^52, no overflow), and divided
    back by 2^52 (exact: quotient has ≤ 53 significant bits). Every
    step is bit-deterministic under any partitioning AND identical in
    any engine mirroring the formula (see the unrolled DuckDB oracle in
    plans/graph.py), while staying on the codegen'd long-sum fast path
    — decimal(38,30) accumulation gave the same determinism at ~5x the
    aggregation cost. Quantization error is 2^-52 per edge, orders
    below float noise for ranking.

    The per-iteration body stays lazy (no job per iteration), with
    lineage cut by an eager `localCheckpoint` every `checkpoint_every`
    iterations — without the cut the plan doubles per iteration;
    checkpointing EVERY iteration, or collecting the broadcast-sized
    rank vector and re-creating a local relation, each added ~0.5-2 s
    of per-iteration materialization overhead and lost to this hybrid
    at every scale tested.

    Exact early exit (`early_exit=True`): the Q52 representation makes
    rank equality well-defined in bits, so at each checkpoint boundary
    (where the vector is materialized anyway) a 2-value convergence
    signature — (count, bit_xor(xxhash64(node, rank))) — is collected,
    the same pattern as the connected-components fixed point
    (`operators/dedup.py` star contraction). RULE for every iterative
    operator's signature: the aggregate must be order-independent AND
    overflow-free under ANSI mode. sum(xxhash64) fails this — hash
    values span the full int64 range, so whether a partial sum
    overflows depends on the partitioning/merge order, turning the
    query into a flake that passes locally and crashes elsewhere.
    bit_xor (or a decimal(38,0) sum) is safe; tools/plan_audit.py
    lints the class repo-wide. When two consecutive
    boundaries agree, ONE verification iteration confirms a true
    fixed point (`f(r) = r`, not merely an `f^k` cycle) and — because
    a 64-bit signature can in principle collide — the final exit is
    gated on an EXACT anti-join equality check of the two vectors
    (one |V|-row job, runs at most once per call), after which the
    early return is bit-identical to running all `n_iter` rounds. With damping 0.85 the residual shrinks ~0.85^t, so
    exact convergence needs O(52·ln2/0.16) ≈ 220 rounds on generic
    graphs — the exit is for near-regular graphs (uniform start is
    already ulps from the fixed point) and high-`n_iter` callers, not
    a speedup for 10-round runs. `stats["iterations"]` reports the
    executed round count.
    """
    e = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    # loop invariant: (src, dst, 1/deg) materialized once; carrying the
    # reciprocal keeps the loop body a multiply, not a division
    withdeg = (
        e.join(deg, "src")
        .select("src", "dst", (F.lit(1.0) / F.col("deg")).alias("inv_deg"))
        .transform(cut_lineage_lazy)
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .transform(cut_lineage_lazy)
    )
    n = nodes.count()
    base = (1.0 - damping) / n
    ranks = nodes.withColumn("rank", F.lit(1.0 / n))

    def _step(r: DataFrame) -> DataFrame:
        # rank vector is |V| rows — on catalog-keyed graphs tiny next
        # to |E|, so it rides a broadcast and the edge list never
        # moves. But |V| can grow with the data (user/URL graphs), and
        # a forced broadcast there is an OOM, not a slow plan — so the
        # hint is conditional on |V| fitting the session's broadcast
        # threshold (n is already counted above for the base term; the
        # estimate costs nothing) and degrades to a shuffle join. The
        # only unconditional per-iteration shuffle is the per-dst
        # contribution sum, which map-side partials compress to ~|V|
        # rows per task.
        contribs = (
            withdeg.join(broadcast_if_small(r, n), withdeg.src == r.node)
            .select("dst", (F.col("rank") * F.col("inv_deg")).alias("c"))
            .groupBy("dst")
            # Q52 fixed-point accumulation (see docstring): exact,
            # order-independent, cross-engine-identical, codegen-fast
            .agg(
                (
                    F.sum(F.floor(F.col("c") * F.lit(_Q52)).cast("long"))
                    .cast("double")
                    / F.lit(_Q52)
                ).alias("contrib")
            )
        )
        # contribs is also ≤|V|-sized: same conditional hint, so small
        # graphs get a broadcast rebuild and large ones a shuffle join
        return nodes.join(
            broadcast_if_small(contribs, n), nodes.node == contribs.dst, "left"
        ).select(
            "node",
            (
                F.lit(base)
                + F.lit(damping) * F.coalesce(F.col("contrib"), F.lit(0.0))
            ).alias("rank"),
        )

    def _sig(r: DataFrame):
        # 2-value convergence signature over the (materialized) vector.
        # The aggregate MUST be order-independent AND overflow-free
        # under ANSI mode: xxhash64 spans the full int64 range, so
        # sum() can hit ARITHMETIC_OVERFLOW on some partial-sum orders
        # and not others (a partitioning-dependent flake — it crashed
        # the driver while passing locally on identical data). XOR is
        # both, and just as collision-resistant for a cheap filter;
        # the anti-join below makes the exit exact regardless.
        row = r.agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(node, rank))").alias("h"),
        ).collect()[0]
        return row["n"], row["h"]

    prev_sig = None
    i = 0
    while i < n_iter:
        ranks = _step(ranks)
        i += 1
        # cut lineage: without this the plan doubles per iteration
        if i % checkpoint_every == 0 and i < n_iter:
            ranks = ranks.transform(cut_lineage)
            if early_exit:
                sig = _sig(ranks)
                if sig == prev_sig:
                    # f^checkpoint_every fixed point — verify a TRUE
                    # fixed point with one extra iteration before
                    # exiting (a k-cycle that is not a fixed point is
                    # theoretically possible under quantization)
                    nxt = _step(ranks).transform(cut_lineage)
                    i += 1
                    nxt_sig = _sig(nxt)
                    # signature agreement is necessary but (64-bit
                    # hash) not sufficient: prove f(r) = r exactly
                    # with one |V|-row anti-join before exiting
                    if nxt_sig == sig and nxt.join(
                        ranks, ["node", "rank"], "left_anti"
                    ).isEmpty():
                        ranks = nxt
                        break
                    ranks = nxt
                    sig = nxt_sig
                prev_sig = sig
    if stats is not None:
        stats["iterations"] = i
    return ranks


def triangle_count(
    edges: DataFrame, src_col: str = "src", dst_col: str = "dst"
) -> DataFrame:
    """Count triangles in an undirected graph given as (possibly
    duplicated, possibly both-direction) edge rows. Returns one row
    (n_nodes, n_edges, n_triangles).

    Degree-ordered forward counting — the MapReduce-era standard
    (Suri & Vassilvitskii's "node-iterator++"): orient each undirected
    edge from its lower-(degree, id) endpoint to the higher one, form
    wedges only at each edge's *lower* endpoint, and close them against
    the oriented edge list. Out-degree under this orientation is
    O(sqrt(m)) regardless of skew, so the wedge set — the quadratic
    hazard in triangle counting — stays near-linear even when a
    celebrity node has 10^7 neighbors. Everything is an equi-join on
    node ids (8-byte shuffle keys); the oriented edge list is
    checkpointed once and reused by both sides of the wedge join.
    """
    a, b = F.col(src_col), F.col(dst_col)
    # e feeds FOUR plan branches (degree union x2, orientation join,
    # final edge count) — checkpoint or the caller's edge derivation
    # (often a fact-table self-join) re-executes per branch
    e = (
        edges.select(F.least(a, b).alias("a"), F.greatest(a, b).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .transform(cut_lineage_lazy)
    )
    deg = (
        e.select(F.col("a").alias("node"))
        .union(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("deg_b"))
    lower_first = (F.col("deg_a") < F.col("deg_b")) | (
        (F.col("deg_a") == F.col("deg_b")) & (F.col("a") < F.col("b"))
    )
    oriented = (
        e.join(da, "a")
        .join(db, "b")
        .select(
            F.when(lower_first, F.col("a")).otherwise(F.col("b")).alias("u"),
            F.when(lower_first, F.col("b")).otherwise(F.col("a")).alias("v"),
            F.when(lower_first, F.col("deg_b"))
            .otherwise(F.col("deg_a"))
            .alias("deg_v"),
        )
        .transform(cut_lineage_lazy)  # reused three times below
    )
    # wedges at the low-degree center u: (v, w) out-neighbor pairs,
    # ordered by the same (deg, id) rank so each triangle closes once
    o1 = oriented.select("u", F.col("v").alias("v1"), F.col("deg_v").alias("d1"))
    o2 = oriented.select("u", F.col("v").alias("v2"), F.col("deg_v").alias("d2"))
    wedges = o1.join(o2, "u").filter(
        (F.col("d1") < F.col("d2"))
        | ((F.col("d1") == F.col("d2")) & (F.col("v1") < F.col("v2")))
    )
    closed = wedges.join(
        oriented.select(F.col("u").alias("v1"), F.col("v").alias("v2")),
        ["v1", "v2"],
        "left_semi",
    )
    return (
        closed.agg(F.count(F.lit(1)).alias("n_triangles"))
        .crossJoin(F.broadcast(e.agg(F.count(F.lit(1)).alias("n_edges"))))
        .crossJoin(F.broadcast(deg.agg(F.count(F.lit(1)).alias("n_nodes"))))
        .select("n_nodes", "n_edges", "n_triangles")
    )


def adamic_adar_topk(
    edges: DataFrame,
    k: int = 100,
    max_deg: int | None = None,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Adamic-Adar link prediction over an undirected graph given as
    (possibly one-direction) edge rows: for every NON-adjacent pair
    (x, y) with at least one common neighbor,

        score(x, y) = Σ_{z ∈ N(x) ∩ N(y)}  1 / ln(deg(z))

    — rare shared neighbors are strong evidence, hub neighbors weak —
    and return the top-k candidate links. The classic
    collaborative-filtering / "people you may know" primitive
    (Adamic & Adar 2003), here as the recommendation extension of the
    co-purchase graph family (`q_pagerank_copurchase`).

    Engine-exact numerics: deg(z) >= 2 for any z with a neighbor
    PAIR, so 1/ln(deg) is computed from the portable softln series
    (`softln_ratio(1, deg)` = -ln deg — operators/relational.py),
    rounded half-up at 6 dp, and summed as exact decimal(38,6):
    order-independent, bit-identical in any engine; `score_micros`
    is the exact integer Σ. Ties at equal score break by (x, y).

    Scale shape: the pair generator is the posting-list self-join on
    the common neighbor z — Σ_z deg(z)^2 candidate rows, never |V|^2.
    `max_deg` caps hub fan-out exactly like `max_df` caps hot
    shingles in `dedup.ngram_jaccard_pairs` (drop z with deg > cap
    from the CENTER role only): documented approximation for
    power-law graphs; the declared query runs uncapped so its DuckDB
    oracle is exact. Existing edges are removed with one anti-join.
    """
    from demo_flink_spark.operators.relational import softln_ratio

    e = edges.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b"))
    und = (
        e.select("a", "b")
        .union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
        .transform(cut_lineage_lazy)  # adjacency feeds 3 branches
    )
    deg = und.groupBy(F.col("a").alias("z")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    # per-neighbor weight: -softln(1, deg) == ln(deg); deg >= 2 when z
    # centers a pair, so the guard never divides by ln(1) = 0
    w = deg.filter(F.col("deg") >= 2).select(
        "z",
        F.round(
            F.lit(-1.0) / softln_ratio(F.lit(1), F.col("deg")), 6
        )
        .cast("decimal(38,6)")
        .alias("w"),
    )
    if max_deg is not None:
        w = w.filter(F.col("deg") <= max_deg)
    adj = und.select(F.col("b").alias("z"), F.col("a").alias("x"))
    n1 = adj.select("z", F.col("x").alias("xa"))
    n2 = adj.select("z", F.col("x").alias("xb"))
    cand = (
        n1.join(n2, "z")
        .filter(F.col("xa") < F.col("xb"))
        .join(w, "z")
        .groupBy(F.col("xa").alias("x"), F.col("xb").alias("y"))
        .agg(F.sum("w").alias("s"))
    )
    existing = und.filter(F.col("a") < F.col("b")).select(
        F.col("a").alias("x"), F.col("b").alias("y")
    )
    return (
        cand.join(existing, ["x", "y"], "left_anti")
        .select(
            "x",
            "y",
            (F.col("s") * 1000000).cast("long").alias("score_micros"),
        )
        .orderBy(F.col("score_micros").desc(), "x", "y")
        .limit(k)
    )


def bfs_hops(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int = 4,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Multi-source BFS: minimum hop distance from any seed node to
    every node reachable within `max_hops`, over a directed edge list
    (symmetrize first for undirected semantics). Returns (node, hops)
    with hops = 0 for the seeds themselves.

    The Spark-first form of reachability is FRONTIER ITERATION, not a
    recursive CTE: each round expands only the newly-discovered
    frontier (join to edges, distinct, anti-join the visited set), so
    work per round is O(frontier out-degree), every node is expanded
    exactly once, and cycles terminate by construction — the same
    loop discipline as `pagerank` (edges as the checkpointed loop
    invariant, lineage cut per round). A naive UNION ALL recursion
    enumerates WALKS (exponential on cyclic graphs); the DuckDB
    oracle can afford recursive-UNION + min(hop) at oracle scale, the
    engine side cannot assume that at 100 TB.

    Loop shape (r14 optimization pass — output-identical, the set
    algebra is unchanged):
    - each hop's NEW frontier is checkpointed once; the visited set
      for the anti-join is the LAZY union of those per-hop frames, so
      no hop re-materializes the whole accumulated distance table
      (the previous `dist.union(nxt).checkpoint()` re-copied O(|V|)
      rows per hop — O(|V|·hops) total writes for data already on
      the executors);
    - the frontier count is read from the checkpointed frame (the
      same one job the old `isEmpty` emptiness probe paid), which
      gives every next hop an EXACT size for `broadcast_if_small` on
      both per-hop joins: the frontier side of the expansion join and
      the visited side of the anti-join. Both inputs are checkpointed
      RDD scans whose sizes Catalyst cannot estimate (it defaults
      them to "huge"), so without the hint each hop sort-merge-joins
      the full edge list — with it, the edge list never moves and a
      hop's only exchange is the `distinct` over the new candidates.
      On node-heavy graphs the hint degrades to the shuffle join
      instead of an OOM (hints.py contract).

    Output is pure integers — hash-exact across engines.
    """
    from functools import reduce

    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).transform(cut_lineage_lazy)
    dist0 = seeds.select(F.col(seeds.columns[0]).alias("node")).distinct()
    dist0 = dist0.withColumn("hops", F.lit(0)).transform(cut_lineage)
    frames = [dist0]
    n_frontier = dist0.count()
    n_visited = n_frontier
    frontier = dist0.select("node")
    for h in range(1, max_hops + 1):
        visited = reduce(
            DataFrame.union, [f.select("node") for f in frames]
        )
        nxt = (
            broadcast_if_small(frontier, n_frontier)
            .join(e, frontier.node == e.src)
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(
                broadcast_if_small(visited, n_visited), "node", "left_anti"
            )
            .withColumn("hops", F.lit(h))
            .transform(cut_lineage)
        )
        n_frontier = nxt.count()
        if n_frontier == 0:
            break
        frames.append(nxt)
        n_visited += n_frontier
        frontier = nxt.select("node")
    dist = reduce(DataFrame.union, frames)
    return dist.select("node", F.col("hops").cast("int").alias("hops"))


def degree_powerlaw(
    edges: DataFrame,
    d_min: int = 2,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Degree distribution summary + Hill/MLE power-law exponent for
    an undirected graph:

        alpha = 1 + n / Σ_{deg_i >= d_min} ln(deg_i / d_min)

    (Clauset-Shalizi-Newman's discrete-tail MLE with fixed d_min) —
    the graph-shape diagnostic that tells you whether a key/degree
    distribution is heavy-tailed enough to need skew handling
    (salting, hub caps) BEFORE a join falls over at scale.

    Engine-exact: each ln(deg/d_min) is the portable softln series
    (deg >= d_min ⇒ ratio >= 1 ⇒ -softln(d_min, deg)), half-up 6dp
    micros; their sum is an exact BIGINT; the final alpha division is
    one double op. Output: tail size, max/mean degree (mean as
    round-half-away micros), alpha_micros.

    One degree aggregate + one |V|-row reduction; nothing driver-side.
    """
    from demo_flink_spark.operators.relational import softln_ratio

    e = edges.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b"))
    und = e.union(
        e.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).distinct()
    deg = und.groupBy("a").agg(F.count(F.lit(1)).alias("deg"))
    ln_micros = (
        F.round(
            F.lit(-1.0) * softln_ratio(F.lit(d_min), F.col("deg")), 6
        ).cast("decimal(38,6)")
        * 1000000
    ).cast("long")
    tail = deg.filter(F.col("deg") >= d_min)
    return (
        tail.agg(
            F.count(F.lit(1)).alias("n_tail"),
            F.sum("deg").alias("sdeg"),
            F.max("deg").alias("max_degree"),
            F.sum(ln_micros).alias("sln"),
        )
        .crossJoin(F.broadcast(deg.agg(F.count(F.lit(1)).alias("n_nodes"))))
        .select(
            F.col("n_nodes").cast("long").alias("n_nodes"),
            F.col("n_tail").cast("long").alias("n_tail"),
            F.col("max_degree").cast("long").alias("max_degree"),
            F.expr("(sdeg * 2000000 + n_tail) div (2 * n_tail)").alias(
                "mean_tail_degree_micros"
            ),
            # alpha = 1 + n_tail / (sln/1e6): one double division over
            # exact integers
            (
                F.lit(1.0)
                + F.col("n_tail").cast("double")
                / (F.col("sln").cast("double") / F.lit(1000000.0))
            ).alias("alpha"),
        )
    )


def degree_assortativity(
    edges: DataFrame, src_col: str = "src", dst_col: str = "dst"
) -> DataFrame:
    """Degree assortativity (Newman 2002): the Pearson correlation of
    endpoint degrees over all directed edge instances of the
    symmetrized graph — positive means hubs link to hubs (social
    shape), negative means hub-leaf (internet/bipartite-projection
    shape). The second scale diagnostic next to `degree_powerlaw`:
    disassortative graphs concentrate join fan-out on hub-leaf edges.

    Exact-integer sufficient statistics (the linear_trend recipe):
    every Σ is a decimal(38,0) sum of degree products (degrees are
    ints), only the final correlation is double arithmetic —
    bit-identical cross-engine.
    """
    e = edges.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b"))
    und = e.union(
        e.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).distinct()
    deg = und.groupBy("a").agg(F.count(F.lit(1)).alias("deg"))
    da = deg.select(F.col("a").alias("u"), F.col("deg").alias("dx"))
    db = deg.select(F.col("a").alias("v"), F.col("deg").alias("dy"))
    pairs = (
        und.select(F.col("a").alias("u"), F.col("b").alias("v"))
        .join(da, "u")
        .join(db, "v")
        .select(
            F.col("dx").cast("decimal(38,0)").alias("x"),
            F.col("dy").cast("decimal(38,0)").alias("y"),
        )
    )
    agg = pairs.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("m"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.expr("x * y")).alias("sxy"),
        F.sum(F.expr("x * x")).alias("sxx"),
        F.sum(F.expr("y * y")).alias("syy"),
    )
    num = F.expr("CAST(m * sxy - sx * sy AS DOUBLE)")
    den = F.expr(
        "sqrt(CAST(m * sxx - sx * sx AS DOUBLE))"
        " * sqrt(CAST(m * syy - sy * sy AS DOUBLE))"
    )
    return agg.select(
        F.expr("CAST(m AS BIGINT)").alias("n_edge_ends"),
        (num / den).alias("assortativity"),
    )


def label_propagation(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    n_rounds: int = 4,
    early_exit: bool = True,
    checkpoint_every: int = 2,
    stats: dict | None = None,
) -> DataFrame:
    """Deterministic synchronous label propagation (Raghavan et al.
    2007) over a directed edge list; returns (node, community) after
    exactly `n_rounds` synchronous updates.

    Every node starts labeled with its own id; each round EVERY node
    simultaneously adopts the plurality label among {its neighbors'
    labels} ∪ {its own label}, ties broken by the SMALLEST label.
    The self-vote plus min-tie-break makes the round a pure function
    of the previous labeling — no random visit order, no async
    nondeterminism — so a fixed round count is exactly reproducible
    on any engine/partitioning, and the DuckDB oracle simply unrolls
    the same `n_rounds` (plans/graph.py), as with pagerank's Q52
    oracle. (Classic async LPA is order-dependent by construction;
    the synchronous-with-self-vote variant is the standard
    determinization. The self-vote also damps the 2-cycle label
    oscillation synchronous LPA exhibits on bipartite graphs.)

    Iterative-loop discipline (the post-r7 hardened rules):
    - edge list localCheckpointed ONCE as the loop invariant; label
      state re-checkpointed every `checkpoint_every` rounds so
      lineage stays flat without paying a materialization per round
      (the pagerank tradeoff); the convergence signature is likewise
      collected only at checkpoint boundaries, where the state is
      materialized anyway;
    - the convergence signature is (count, bit_xor(xxhash64(...)))
      — order-independent AND overflow-free under ANSI; sum() over a
      full-range int64 hash is banned repo-wide (plan_audit srclint)
      because partial-sum overflow depends on merge order;
    - a signature match only gates an EXACT anti-join equality check;
      at a true fixed point every later round is identical, so early
      exit cannot diverge from the fixed-round oracle.

    Per round: one equi-join edges⨝labels (the |V|-row label vector
    rides a conditional broadcast, same as pagerank's rank vector, so
    the edge list never moves) + ONE per-node `mode(lab,
    deterministic=true)` aggregate. Spark's deterministic mode is
    exactly this round's update — plurality with smallest-value
    tie-break over the vote multiset — as a single
    ObjectHashAggregate whose per-group count map merges map-side, so
    each round shuffles partial maps through one exchange keyed on
    node. The r14 optimization pass replaced the previous two-level
    form (count per (node,lab), then argmax per node — TWO exchanges
    per round, the second carrying ~|distinct (node,lab)| rows ≈ |E|
    early on) after pinning output equality on the sf0.1 bipartite
    graph (sym-diff 0 over 3 rounds) — counts are exact integers and
    the tie-break total order is identical, so equality holds by
    construction, not just on the fixture. All shuffles keyed on node
    ids, no driver-side adjacency, skew bounded by max degree.

    Probed alternative (r9, rejected): fusing the self-vote as a +1
    on the neighbor count via a full-outer (node,lab) join instead of
    unioning the label frame into the pre-aggregate. Hash-identical,
    but NOT faster (sf0.1 medians 6.98 s union vs 7.01 s fused over
    alternating reps): the union's |V| extra rows ride the first
    aggregate's map-side combine for free, while the fusion pays a
    whole extra exchange of the label frame on (node,lab). The
    union shape is the optimal one for the vote stream.
    """
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).transform(cut_lineage)
    labels = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .withColumn("lab", F.col("node"))
        .transform(cut_lineage)
    )
    n = labels.count()

    def _sig(l: DataFrame):
        row = l.agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(node, lab))").alias("h"),
        ).collect()[0]
        return row["n"], row["h"]

    rounds_run = 0
    prev_sig = _sig(labels) if early_exit else None
    for _ in range(n_rounds):
        prev_labels = labels
        votes = e.join(
            broadcast_if_small(labels, n), e.dst == labels.node
        ).select(F.col("src").alias("node"), "lab").unionByName(
            labels.select("node", "lab")
        )
        # deterministic mode == plurality with min-label tie-break, in
        # ONE map-side-combinable aggregate (see docstring)
        labels = votes.groupBy("node").agg(F.mode("lab", True).alias("lab"))
        rounds_run += 1
        at_boundary = rounds_run % checkpoint_every == 0 or rounds_run == n_rounds
        if at_boundary:
            labels = labels.transform(cut_lineage)
            # no signature work on the FINAL round: break would be a
            # no-op there, so the collect jobs would be pure waste
            # (pagerank guards the same way with i < n_iter)
            if early_exit and rounds_run < n_rounds:
                new_sig = _sig(labels)
                if new_sig == prev_sig:
                    # 64-bit signatures can collide: prove the fixed
                    # point exactly before exiting (≤|V|-row anti-join,
                    # runs at most once per signature match). NOTE:
                    # prev_sig is the signature of the last BOUNDARY
                    # state, so a match here means f^checkpoint_every
                    # is fixed — the anti-join against the immediately
                    # preceding round confirms the true per-round
                    # fixed point.
                    if labels.join(
                        prev_labels, ["node", "lab"], "left_anti"
                    ).isEmpty():
                        break
                prev_sig = new_sig
    if stats is not None:
        stats["rounds"] = rounds_run
    return labels.select("node", F.col("lab").alias("community"))
