"""Deterministic sampling & split assignment for training pipelines
(north-star extension).

Train/val/test assignment at 100 TB must be a pure function of the
record id — never `rand()` (non-reproducible across retries/replans:
Spark recomputes lost partitions, and a recomputed rand() draws new
numbers) and never `df.sample` (partitioning-dependent). The standard
trick: hash the id, threshold the hash. md5 is used (not xxhash64)
because every engine agrees on its hex output — the DuckDB oracles
match byte for byte, and so would any other system auditing the split.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _md5_bucket(id_col: Column, salt: str) -> Column:
    """First two hex chars of md5(salt || id) — 256 equal buckets,
    engine-portable (lexicographic comparison on hex text)."""
    return F.substring(F.md5(F.concat(F.lit(salt), id_col.cast("string"))), 1, 2)


def _cut_lit(cut: int) -> Column:
    """Literal for `bucket < cut` comparisons, cut ∈ [0, 256].

    cut == 256 ("keep everything") needs a sentinel that sorts ABOVE
    every 2-hex-char bucket: f"{256:02x}" is the 3-char string "100",
    which sorts BELOW all buckets except "0?"/"10" and would silently
    keep ~6.6% instead of 100%.
    """
    return F.lit("zz" if cut >= 256 else f"{cut:02x}")


def dataset_split(
    df: DataFrame,
    id_col: str = "doc_id",
    train_frac: float = 0.8,
    val_frac: float = 0.1,
    salt: str = "v1",
) -> DataFrame:
    """Assign train/val/test deterministically by id hash.

    Thresholds are expressed as hex-prefix cut points over the 256
    md5 buckets, so the split is stable under any partitioning, retry,
    or engine. Changing `salt` re-rolls the assignment (e.g. per
    experiment) without touching the data. Narrow, shuffle-free.
    """
    t_cut = int(round(train_frac * 256))
    v_cut = t_cut + int(round(val_frac * 256))
    bucket = _md5_bucket(F.col(id_col), salt)
    split = (
        F.when(bucket < _cut_lit(t_cut), "train")
        .when(bucket < _cut_lit(v_cut), "val")
        .otherwise("test")
    )
    return df.select(F.col(id_col), split.alias("split"))


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    id_col: str,
    fractions: dict[str, float],
    default_frac: float = 0.5,
    salt: str = "v1",
) -> DataFrame:
    """Deterministic per-stratum sample: keep ~fractions[stratum] of
    each stratum by id hash.

    The `sampleBy` shape without its two failure modes at scale:
    rand()-based draws change under partition recompute, and exact
    stratified sampling needs a per-stratum count pass. Here the keep
    decision is a pure row-local function of (stratum, id) — one
    narrow filter, reproducible on any engine that has md5.
    """
    bucket = _md5_bucket(F.col(id_col), salt)
    thr: Column = _cut_lit(int(round(default_frac * 256)))
    for value, frac in sorted(fractions.items()):
        thr = F.when(
            F.col(strata_col) == value, _cut_lit(int(round(frac * 256)))
        ).otherwise(thr)
    return df.filter(bucket < thr)


def weighted_sample(
    df: DataFrame, id_col: str, weight: Column, salt: str = "v1"
) -> DataFrame:
    """Keep each row with probability ≈ `weight` (a [0,1] column, e.g.
    a quality score) — deterministically, as a pure function of the id.

    Importance sampling for corpus curation ("keep high-quality docs
    with p=0.9, low-quality with p=0.1") without rand()'s
    recompute-instability. The md5 bucket is decoded to an integer
    (Spark: `conv(hex, 16, 10)`; the DuckDB oracle decodes via
    hex-char strpos — same value either way) so the comparison against
    `weight · 256` is numeric. Built from Column expressions, never
    interpolated SQL text, so odd column names and salts are safe.
    """
    bucket = F.conv(_md5_bucket(F.col(id_col), salt), 16, 10).cast("int")
    p = F.least(F.greatest(weight, F.lit(0.0)), F.lit(1.0))
    return df.filter(bucket < p * 256)


def hash_sample(
    df: DataFrame, id_col: str, fraction: float, salt: str = "v1"
) -> DataFrame:
    """Deterministic ~`fraction` sample by id hash (same md5-bucket
    mechanics as `dataset_split`); reproducible across runs, engines,
    and partitionings, unlike `df.sample`."""
    cut = int(round(fraction * 256))
    return df.filter(_md5_bucket(F.col(id_col), salt) < _cut_lit(cut))


def mixture_resample(
    df: DataFrame,
    group_col: str,
    id_col: str,
    budget_per_group: float,
    temperature: float = 0.5,
    salt: str = "mix-v1",
) -> DataFrame:
    """Temperature-flattened source mixing (the multilingual-corpus
    rebalance): keep each group g with rate min(1, budget / n_g^τ), so
    overrepresented sources are downsampled toward a flatter mixture
    (τ=1 ⇒ equal group counts ≈ budget; τ→0 ⇒ no rebalance).

    One tiny |groups| aggregate broadcast back onto the fact table; the
    keep decision is the engine's deterministic md5-bucket threshold —
    reproducible across retries, partitionings, and engines.

    τ = 0.5 (the default) computes n^τ via IEEE sqrt — correctly
    rounded in every engine, so the keep set is bit-identical across
    systems and the declared query carries a value-hash oracle. Other
    temperatures use pow(), whose last-ulp behavior is libm-specific —
    fine in production, not for cross-engine hash checks.
    """
    sizes = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("n_g"))
    denom = (
        F.sqrt(F.col("n_g"))
        if temperature == 0.5
        else F.pow(F.col("n_g"), F.lit(temperature))
    )
    rates = sizes.select(
        group_col,
        F.least(F.lit(1.0), F.lit(budget_per_group) / denom).alias("keep_rate"),
    )
    bucket = F.conv(_md5_bucket(F.col(id_col), salt), 16, 10).cast("int")
    return (
        df.join(F.broadcast(rates), group_col)
        .filter(bucket < F.col("keep_rate") * 256)
        .drop("keep_rate")
    )


def token_budget_cut(
    docs: DataFrame,
    budgets: dict[str, int],
    group_col: str = "lang",
    text_col: str = "text",
    salt: str = "tb1",
) -> DataFrame:
    """Exact per-group token-budget selection: keep a deterministic
    pseudo-random prefix of each group's documents until the group's
    token budget is spent — the "give me exactly ≤ N tokens of each
    language" cut a training-mixture recipe specifies (by budget, not
    by rate: `mixture_resample` keeps an EXPECTED fraction, this
    keeps a hard token ceiling).

    Mechanics: token counts are a narrow projection; docs rank within
    their group by md5(salt‖doc_id) (reproducible on any engine); a
    per-group running token sum (ONE window exchange) decides `kept`
    = cumulative ≤ budget. Groups without a declared budget keep
    everything (budget −1 sentinel = unlimited). The first document
    that would overflow the ceiling is dropped — the ceiling is hard.

    All arithmetic is exact integers; `kept` can never sit on a float
    boundary.
    """
    from pyspark.sql.window import Window

    toks = F.filter(
        F.split(F.coalesce(F.col(text_col), F.lit("")), r"\s+"),
        lambda w: w != "",
    )  # NULL text = zero tokens, never a -1 in the running sum
    budget_map = F.create_map(
        *[F.lit(x) for kv in budgets.items() for x in kv]
    )
    rank_key = F.md5(F.concat(F.lit(salt), F.col("doc_id").cast("string")))
    cur = docs.select(
        "doc_id",
        F.col(group_col).alias("grp"),
        F.size(toks).cast("long").alias("n_tokens"),
        F.coalesce(
            budget_map[F.col(group_col)], F.lit(-1)
        ).cast("long").alias("budget"),
        rank_key.alias("_rk"),
    )
    w2 = (
        Window.partitionBy("grp")
        .orderBy("_rk")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return cur.select(
        "doc_id",
        "grp",
        "n_tokens",
        "budget",
        F.sum("n_tokens").over(w2).cast("long").alias("cum_tokens"),
    ).withColumn(
        "kept",
        (F.col("budget") < 0) | (F.col("cum_tokens") <= F.col("budget")),
    )


def exact_k_per_group(
    df: DataFrame,
    k: int,
    group_col: str = "lang",
    id_col: str = "doc_id",
    salt: str = "exk",
) -> DataFrame:
    """Exactly min(k, |group|) rows per group — the "give me 10k
    benchmark docs per language" ask that rate-based
    `stratified_sample` cannot answer (a rate keeps an EXPECTED
    count; this keeps an exact one).

    Selection ranks each group by md5(salt‖id) hex text with an id
    tiebreak — reproducible on any engine, independent of
    partitioning, and re-runnable: the same corpus always yields the
    same k rows. ONE group-keyed window exchange; at 100 TB the
    group key (language/source) has low cardinality, so rows-per-
    group is large but the window does a single sort-per-partition
    after the hash exchange — same shape as `token_budget_cut`.

    Returns (id, grp, rn) for the kept rows, rn ∈ [1, k] being the
    selection rank (usable downstream as a stable fold id).
    """
    from pyspark.sql.window import Window

    rk = F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string")))
    return (
        df.select(F.col(id_col), F.col(group_col).alias("grp"), rk.alias("_rk"))
        .withColumn(
            "rn",
            F.row_number()
            .over(
                Window.partitionBy("grp").orderBy(
                    F.col("_rk").asc(), F.col(id_col).asc()
                )
            )
            .cast("long"),
        )
        .filter(F.col("rn") <= k)
        .drop("_rk")
    )


def mixture_interleave(
    df: DataFrame,
    group_col: str = "source",
    weight_of=None,
    id_col: str = "doc_id",
    salt: str = "mix1",
) -> DataFrame:
    """Deterministic interleaving schedule for weighted source mixing —
    the order a training run actually consumes a multi-source corpus:
    any prefix of the schedule contains sources in proportion to their
    weights (weight 2 sources appear twice as often as weight 1), with
    no RNG anywhere.

    Classic virtual-time scheduling (WFQ / stride scheduling): each
    doc gets a rank r within its source by md5(salt‖id) (a
    reproducible intra-source shuffle), and fires at virtual time
    r / w_source; the global schedule is ascending
    (virtual_time, group, id). Per doc:
    (id, group, src_rank, virtual_time).

    Cross-engine exactness: r is an integer window rank, w a literal
    double, and r / w one IEEE division — identical doubles on any
    engine, full-precision hashable, ties broken by the explicit
    total order. One group-keyed window exchange; consumers sort (or
    range-partition) by virtual_time, which `global_cumsum` turns
    into positions without a single-task global sort.

    `weight_of(group_col_value_column) -> weight column` defaults to
    weight 1.0 for every group (uniform interleave).
    """
    from pyspark.sql.window import Window

    w_rank = Window.partitionBy(group_col).orderBy(
        F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string"))),
        F.col(id_col),
    )
    weight = (
        weight_of(F.col(group_col)) if weight_of is not None else F.lit(1.0)
    )
    return df.select(
        F.col(id_col),
        F.col(group_col),
        F.row_number().over(w_rank).cast("long").alias("src_rank"),
    ).select(
        id_col,
        group_col,
        "src_rank",
        (F.col("src_rank").cast("double") / weight).alias("virtual_time"),
    )


def systematic_sample(
    df: "DataFrame",
    sort_cols: list[str],
    k: int,
    offset: int = 0,
) -> "DataFrame":
    """Systematic (every k-th) sampling over a total order — the
    survey-sampling classic: sort by `sort_cols` (must be
    tie-free — include a unique key), keep ranks where
    (rank - 1) % k == offset. Unlike Bernoulli/hash sampling the
    sample is evenly SPREAD across the sort axis (time, key range),
    which is what makes it the right tool for eyeballing drift along
    a dimension or building a balanced audit slice.

    Rank assignment is `global_sorted_rank` (two-phase distributed
    ranking — range exchange + Arrow local ranks + offsets), never a
    single-partition global Window; the modulo keep-filter is a
    narrow map after it. Deterministic and engine-exact: the oracle's
    textbook row_number() form selects the same rows because the
    total order is tie-free.
    """
    from demo_flink_spark.operators.dedup import global_sorted_rank

    ranked = global_sorted_rank(df, sort_cols)
    return ranked.filter((F.col("rn") - 1) % k == offset)
