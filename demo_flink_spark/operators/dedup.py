"""Deduplication operators for training-data pipelines (north-star
extension, BASELINE.json): exact, MinHash+LSH, SimHash, n-gram
Jaccard, embedding-cosine near-dup.

Scale design (the whole point at 100 TB):
- **Exact dedup** hashes first (`xxhash64` of canonical text) so the
  shuffle carries 8-byte keys, not documents.
- **n-gram Jaccard** uses an inverted-index join (explode shingles →
  self-join on shingle → count per pair), NEVER an all-pairs cross
  join: cost is Σ posting-list², not n². Frequent-shingle skew is the
  known hazard — cap posting lists (drop shingles appearing in > p%
  of docs, standard df-cut) before the join.
- **MinHash LSH** banding turns near-dup search into an equi-join on
  (band_idx, band_hash) — the classic sub-quadratic path; candidates
  are then verified with exact Jaccard so false positives never
  surface.
- **SimHash** banding over 16-bit chunks (pigeonhole: hamming ≤ 3 ⇒
  at least one of 4 chunks equal) — again an equi-join, then popcount
  verification via `bit_count(a ^ b)`.
- Everything except the SimHash bit-fold is built-in column
  expressions — JVM-side, codegen'd, no Python in the hot path.
"""

from __future__ import annotations

import hashlib
import os

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from demo_flink_spark.operators.wordcount import normalize_text

from demo_flink_spark.operators.checkpointing import cut_lineage, cut_lineage_lazy
from demo_flink_spark.operators.hints import broadcast_if_small


def _canonical(col: Column) -> Column:
    """Normalized, whitespace-collapsed text — the exact-dup key."""
    return F.trim(F.regexp_replace(normalize_text(col), r"\s+", " "))


# MinHash permutation family: y = (a*x + b) mod MINHASH_P over md5
# shingle hashes. Everything here is ENGINE-PORTABLE on purpose — the
# DuckDB oracle recomputes identical signatures/bands with
# md5_number_upper + HUGEINT arithmetic (plans/dedup.py embeds the
# a/b constants from `minhash_params` into the SQL).
MINHASH_P = (1 << 61) - 1  # Mersenne prime


def minhash_params(n_hashes: int = 64) -> tuple[list[int], list[int]]:
    """Deterministic (a, b) permutation constants, a odd, both < 2^61."""
    import numpy as np

    rng = np.random.RandomState(0xD5A7)
    a = rng.randint(1, 1 << 61, size=n_hashes, dtype=np.uint64) | np.uint64(1)
    b = rng.randint(0, 1 << 61, size=n_hashes, dtype=np.uint64)
    return [int(v) for v in a], [int(v) for v in b]


def _modp_affine(x, a, b):
    """(a*x + b) mod 2^61-1 for uint64 numpy arrays with all values
    < 2^61, WITHOUT 128-bit ints or wraparound: 31/30-bit split
    multiplies with 2^61 ≡ 1 (mod p) folds; every intermediate < 2^63.
    Exactly equals integer (a*x+b) %% p — validated against Python int
    math and DuckDB HUGEINT in tests.

    The reductions are Mersenne folds, not generic `%` (r15, guide
    §1.2 per-task work): for p = 2^61-1, y mod p of any y < 2^63 is
    `(y & p) + (y >> 61)` followed by ONE conditional subtract —
    shift/mask/compare instead of 64-bit integer division — and the
    arithmetic runs in place (`out=`/`where=`) so the (V × n_hashes)
    sweep makes ~8 array passes instead of ~15 temporaries. Each
    fold's input bound is noted inline; outputs are bit-identical to
    the old generic-% form (same math mod p, pinned by the existing
    cross-engine tests and the r15 twin-kernel receipt). 3x measured
    on the signature sweep (90 -> 29 ms at V=25k with the caller's
    cache blocking).
    """
    import numpy as np

    p = np.uint64(MINHASH_P)
    m31 = np.uint64((1 << 31) - 1)
    m30 = np.uint64((1 << 30) - 1)
    a1, a0 = a >> np.uint64(31), a & m31
    x1, x0 = x >> np.uint64(31), x & m31
    # a1*x1 < 2^60 < p: already reduced; *2^62 ≡ *2 (mod p), < 2^61
    acc = a1 * x1
    acc <<= np.uint64(1)
    np.subtract(acc, p, out=acc, where=acc >= p)
    # a1*x0 + a0*x1 < 2^62: one fold + subtract reduces below p
    t2 = a1 * x0
    t2 += a0 * x1
    hi = t2 >> np.uint64(61)
    t2 &= p
    t2 += hi
    np.subtract(t2, p, out=t2, where=t2 >= p)
    # t2 * 2^31 (mod p): u1 + (u0 << 31) < 2^61 + 2^31; one subtract
    hi = t2 >> np.uint64(30)
    t2 &= m30
    t2 <<= np.uint64(31)
    t2 += hi
    np.subtract(t2, p, out=t2, where=t2 >= p)
    acc += t2
    # a0*x0 < 2^62: one fold + subtract
    t3 = a0 * x0
    hi = t3 >> np.uint64(61)
    t3 &= p
    t3 += hi
    np.subtract(t3, p, out=t3, where=t3 >= p)
    acc += t3
    # each term < p, b < 2^61: acc + b < 2^63 -> one fold + subtract
    acc += b
    hi = acc >> np.uint64(61)
    acc &= p
    acc += hi
    np.subtract(acc, p, out=acc, where=acc >= p)
    return acc


def exact_dedup(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact dedup: canonical doc per identical normalized text.

    groupBy the 64-bit content hash (collision-safe enough for dedup;
    at 100 TB add a length column to the key); canonical = min doc_id.
    Emits one row per distinct content with its duplicate count.
    """
    return (
        docs.select(
            "doc_id", F.xxhash64(_canonical(F.col(text_col))).alias("content_hash")
        )
        .groupBy("content_hash")
        .agg(
            F.min("doc_id").alias("canonical_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )


def shingles(
    docs: DataFrame, text_col: str = "text", n: int = 3, out_col: str = "shingles"
) -> DataFrame:
    """Distinct word n-gram shingles per document (Arrow-batched).

    Semantics: normalize (lowercase, strip non-[a-z\\s], collapse
    whitespace), split on single spaces, emit tokens[i..i+n-1] joined
    by a space for every window position, distinct, order-preserving.

    Implementation note: this was first written as pure column
    expressions (`transform(sequence(...), slice+array_join)`), but
    Catalyst evaluates higher-order functions interpreted, not
    codegen'd — ~12 s for 5k docs. The mapInPandas version is <1 s
    and still a narrow Arrow-batched pass, so it scales the same way.
    """
    import re

    non_alpha = re.compile(r"[^a-z\s]")
    ws = re.compile(r"\s+")

    def gen(batches):
        for pdf in batches:
            out = []
            for text in pdf[text_col]:
                toks = ws.sub(" ", non_alpha.sub("", (text or "").lower())).strip().split(" ")
                if toks == [""]:
                    toks = []
                k = max(len(toks) - n, 0)
                seen: dict[str, None] = {}
                for i in range(k + 1):
                    seen[" ".join(toks[i : i + n])] = None
                out.append(list(seen))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], out_col: out})

    return docs.select("doc_id", text_col).mapInPandas(
        gen, f"doc_id long, {out_col} array<string>"
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.4,
    max_df: int | None = None,
    shingles_df: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for all pairs above threshold,
    via inverted-index join (no cross join anywhere).

    |A∩B| from the shingle self-join; |A∪B| = |A|+|B|−|A∩B|.
    `max_df` drops shingles present in more than that many docs (skew
    cap — a stopword-ish shingle otherwise produces a quadratic
    posting list at scale).

    The shingle set feeds three plan branches (posting a-side, b-side,
    sizes); without materialization Spark recomputes the generation
    per branch — 3× the dominant cost. `localCheckpoint` computes it
    once and, unlike `persist`, its storage is released by the
    ContextCleaner when the DataFrame is garbage collected (persist
    pins the plan in the CacheManager for the session's lifetime). At
    100 TB materialize to a temp parquet instead.

    `shingles_df`: a pre-materialized (doc_id, shingles) frame to use
    instead of re-shingling — callers that run several pair
    generators over one corpus (the dedup-index eval) shingle once
    and share; pass it already lineage-cut.
    """
    sh = (
        shingles_df
        if shingles_df is not None
        else shingles(docs, text_col, n).transform(cut_lineage)
    )
    sizes = sh.select("doc_id", F.size("shingles").alias("n_sh"))
    posting = sh.select("doc_id", F.explode("shingles").alias("shingle"))
    if max_df is not None:
        # Broadcast the HOT set (df > cut) and anti-join: hot shingles
        # are few by definition (that's why they're dropped), while the
        # rare set is ~the whole vocabulary — broadcasting the rare
        # side doubled this query's bench time in round 2.
        hot = (
            posting.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > max_df)
            .select("shingle")
        )
        posting = posting.join(F.broadcast(hot), "shingle", "left_anti")
    a = posting.alias("a")
    b = posting.alias("b")
    common = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    return (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast("double"),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "n_common", "jaccard")
    )


def winnowing_fingerprints(
    docs: DataFrame,
    text_col: str = "text",
    k: int = 4,
    w: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken —
    the MOSS algorithm): hash every k-token gram, slide a w-hash
    window, select each window's minimum hash (rightmost position on
    ties), and keep the distinct (position, hash) selections.

    Guarantee: any shared run of w+k-1 tokens between two documents
    yields at least one IDENTICAL selected fingerprint — so matching
    fingerprints find local plagiarism/quotation that whole-doc
    minhash dilutes away, with density ~2/(w+1) selections per gram
    instead of every gram.

    Output per doc: n_grams, n_selected, and `fp_md5` — md5 over the
    sorted selection set — so the oracle hash pins the EXACT
    fingerprint set, not just its size.

    Plan shape: zero exchanges — one narrow pass of array expressions
    (token array and gram-hash array are materialized as named columns
    FIRST; referencing the expression inside `transform` lambdas would
    re-evaluate it per element — the `ngram_diversity` lesson). Hashes
    are md5 hex strings compared lexicographically: a total order both
    engines share with zero numeric conversion. Per-row cost is
    O(n_grams · w) with w = 4 constant.
    """
    empty = F.array().cast("array<string>")
    d = docs.select(
        "doc_id", F.split(_canonical(F.col(text_col)), " ").alias("_toks")
    )
    d = d.withColumn(
        "_toks",
        F.when(
            (F.size("_toks") == 1) & (F.element_at("_toks", 1) == ""), empty
        ).otherwise(F.col("_toks")),
    )
    d = d.withColumn(
        "_hs",
        F.when(
            F.size("_toks") >= k,
            F.transform(
                F.sequence(F.lit(1), F.size("_toks") - (k - 1)),
                lambda i: F.md5(F.array_join(F.slice("_toks", i, k), " ")),
            ),
        ).otherwise(empty),
    )
    # per window i (1-based): slice s = hs[i .. i+w-1], m = min(s),
    # selected position = rightmost argmin = i + w - pos(reverse(s), m)
    sel = F.transform(
        F.sequence(F.lit(1), F.size("_hs") - (w - 1)),
        lambda i: F.concat(
            F.lpad(
                (
                    i
                    + w
                    - F.array_position(
                        F.reverse(F.slice("_hs", i, w)),
                        F.array_min(F.slice("_hs", i, w)),
                    )
                ).cast("string"),
                6,
                "0",
            ),
            F.lit(":"),
            F.array_min(F.slice("_hs", i, w)),
        ),
    )
    d = d.withColumn(
        "_fps",
        F.when(F.size("_hs") >= w, F.array_distinct(sel)).otherwise(empty),
    )
    return d.select(
        "doc_id",
        F.size("_hs").cast("long").alias("n_grams"),
        F.size("_fps").cast("long").alias("n_selected"),
        F.md5(F.array_join(F.array_sort("_fps"), ",")).alias("fp_md5"),
    )


def containment_pairs(
    docs: DataFrame,
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
    shingles_df: DataFrame | None = None,
) -> DataFrame:
    """ASYMMETRIC near-dup detection: shingle containment
    |A∩B| / |A| — the Broder containment coefficient.

    Jaccard misses doc-in-doc duplication: a paragraph quoted inside
    a 100× larger page has Jaccard ≈ 0.01 but containment ≈ 1.0 from
    the small side. That direction is exactly what eval-set
    decontamination and quote/boilerplate detection need (GPT-3's
    n-gram overlap decontamination is containment-shaped, not
    Jaccard-shaped). Emits one row per ordered-candidate pair with
    BOTH directions (`containment_ab` = fraction of A inside B,
    `containment_ba`), keeping pairs where either direction clears
    `threshold`.

    Same inverted-index join as `ngram_jaccard_pairs` — posting-list
    equi-join, df-cut skew cap, no cross join — so the scale shape is
    identical: Σ posting-list², never n².
    """
    sh = (
        shingles_df
        if shingles_df is not None
        else shingles(docs, text_col, n).transform(cut_lineage)
    )
    sizes = sh.select("doc_id", F.size("shingles").alias("n_sh"))
    posting = sh.select("doc_id", F.explode("shingles").alias("shingle"))
    if max_df is not None:
        hot = (
            posting.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > max_df)
            .select("shingle")
        )
        posting = posting.join(F.broadcast(hot), "shingle", "left_anti")
    a = posting.alias("a")
    b = posting.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    out = (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_common",
            F.round(F.col("n_common") / F.col("n_a").cast("double"), 6).alias(
                "containment_ab"
            ),
            F.round(F.col("n_common") / F.col("n_b").cast("double"), 6).alias(
                "containment_ba"
            ),
        )
    )
    # threshold on the integer cross-multiplication, not the rounded
    # double: n_common / n_a >= t  <=>  n_common * 1e6 >= t*1e6 * n_a
    # for the 6-dp thresholds used here — engine-exact either way, but
    # integers leave nothing to rounding rules
    t_micro = int(round(threshold * 1_000_000))
    return out.filter(
        (F.col("n_common") * 1_000_000 >= t_micro * F.col("n_a"))
        | (F.col("n_common") * 1_000_000 >= t_micro * F.col("n_b"))
    )


def minhash_signatures(
    docs: DataFrame,
    text_col: str = "text",
    n: int = 3,
    n_hashes: int = 64,
    bands: int | None = None,
    shingles_df: DataFrame | None = None,
) -> DataFrame:
    """MinHash signature (and optional LSH band hashes) per doc, one
    Arrow-batched numpy pass.

    sig[h] = min over shingles of π_h(H(shingle)) where H = first 8
    bytes of blake2b (stable across runs/engines) and π_h(x) =
    (a_h·x + b_h) mod 2⁶¹−1 — the classic affine permutation family,
    seeded deterministically. Shingle hashes are memoized per batch
    (corpora repeat shingles heavily) and all `n_hashes` permutations
    apply as one (n_shingles × 1)·(1 × n_hashes) numpy broadcast.
    With `bands`, each band's rows are FNV-folded into one int64 in
    the same pass (output column `bands`, array<long>).

    Was 64 interpreted `transform(...xxhash64)` column expressions
    plus 16 more for banding — Catalyst evaluates higher-order
    functions uncodegen'd, which made signature+band hashing the
    dominant cost of minhash_lsh_pairs (same lesson as `shingles`);
    the numpy pass is a narrow map, no shuffle, and scales identically.
    """
    import numpy as np

    from demo_flink_spark.operators.fasthash import md5_u64_batch

    if bands is not None and (bands <= 0 or n_hashes % bands):
        # a remainder would silently leave signature rows out of every band
        raise ValueError(f"bands={bands} must divide n_hashes={n_hashes}")
    sh = shingles_df if shingles_df is not None else shingles(docs, text_col, n)
    p = np.uint64(MINHASH_P)
    a_list, b_list = minhash_params(n_hashes)
    a = np.array(a_list, dtype=np.uint64)
    b = np.array(b_list, dtype=np.uint64)
    empty_sig = (b % p).astype(np.int64)  # doc with no shingles

    out_schema = "doc_id long, signature array<long>, shingles array<string>"
    if bands is not None:
        out_schema += ", bands array<long>"
    rows_per_band = None if bands is None else n_hashes // bands

    def band_fold_batch(sig_rows: list) -> "np.ndarray":
        # engine-portable band key: md5 of "bandIdx:v0,v1,..." over the
        # band's signature rows, reduced into a non-negative int64 —
        # any SQL engine with md5 reproduces it (DuckDB:
        # md5_number_upper(...) % 2^63). r15: the strings are still
        # built per (doc, band) — f-string formatting of the plain-int
        # rows beat numpy 'U' concatenation by 4x here — but hashed in
        # ONE md5 batch instead of a hashlib call each (guide §4.2).
        n_docs = len(sig_rows)
        r = rows_per_band
        enc = [
            (
                "%d:" % j
                + ",".join(map(str, row[j * r : (j + 1) * r]))
            ).encode()
            for row in sig_rows
            for j in range(bands)
        ]
        folded = md5_u64_batch(enc) & np.uint64((1 << 63) - 1)
        return folded.astype(np.int64).reshape(n_docs, bands)

    def sign(batches):
        for pdf in batches:
            # The permutation value depends only on the shingle hash,
            # and corpora repeat shingles heavily — so compute the
            # affine ONCE per distinct shingle in the chunk ((V, 64),
            # V = chunk vocabulary) and per-doc take a gather +
            # segment-min. A flat per-occurrence pass materialized
            # (N_occurrences, 64) uint64 intermediates — gigabytes per
            # chunk at sf0.1, which was 10x slower than this, not
            # faster. Memo is per Arrow batch, not per partition: a
            # partition-lifetime vocabulary would grow unboundedly.
            # r15 vectorization (guide §4.2): the per-occurrence dict
            # loop is pd.factorize (C hash table), the per-distinct
            # hashlib.md5 loop is one md5_u64_batch call, and the
            # per-doc min loop is one np.minimum.reduceat — outputs
            # byte-identical to the loop kernel (receipt:
            # tests/test_round15_opt.py twin-kernel proof).
            lists = list(pdf["shingles"])
            n_docs = len(lists)
            lens = np.array(
                [0 if sl is None else len(sl) for sl in lists], dtype=np.int64
            )
            sig_mat = np.tile(empty_sig, (n_docs, 1))
            nonempty = np.flatnonzero(lens > 0)
            if len(nonempty):
                flat = np.concatenate([lists[i] for i in nonempty])
                codes, uniques = pd.factorize(flat)
                # md5 first-8-bytes little-endian mod p — equals
                # DuckDB's md5_number_upper(s) % p
                hs = md5_u64_batch([s.encode() for s in uniques]) % p
                # overflow-free (a*x+b) mod p: any engine with 128-bit
                # integers reproduces it directly. Cache-blocked in
                # 2048-hash slices so the sweep's intermediates stay
                # in L2 (~1 MB/slice) instead of streaming (V, 64)
                # arrays through memory — 2x on top of the in-place
                # folds, same outputs.
                aff = np.empty((len(hs), n_hashes), dtype=np.int64)
                for lo in range(0, len(hs), 2048):
                    sl = hs[lo : lo + 2048]
                    aff[lo : lo + len(sl)] = _modp_affine(
                        sl[:, None], a[None, :], b[None, :]
                    ).astype(np.int64)
                ne_lens = lens[nonempty]
                bounds = np.concatenate(([0], np.cumsum(ne_lens)))
                # per-doc segment-min in one reduceat per 512-doc
                # slice: bounds the gathered (occurrences, n_hashes)
                # intermediate to ~15 MB however large the Arrow
                # batch, instead of materializing it whole
                for dlo in range(0, len(nonempty), 512):
                    dhi = min(dlo + 512, len(nonempty))
                    seg = aff[codes[bounds[dlo] : bounds[dhi]]]
                    sig_mat[nonempty[dlo:dhi]] = np.minimum.reduceat(
                        seg, bounds[dlo:dhi] - bounds[dlo]
                    )
            sig_rows = sig_mat.tolist()
            out = {
                "doc_id": pdf["doc_id"],
                "signature": sig_rows,
                "shingles": pdf["shingles"],
            }
            if bands is not None:
                out["bands"] = band_fold_batch(sig_rows).tolist()
            yield pd.DataFrame(out)

    return sh.mapInPandas(sign, out_schema)


def minhash_lsh_pairs(
    docs: DataFrame,
    text_col: str = "text",
    n: int = 3,
    n_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.4,
    shingles_df: DataFrame | None = None,
    bucket_cap: int | None = None,
    overflow: str = "star",
    signatures_df: DataFrame | None = None,
) -> DataFrame:
    """MinHash + LSH near-dup pairs, verified with exact Jaccard.

    Banding: 16 bands × 4 rows → candidate iff some band matches
    (s-curve threshold ≈ (1/16)^(1/4) ≈ 0.5). Candidates come from an
    equi-join on (band_idx, band_hash) — sub-quadratic; verification
    recomputes exact Jaccard on the shingle sets so the output has no
    false positives (LSH misses stay missed: documented recall trade).

    bucket_cap — the band-bucket WIDTH GUARD (VERDICT r11 #1). The
    band equi-join emits k(k-1)/2 candidate rows from a bucket of k
    docs BEFORE distinct: a real crawl corpus's near-identical
    template cluster (boilerplate pages differing by a token — NOT
    collapsed by exact dedup) puts its whole membership into shared
    band buckets, so one k=100k cluster alone emits ~5x10^9 rows.
    With bucket_cap=C set, buckets of width <= C run the normal
    all-pairs join unchanged — PROVABLY so: the pytest asserts a cap
    no bucket exceeds leaves the output byte-identical. Buckets wider
    than C are routed per `overflow`:
      - "star" (default): each member pairs with the bucket's MIN
        doc_id only — Theta(k) rows instead of Theta(k^2). Pair-level
        recall inside the pathological bucket narrows to the rep's
        star, but CLUSTER-level recall is what dedup consumes
        (connected_components + keep-one), and the star spans the
        bucket: when the bucket is a genuine mutual-near-dup template
        cluster every rep-member pair passes exact-Jaccard
        verification and the component survives intact. Verification
        is unchanged, so precision stays 1 by construction. Caveat:
        cluster recall is preserved only when rep-member pairs clear
        the Jaccard threshold — an over-cap bucket that is a mere
        HASH-COLLISION crowd (not a genuine template cluster) can
        lose an A-B pair entirely when both co-occur only there and
        neither resembles the rep; run `lsh_bucket_stats` first to
        confirm over-cap buckets are real template clusters.
      - "drop": over-cap buckets contribute no candidates (the
        flag-and-skip production policy); pair them with
        `lsh_bucket_stats` to monitor what was dropped.
    Both policies are deterministic and exactly reproduced by the
    DuckDB oracle (plans/dedup.py::_minhash_lsh_oracle(cap=...,
    overflow=...)); the DECLARED capped query uses the drop policy
    because its verified output diverges from the unguarded query's
    at the driver's sf0.01 (the star policy's does not, on this
    fixture — VERDICT r12 #1), so the driver hash genuinely pins the
    overflow routing. Default None preserves the unguarded join.

    signatures_df short-circuits the signature computation with a
    pre-built (doc_id, shingles, bands) frame — the corpus-build
    pattern where one materialized signature table feeds every dedup
    pass (plans/dedup.py::_shared_minhash_sigs is the session-memo
    equivalent). The caller owns its persistence.
    """
    if overflow not in ("star", "drop"):
        raise ValueError(f"overflow must be 'star' or 'drop', got {overflow!r}")
    if signatures_df is not None:
        sigs = signatures_df
    else:
        # localCheckpoint: signatures+shingles feed the band explode
        # AND both sides of the verification join — recomputing 64
        # minhashes 3× dominates otherwise (storage is GC-released,
        # unlike persist). Project to the consumed columns FIRST:
        # this path never reads the raw 64-long `signature` column,
        # and a checkpoint materializes every column it is handed —
        # 512 dead bytes/doc (~1.3 GB at 2.56M docs, measured as the
        # dominant stage of the template probe's top cells).
        sigs = minhash_signatures(
            docs, text_col, n, n_hashes, bands=bands, shingles_df=shingles_df
        ).select("doc_id", "shingles", "bands").transform(cut_lineage)
    banded = sigs.select(
        "doc_id", F.posexplode("bands").alias("band_idx", "band_hash")
    )

    def _band_pairs(frame: DataFrame) -> DataFrame:
        """The band equi-join, shared verbatim by the guarded and
        unguarded branches so they cannot silently diverge."""
        a, b = frame.alias("a"), frame.alias("b")
        return a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        ).select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )

    if bucket_cap is not None:
        from pyspark.sql.window import Window

        # One window pass tags every banded row with its bucket's
        # width and representative (min doc_id): a single shuffle on
        # the SAME key the candidate join uses — no second exchange,
        # no groupBy+join round trip. At cluster scale this is the
        # standard pre-aggregation a skew guard costs.
        wspec = Window.partitionBy("band_idx", "band_hash")
        tagged = banded.select(
            "doc_id",
            "band_idx",
            "band_hash",
            F.count(F.lit(1)).over(wspec).alias("_w"),
            F.min("doc_id").over(wspec).alias("_rep"),
        ).transform(cut_lineage)
        narrow = tagged.filter(F.col("_w") <= bucket_cap).select(
            "doc_id", "band_idx", "band_hash"
        )
        pair_cands = _band_pairs(narrow)
        if overflow == "star":
            # rep = bucket min, so doc_a < doc_b holds by construction
            star = tagged.filter(
                (F.col("_w") > bucket_cap) & (F.col("doc_id") != F.col("_rep"))
            ).select(
                F.col("_rep").alias("doc_a"), F.col("doc_id").alias("doc_b")
            )
            candidates = pair_cands.unionByName(star).distinct()
        else:
            candidates = pair_cands.distinct()
    else:
        candidates = _band_pairs(banded).distinct()
    sh = sigs.select("doc_id", "shingles")
    verified = (
        candidates.join(sh.withColumnsRenamed({"doc_id": "doc_a", "shingles": "sh_a"}), "doc_a")
        .join(sh.withColumnsRenamed({"doc_id": "doc_b", "shingles": "sh_b"}), "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.size(F.array_union("sh_a", "sh_b")).cast("double"),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return verified.select("doc_a", "doc_b", "jaccard")


def lsh_bucket_stats(
    docs: DataFrame,
    text_col: str = "text",
    n: int = 3,
    n_hashes: int = 64,
    bands: int = 16,
    bucket_cap: int | None = None,
    shingles_df: DataFrame | None = None,
    signatures_df: DataFrame | None = None,
) -> DataFrame:
    """Band-bucket width distribution of the LSH index — the
    monitoring view that sizes (and then watches) `bucket_cap`.

    One row: bucket count, max/mean width, the candidate-pair volume
    the band join would emit (sum of w*(w-1)/2 — the number that
    explodes under a template cluster; kept in exact integer
    arithmetic, since the product of consecutive ints is even and a
    double-typed sum would silently lose precision past 2^53 — the
    extreme-scale regime this metric exists to measure), and, when
    `bucket_cap` is given, how many buckets sit over the cap plus how
    many DISTINCT docs they touch (the "flagged" half of the
    cap-or-flag mitigation; distinct, because one template cluster
    overflows in ~all `bands` bands and a per-membership sum would
    over-report affected docs by up to that factor). Run it on a
    sample before a full dedup pass: max_width tells you whether the
    corpus has a degenerate near-dup cluster and how big; candidate
    volume tells you what the unguarded join would pay for it.

    `signatures_df` short-circuits the signature build with a
    pre-built (doc_id, .., bands) frame — same contract as
    `minhash_lsh_pairs`. Without it, the signature stage is cut
    below the fan-out: with `bucket_cap` set, `banded` feeds the
    widths aggregate AND the over-cap membership join, and `widths`
    feeds the stats row AND that join's filter — an uncut lineage
    would re-run the Arrow minhash UDF pass once per consumer
    (ADVICE r12), 3x the dominant cost of what is meant to be a
    cheap pre-pass on a sample.
    """
    if signatures_df is not None:
        sigs = signatures_df
    else:
        sigs = minhash_signatures(
            docs, text_col, n, n_hashes, bands=bands, shingles_df=shingles_df
        ).select("doc_id", "bands")
    banded = sigs.select(
        "doc_id", F.posexplode("bands").alias("band_idx", "band_hash")
    )
    if bucket_cap is not None:
        # banded feeds the widths aggregate AND the over-cap join;
        # widths feeds the stats row AND that join's filter — cut so
        # the signature/explode stage runs once, not per consumer
        # (the uncapped path below is linear and needs no cut)
        banded = banded.transform(cut_lineage)
    widths = banded.groupBy("band_idx", "band_hash").agg(
        F.count(F.lit(1)).alias("w")
    )
    if bucket_cap is not None:
        widths = widths.transform(cut_lineage)
    cap = F.lit(bucket_cap) if bucket_cap is not None else None
    aggs = [
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
        F.max("w").cast("long").alias("max_width"),
        F.round(F.avg("w"), 6).alias("mean_width"),
        # integer DIV: exact for any long w (w*(w-1) is even)
        F.sum(F.expr("w * (w - 1) DIV 2")).cast("long").alias("candidate_pairs"),
    ]
    if cap is None:
        return widths.agg(*aggs)
    stats = widths.agg(
        *aggs,
        F.sum((F.col("w") > cap).cast("long")).alias("n_over_cap"),
    )
    over_docs = (
        banded.join(
            widths.filter(F.col("w") > cap).select("band_idx", "band_hash"),
            ["band_idx", "band_hash"],
        )
        .agg(F.countDistinct("doc_id").cast("long").alias("docs_in_over_cap"))
    )
    # two 1-row aggregates -> one stats row (the repo's broadcast
    # crossJoin idiom for combining scalar aggregates)
    return stats.crossJoin(F.broadcast(over_docs))


@F.pandas_udf(LongType())
def _simhash64(token_lists: pd.Series) -> pd.Series:
    """64-bit SimHash from token lists (Arrow-batched, numpy bit-fold).

    Per-token 64-bit hash = first 8 bytes of blake2b (stable across
    runs/machines, unlike Python's salted hash()); bit j of the
    fingerprint = majority vote of token-hash bit j. Token hashes are
    memoized per batch (corpora repeat tokens heavily) and the 64-bit
    unpack/vote runs as one numpy broadcast per document.
    """
    import numpy as np

    memo: dict[str, int] = {}
    shifts = np.arange(64, dtype=np.uint64)

    def token_hash(t: str) -> int:
        # first 8 md5 bytes, little-endian == DuckDB's
        # md5_number_upper(t) — an engine-portable 64-bit token hash,
        # which is what lets the simhash queries carry value-hash
        # oracles (any strong 64-bit hash works equally for simhash)
        h = memo.get(t)
        if h is None:
            h = int.from_bytes(hashlib.md5(t.encode()).digest()[:8], "little")
            memo[t] = h
        return h

    def simhash(tokens) -> int:
        if tokens is None or len(tokens) == 0:
            return 0
        hs = np.array([token_hash(t) for t in tokens], dtype=np.uint64)
        bits = (hs[:, None] >> shifts) & np.uint64(1)  # (n_tokens, 64)
        votes = 2 * bits.astype(np.int64).sum(axis=0) - len(hs)
        v = int(((votes > 0).astype(np.uint64) << shifts).sum())
        # two's-complement into signed int64 for Spark LongType
        return v - (1 << 64) if v >= (1 << 63) else v

    return token_lists.map(simhash)


def simhash_fingerprints(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """SimHash fingerprint per document."""
    tokens = F.split(_canonical(F.col(text_col)), " ")
    return docs.select("doc_id", _simhash64(tokens).alias("simhash"))


def simhash_pairs(
    docs: DataFrame, text_col: str = "text", max_hamming: int = 3
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance ≤ k, found via
    chunk-banding, verified with bit_count(a XOR b) — equi-join, no
    cross join.

    Pigeonhole guarantee: splitting 64 bits into C chunks finds every
    pair with d ≤ C−1 (d bit-flips can't touch all C chunks). The
    chunk count adapts to `max_hamming`: smallest of {4, 8, 16, 32}
    with C > max_hamming. More chunks = wider candidate net = more
    verification work — the standard recall/cost dial.
    """
    if not 0 <= max_hamming < 32:
        raise ValueError(
            f"max_hamming must be in [0, 31] (got {max_hamming}): the 32-chunk "
            "banding ceiling only guarantees completeness up to distance 31"
        )
    n_chunks = next(c for c in (4, 8, 16, 32) if c > max_hamming)
    width = 64 // n_chunks
    mask = (1 << width) - 1
    # localCheckpoint: fingerprints feed both sides of the chunk
    # self-join (storage GC-released, unlike persist)
    fp = simhash_fingerprints(docs, text_col).transform(cut_lineage)
    chunks = F.array(
        *[
            F.shiftrightunsigned(F.col("simhash"), width * c)
            .bitwiseAND(F.lit(mask))
            for c in range(n_chunks)
        ]
    )
    banded = fp.select(
        "doc_id", "simhash", F.posexplode(chunks).alias("chunk_idx", "chunk_val")
    )
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
            & (F.col("a.chunk_val") == F.col("b.chunk_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).cast("long").alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def fuzzy_pairs_levenshtein(
    docs: DataFrame,
    text_col: str = "text",
    prefix_len: int = 12,
    cmp_len: int = 80,
    max_dist: int = 10,
) -> DataFrame:
    """Edit-distance near-dup pairs via prefix blocking.

    Candidate generation is an equi-join on the first `prefix_len`
    chars of the canonical text (same normalization as `exact_dedup`);
    the Levenshtein check runs only within blocks and only on the
    first `cmp_len` chars, with Spark's threshold form so the DP
    matrix early-exits past `max_dist`. Complements the shingle-based
    finders: edit distance catches character-level noise (OCR
    errors, typo variants) that word-level Jaccard dilutes.

    Scale: cost is Σ block² — prefix blocking assumes near-dups share
    their opening characters (true for crawl/OCR dup classes; NOT for
    prepended-boilerplate dups — route those through minhash). A
    degenerate hot block (common boilerplate opening) is capped the
    same way as ngram's df-cut: drop blocks larger than `max_block`
    upstream if the corpus needs it.
    """
    base = (
        docs.select(
            "doc_id",
            _canonical(F.col(text_col)).alias("canon"),
        )
        .select(
            "doc_id",
            F.substring("canon", 1, prefix_len).alias("blk"),
            F.substring("canon", 1, cmp_len).alias("probe"),
        )
        .transform(cut_lineage)  # self-join below: scan/normalize once
    )
    a = base.alias("a")
    b = base.alias("b")
    dist = F.levenshtein(F.col("a.probe"), F.col("b.probe"), max_dist)
    return (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            dist.cast("long").alias("dist"),
        )
        # threshold form returns -1 when the distance exceeds max_dist
        .filter((F.col("dist") >= 0) & (F.col("dist") <= max_dist))
    )


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two float-array columns, accumulated in
    double, left-to-right (deterministic, engine-portable)."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    na = F.aggregate(
        F.transform(a, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    nb = F.aggregate(
        F.transform(b, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return dot / (F.sqrt(na) * F.sqrt(nb))


def embedding_neardup_pairs(
    emb: DataFrame,
    vec_col: str = "embedding",
    threshold: float = 0.9,
    n_blocks: int | None = None,
    rows_per_block: int = 4096,
) -> DataFrame:
    """Embedding near-dup: all pairs with cosine ≥ threshold, via
    block-pair grid GEMM — fully distributed, nothing on the driver.

    Grid partitioning: each vector lands in block b = hash(id) % B;
    every unordered block pair (i ≤ j) is one task. A row is exploded
    into the B pairs it participates in, groupBy(pair) shuffles, and
    `applyInPandas` runs one float64 GEMM per pair over ≤ 2·n/B
    vectors. Exact all-pairs cost n² is inherent to the operator;
    per-task memory is a B choice, not a driver OOM — unlike the
    previous broadcast variant, which `toPandas()`'d the whole corpus
    (VERDICT r1 §wrong item 1). The hash block assignment is skew-free
    by construction.

    Choosing B trades shuffle volume against task memory: replication
    factor is B, block size is n/B, per-task memory ≈ 2·(n/B)·dim·8
    bytes. The default B = √(n/rows_per_block) MINIMIZES total shuffle
    (n·B rows) but lets block size grow as √(n·rows_per_block) — at
    n = 10⁹ that is ~2M vectors/block, too big for one task. Past
    ~10⁷ vectors pass n_blocks explicitly (n_blocks ≥ n·dim·16 /
    task_memory_budget) — or better, don't run exact all-pairs at
    that scale at all: route candidates through SRP-LSH
    (`operators.similarity.cosine_topk_srp_lsh`) — s-curve recall
    instead of exact, but Σ bucket² instead of n² work.

    `n_blocks` defaults from a corpus count (parquet-metadata read);
    pass it explicitly to skip the count.
    """
    import numpy as np

    base = emb.select("vec_id", vec_col)
    if n_blocks is None:
        n = base.count()
        n_blocks = max(1, int(np.ceil(np.sqrt(n / max(rows_per_block, 1)))))
    nb = n_blocks

    blk = F.pmod(F.xxhash64(F.col("vec_id")), F.lit(nb)).cast("int")
    # pair id for the unordered block pair {b, o}: min*B + max — each
    # row appears once per pair it can participate in (B pairs, incl.
    # its own diagonal block once)
    pair_ids = F.array(
        *[
            F.least(F.col("blk"), F.lit(o)) * nb
            + F.greatest(F.col("blk"), F.lit(o))
            for o in range(nb)
        ]
    )
    tagged = base.withColumn("blk", blk).select(
        "vec_id", vec_col, "blk", F.explode(pair_ids).alias("pid")
    )

    # the GEMM prunes with a small slack; survivors are re-scored with
    # the expression-based `cosine` (sequential left-to-right adds —
    # bit-identical in any engine) and re-filtered at the TRUE
    # threshold. numpy's pairwise/BLAS summation differs from a
    # sequential sum in the last ulps, so both the >= threshold
    # membership and the rounded score would otherwise be
    # boundary-fragile cross-engine; rescoring costs one join over
    # OUTPUT-sized data only.
    slack = 1e-9

    def gemm(pdf: pd.DataFrame) -> pd.DataFrame:
        pid = int(pdf["pid"].iloc[0])
        i, j = pid // nb, pid % nb
        ids = pdf["vec_id"].to_numpy()
        mat = np.array(list(pdf[vec_col]), dtype=np.float64)
        mat /= np.linalg.norm(mat, axis=1, keepdims=True)
        if i == j:
            sims = mat @ mat.T
            ia, ib = np.nonzero(sims >= threshold - slack)
            keep = ids[ia] < ids[ib]  # upper triangle once
            out_a, out_b = ids[ia[keep]], ids[ib[keep]]
        else:
            side = pdf["blk"].to_numpy() == i
            ida, idb = ids[side], ids[~side]
            sims = mat[side] @ mat[~side].T
            ia, ib = np.nonzero(sims >= threshold - slack)
            a, b = ida[ia], idb[ib]
            out_a, out_b = np.minimum(a, b), np.maximum(a, b)
        return pd.DataFrame({"id_a": out_a, "id_b": out_b})

    candidates = tagged.groupBy("pid").applyInPandas(
        gemm, "id_a long, id_b long"
    )
    ea = base.select(F.col("vec_id").alias("id_a"), F.col(vec_col).alias("_va"))
    eb = base.select(F.col("vec_id").alias("id_b"), F.col(vec_col).alias("_vb"))
    rescored = (
        candidates.join(ea, "id_a")
        .join(eb, "id_b")
        .withColumn("_cos", cosine(F.col("_va"), F.col("_vb")))
        .filter(F.col("_cos") >= threshold)
    )
    return rescored.select(
        "id_a", "id_b", F.round("_cos", 6).alias("cos")
    )


def connected_components(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 30,
) -> DataFrame:
    """Connected components of a pair graph: (node, comp), one row per
    node of `edges`, with comp = the component's minimum node id.

    Alternating large-star/small-star (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC 2014) needs O(log² n)
    rounds on any graph shape, long chains included. The state between
    rounds is the symmetric adjacency (u, nb), nb = u's sorted
    neighbour set, and each half-round is one shuffle:

    - large-star: with m = least(u, min(nb)), every larger neighbour
      v > u is pointed at m and the edges to smaller neighbours are
      kept; one groupBy(u) gathers each node's smaller neighbours S(u);
    - small-star: u and all of S(u) are joined to min(S(u)) in both
      orientations; one groupBy(u) gathers the next adjacency.

    The set aggregates dedup the edges, so no round runs a `distinct`.
    Each adjacency is cut lazily, and its count + bit_xor(xxhash64)
    signature is the round's first action. A signature equal to the
    previous round's only gates the exact left_anti check, so a
    colliding signature cannot fake convergence. Hitting `max_iter`
    raises rather than return labels that are not component minima;
    O(log² n) rounds means 30 covers any storable graph.

    Memory: at convergence each component is a star on its minimum,
    so the minimum's nb array holds its whole component in one row
    (8 bytes per member). The largest component must fit in one row.
    A row form (window dedup and running minimum, the same two
    shuffles) keeps no such array but ran 2.4x slower at 100k nodes
    (SCALING.md, cc mode).

    The result is a projection of the converged, materialized
    adjacency: counting it does not recompute the build. A self-pair
    (a, a) adds no edge, and a node seen only in self-pairs is its own
    component.
    """
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    e = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))

    def adjacency(uv: DataFrame) -> DataFrame:
        nb = F.array_sort(F.array_remove(F.collect_set("v"), F.col("u")))
        return uv.groupBy("u").agg(nb.alias("nb")).transform(cut_lineage_lazy)

    def star_round(adj: DataFrame) -> DataFrame:
        # m is a column so it is computed once per row: inside an array
        # lambda it would be re-evaluated per element, O(k²) on a hub
        larger = F.col("v") > F.col("u")
        large = (
            adj.withColumn("m", F.least("u", F.array_min("nb")))
            .select("u", "m", F.explode("nb").alias("v"))
            .select(
                F.when(larger, F.col("v")).otherwise(F.col("u")).alias("u"),
                F.when(larger, F.col("m")).otherwise(F.col("v")).alias("v"),
            )
        )
        # every large-star edge runs from its larger end u to v < u
        small = (
            large.groupBy("u").agg(F.collect_set("v").alias("s"))
            .withColumn("m", F.array_min("s"))
            .select("m", F.explode(F.concat("s", F.array("u"))).alias("x"))
            .filter(F.col("x") != F.col("m"))
            .select(F.inline(F.array(
                F.struct(F.col("x").alias("u"), F.col("m").alias("v")),
                F.struct(F.col("m").alias("u"), F.col("x").alias("v")),
            )))
        )
        return adjacency(small)

    def signature(adj: DataFrame):
        # bit_xor, not sum: a sum of xxhash64 can ARITHMETIC_OVERFLOW
        # under ANSI depending on the partial-sum order
        row = adj.agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(u, nb))").alias("h"),
        ).collect()[0]
        return row.n, row.h

    first = adjacency(e)
    cur, sig = first, signature(first)
    for _ in range(max_iter):
        nxt = star_round(cur)
        nxt_sig = signature(nxt)
        # one row per u on both sides: equal counts (in the signature)
        # and an empty one-way anti-join prove the adjacencies equal
        if nxt_sig == sig and nxt.join(cur, ["u", "nb"], "left_anti").isEmpty():
            break
        cur, sig = nxt, nxt_sig
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds: "
            "the star adjacency is still changing"
        )
    # every node is now adjacent to its component minimum; the nodes
    # with only self-pairs left the loop after the first adjacency
    return nxt.union(first.filter(F.size("nb") == 0)).select(
        F.col("u").alias("node"),
        F.least("u", F.array_min("nb")).alias("comp"),
    )


def substring_span_stats(
    docs: DataFrame, text_col: str = "text", k: int = 8
) -> DataFrame:
    """Exact-substring duplication signal: for every document, how many
    of its k-token windows also occur elsewhere in the corpus
    (including repeats inside the same document).

    This is the distributable core of exact-substring dedup (Lee et
    al., "Deduplicating Training Data Makes Language Models Better"):
    instead of a suffix array, hash every k-token rolling window and
    count occurrences of each hash corpus-wide. A window whose hash
    appears more than once is a duplicated span. Emits per document:
    (doc_id, n_spans, n_dup_spans, dup_frac); documents shorter than k
    tokens have no windows and drop out.

    Scale design: span generation is a narrow Arrow-batched pass
    (mapInPandas) emitting (doc_id, md5(span)) — the shuffle carries a
    32-char hash, never the span text. Corpus-wide occurrence counts
    come from a sort-free count window over the hash (one exchange;
    a groupBy + join back would exchange the spans on `h` twice),
    then one groupBy doc_id. md5 keeps the oracle engine-portable; at
    100 TB swap in xxhash64 for an 8-byte shuffle key and add a df-cut
    (spans in >p% of docs are boilerplate, not duplication signal).
    """
    import hashlib
    import re

    non_alpha = re.compile(r"[^a-z\s]")
    ws = re.compile(r"\s+")

    def gen(batches):
        for pdf in batches:
            doc_ids: list[int] = []
            hashes: list[str] = []
            for doc_id, text in zip(pdf["doc_id"], pdf[text_col]):
                toks = (
                    ws.sub(" ", non_alpha.sub("", (text or "").lower()))
                    .strip()
                    .split(" ")
                )
                if toks == [""]:
                    toks = []
                for i in range(len(toks) - k + 1):
                    doc_ids.append(doc_id)
                    hashes.append(
                        hashlib.md5(
                            " ".join(toks[i : i + k]).encode()
                        ).hexdigest()
                    )
            yield pd.DataFrame({"doc_id": doc_ids, "h": hashes})

    from pyspark.sql.window import Window

    spans = docs.select("doc_id", text_col).mapInPandas(
        gen, "doc_id long, h string"
    )
    # count(*) over (partition by h) with no frame/order: one shuffle
    # on the hash, no sort — vs two h-exchanges for a groupBy + join.
    counted = spans.withColumn(
        "cnt", F.count(F.lit(1)).over(Window.partitionBy("h"))
    )
    per_doc = counted.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum(F.when(F.col("cnt") > 1, 1).otherwise(0)).alias("n_dup_spans"),
    )
    return per_doc.select(
        "doc_id",
        "n_spans",
        "n_dup_spans",
        F.round(F.col("n_dup_spans") / F.col("n_spans"), 6).alias("dup_frac"),
    )


def remove_duplicate_spans(
    docs: DataFrame, text_col: str = "text", k: int = 8
) -> DataFrame:
    """Exact-substring dedup, the CONSUMING half of
    `substring_span_stats` (Lee et al.): delete every token covered by
    a k-token window whose hash occurs more than once corpus-wide
    (including repeats inside one document), and emit the cleaned
    canonical text. Returns one row per input document:
    (doc_id, n_tokens, n_removed, cleaned_text).

    Scale design — entirely JVM-side expressions, no Python:
    1. per-doc canonical token array (one narrow projection);
    2. window hashes via transform(sequence) + slice + md5 on the
       array — generated WITHOUT exploding the text, so the explode
       that follows carries (doc_id, pos, 32-char hash) only;
    3. duplicated windows via a count window over the hash (one
       exchange on h, no sort, same shape as substring_span_stats);
    4. covered-token positions by exploding each duplicated window
       into its k positions (k × dup-windows rows — proportional to
       the duplication actually found, not the corpus);
    5. one left join tokens⨝covered on (doc_id, pos) and a final
       groupBy doc_id reassembling kept tokens in order.
    Everything shuffles on 8-40-byte keys; the only wide rows are the
    final per-doc collect_list, which is bounded by document length.
    md5 keeps the span hash engine-portable (the DuckDB oracle
    recomputes identical hashes; at 100 TB swap xxhash64 for an
    8-byte key exactly as substring_span_stats documents).
    """
    toks = docs.select(
        "doc_id",
        F.filter(F.split(_canonical(F.col(text_col)), " "), lambda x: x != "").alias(
            "t"
        ),
    )
    tok = toks.select("doc_id", F.posexplode("t").alias("pos", "token"))
    win = toks.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"CASE WHEN size(t) >= {k} THEN "
                f"transform(sequence(0, size(t) - {k}), "
                f"i -> md5(array_join(slice(t, i + 1, {k}), ' '))) "
                "ELSE array() END"
            )
        ).alias("wpos", "h"),
    )
    from pyspark.sql.window import Window

    dup = win.withColumn(
        "cnt", F.count(F.lit(1)).over(Window.partitionBy("h"))
    ).filter(F.col("cnt") > 1)
    covered = (
        dup.select(
            "doc_id",
            F.explode(F.expr(f"sequence(wpos, wpos + {k} - 1)")).alias("pos"),
        )
        .distinct()
        .withColumn("rem", F.lit(True))
    )
    flagged = tok.join(covered, ["doc_id", "pos"], "left").select(
        "doc_id",
        "pos",
        "token",
        F.coalesce(F.col("rem"), F.lit(False)).alias("rem"),
    )
    per_doc = flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(F.col("rem").cast("long")).alias("n_removed"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(~F.col("rem"), F.struct("pos", "token"))
                    )
                ),
                lambda s: s["token"],
            ),
            " ",
        ).alias("cleaned_text"),
    )
    return docs.select("doc_id").join(per_doc, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
        F.coalesce("n_removed", F.lit(0)).alias("n_removed"),
        F.coalesce("cleaned_text", F.lit("")).alias("cleaned_text"),
    )


def cdc_chunk_stats(
    docs: DataFrame, text_col: str = "text", w: int = 4
) -> DataFrame:
    """Content-defined chunking dedup — the rsync/LBFS boundary trick
    applied to corpus dedup: chunk boundaries are placed where the
    hash of the trailing `w`-token window lands in a target range, so
    INSERTING OR DELETING TEXT ONLY RESHAPES THE CHUNKS AROUND THE
    EDIT — every chunk whose window contents are unchanged keeps its
    identity. Fixed-stride chunking (`chunk_documents`) loses all
    alignment after one inserted token; `substring_span_stats` is
    shift-robust but emits every overlapping window (k rows per
    token). CDC gives shift-robust dedup at ~1 row per chunk.

    Boundary rule (engine-portable): token position i ends a chunk iff
    the LAST hex char of md5(window of tokens i-w+1..i) is in
    {0,1,2,3} — P = 1/4, so the expected chunk is ~4 tokens; the final
    token always closes the last chunk. Per doc:
    (doc_id, n_chunks, n_dup_chunks, dup_chunk_frac) where a chunk is
    "dup" when its exact text occurs anywhere else in the corpus
    (including repeats inside the same document).

    Scale: boundary detection and chunk slicing are pure JVM array
    expressions per row (no UDF, no shuffle); the only exchange is the
    chunk-hash count — keyed on md5, uniformly distributed by
    construction, carrying ~n_tokens/4 rows. This is the operator an
    incremental 100 TB crawl re-run wants: re-scraped pages with small
    edits still dedup chunk-for-chunk.
    """
    # canonicalize ONCE into a named column before the boundary lambda
    # runs: expressions referenced inside higher-order functions are
    # re-evaluated per array element, so inlining the token split here
    # would re-run the canonicalization regexes once per token
    tok_df = docs.select(
        "doc_id",
        F.filter(
            F.split(_canonical(F.col(text_col)), " "),
            lambda x: F.length(x) > 0,
        ).alias("t"),
    )
    t = F.col("t")
    n = F.size(t)

    def is_boundary(i):
        window = F.array_join(F.slice(t, i - w + 2, w), " ")
        return F.substring(F.md5(window), 32, 1).isin("0", "1", "2", "3")

    bounds_raw = F.filter(
        F.sequence(F.lit(0), n - 1),
        lambda i: (i >= w - 1) & (i < n - 1) & is_boundary(i),
    )
    bounds = F.concat(bounds_raw, F.array(n - 1))
    toks = tok_df.select(
        "doc_id",
        F.when(n > 0, bounds).otherwise(F.array().cast("array<int>")).alias(
            "bounds"
        ),
        "t",
    )
    chunks = toks.select(
        "doc_id",
        "bounds",
        "t",
        F.posexplode_outer("bounds").alias("chunk_idx", "b"),
    ).select(
        "doc_id",
        "chunk_idx",
        F.md5(
            F.array_join(
                F.slice(
                    "t",
                    F.coalesce(F.get("bounds", F.col("chunk_idx") - 1), F.lit(-1))
                    + 2,
                    F.col("b")
                    - F.coalesce(
                        F.get("bounds", F.col("chunk_idx") - 1), F.lit(-1)
                    ),
                ),
                " ",
            )
        ).alias("chunk_hash"),
    )
    counts = chunks.filter(F.col("chunk_hash").isNotNull()).groupBy(
        "chunk_hash"
    ).agg(F.count(F.lit(1)).alias("cnt"))
    per_doc = (
        chunks.filter(F.col("chunk_hash").isNotNull())
        .join(counts, "chunk_hash")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_chunks"),
            F.sum((F.col("cnt") > 1).cast("long")).cast("long").alias(
                "n_dup_chunks"
            ),
        )
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_chunks", F.lit(0)).cast("long").alias("n_chunks"),
            F.coalesce("n_dup_chunks", F.lit(0))
            .cast("long")
            .alias("n_dup_chunks"),
            F.round(
                F.coalesce("n_dup_chunks", F.lit(0))
                / F.greatest(F.coalesce("n_chunks", F.lit(0)), F.lit(1)).cast(
                    "double"
                ),
                6,
            ).alias("dup_chunk_frac"),
        )
    )


def _check_components(
    comp: DataFrame,
    pairs: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
) -> DataFrame:
    """Guard the `components` trust boundary of the keep-policy
    resolvers: a caller-supplied label frame that does not correspond
    to `pairs` silently yields a WRONG keep/drop list (a paired doc
    with no label row is kept as its own canonical). The schema check
    is free and always on; the coverage check (SET equality — every
    paired node labeled exactly once, no labels for unpaired nodes,
    no duplicate label rows) runs one full-outer join + one aggregate
    (a single collect job), so it is gated behind
    SPARK_GRAFT_VALIDATE_COMPONENTS for tests/debug — the shipped
    plans all pass `connected_components(pairs)`-derived frames
    (plans/dedup.py::_shared_components), which satisfy it by
    construction.

    `src`/`dst` name the pair id columns (the
    `connected_components` convention by default) — selected by
    NAME, not position, so a pairs frame carrying extra leading
    columns (valid for the default path) validates against the
    right ids. Both resolvers forward their own `src`/`dst`, so
    non-default pair column names stay reachable; missing columns
    raise a clear ValueError here rather than an AnalysisException
    from deep inside the coverage join.
    """
    if set(comp.columns) != {"node", "comp"}:
        raise ValueError(
            "components frame must have exactly (node, comp) columns "
            f"(the connected_components(pairs) shape); got {comp.columns}"
        )
    missing = [c for c in (src, dst) if c not in pairs.columns]
    if missing:
        raise ValueError(
            f"pairs frame is missing id column(s) {missing} "
            f"(have {pairs.columns}); pass src=/dst= naming the "
            "pair id columns"
        )
    if os.environ.get("SPARK_GRAFT_VALIDATE_COMPONENTS"):
        # SET equality, not cardinality: a same-sized label frame over
        # DIFFERENT nodes (e.g. a memoized frame from another sf_dir
        # with an equal paired-node count) must fail here, and an
        # extra label row for an unpaired node would wrongly mark that
        # doc as dropped — so both directions are anti-joined.
        paired = (
            pairs.select(F.col(src).alias("node"))
            .union(pairs.select(F.col(dst).alias("node")))
            .distinct()
        )
        lab_counts = comp.groupBy("node").agg(F.count(F.lit(1)).alias("c"))
        # one full-outer join + one aggregate decides all three
        # violation classes in a single job (the anti-join-per-class
        # form recomputed `paired` and rescanned `comp` four times)
        row = (
            paired.select("node", F.lit(1).alias("p"))
            .join(lab_counts, "node", "full_outer")
            .agg(
                F.count(F.when(F.col("c").isNull(), 1)).alias("missing"),
                F.count(F.when(F.col("p").isNull(), 1)).alias("extra"),
                F.coalesce(F.sum(F.col("c") - 1), F.lit(0)).alias("dups"),
            )
            .collect()[0]
        )
        missing, extra, dups = row["missing"], row["extra"], row["dups"]
        if missing or extra or dups:
            raise ValueError(
                "components frame does not label the paired nodes of "
                f"`pairs` exactly once: {missing} paired nodes "
                f"unlabeled, {extra} labels for unpaired nodes, "
                f"{dups} duplicate label rows"
            )
    return comp


def dedup_keep_list(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    components: DataFrame | None = None,
    src: str = "doc_a",
    dst: str = "doc_b",
) -> DataFrame:
    """Resolve near-dup pairs into a keep/drop decision per document:
    (id, canonical_id, is_kept) where canonical = min id per component
    and docs in no pair keep themselves.

    This is the step that turns pair detection into an actual deduped
    corpus: downstream filters on `is_kept`. Components are usually
    tiny relative to the corpus, so the final join broadcasts them —
    but only while the component map fits the session's broadcast
    threshold (it is one row per paired node, which can grow with the
    corpus); past that it degrades to a shuffle join instead of an
    executor OOM. The count is ~free: `connected_components` returns a
    projection of its checkpoint-materialized final adjacency, so
    counting it reads cached blocks and never reruns the rounds.

    `components`: a pre-computed (node, comp) label frame for `pairs`
    — callers that run several resolution policies over one pair list
    (keep-min-id AND keep-longest) compute components once and share
    (plans/dedup.py::_shared_components); must be exactly
    `connected_components(pairs)`-shaped (schema-checked here; full
    node-coverage check under SPARK_GRAFT_VALIDATE_COMPONENTS —
    see `_check_components`). `src`/`dst` name the pair id columns
    and flow through both the component build and the guard.
    """
    comp = (
        _check_components(components, pairs, src=src, dst=dst)
        if components is not None
        else connected_components(pairs, src=src, dst=dst)
    )
    return docs.select(id_col).join(
        broadcast_if_small(comp, comp.count()),
        docs[id_col] == comp.node,
        "left",
    ).select(
        F.col(id_col),
        F.coalesce("comp", F.col(id_col)).alias("canonical_id"),
        (F.coalesce("comp", F.col(id_col)) == F.col(id_col)).alias("is_kept"),
    )


def semantic_dedup_cells(
    corpus: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_cells: int = 16,
    threshold: float = 0.92,
    seed: int = 42,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): k-means the embedding space into
    cells, then inside each cell mark every vector that sits within
    `threshold` cosine of a LOWER-id cell-mate as a semantic duplicate
    (the lowest id of each near-dup group survives — greedy-by-id, the
    paper's "keep one random point" with a deterministic choice).

    Returns (vec_id, cell, is_dup, max_prior_sim): max_prior_sim is
    the best cosine to any lower-id cell-mate, rounded to 6 dp so the
    output is stable run-to-run (the GEMM itself is deterministic:
    cells and in-cell order are fixed by the seeded quantizer and the
    id sort).

    Scale: the quantizer trains on a KB-scale hash-picked sample
    (`ivf_centroids` — same machinery as the IVF ANN index);
    assignment is one Arrow GEMM pass; the pairwise step is a per-cell
    BLAS GEMM via applyInPandas, quadratic ONLY within a cell. Pick
    n_cells ~ N/5k so cells stay ~10^3-10^4 vectors (SemDeDup used
    50k cells for LAION-440M) — then each cell's GEMM is ~ms and no
    task ever sees more than one cell. Cross-cell near-dups are missed
    by design (that's the approximation the paper accepts).
    """
    import numpy as np

    from demo_flink_spark.operators.similarity import ivf_assign, ivf_centroids

    cents = ivf_centroids(corpus, vec_col, n_cells, seed=seed, id_col=id_col)
    assign = ivf_assign(
        corpus.select(id_col, vec_col), vec_col, cents, id_col, nprobe=1
    )
    joined = corpus.select(id_col, vec_col).join(assign, id_col)

    def per_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col).reset_index(drop=True)
        mat = np.array(list(pdf[vec_col]), dtype=np.float64)
        mat /= np.linalg.norm(mat, axis=1, keepdims=True)
        sims = mat @ mat.T
        # best similarity to any lower-id row: strict lower triangle
        low = np.tril(sims, k=-1)
        low[np.triu_indices(len(pdf))] = -np.inf
        best = low.max(axis=1)
        best[0] = -np.inf  # first row has no prior
        return pd.DataFrame(
            {
                id_col: pdf[id_col],
                "cell": pdf["cell"],
                "is_dup": best >= threshold,
                "max_prior_sim": np.where(
                    np.isfinite(best), np.round(best, 6), None
                ),
            }
        )

    return joined.groupBy("cell").applyInPandas(
        per_cell, f"{id_col} long, cell int, is_dup boolean, max_prior_sim double"
    )


def dedup_keep_best(
    docs: DataFrame,
    pairs: DataFrame,
    score: Column,
    id_col: str = "doc_id",
    components: DataFrame | None = None,
    src: str = "doc_a",
    dst: str = "doc_b",
) -> DataFrame:
    """Cluster near-dup pairs and keep the BEST-scoring member of each
    cluster — the policy real corpus builds use when near-duplicates
    differ in completeness (keep the longest / highest-quality copy,
    not blindly the lowest id; `dedup_keep_list` is the min-id twin).

    (id, cluster_id, score, is_kept): cluster_id is the component's
    min label (stable cluster identity), is_kept marks the argmax by
    (score desc, id asc) — an explicit total order, so the choice is
    deterministic on any engine. Components broadcast while they fit
    the session's broadcast threshold (shuffle-join fallback past it,
    same rationale as `dedup_keep_list`); the winner is ONE
    cluster-keyed window. `components`: optional pre-computed label
    frame, same contract (and same `_check_components` guard) as
    `dedup_keep_list`, with `src`/`dst` flowing through the same
    two paths.
    """
    from pyspark.sql.window import Window

    comp = (
        _check_components(components, pairs, src=src, dst=dst)
        if components is not None
        else connected_components(pairs, src=src, dst=dst)
    )
    scored = (
        docs.select(F.col(id_col), score.alias("score"))
        .join(
            broadcast_if_small(comp, comp.count()),
            docs[id_col] == comp.node,
            "left",
        )
        .select(
            id_col,
            F.coalesce("comp", F.col(id_col)).alias("cluster_id"),
            "score",
        )
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("score"), F.asc(id_col)
    )
    return scored.withColumn(
        "is_kept", F.row_number().over(w) == 1
    )


def ppjoin_prefix_pairs(
    docs: DataFrame,
    text_col: str = "text",
    n: int = 3,
    threshold_num: int = 2,
    threshold_den: int = 5,
    shingles_df: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard pairs above threshold via PREFIX FILTERING
    (SSJoin/PPJoin family — Chaudhuri et al. 2006, Xiao et al. 2008):
    the LOSSLESS scale path, where `ngram_jaccard_pairs`' `max_df` cut
    is a documented approximation.

    Prefix-filter lemma: order every doc's shingles by a global total
    order (ascending document frequency, then shingle — rarest
    first). If J(A,B) >= t then |A∩B| >= ceil(t·|A|), and the
    GLOBALLY-SMALLEST common shingle must sit within the first
    |A| - ceil(t·|A|) + 1 shingles of A *and* the first
    |B| - ceil(t·|B|) + 1 of B — so indexing only those prefixes
    finds every qualifying pair. Hot (high-df) shingles land at the
    END of the order, so they fall out of most prefixes: the exact
    mechanism by which PPJoin kills the posting-list skew that
    `max_df` could only truncate.

    Exactness bookkeeping: the threshold is a RATIONAL
    (`threshold_num/threshold_den`), so ceil(t·n) is exact integer
    arithmetic — `(num·n + den - 1) div den` — on both engines (a
    float ceil can round the prefix a token short and silently drop
    pairs). Candidates are verified with the FULL shingle sets
    (array_intersect) and the final test is integer
    cross-multiplication: den·|A∩B| >= num·|A∪B|. The DuckDB oracle
    is the textbook full-posting-list join with the same integer
    test — pair-for-pair equality IS the losslessness proof.

    Two further EXACT PPJoin filters cut the candidate set before any
    verification work (both proved in Xiao et al. 2008; the oracle's
    pair-for-pair hash equality re-proves losslessness every run):
    - LENGTH filter: J(A,B) >= t forces t·|A| <= |B| <= |A|/t —
      applied inside the prefix join condition as integer
      cross-multiplies, so mismatched-size pairs never materialize;
    - POSITIONAL filter: the globally-smallest common shingle w is
      the smallest MATCHED shingle on both sides (prefixes are
      prefixes of one global order), so overlap <= 1 +
      min(|A| - pos_A(w), |B| - pos_B(w)); require that bound to
      reach alpha = ceil(t/(1+t)·(|A|+|B|)) — the overlap any
      qualifying pair must have. Computed per pair from
      min(pos) aggregates on the SAME shuffle that deduplicates
      candidates (groupBy replaces distinct — no extra exchange).

    Scale shape: posting list size Σ_doc prefix_len ≈ (1-t)·Σ|doc|;
    candidate pairs Σ_shingle prefix_df² — bounded by the same
    banded-equi-join discipline as every other pair generator here,
    with no df cut needed. Verification joins the (filter-surviving)
    candidate set back to the shingle arrays twice. Measured on the
    sf0.1 fixture (5k template-generated docs, t = 0.4): prefix join
    emits 522k raw pairs, length+positional filters keep 206k, 25
    survive verification — the residual cost is the corpus's genuine
    near-dup density, which the lossless contract must pay (the
    df-cut `ngram_jaccard_pairs` is the documented approximation when
    that price is unacceptable).
    """
    from pyspark.sql.window import Window

    sh = (
        shingles_df
        if shingles_df is not None
        else shingles(docs, text_col, n).transform(cut_lineage)
    )
    sizes = sh.select("doc_id", F.size("shingles").alias("n_sh"))
    posting = sh.select("doc_id", F.explode("shingles").alias("shingle"))
    dfreq = posting.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("doc_id").orderBy("df", "shingle")
    ranked = (
        posting.join(dfreq, "shingle")
        .select("doc_id", "shingle", "df")
        .withColumn("pos", F.row_number().over(w))
    )
    prefix = ranked.join(sizes, "doc_id").filter(
        F.col("pos")
        <= F.col("n_sh")
        - F.expr(
            f"({threshold_num} * n_sh + {threshold_den - 1})"
            f" div {threshold_den}"
        )
        + 1
    )
    tn, td = threshold_num, threshold_den
    a = prefix.select(
        F.col("doc_id").alias("doc_a"),
        "shingle",
        F.col("pos").alias("pos_a"),
        F.col("n_sh").alias("na"),
    )
    b = prefix.select(
        F.col("doc_id").alias("doc_b"),
        "shingle",
        F.col("pos").alias("pos_b"),
        F.col("n_sh").alias("nb"),
    )
    matched = a.join(b, "shingle").filter(
        (F.col("doc_a") < F.col("doc_b"))
        # length filter: t·na <= nb and t·nb <= na, integer-exact
        & (F.lit(tn) * F.col("na") <= F.lit(td) * F.col("nb"))
        & (F.lit(tn) * F.col("nb") <= F.lit(td) * F.col("na"))
    )
    # positional filter on the smallest matched shingle (== smallest
    # common shingle, see docstring); alpha in exact integer ceil
    cand = (
        matched.groupBy("doc_a", "doc_b")
        .agg(
            F.min("pos_a").alias("pa"),
            F.min("pos_b").alias("pb"),
            F.first("na").alias("na"),
            F.first("nb").alias("nb"),
        )
        .filter(
            F.lit(1)
            + F.least(F.col("na") - F.col("pa"), F.col("nb") - F.col("pb"))
            >= F.expr(
                f"({tn} * (na + nb) + {tn + td - 1}) div {tn + td}"
            )
        )
        .select("doc_a", "doc_b")
    )
    sa = sh.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
    sb = sh.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
    verified = (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("sh_a", "sh_b")).cast("long").alias("n_common"),
            F.size("sh_a").cast("long").alias("n_a"),
            F.size("sh_b").cast("long").alias("n_b"),
        )
        .filter(
            F.lit(threshold_den) * F.col("n_common")
            >= F.lit(threshold_num)
            * (F.col("n_a") + F.col("n_b") - F.col("n_common"))
        )
    )
    return verified.select(
        "doc_a",
        "doc_b",
        "n_common",
        F.round(
            F.col("n_common")
            / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast("double"),
            6,
        ).alias("jaccard"),
    )


def global_sorted_rank(
    df: DataFrame, sort_cols: list[str], num_partitions: int | None = None
) -> DataFrame:
    """Dense total-order rank (1-based `rn`) WITHOUT the
    single-partition global Window: `row_number() OVER (ORDER BY …)`
    moves every row to ONE partition — the canonical Spark scale
    anti-pattern. This is the standard two-phase distributed ranking:

    1. `repartitionByRange` on the sort key + `sortWithinPartitions`
       (Spark's total-order exchange: partition i's rows all precede
       partition j's for i < j), pinned with `localCheckpoint` so the
       sampled range boundaries cannot differ between the two reads;
    2. per-partition LOCAL ranks from one Arrow pass (mapInPandas
       sees a partition's batches sequentially in one task — a plain
       running counter), plus global offsets from the ≤ #partitions
       row-count table (a bounded collect), added as a literal map.

    Rank values depend only on the total order (ties must be
    impossible — include a unique key in `sort_cols`), not on the
    sampled partition boundaries, so the result is deterministic.
    """
    sess = df.sparkSession
    n_parts = num_partitions or sess.sparkContext.defaultParallelism
    base = (
        df.repartitionByRange(n_parts, *sort_cols)
        .sortWithinPartitions(*sort_cols)
        .withColumn("_pid", F.spark_partition_id())
        .transform(cut_lineage)
    )
    counts = sorted(
        (r["_pid"], r["count"]) for r in base.groupBy("_pid").count().collect()
    )
    offsets, acc = {}, 0
    for pid, cnt in counts:
        offsets[pid] = acc
        acc += cnt
    out_schema = (
        ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in base.schema)
        + ", _lrn bigint"
    )

    def add_local_rank(batches):
        i = 0
        for pdf in batches:
            pdf = pdf.copy()
            pdf["_lrn"] = range(i + 1, i + len(pdf) + 1)
            i += len(pdf)
            yield pdf

    off_map = F.create_map(
        *[F.lit(v) for kv in offsets.items() for v in kv]
    )
    return (
        base.mapInPandas(add_local_rank, out_schema)
        .withColumn(
            "rn",
            (
                F.col("_lrn")
                + F.coalesce(
                    F.element_at(off_map, F.col("_pid")), F.lit(0)
                ).cast("long")
            ),
        )
        .drop("_pid", "_lrn")
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    key_col: str,
    name_col: str,
    window: int = 4,
    max_dist: int = 2,
) -> DataFrame:
    """Sorted-neighborhood record linkage (Hernández & Stolfo 1995):
    sort all records by a blocking key (here the name itself), then
    compare each record only to its `window - 1` successors in sort
    order, keeping pairs within `max_dist` Levenshtein edits. The
    classic entity-resolution blocking scheme: near-identical strings
    sort adjacently, so candidate pairs are O(n·window) instead of
    O(n²) — the record-linkage counterpart of the dedup family's
    posting-list discipline.

    Plan shape: rank assignment is the two-phase distributed ranking
    (`global_sorted_rank`: range-partitioned sort + local ranks +
    offsets — NOT a single-partition global Window), then the
    neighbor join is an integer EQUI-join: each row explodes to
    `window - 1` (rank + k) probes that hash-join back to ranks. No
    window-function self-join, no range join, no skew (ranks are
    unique). Levenshtein runs JVM-side (`F.levenshtein`) on just the
    candidate pairs.

    Determinism: rank ties are impossible (total order on
    (name, key)); Levenshtein is the standard unit-cost edit distance
    in both engines. All-integer/string output — hash-exact.
    """
    ranked = global_sorted_rank(
        df.select(F.col(key_col).alias("k"), F.col(name_col).alias("nm")),
        ["nm", "k"],
    ).transform(cut_lineage_lazy)
    probes = ranked.select(
        F.col("k").alias("key_a"),
        F.col("nm").alias("name_a"),
        "rn",
        F.explode(F.array([F.lit(i) for i in range(1, window)])).alias("off"),
    ).select(
        "key_a", "name_a", (F.col("rn") + F.col("off")).alias("rn")
    )
    pairs = probes.join(
        ranked.select(
            "rn", F.col("k").alias("key_b"), F.col("nm").alias("name_b")
        ),
        "rn",
    )
    return (
        pairs.withColumn(
            "edit_dist", F.levenshtein("name_a", "name_b").cast("int")
        )
        .filter(F.col("edit_dist") <= max_dist)
        .select("key_a", "key_b", "edit_dist")
    )
