"""Declared queries: deduplication family (north-star extension).

Every declared variant carries a full DuckDB value-hash oracle — the
hash-based ones (minhash, simhash) via md5-family hashes that both
engines compute identically (see NOTES_r03). The one exception,
SemDeDup's seeded k-means cells, is pytest-only coverage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from demo_flink_spark.operators import dedup as dd
from demo_flink_spark.plans.spec import QuerySpec
from demo_flink_spark.sources import load_table

# The band-bucket width cap every DECLARED guarded query uses — and
# the SAME constant its DuckDB oracles are derived from (ADVICE r13:
# the lsh_bucket_stats oracle previously hardcoded 'w > 2', so a cap
# change would only surface as a driver hash FAIL instead of being
# impossible to desynchronize).
LSH_BUCKET_CAP = 2

# DuckDB twin of operators.dedup._canonical (lowercase → strip
# non-[a-z\s] → collapse whitespace → trim).
_CANON = (
    "trim(regexp_replace(regexp_replace(lower(text), '[^a-z\\s]', '', 'g'),"
    " '\\s+', ' ', 'g'))"
)


# Oracle for the n-gram Jaccard pair finder (shared by the pair query
# and the cluster query, which embeds it as a CTE).
_NGRAM_PAIRS_SQL = f"""
        WITH sh AS (
            -- list_filter drops the '' shingle an empty-canonical doc
            -- produces (string_split('', ' ') is [''] in DuckDB), which
            -- mirrors the operator's `toks == [''] -> []` branch
            -- (operators/dedup.py:125) — without it two empty docs
            -- would pair here (jaccard 1) but not in Spark.
            SELECT doc_id,
                   list_filter(list_distinct(list_transform(
                       range(0, greatest(len(string_split({_CANON}, ' ')) - 3, 0) + 1),
                       i -> array_to_string(
                           list_slice(string_split({_CANON}, ' '), i + 1, i + 3), ' ')
                   )), s -> s <> '') AS shingles
            FROM documents
        ),
        posting_all AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
        -- mirror of the Spark query's df-cut: shingles in more than
        -- max(1% of docs, 100) documents are dropped from the posting
        -- list (sizes below stay full-set, exactly like the operator)
        rare AS (
            SELECT shingle FROM posting_all GROUP BY shingle
            HAVING count(*) <= greatest(
                CAST(floor(0.01 * (SELECT count(*) FROM documents)) AS BIGINT), 100)
        ),
        posting AS (
            SELECT doc_id, shingle FROM posting_all
            WHERE shingle IN (SELECT shingle FROM rare)
        ),
        common AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
            FROM posting a JOIN posting b
              ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ),
        sizes AS (SELECT doc_id, len(shingles) AS n_sh FROM sh)
        SELECT doc_a, doc_b, n_common,
               round(n_common / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE), 6)
                   AS jaccard
        FROM common
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE n_common / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE) >= 0.2
"""


def _shared_shingles(spark: SparkSession, sf_dir: str, n: int = 3) -> DataFrame:
    """Session-scoped persisted (doc_id, shingles) frame.

    Seven declared dedup queries canonicalize + shingle the same
    `documents` table with the same n — the dominant narrow stage of
    each (the r6 eval already shared it BETWEEN its two internal pair
    generators for exactly this reason). In a corpus build the
    shingle table is materialized once per snapshot and every dedup
    pass reads it; this memo is the single-session equivalent —
    bounded-LRU contract in plans/memo.py, keyed by (applicationId,
    sf_dir, n) so new sessions/scales rebuild."""
    from demo_flink_spark.operators.hints import widen_if_narrow
    from demo_flink_spark.plans.memo import session_memo

    # widen_if_narrow: the sf documents table is ONE row group, so
    # without this every consumer's expensive stage-1 (the shingle
    # Arrow kernel here; downstream, the signature kernel and the
    # posting-list explode feeding the pair joins) runs as ONE task.
    # One exchange of the raw docs (sub-MB here) makes the persisted
    # memo full-width for every consumer: measured at sf0.1 the
    # signature pass drops 1.7 -> 0.5 s and the ngram-pair build
    # 1.9 -> 1.3 s (r15; no-op at scale — see the helper contract).
    return session_memo(
        "shingles",
        (spark.sparkContext.applicationId, sf_dir, n),
        lambda: dd.shingles(
            widen_if_narrow(load_table(spark, sf_dir, "documents")), n=n
        ),
    )


def _shared_minhash_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-scoped persisted (doc_id, shingles, bands) MinHash
    signature frame (n=3, 64 hashes, 16 bands — the parameters every
    declared LSH consumer uses).

    The declared LSH consumers (`dedup_minhash_lsh`,
    `dedup_minhash_capped_drop`, `dedup_eval_minhash`,
    `pipeline_curation_neardup`, `lsh_bucket_stats`)
    compute the same 64-permutation signatures
    over the same corpus; in a corpus build the signature table is
    materialized once per snapshot beside the shingle table and every
    near-dup pass reads it. Built on top of the shingles memo, so the
    narrow canonicalize+shingle stage is shared one level further
    down (memo_builds attributes each level's cost separately)."""
    from demo_flink_spark.plans.memo import session_memo

    return session_memo(
        "minhash_sigs",
        (spark.sparkContext.applicationId, sf_dir),
        # project to the consumed columns before persisting: the LSH
        # consumers read (doc_id, shingles, bands) only, and persist
        # materializes whatever it is handed — the raw 64-long
        # `signature` column would be 512 dead bytes/doc of storage
        lambda: dd.minhash_signatures(
            load_table(spark, sf_dir, "documents"),
            n=3,
            n_hashes=64,
            bands=16,
            shingles_df=_shared_shingles(spark, sf_dir),
        ).select("doc_id", "shingles", "bands"),
    )


def _ngram_max_df(docs: DataFrame) -> int:
    """The df-cut rule every ngram-pair consumer shares: drop shingles
    present in more than max(1% of docs, 100) documents before the
    posting-list self-join — the skew cap the operator documents as
    mandatory at scale. The count() is a parquet-metadata read."""
    return max(int(0.01 * docs.count()), 100)


def _shared_ngram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-scoped persisted exact n-gram Jaccard pair list
    (n=3, threshold=0.2, shared df-cut) — the pair-generation stage
    FIVE declared queries run identically (`dedup_ngram_jaccard`
    returns it as-is; the two cluster-resolution queries, the
    MinHash eval's exact ground truth, and the split-leakage audit
    consume it). One level up from the shingle memo: in a corpus
    build the verified pair list is itself a materialized table
    (pair detection is the expensive stage; every resolution policy
    reads it). Same memo contract as the shingle/graph memos."""
    from demo_flink_spark.plans.memo import session_memo

    def build() -> DataFrame:
        docs = load_table(spark, sf_dir, "documents")
        return dd.ngram_jaccard_pairs(
            docs, n=3, threshold=0.2, max_df=_ngram_max_df(docs),
            shingles_df=_shared_shingles(spark, sf_dir),
        )

    return session_memo(
        "ngram_pairs", (spark.sparkContext.applicationId, sf_dir), build
    )


def _shared_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-scoped persisted near-dup component labels
    (node, comp) over the shared ngram pair list — the connected-
    components stage both cluster-resolution policies (keep-min-id,
    keep-longest) previously re-ran on identical pairs. Memoizing the
    LABEL frame (≤ one row per paired doc, tiny) is the r8 verdict's
    "one level up" item: the iterative CC loop runs once per
    session+sf_dir, every resolution policy joins against it."""
    from demo_flink_spark.plans.memo import session_memo

    return session_memo(
        "ngram_components",
        (spark.sparkContext.applicationId, sf_dir),
        lambda: dd.connected_components(_shared_ngram_pairs(spark, sf_dir)),
    )


def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dd.exact_dedup(docs).select("canonical_id", "n_dups")


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard >= 0.2 near-dup pairs via posting-list
    self-join with the shared df cut (`_ngram_max_df`; VERDICT r1
    item 3) — returns the session-memoized pair list every
    cluster-resolution policy consumes
    (operators/dedup.py::ngram_jaccard_pairs)."""
    return _shared_ngram_pairs(spark, sf_dir)


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pair detection → duplicate clusters → keep/drop list: the full
    dedup pipeline ending in the `is_kept` filter a corpus build
    actually consumes. Pairs AND component labels come from the
    session memos (pair generation + the iterative CC loop run once,
    shared with dedup_cluster_keep_longest)."""
    docs = load_table(spark, sf_dir, "documents")
    return dd.dedup_keep_list(
        docs,
        _shared_ngram_pairs(spark, sf_dir),
        components=_shared_components(spark, sf_dir),
    )


def q_cluster_keep_longest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters resolved by the keep-LONGEST policy
    (operators/dedup.py::dedup_keep_best): the argmax-by-(token count,
    id) member of each cluster survives — the completeness-preserving
    twin of dedup_clusters_ngram's keep-min-id. Shares the memoized
    pair list and component labels with dedup_clusters_ngram."""
    from demo_flink_spark.operators.textstats import _tokens

    docs = load_table(spark, sf_dir, "documents")
    return dd.dedup_keep_best(
        docs,
        _shared_ngram_pairs(spark, sf_dir),
        F.size(_tokens(F.col("text"))).cast("long"),
        components=_shared_components(spark, sf_dir),
    )


def q_ppjoin_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard >= 0.4 pairs via PPJoin-style prefix filtering —
    the LOSSLESS scale path (no df cut): only each doc's
    |d| - ceil(0.4|d|) + 1 rarest shingles enter the posting list
    (operators/dedup.py::ppjoin_prefix_pairs); candidates verified
    against full shingle sets with an integer cross-multiplied
    threshold. Oracle = textbook full posting join, so pair-for-pair
    equality proves losslessness on every run."""
    docs = load_table(spark, sf_dir, "documents")
    return dd.ppjoin_prefix_pairs(
        docs, n=3, threshold_num=2, threshold_den=5,
        shingles_df=_shared_shingles(spark, sf_dir),
    )


def q_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplicate cluster-size distribution: how many content
    groups have 1, 2, 3… copies — the dedup REPORT a corpus owner
    reads before deciding thresholds (a long tail of giant clusters
    means boilerplate; all-singletons means exact dedup is done).
    One aggregate over `exact_dedup`'s output."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        dd.exact_dedup(docs)
        .groupBy(F.col("n_dups").alias("cluster_size"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_clusters"))
    )


def q_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood record linkage over part names: window-4
    neighbors in name sort order, kept within 2 Levenshtein edits
    (operators/dedup.py::sorted_neighborhood_pairs) — the classic
    O(n·w) entity-resolution blocking scheme."""
    part = load_table(spark, sf_dir, "part")
    return dd.sorted_neighborhood_pairs(
        part, "p_partkey", "p_name", window=4, max_dist=2
    )


def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dd.minhash_lsh_pairs(
        docs,
        n=3,
        threshold=0.2,
        signatures_df=_shared_minhash_sigs(spark, sf_dir),
    )


def q_minhash_capped_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """minhash_lsh_pairs with the band-bucket width guard ACTIVE
    (bucket_cap=LSH_BUCKET_CAP, DROP overflow) — the 100 TB template-cluster
    mitigation as a declared, hash-verified query whose receipt is
    NON-VACUOUS at the driver's scale factor (VERDICT r12 #1).

    Why drop, not star: the round-12 star-policy receipt was vacuous
    at sf0.01 — the star-narrowed candidate set re-verified to output
    byte-identical to the unguarded query's (every verified pair on
    this fixture spans its bucket's min-id rep, at ANY threshold —
    measured), so the driver hash could not distinguish "cap honored"
    from "cap ignored". The drop policy's verified output DIVERGES
    from the unguarded query's at every sf (pair sym-diff 7/2/22 at
    sf0.001/0.01/0.1 — measured, and pinned by
    tests/test_round13.py::test_capped_drop_diverges_at_driver_sf),
    so this receipt actually proves the guard routes over-cap buckets
    (14 of them at sf0.01, max width 3) through the overflow path.
    The star policy — the production default, which preserves
    cluster-level recall — keeps its planted-template pytest receipts
    and is additionally driver-exercised end-to-end by
    `pipeline_curation_neardup`.
    """
    docs = load_table(spark, sf_dir, "documents")
    return dd.minhash_lsh_pairs(
        docs,
        n=3,
        threshold=0.2,
        signatures_df=_shared_minhash_sigs(spark, sf_dir),
        bucket_cap=LSH_BUCKET_CAP,
        overflow="drop",
    )


def q_pipeline_curation_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB NEAR-DUP curation playbook end-to-end as one
    declared query (VERDICT r12 #2): guarded MinHash-LSH pair
    detection (bucket_cap=LSH_BUCKET_CAP, STAR overflow — the production policy
    whose Theta(k) star keeps template clusters connected) →
    connected components → keep-LONGEST resolution. Output is the
    keep/drop list a corpus build filters on: (doc_id, cluster_id,
    score, is_kept), docs in no pair keeping themselves.

    This is the composite SCALING.md's template-cluster section
    documents as the production answer for template-heavy corpora —
    previously exercised only stage-by-stage. The DuckDB twin chains
    the capped-star candidate CTE (the exact overflow semantics,
    plans/dedup.py::_minhash_lsh_oracle(cap=LSH_BUCKET_CAP)) into the recursive-
    closure components + keep-longest oracles the individual stages
    already carry, so the whole pipeline is value-hash-checked as a
    unit — including which pairs the star narrowed away upstream of
    clustering. Stages at scale: the pair join is band-bucketed and
    width-guarded (never all-pairs), CC is O(log² n) large-star/
    small-star rounds of two shuffles each on any graph shape, and the
    resolution is one cluster-keyed window over a component map that
    broadcasts while small (operators/dedup.py::dedup_keep_best).
    """
    from demo_flink_spark.operators.textstats import _tokens

    docs = load_table(spark, sf_dir, "documents")
    pairs = dd.minhash_lsh_pairs(
        docs,
        n=3,
        threshold=0.2,
        signatures_df=_shared_minhash_sigs(spark, sf_dir),
        bucket_cap=LSH_BUCKET_CAP,
        overflow="star",
    )
    return dd.dedup_keep_best(
        docs,
        pairs,
        F.size(_tokens(F.col("text"))).cast("long"),
    )


def q_lsh_bucket_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LSH band-bucket width monitor as a declared query (VERDICT
    r12 #5): bucket count, max/mean width, the prospective candidate-
    pair volume the unguarded band join would emit (sum w(w-1)/2 in
    exact integer arithmetic), and — with the cap the guarded queries
    use (2) — how many buckets sit over it plus how many DISTINCT
    docs they touch. This is the "diagnose BEFORE paying" half of the
    template-cluster mitigation: run it on a sample, read max_width /
    candidate_pairs, then size `bucket_cap` — now under the driver's
    value hash, not just pytest (operators/dedup.py::lsh_bucket_stats).
    """
    docs = load_table(spark, sf_dir, "documents")
    return dd.lsh_bucket_stats(
        docs,
        bucket_cap=LSH_BUCKET_CAP,
        signatures_df=_shared_minhash_sigs(spark, sf_dir),
    )


def q_dedup_eval_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-index evaluation as a query (the retrieval_eval_metrics
    pattern applied to near-dup detection): MinHash-LSH pairs scored
    against the exact inverted-index ground truth — pair counts,
    precision, recall and F1 in one row, every metric a single
    division of exact integers. This is the measurement that tells
    you whether the banding parameters (16 bands x 4 rows) hold the
    recall you think they do, re-runnable on every corpus. On this
    fixture all three metrics are 1.0 — the synthetic near-dups sit
    far above the 0.2 threshold, where 16x4 banding is lossless (and
    the exact-Jaccard verify step pins precision at 1 by
    construction); the lossy borderline regime is exercised by the
    measured-recall pytest in tests/test_dedup_similarity.py."""
    docs = load_table(spark, sf_dir, "documents")
    # the corpus is canonicalized+shingled ONCE and shared by both
    # pair generators (the shingles memo sits under both the ngram
    # pair memo and the minhash signature memo); the exact ground
    # truth additionally reuses the memoized pair list (identical
    # parameters to dedup_ngram_jaccard)
    # set semantics on both pair lists: the DuckDB oracle uses
    # INTERSECT (a set op), so a duplicate (doc_a, doc_b) row from
    # either generator would inflate n_common under the inner join's
    # bag semantics (precision/recall could exceed 1)
    exact = (
        _shared_ngram_pairs(spark, sf_dir)
        .select("doc_a", "doc_b")
        .dropDuplicates(["doc_a", "doc_b"])
    )
    approx = (
        dd.minhash_lsh_pairs(
            docs,
            n=3,
            threshold=0.2,
            signatures_df=_shared_minhash_sigs(spark, sf_dir),
        )
        .select("doc_a", "doc_b")
        .dropDuplicates(["doc_a", "doc_b"])
    )
    common = exact.join(approx, ["doc_a", "doc_b"], "inner")
    e = exact.agg(F.count(F.lit(1)).cast("long").alias("n_exact"))
    a = approx.agg(F.count(F.lit(1)).cast("long").alias("n_approx"))
    c = common.agg(F.count(F.lit(1)).cast("long").alias("n_common"))
    row = e.crossJoin(F.broadcast(a)).crossJoin(F.broadcast(c))
    nz = lambda col: F.when(col > 0, col)  # noqa: E731
    return row.select(
        "n_exact",
        "n_approx",
        "n_common",
        F.coalesce(
            F.col("n_common") / nz(F.col("n_approx")), F.lit(1.0)
        ).alias("precision"),
        F.coalesce(
            F.col("n_common") / nz(F.col("n_exact")), F.lit(1.0)
        ).alias("recall"),
        F.coalesce(
            (F.lit(2) * F.col("n_common"))
            / nz(F.col("n_exact") + F.col("n_approx")),
            F.lit(1.0),
        ).alias("f1"),
    )


def q_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment |A∩B|/|A| — finds doc-in-doc duplication
    (quoted paragraphs, eval-questions embedded in pages) that Jaccard
    dilutes below any usable threshold. GPT-3-style decontamination is
    containment-shaped; `split_leakage_audit` catches near-identical
    eval docs, this catches INCLUSIONS."""
    docs = load_table(spark, sf_dir, "documents")
    return dd.containment_pairs(
        docs, n=3, threshold=0.5, max_df=_ngram_max_df(docs),
        shingles_df=_shared_shingles(spark, sf_dir),
    )


def q_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (MOSS) fingerprints per document — the local
    plagiarism-detection selection with the w-window coverage
    guarantee; fp_md5 pins the exact selected set."""
    docs = load_table(spark, sf_dir, "documents")
    return dd.winnowing_fingerprints(docs, k=4, w=4)


def q_simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dd.simhash_fingerprints(docs)


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dd.simhash_pairs(docs, max_hamming=7)


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return dd.embedding_neardup_pairs(emb, threshold=0.3)


def q_fuzzy_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dd.fuzzy_pairs_levenshtein(docs)


def q_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dd.substring_span_stats(docs, k=8)


def q_substring_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dd.remove_duplicate_spans(docs, k=8)



def q_semantic_cells(spark, sf_dir):
    """SemDeDup: k-means cells over the embeddings, greedy-by-id
    within-cell cosine dedup at 0.92. Rows-only: cells come from the
    engine-seeded quantizer and sims from float GEMM — no SQL twin;
    numeric behavior is pinned by tests/test_dedup_similarity.py."""
    from demo_flink_spark.operators.dedup import semantic_dedup_cells
    from demo_flink_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    return semantic_dedup_cells(emb, n_cells=16, threshold=0.92)


def q_incremental_bloom(spark, sf_dir):
    """Snapshot-over-snapshot dedup: incoming = docs 250+, history =
    docs below 400 (texts of 250-399 overlap exactly); result = the
    genuinely-new docs. Bloom prunes map-side, an exact anti-join
    verifies the might-seen sliver, so the answer is exact and
    oracle-checked even though the history is never fully joined
    (operators/bloom.py)."""
    from pyspark.sql import functions as F

    from demo_flink_spark.operators.bloom import incremental_new
    from demo_flink_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    incoming = docs.filter(F.col("doc_id") >= 250).select("doc_id", "text")
    history = docs.filter(F.col("doc_id") < 400).select("text")
    return incremental_new(incoming, history, "text").select("doc_id")



def q_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination audit (operators/evaluation.py::
    split_leakage): every val/test document with an n-gram-Jaccard
    near-duplicate inside the train split — the leak that silently
    inflates benchmark numbers. Pair detection is the sub-quadratic
    inverted-index join; the audit adds two equi-joins on the split
    map."""
    from demo_flink_spark.operators.evaluation import split_leakage
    from demo_flink_spark.operators.sampling import dataset_split

    docs = load_table(spark, sf_dir, "documents")
    # same parameters as the shared memo (it used to re-shingle and
    # re-join independently — a full duplicate pair-generation pass)
    pairs = _shared_ngram_pairs(spark, sf_dir)
    return split_leakage(pairs, dataset_split(docs, "doc_id"))


def q_bigram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set n-gram novelty (operators/evaluation.py::
    bigram_novelty): per val/test document, the fraction of its
    bigram occurrences unseen in any train-split document — the
    fine-grained memorization complement of split_leakage_audit."""
    from demo_flink_spark.operators.evaluation import bigram_novelty
    from demo_flink_spark.operators.sampling import dataset_split

    docs = load_table(spark, sf_dir, "documents")
    return bigram_novelty(docs, dataset_split(docs, "doc_id"))


def q_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking dedup (operators/dedup.py::
    cdc_chunk_stats): hash-gated chunk boundaries make dedup
    shift-robust — an inserted token reshapes only the chunks around
    the edit, unlike fixed-stride chunking which loses all alignment."""
    return dd.cdc_chunk_stats(load_table(spark, sf_dir, "documents"))


# md5-threshold split map (same constants as dataset_split_assign's
# oracle in plans/text.py): train < 0xcd, val < 0xe7, else test.
_SPLIT_SQL = """
        SELECT doc_id,
               CASE WHEN substring(md5('v1' || CAST(doc_id AS VARCHAR)), 1, 2)
                         < 'cd' THEN 'train'
                    WHEN substring(md5('v1' || CAST(doc_id AS VARCHAR)), 1, 2)
                         < 'e7' THEN 'val'
                    ELSE 'test' END AS split
        FROM documents
"""


def _bandkeys_ctes() -> str:
    """The shared CTE prefix reproducing the operator's MinHash band
    keys in DuckDB — shingles, the 64 (a,b) permutation constants,
    per-doc min-hash signatures, md5-folded band hashes. Consumed by
    `_minhash_lsh_oracle` (pair queries) and the `lsh_bucket_stats`
    oracle (width monitoring), so both twins derive from ONE pinned
    reproduction of the banding."""
    from demo_flink_spark.operators.dedup import MINHASH_P, minhash_params

    a, b = minhash_params(64)
    perm_vals = ", ".join(f"({h}, {a[h]}, {b[h]})" for h in range(64))
    return f"""sh AS (
            -- list_filter mirrors the operator's `toks == [''] -> []`
            -- branch for empty-canonical docs (operators/dedup.py:125):
            -- they must get empty_sig (= b mod p), not a signature over
            -- the '' shingle
            SELECT doc_id,
                   list_filter(list_distinct(list_transform(
                       range(0, greatest(len(string_split({_CANON}, ' ')) - 3, 0) + 1),
                       i -> array_to_string(
                           list_slice(string_split({_CANON}, ' '), i + 1, i + 3), ' ')
                   )), s -> s <> '') AS shingles
            FROM documents
        ),
        perm(h, a, b) AS (VALUES {perm_vals}),
        xv AS (
            SELECT doc_id, md5_number_upper(unnest(shingles)) % {MINHASH_P} AS x
            FROM sh
        ),
        sigv AS (
            SELECT doc_id, perm.h,
                   min((CAST(perm.a AS HUGEINT) * x + perm.b) % {MINHASH_P}) AS m
            FROM xv CROSS JOIN perm GROUP BY doc_id, perm.h
        ),
        sig AS (
            SELECT d.doc_id, perm.h,
                   coalesce(s.m, perm.b % {MINHASH_P}) AS m
            FROM (SELECT doc_id FROM documents) d CROSS JOIN perm
            LEFT JOIN sigv s ON s.doc_id = d.doc_id AND s.h = perm.h
        ),
        bandkeys AS (
            SELECT doc_id, h // 4 AS j,
                   md5_number_upper(
                       (h // 4) || ':' ||
                       string_agg(CAST(CAST(m AS BIGINT) AS VARCHAR), ','
                                  ORDER BY h)
                   ) % 9223372036854775808 AS bh
            FROM sig GROUP BY doc_id, h // 4
        )"""


def _minhash_lsh_oracle(cap: int | None = None, overflow: str = "star") -> str:
    """SQL twin of minhash_lsh_pairs, generated from the SAME
    permutation constants the operator uses (operators/dedup.py::
    minhash_params): md5 shingle hashes, overflow-free (a*x+b) mod p
    via HUGEINT, md5 band keys, exact-Jaccard verification. Candidate
    generation (the banding) is reproduced exactly, so LSH's recall
    trade is identical on both engines and the result hash-matches.

    With `cap` set, the candidate CTE reproduces the band-bucket
    width guard (bucket_cap, operators/dedup.py::minhash_lsh_pairs):
    under-cap buckets all-pairs; over-cap buckets routed per
    `overflow` — "star" reduces each to member-vs-min-doc_id rows,
    "drop" contributes no candidates at all. Bucket width and
    representative are deterministic functions of the band keys, so
    the guard's EXACT semantics — including which pairs the overflow
    policy removes — are hash-verified by the driver, not just the
    narrow-bucket no-op case. The DECLARED capped query uses "drop"
    because that is the policy whose verified OUTPUT diverges from
    the unguarded query's on this fixture at the driver's sf0.01
    (VERDICT r12 #1: star is output-invariant there — measured,
    every verified pair spans its bucket's rep at any threshold —
    so a star receipt cannot distinguish cap-honored from
    cap-ignored).
    """
    if overflow not in ("star", "drop"):
        raise ValueError(f"overflow must be 'star' or 'drop', got {overflow!r}")
    if cap is None:
        cand_cte = """
        cand AS (
            SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
            FROM bandkeys x JOIN bandkeys y
              ON x.j = y.j AND x.bh = y.bh AND x.doc_id < y.doc_id
        )"""
    else:
        star_arm = f"""
                UNION ALL
                SELECT w.rep AS doc_a, b.doc_id AS doc_b
                FROM bandkeys b
                JOIN widths w ON w.j = b.j AND w.bh = b.bh
                WHERE w.w > {cap} AND b.doc_id <> w.rep""" if overflow == "star" else ""
        cand_cte = f"""
        widths AS (
            SELECT j, bh, count(*) AS w, min(doc_id) AS rep
            FROM bandkeys GROUP BY j, bh
        ),
        cand AS (
            SELECT DISTINCT doc_a, doc_b FROM (
                SELECT x.doc_id AS doc_a, y.doc_id AS doc_b
                FROM bandkeys x
                JOIN bandkeys y
                  ON x.j = y.j AND x.bh = y.bh AND x.doc_id < y.doc_id
                JOIN widths w ON w.j = x.j AND w.bh = x.bh
                WHERE w.w <= {cap}{star_arm}
            )
        )"""
    return f"""
        WITH {_bandkeys_ctes()},{cand_cte}
        SELECT doc_a, doc_b,
               round(len(list_intersect(sa.shingles, sb.shingles))
                     / CAST(len(list_distinct(list_cat(sa.shingles, sb.shingles)))
                            AS DOUBLE), 6) AS jaccard
        FROM cand
        JOIN sh sa ON sa.doc_id = doc_a
        JOIN sh sb ON sb.doc_id = doc_b
        WHERE len(list_intersect(sa.shingles, sb.shingles))
              / CAST(len(list_distinct(list_cat(sa.shingles, sb.shingles)))
                     AS DOUBLE) >= 0.2
"""


SPECS = [
    QuerySpec(
        "dedup_exact",
        q_exact_dedup,
        oracle=f"""
        SELECT min(doc_id) AS canonical_id, count(*) AS n_dups
        FROM (SELECT doc_id, {_CANON} AS canon FROM documents)
        GROUP BY canon
        """,
    ),
    QuerySpec(
        "dedup_ngram_jaccard",
        q_ngram_jaccard,
        oracle=_NGRAM_PAIRS_SQL,
    ),
    QuerySpec(
        "dedup_clusters_ngram",
        q_dedup_clusters,
        # pair SQL reused verbatim; components via transitive closure
        # (fine at oracle scale — the engine side uses label
        # propagation, which is the scalable form)
        oracle=f"""
        WITH RECURSIVE pairs AS ({_NGRAM_PAIRS_SQL}),
        edges AS (
            SELECT doc_a AS s, doc_b AS t FROM pairs
            UNION
            SELECT doc_b, doc_a FROM pairs
        ),
        reach AS (
            SELECT s, t FROM edges
            UNION
            SELECT r.s, e.t FROM reach r JOIN edges e ON r.t = e.s
            WHERE e.t <> r.s
        ),
        comp AS (
            SELECT s AS node, least(s, min(t)) AS c FROM reach GROUP BY s
        )
        SELECT d.doc_id,
               coalesce(c.c, d.doc_id) AS canonical_id,
               coalesce(c.c, d.doc_id) = d.doc_id AS is_kept
        FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
        """,
    ),
    QuerySpec(
        "dedup_cluster_keep_longest",
        q_cluster_keep_longest,
        oracle=rf"""
        WITH RECURSIVE pairs AS ({_NGRAM_PAIRS_SQL}),
        edges AS (
            SELECT doc_a AS s, doc_b AS t FROM pairs
            UNION
            SELECT doc_b, doc_a FROM pairs
        ),
        reach AS (
            SELECT s, t FROM edges
            UNION
            SELECT r.s, e.t FROM reach r JOIN edges e ON r.t = e.s
            WHERE e.t <> r.s
        ),
        comp AS (
            SELECT s AS node, least(s, min(t)) AS c FROM reach GROUP BY s
        ),
        scored AS (
            SELECT d.doc_id,
                   coalesce(c.c, d.doc_id) AS cluster_id,
                   CAST(len(list_filter(string_split_regex(d.text, '\s+'),
                                        w -> w <> '')) AS BIGINT) AS score
            FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
        )
        SELECT doc_id, cluster_id, score,
               row_number() OVER (PARTITION BY cluster_id
                                  ORDER BY score DESC, doc_id ASC) = 1
                 AS is_kept
        FROM scored
        """,
    ),
    QuerySpec("dedup_minhash_lsh", q_minhash_lsh, oracle=_minhash_lsh_oracle()),
    QuerySpec(
        "dedup_minhash_capped_drop",
        q_minhash_capped_drop,
        oracle=_minhash_lsh_oracle(cap=LSH_BUCKET_CAP, overflow="drop"),
    ),
    QuerySpec(
        "lsh_bucket_stats",
        q_lsh_bucket_stats,
        # width histogram over the SAME pinned bandkeys CTE the pair
        # oracles use; integer division keeps candidate_pairs exact
        oracle=f"""
        WITH {_bandkeys_ctes()},
        widths AS (
            SELECT j, bh, count(*) AS w FROM bandkeys GROUP BY j, bh
        ),
        base AS (
            SELECT CAST(count(*) AS BIGINT) AS n_buckets,
                   CAST(max(w) AS BIGINT) AS max_width,
                   round(avg(w), 6) AS mean_width,
                   CAST(sum(w * (w - 1) // 2) AS BIGINT) AS candidate_pairs,
                   CAST(sum(CASE WHEN w > {LSH_BUCKET_CAP} THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_over_cap
            FROM widths
        ),
        od AS (
            SELECT CAST(count(DISTINCT b.doc_id) AS BIGINT)
                     AS docs_in_over_cap
            FROM bandkeys b JOIN widths w ON w.j = b.j AND w.bh = b.bh
            WHERE w.w > {LSH_BUCKET_CAP}
        )
        SELECT n_buckets, max_width, mean_width, candidate_pairs,
               n_over_cap, docs_in_over_cap
        FROM base, od
        """,
    ),
    QuerySpec(
        "pipeline_curation_neardup",
        q_pipeline_curation_neardup,
        # capped-STAR pair CTE (exact overflow semantics) chained into
        # the same recursive-closure + keep-longest SQL the stage
        # queries carry — the end-to-end playbook as one value hash
        oracle=rf"""
        WITH RECURSIVE pairs AS ({_minhash_lsh_oracle(cap=LSH_BUCKET_CAP)}),
        edges AS (
            SELECT doc_a AS s, doc_b AS t FROM pairs
            UNION
            SELECT doc_b, doc_a FROM pairs
        ),
        reach AS (
            SELECT s, t FROM edges
            UNION
            SELECT r.s, e.t FROM reach r JOIN edges e ON r.t = e.s
            WHERE e.t <> r.s
        ),
        comp AS (
            SELECT s AS node, least(s, min(t)) AS c FROM reach GROUP BY s
        ),
        scored AS (
            SELECT d.doc_id,
                   coalesce(c.c, d.doc_id) AS cluster_id,
                   CAST(len(list_filter(string_split_regex(d.text, '\s+'),
                                        w -> w <> '')) AS BIGINT) AS score
            FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
        )
        SELECT doc_id, cluster_id, score,
               row_number() OVER (PARTITION BY cluster_id
                                  ORDER BY score DESC, doc_id ASC) = 1
                 AS is_kept
        FROM scored
        """,
    ),
    QuerySpec(
        "dedup_eval_minhash",
        q_dedup_eval_minhash,
        oracle=f"""
        WITH exact_p AS ({_NGRAM_PAIRS_SQL}),
        approx_p AS ({_minhash_lsh_oracle()}),
        e AS (SELECT CAST(count(*) AS BIGINT) AS n_exact FROM exact_p),
        a AS (SELECT CAST(count(*) AS BIGINT) AS n_approx FROM approx_p),
        c AS (SELECT CAST(count(*) AS BIGINT) AS n_common FROM
              (SELECT doc_a, doc_b FROM exact_p
               INTERSECT
               SELECT doc_a, doc_b FROM approx_p))
        SELECT n_exact, n_approx, n_common,
               CASE WHEN n_approx > 0
                    THEN CAST(n_common AS DOUBLE) / n_approx
                    ELSE 1.0 END AS precision,
               CASE WHEN n_exact > 0
                    THEN CAST(n_common AS DOUBLE) / n_exact
                    ELSE 1.0 END AS recall,
               CASE WHEN n_exact + n_approx > 0
                    THEN CAST(2 * n_common AS DOUBLE)
                         / (n_exact + n_approx)
                    ELSE 1.0 END AS f1
        FROM e, a, c
        """,
    ),
    # the token hash is md5 (= DuckDB md5_number_upper), so the whole
    # simhash bit-vote is reproducible in SQL; the banded pairs query is
    # COMPLETE for hamming <= 7 (pigeonhole over 8 chunks), so its
    # oracle is the brute-force hamming join over the same fingerprints
    QuerySpec(
        "dedup_simhash_fingerprints",
        q_simhash_fingerprints,
        oracle=r"""
        WITH canon AS (
            SELECT doc_id,
                   trim(regexp_replace(regexp_replace(lower(text),
                        '[^a-z\s]', '', 'g'), '\s+', ' ', 'g')) AS c
            FROM documents
        ),
        toks AS (
            SELECT doc_id, unnest(string_split(c, ' ')) AS t FROM canon
        ),
        th AS (SELECT doc_id, md5_number_upper(t) AS h FROM toks),
        votes AS (
            SELECT doc_id, j.j,
                   sum(CASE WHEN (h >> j.j) & 1 = 1 THEN 1 ELSE -1 END) AS v
            FROM th, unnest(range(0, 64)) j(j)
            GROUP BY doc_id, j.j
        ),
        fp AS (
            SELECT doc_id,
                   CAST(sum(CASE WHEN v > 0 THEN
                       CASE WHEN j = 63 THEN -9223372036854775808
                            ELSE (CAST(1 AS BIGINT) << CAST(j AS INTEGER)) END
                       ELSE 0 END) AS BIGINT) AS simhash
            FROM votes GROUP BY doc_id
        )
        SELECT doc_id, simhash FROM fp
        """,
    ),
    QuerySpec(
        "dedup_simhash_pairs",
        q_simhash_pairs,
        oracle=r"""
        WITH canon AS (
            SELECT doc_id,
                   trim(regexp_replace(regexp_replace(lower(text),
                        '[^a-z\s]', '', 'g'), '\s+', ' ', 'g')) AS c
            FROM documents
        ),
        toks AS (
            SELECT doc_id, unnest(string_split(c, ' ')) AS t FROM canon
        ),
        th AS (SELECT doc_id, md5_number_upper(t) AS h FROM toks),
        votes AS (
            SELECT doc_id, j.j,
                   sum(CASE WHEN (h >> j.j) & 1 = 1 THEN 1 ELSE -1 END) AS v
            FROM th, unnest(range(0, 64)) j(j)
            GROUP BY doc_id, j.j
        ),
        fp AS (
            SELECT doc_id,
                   CAST(sum(CASE WHEN v > 0 THEN
                       CASE WHEN j = 63 THEN -9223372036854775808
                            ELSE (CAST(1 AS BIGINT) << CAST(j AS INTEGER)) END
                       ELSE 0 END) AS BIGINT) AS simhash
            FROM votes GROUP BY doc_id
        )
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT)
                   AS hamming
        FROM fp a JOIN fp b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= 7
        """,
    ),
    QuerySpec(
        "dedup_embedding_cosine",
        q_embedding_neardup,
        oracle="""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               round(list_dot_product(a.v, b.v)
                     / (sqrt(list_dot_product(a.v, a.v))
                        * sqrt(list_dot_product(b.v, b.v))), 6) AS cos
        FROM e a JOIN e b ON a.vec_id < b.vec_id
        WHERE list_dot_product(a.v, b.v)
              / (sqrt(list_dot_product(a.v, a.v))
                 * sqrt(list_dot_product(b.v, b.v))) >= 0.3
        """,
    ),
    QuerySpec(
        "dedup_substring_spans",
        q_substring_spans,
        # Duplicated k-token rolling windows, the exact-substring dedup
        # signal: md5 is computed on identical span strings in both
        # engines, so counts agree bit-for-bit.
        oracle=f"""
        WITH toks AS (
            SELECT doc_id, string_split({_CANON}, ' ') AS t FROM documents
        ),
        spans AS (
            SELECT doc_id,
                   md5(array_to_string(list_slice(t, i + 1, i + 8), ' ')) AS h
            FROM toks, unnest(range(0, greatest(len(t) - 8 + 1, 0))) AS u(i)
        ),
        c AS (SELECT h, count(*) AS cnt FROM spans GROUP BY h)
        SELECT s.doc_id,
               count(*) AS n_spans,
               CAST(sum(CASE WHEN c.cnt > 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_dup_spans,
               round(sum(CASE WHEN c.cnt > 1 THEN 1 ELSE 0 END)
                     / CAST(count(*) AS DOUBLE), 6) AS dup_frac
        FROM spans s JOIN c USING (h)
        GROUP BY s.doc_id
        """,
    ),
    QuerySpec(
        "dedup_substring_removal",
        q_substring_removal,
        # The consuming half: same md5 window hashes, then delete every
        # token covered by a duplicated window and reassemble the
        # remainder in position order — string_agg skips the NULLed
        # (removed) tokens exactly as Spark's collect_list does.
        oracle=f"""
        WITH toks AS (
            SELECT doc_id,
                   list_filter(string_split({_CANON}, ' '), x -> x <> '') AS t
            FROM documents
        ),
        tok AS (
            SELECT doc_id, u.i AS pos, t[u.i + 1] AS token
            FROM toks, unnest(range(0, len(t))) AS u(i)
        ),
        win AS (
            SELECT doc_id, i AS wpos,
                   md5(array_to_string(list_slice(t, i + 1, i + 8), ' ')) AS h
            FROM toks, unnest(range(0, greatest(len(t) - 8 + 1, 0))) AS u(i)
        ),
        dup AS (
            SELECT doc_id, wpos FROM (
                SELECT doc_id, wpos, count(*) OVER (PARTITION BY h) AS cnt
                FROM win
            ) WHERE cnt > 1
        ),
        cov AS (
            SELECT DISTINCT doc_id, wpos + j.j AS pos
            FROM dup, unnest(range(0, 8)) AS j(j)
        ),
        flag AS (
            SELECT tok.doc_id, tok.pos, tok.token,
                   cov.pos IS NOT NULL AS rem
            FROM tok LEFT JOIN cov
              ON tok.doc_id = cov.doc_id AND tok.pos = cov.pos
        ),
        per_doc AS (
            SELECT doc_id,
                   CAST(count(*) AS BIGINT) AS n_tokens,
                   CAST(sum(CASE WHEN rem THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_removed,
                   coalesce(string_agg(CASE WHEN NOT rem THEN token END,
                                       ' ' ORDER BY pos), '') AS cleaned_text
            FROM flag GROUP BY doc_id
        )
        SELECT d.doc_id,
               coalesce(p.n_tokens, 0) AS n_tokens,
               coalesce(p.n_removed, 0) AS n_removed,
               coalesce(p.cleaned_text, '') AS cleaned_text
        FROM documents d LEFT JOIN per_doc p USING (doc_id)
        """,
    ),
    QuerySpec(
        "dedup_fuzzy_levenshtein",
        q_fuzzy_levenshtein,
        oracle=f"""
        WITH b2 AS (
            SELECT doc_id,
                   substr({_CANON}, 1, 12) AS blk,
                   substr({_CANON}, 1, 80) AS probe
            FROM documents
        )
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(levenshtein(a.probe, b.probe) AS BIGINT) AS dist
        FROM b2 a JOIN b2 b ON a.blk = b.blk AND a.doc_id < b.doc_id
        WHERE levenshtein(a.probe, b.probe) <= 10
        """,
    ),
    # dedup_semantic_cells (SemDeDup) is pytest-only coverage: its
    # seeded k-means training has no SQL twin, so it is exercised by
    # tests/test_dedup.py rather than declared to the driver gate
    # (r4, VERDICT item 5 option b).
    QuerySpec(
        "split_leakage_audit",
        q_split_leakage,
        oracle=f"""
        WITH pairs AS ({_NGRAM_PAIRS_SQL}),
        sym AS (
            SELECT doc_a AS doc, doc_b AS other, jaccard AS sim FROM pairs
            UNION ALL
            SELECT doc_b, doc_a, jaccard FROM pairs
        ),
        sp AS ({_SPLIT_SQL})
        SELECT s.doc AS doc_id, sd.split,
               CAST(count(*) AS BIGINT) AS n_train_dups,
               max(s.sim) AS max_sim
        FROM sym s
        JOIN sp sd ON s.doc = sd.doc_id
        JOIN sp so ON s.other = so.doc_id
        WHERE sd.split <> 'train' AND so.split = 'train'
        GROUP BY s.doc, sd.split
        """,
    ),
    QuerySpec(
        "bigram_novelty_vs_train",
        q_bigram_novelty,
        oracle=f"""
        WITH toks AS (
            SELECT doc_id,
                   list_filter(string_split({_CANON}, ' '), x -> x <> '') AS t
            FROM documents
        ),
        bg AS (
            SELECT doc_id, t[i + 1] || ' ' || t[i + 2] AS bg
            FROM toks, unnest(range(0, greatest(len(t) - 1, 0))) AS u(i)
            WHERE len(t) >= 2
        ),
        sp AS ({_SPLIT_SQL}),
        lab AS (SELECT bg.doc_id, bg.bg, sp.split
                FROM bg JOIN sp USING (doc_id)),
        train_set AS (
            SELECT DISTINCT bg FROM lab WHERE split = 'train'
        )
        SELECT l.doc_id, l.split,
               CAST(count(*) AS BIGINT) AS n_bigrams,
               CAST(sum(CASE WHEN t.bg IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_novel,
               round(sum(CASE WHEN t.bg IS NULL THEN 1 ELSE 0 END)
                     / CAST(count(*) AS DOUBLE), 6) AS novelty_rate
        FROM lab l LEFT JOIN train_set t USING (bg)
        WHERE l.split <> 'train'
        GROUP BY l.doc_id, l.split
        """,
    ),
    QuerySpec(
        "cdc_chunk_dedup",
        q_cdc_chunks,
        # same md5 window/chunk strings on both engines; bounds via
        # list_filter over range, chunks via correlated lateral unnest
        oracle=f"""
        WITH toks AS (
            SELECT doc_id,
                   list_filter(string_split({_CANON}, ' '), x -> x <> '') AS t
            FROM documents
        ),
        b AS (
            SELECT doc_id, t,
                   list_append(list_filter(range(0, len(t)),
                       i -> i >= 3 AND i < len(t) - 1 AND
                            substring(md5(array_to_string(
                                list_slice(t, i - 2, i + 1), ' ')), 32, 1)
                                IN ('0', '1', '2', '3')),
                       len(t) - 1) AS bounds
            FROM toks WHERE len(t) > 0
        ),
        ch AS (
            SELECT doc_id,
                   md5(array_to_string(list_slice(t,
                       (CASE WHEN u.j = 0 THEN -1 ELSE bounds[u.j] END) + 2,
                       bounds[u.j + 1] + 1), ' ')) AS h
            FROM b, unnest(range(0, len(bounds))) AS u(j)
        ),
        c AS (SELECT h, count(*) AS cnt FROM ch GROUP BY h),
        per_doc AS (
            SELECT ch.doc_id, count(*) AS n_chunks,
                   sum(CASE WHEN c.cnt > 1 THEN 1 ELSE 0 END) AS n_dup
            FROM ch JOIN c USING (h) GROUP BY ch.doc_id
        )
        SELECT d.doc_id,
               CAST(coalesce(p.n_chunks, 0) AS BIGINT) AS n_chunks,
               CAST(coalesce(p.n_dup, 0) AS BIGINT) AS n_dup_chunks,
               round(coalesce(p.n_dup, 0)
                     / CAST(greatest(coalesce(p.n_chunks, 0), 1) AS DOUBLE),
                     6) AS dup_chunk_frac
        FROM documents d LEFT JOIN per_doc p USING (doc_id)
        """,
    ),
    QuerySpec(
        "dedup_incremental_bloom",
        q_incremental_bloom,
        oracle="""
        SELECT d.doc_id FROM documents d
        WHERE d.doc_id >= 250 AND NOT EXISTS (
            SELECT 1 FROM documents h
            WHERE h.doc_id < 400 AND h.text = d.text)
        """,
    ),
    QuerySpec(
        "dedup_containment_pairs",
        q_containment_pairs,
        # same inverted-index CTE skeleton as the jaccard oracle, but
        # the score is the asymmetric Broder containment from each
        # side, and the keep-filter is an exact integer
        # cross-multiplication (n_common·10⁶ ≥ 500000·n_side)
        oracle=f"""
        WITH sh AS (
            SELECT doc_id,
                   list_filter(list_distinct(list_transform(
                       range(0, greatest(len(string_split({_CANON}, ' ')) - 3, 0) + 1),
                       i -> array_to_string(
                           list_slice(string_split({_CANON}, ' '), i + 1, i + 3), ' ')
                   )), s -> s <> '') AS shingles
            FROM documents
        ),
        posting_all AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
        rare AS (
            SELECT shingle FROM posting_all GROUP BY shingle
            HAVING count(*) <= greatest(
                CAST(floor(0.01 * (SELECT count(*) FROM documents)) AS BIGINT), 100)
        ),
        posting AS (
            SELECT doc_id, shingle FROM posting_all
            WHERE shingle IN (SELECT shingle FROM rare)
        ),
        common AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
            FROM posting a JOIN posting b
              ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ),
        sizes AS (SELECT doc_id, len(shingles) AS n_sh FROM sh)
        SELECT doc_a, doc_b, n_common,
               round(n_common / CAST(sa.n_sh AS DOUBLE), 6) AS containment_ab,
               round(n_common / CAST(sb.n_sh AS DOUBLE), 6) AS containment_ba
        FROM common
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE n_common * 1000000 >= 500000 * sa.n_sh
           OR n_common * 1000000 >= 500000 * sb.n_sh
        """,
    ),
    QuerySpec(
        "fingerprint_winnowing",
        q_winnowing,
        # md5 hex strings compared LEXICOGRAPHICALLY on both engines
        # (binary collation) — the window minimum needs no numeric
        # conversion; fp_md5 hashes the sorted selection set so the
        # value hash pins exact per-window argmin + rightmost-tie
        # semantics, not just counts
        oracle=f"""
        WITH t AS (
            SELECT doc_id,
                   list_filter(string_split({_CANON}, ' '), x -> x <> '')
                       AS toks
            FROM documents
        ), g AS (
            SELECT doc_id,
                   CASE WHEN len(toks) >= 4 THEN
                       list_transform(range(1, len(toks) - 3 + 1), i ->
                           md5(array_to_string(
                               list_slice(toks, i, i + 3), ' ')))
                   ELSE CAST([] AS VARCHAR[]) END AS hs
            FROM t
        ), s AS (
            SELECT doc_id, hs,
                   CASE WHEN len(hs) >= 4 THEN
                       list_distinct(list_transform(
                           range(1, len(hs) - 3 + 1), i ->
                           lpad(CAST(i + 4 - list_position(
                                   list_reverse(list_slice(hs, i, i + 3)),
                                   list_min(list_slice(hs, i, i + 3)))
                               AS VARCHAR), 6, '0')
                           || ':' || list_min(list_slice(hs, i, i + 3))))
                   ELSE CAST([] AS VARCHAR[]) END AS fps
            FROM g
        )
        SELECT doc_id, CAST(len(hs) AS BIGINT) AS n_grams,
               CAST(len(fps) AS BIGINT) AS n_selected,
               md5(array_to_string(list_sort(fps), ',')) AS fp_md5
        FROM s
        """,
    ),
    QuerySpec(
        "dedup_ppjoin_prefix",
        q_ppjoin_prefix,
        # textbook FULL posting-list join (no prefix, no df cut) with
        # the same integer cross-multiplied threshold: hash equality
        # with the prefix-filtered engine plan proves the filter is
        # lossless, run after run
        oracle=f"""
        WITH sh AS (
            SELECT doc_id,
                   list_filter(list_distinct(list_transform(
                       range(0, greatest(len(string_split({_CANON}, ' ')) - 3, 0) + 1),
                       i -> array_to_string(
                           list_slice(string_split({_CANON}, ' '), i + 1, i + 3), ' ')
                   )), s -> s <> '') AS shingles
            FROM documents
        ),
        posting AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
        common AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   CAST(count(*) AS BIGINT) AS n_common
            FROM posting a JOIN posting b
              ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ),
        sizes AS (SELECT doc_id, CAST(len(shingles) AS BIGINT) AS n_sh
                  FROM sh)
        SELECT doc_a, doc_b, n_common,
               round(n_common
                     / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE), 6)
                   AS jaccard
        FROM common
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE 5 * n_common >= 2 * (sa.n_sh + sb.n_sh - n_common)
        """,
    ),
    QuerySpec(
        "dedup_cluster_size_histogram",
        q_cluster_size_histogram,
        oracle=f"""
        WITH g AS (
            SELECT {_CANON} AS canon, CAST(count(*) AS BIGINT) AS n_dups
            FROM documents GROUP BY 1
        )
        SELECT n_dups AS cluster_size,
               CAST(count(*) AS BIGINT) AS n_clusters
        FROM g GROUP BY n_dups
        """,
    ),
    QuerySpec(
        "linkage_sorted_neighborhood",
        q_sorted_neighborhood,
        # same total order (p_name, p_partkey), same window-4 neighbor
        # pairs, same unit-cost Levenshtein in both engines
        oracle="""
        WITH ranked AS (
            SELECT p_partkey AS k, p_name AS nm,
                   CAST(row_number() OVER (ORDER BY p_name, p_partkey)
                        AS BIGINT) AS rn
            FROM part
        )
        SELECT a.k AS key_a, b.k AS key_b,
               CAST(levenshtein(a.nm, b.nm) AS INTEGER) AS edit_dist
        FROM ranked a JOIN ranked b
          ON b.rn BETWEEN a.rn + 1 AND a.rn + 3
        WHERE levenshtein(a.nm, b.nm) <= 2
        """,
    ),
]
