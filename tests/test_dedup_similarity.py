"""Golden + property tests for dedup and similarity operators."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from demo_flink_spark.operators import dedup as dd
from demo_flink_spark.operators import similarity as sim
from tests.conftest import SF_DIR

DOCS = [
    # 0/1: exact duplicates after normalization (case+punct differ)
    (0, "The quick brown fox jumps over the lazy dog"),
    (1, "the QUICK brown fox, jumps over the lazy dog!!"),
    # 2: near-dup of 0 (one word changed)
    (2, "the quick brown fox jumps over the sleepy dog"),
    # 3: unrelated
    (3, "spark engines shuffle data between executors every stage"),
    # 4: near-dup of 3
    (4, "spark engines shuffle data between executors each stage"),
]


def _docs_df(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_exact_dedup_merges_normalized_duplicates(spark):
    out = {r["canonical_id"]: r["n_dups"] for r in dd.exact_dedup(_docs_df(spark)).collect()}
    assert out[0] == 2          # docs 0 and 1 collapse
    assert sum(out.values()) == 5


def test_ngram_jaccard_finds_neardups(spark):
    pairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dd.ngram_jaccard_pairs(_docs_df(spark), n=2, threshold=0.3).collect()
    }
    assert (0, 1) in pairs and pairs[(0, 1)] == 1.0  # identical shingle sets
    assert (0, 2) in pairs and 0.3 <= pairs[(0, 2)] < 1.0
    assert (3, 4) in pairs
    assert (0, 3) not in pairs  # unrelated docs


def test_minhash_lsh_subset_of_exact(spark):
    """Verified-LSH output must be a subset of exact Jaccard pairs at
    the same threshold (no false positives), and on this fixture the
    near-identical pairs must be recalled."""
    docs = _docs_df(spark)
    exact = {
        (r["doc_a"], r["doc_b"])
        for r in dd.ngram_jaccard_pairs(docs, n=2, threshold=0.3).collect()
    }
    lsh = {
        (r["doc_a"], r["doc_b"])
        for r in dd.minhash_lsh_pairs(docs, n=2, threshold=0.3).collect()
    }
    assert lsh <= exact
    assert (0, 1) in lsh  # identical docs always collide in every band


def test_simhash_identical_and_neardup(spark):
    docs = _docs_df(spark)
    fp = {r["doc_id"]: r["simhash"] for r in dd.simhash_fingerprints(docs).collect()}
    assert fp[0] == fp[1]  # normalized-identical => same fingerprint
    pairs = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in dd.simhash_pairs(docs, max_hamming=7).collect()
    }
    assert pairs[(0, 1)] == 0
    assert (0, 2) in pairs  # one-word change: small hamming distance


def test_srp_lsh_recall_vs_bruteforce(spark):
    """ANN recall@5 against the exact baseline on real embeddings."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {
        (r["query_id"], r["vec_id"])
        for r in sim.cosine_topk_bruteforce(emb, queries, k=5).collect()
    }
    approx = {
        (r["query_id"], r["vec_id"])
        for r in sim.cosine_topk_srp_lsh(emb, queries, k=5).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"SRP-LSH recall@5 too low: {recall}"


def test_cosine_self_similarity(spark):
    df = spark.createDataFrame([(1, [1.0, 2.0, 3.0])], "id long, v array<float>")
    got = df.select(F.round(dd.cosine(F.col("v"), F.col("v")), 9).alias("c")).first()["c"]
    assert got == 1.0


def test_ivf_recall_vs_bruteforce(spark):
    """IVF-Flat recall@5 against the exact baseline on real embeddings."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {
        (r["query_id"], r["vec_id"])
        for r in sim.cosine_topk_bruteforce(emb, queries, k=5).collect()
    }
    approx = {
        (r["query_id"], r["vec_id"])
        for r in sim.cosine_topk_ivf(emb, queries, k=5, n_cells=16, nprobe=4).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"IVF recall@5 too low: {recall}"


def test_ivf_centroids_deterministic(spark):
    import numpy as np

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    c1 = sim.ivf_centroids(emb, n_cells=8, sample_size=128)
    c2 = sim.ivf_centroids(emb, n_cells=8, sample_size=128)
    assert np.array_equal(c1, c2)
    assert np.allclose(np.linalg.norm(c1, axis=1), 1.0)


def test_connected_components_chain_and_islands(spark):
    """A 4-node chain (1-2-3-4) must collapse to one component even
    though no single pair spans it; 10-11 is a separate component."""
    from demo_flink_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "doc_a long, doc_b long"
    )
    got = {r["node"]: r["comp"] for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_connected_components_labels_self_pair_nodes(spark):
    """A self-pair adds no edge but still names a node: 5 is its own
    component, and 2's self-pair does not disturb its real edge."""
    edges = spark.createDataFrame(
        [(5, 5), (1, 2), (2, 2)], "doc_a long, doc_b long"
    )
    got = {r["node"]: r["comp"] for r in dd.connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 5: 5}


def test_dedup_keep_list_keeps_one_per_cluster(spark):
    from demo_flink_spark.operators.dedup import dedup_keep_list

    docs = spark.createDataFrame([(i,) for i in range(1, 7)], "doc_id long")
    pairs = spark.createDataFrame([(1, 2), (2, 5)], "doc_a long, doc_b long")
    rows = {r["doc_id"]: r for r in dedup_keep_list(docs, pairs).collect()}
    assert [rows[i]["canonical_id"] for i in range(1, 7)] == [1, 1, 3, 4, 1, 6]
    assert sorted(i for i in rows if rows[i]["is_kept"]) == [1, 3, 4, 6]


def test_fuzzy_levenshtein_catches_typo_variants(spark):
    from demo_flink_spark.operators.dedup import fuzzy_pairs_levenshtein

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dogs"),  # 1 edit
            (3, "the quick brown cat sleeps under the busy log"),  # many edits
            (4, "completely different text about something else"),
        ],
        "doc_id long, text string",
    )
    pairs = {
        (r.doc_a, r.doc_b): r.dist
        for r in fuzzy_pairs_levenshtein(docs, max_dist=3).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] == 1
    # same prefix block but past the distance cap -> excluded
    assert (1, 3) not in pairs and (2, 3) not in pairs
    # different block -> never a candidate
    assert all(4 not in p for p in pairs)


def test_pq_recall_vs_bruteforce(spark):
    from pyspark.sql import functions as F

    from demo_flink_spark.operators.similarity import (
        cosine_topk_bruteforce,
        cosine_topk_pq,
    )
    from demo_flink_spark.sources import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {
        (r.query_id, r.vec_id)
        for r in cosine_topk_bruteforce(emb, queries, k=5).collect()
    }
    approx = {
        (r.query_id, r.vec_id)
        for r in cosine_topk_pq(emb, queries, k=5).collect()
    }
    recall = len(exact & approx) / len(exact)
    # ADC over 64-code books + 8x oversample re-rank (measured 0.92 on
    # this corpus; embeddings are near-random so gaps are tiny)
    assert recall >= 0.8, f"PQ recall {recall:.2f} too low"


def test_pq_encode_roundtrip_determinism(spark):
    from pyspark.sql import functions as F

    from demo_flink_spark.operators.similarity import pq_codebooks, pq_encode
    from demo_flink_spark.sources import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    books = pq_codebooks(emb)
    a = {
        r.vec_id: list(r.codes)
        for r in pq_encode(emb, "embedding", books, "vec_id").collect()
    }
    b = {
        r.vec_id: list(r.codes)
        for r in pq_encode(
            emb.repartition(7), "embedding", books, "vec_id"
        ).collect()
    }
    # codes independent of partitioning; all within the codebook range
    assert a == b
    assert all(0 <= c < books.shape[1] for codes in a.values() for c in codes)


def test_star_components_converge_on_long_chain(spark):
    # diameter-99 chain: label propagation would need 99 rounds; the
    # alternating star algorithm needs ~log^2
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(99)], "doc_a long, doc_b long"
    )
    labels = {
        r.node: r.comp for r in dd.connected_components(chain).collect()
    }
    assert len(labels) == 100
    assert set(labels.values()) == {0}


def test_star_components_match_min_label_on_random_graphs(spark):
    """On sparse 40-node graphs (many small components, some chains)
    the star components equal min-label propagation's labels: each
    node carries the least id reachable from it."""
    import random

    for seed in range(3):
        rng = random.Random(seed)
        edges = [
            (rng.randrange(40), rng.randrange(40)) for _ in range(30)
        ]
        edges = [(a, b) for a, b in edges if a != b]
        # min-label propagation, run in Python to its fixpoint
        want = {x: x for e in edges for x in e}
        changed = True
        while changed:
            changed = False
            for a, b in edges:
                m = min(want[a], want[b])
                if want[a] != m or want[b] != m:
                    want[a] = want[b] = m
                    changed = True
        df = spark.createDataFrame(edges, "doc_a long, doc_b long")
        got = {r.node: r.comp for r in dd.connected_components(df).collect()}
        assert got == want, f"seed {seed} diverged"


def test_semantic_dedup_cells_custom_id_col(spark):
    # ADVICE r2: id_col was not threaded into ivf_centroids (hardcoded
    # 'vec_id'), so a non-default id column raised AnalysisException.
    import numpy as np

    from demo_flink_spark.operators.dedup import semantic_dedup_cells

    rng = np.random.RandomState(3)
    base = rng.randn(8, 8)
    rows = []
    for i, v in enumerate(base):
        rows.append((i * 2, [float(x) for x in v]))
        rows.append((i * 2 + 1, [float(x) for x in v]))  # exact twin
    df = spark.createDataFrame(rows, "my_id long, embedding array<double>")
    out = semantic_dedup_cells(
        df, vec_col="embedding", id_col="my_id", n_cells=2, threshold=0.99
    )
    got = {r.my_id: r.is_dup for r in out.collect()}
    # every odd id has an identical lower-id twin -> must be flagged
    assert all(got[i] for i in range(1, 16, 2))


def test_dedup_keep_best_longest_policy(spark):
    from pyspark.sql import functions as F

    from demo_flink_spark.operators.dedup import dedup_keep_best

    docs = spark.createDataFrame(
        [
            (1, "short copy"),
            (2, "the much longer and more complete copy of it"),
            (3, "the much longer and complete copy"),
            (9, "unrelated standalone document"),
        ],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3)], "doc_a long, doc_b long"
    )
    score = F.size(F.split("text", " ")).cast("long")
    out = {r["doc_id"]: r for r in dedup_keep_best(docs, pairs, score).collect()}
    # one cluster {1,2,3} labeled by min id; doc 2 is longest -> kept
    assert all(out[d]["cluster_id"] == 1 for d in (1, 2, 3))
    assert out[2]["is_kept"] and not out[1]["is_kept"] and not out[3]["is_kept"]
    # singleton keeps itself
    assert out[9]["is_kept"] and out[9]["cluster_id"] == 9
    # tie on score resolves to the lower id
    tie = spark.createDataFrame(
        [(5, "a b c"), (6, "x y z")], "doc_id long, text string"
    )
    tpairs = spark.createDataFrame([(5, 6)], "doc_a long, doc_b long")
    tout = {
        r["doc_id"]: r for r in dedup_keep_best(tie, tpairs, score).collect()
    }
    assert tout[5]["is_kept"] and not tout[6]["is_kept"]


def test_hard_negatives_null_label_is_distinct(spark):
    """NULL-labeled corpus rows are negatives for non-NULL queries
    (IS DISTINCT FROM semantics), not silently dropped by a null-
    unsafe != predicate."""
    from demo_flink_spark.operators.similarity import hard_negatives

    corpus = spark.createDataFrame(
        [
            (10, [1.0, 0.0], "a"),   # same label as query: excluded
            (11, [1.0, 0.1], None),  # NULL label: must be a negative
            (12, [0.0, 1.0], "b"),   # other label: negative
        ],
        "vec_id long, embedding array<double>, label string",
    )
    queries = spark.createDataFrame(
        [(1, [1.0, 0.0], "a")],
        "query_id long, embedding array<double>, label string",
    )
    got = {r["vec_id"] for r in hard_negatives(corpus, queries, k=5).collect()}
    assert got == {11, 12}


def test_binary_quantize_words_bit_layout(spark):
    """bit i of word w == sign of dim 32w+i; -0.0 counts as >= 0."""
    v = [0.0] * 64
    v[0], v[3], v[33] = 1.0, 2.0, 5.0
    v[1] = -1.0
    v[2] = -0.0  # >= 0 on both engines -> bit SET
    neg = [-1.0] * 64
    df = spark.createDataFrame(
        [(1, v), (2, neg)], "vec_id long, embedding array<double>"
    )
    rows = {
        r["vec_id"]: (r["w0"], r["w1"])
        for r in sim.binary_quantize_words(df, "embedding", "vec_id").collect()
    }
    # doc1 w0: all-zero dims >= 0 -> every bit except bit 1 set
    assert rows[1][0] == (2**32 - 1) ^ 2
    assert rows[1][1] == 2**32 - 1  # dims 32..63 all >= 0
    assert rows[2] == (0, 0)


def test_hamming_topk_recall_vs_bruteforce(spark):
    """Binary-quantization ANN recall@5 on real embeddings: the
    10k-candidate Hamming prune must keep most of the exact top-5
    (a 64-bit sketch is coarse — measured 0.7 here vs 0.4 at 4k)."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {
        (r["query_id"], r["vec_id"])
        for r in sim.cosine_topk_bruteforce(emb, queries, k=5).collect()
    }
    approx = {
        (r["query_id"], r["vec_id"])
        for r in sim.cosine_topk_hamming(emb, queries, k=5).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"hamming recall@5 too low: {recall}"


def test_binary_quantize_rejects_non_multiple_of_32(spark):
    import pytest

    df = spark.createDataFrame([(1, [1.0])], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="multiple of 32"):
        sim.binary_quantize_words(df, "embedding", "vec_id", dim=48)


def test_minhash_signatures_rejects_bands_not_dividing_hashes(spark):
    """64 hashes cannot split into 12 equal bands; the band fold would
    silently leave the last 4 signature rows out of every band."""
    import pytest

    with pytest.raises(ValueError, match="must divide"):
        dd.minhash_signatures(_docs_df(spark), n_hashes=64, bands=12)


def test_label_centroid_cosine_matches_numpy(spark):
    """Centroid cosine must equal numpy over the SAME micros-rounded
    integers; two labels whose members share a direction hit cos=1."""
    import numpy as np

    from demo_flink_spark.operators.similarity import label_centroid_cosine

    rows = []
    base = {
        0: [1.0, 0.0, 0.0, 0.5],
        1: [2.0, 0.0, 0.0, 1.0],  # same direction as 0 -> cos 1
        2: [0.0, 1.0, -1.0, 0.25],
    }
    for lbl, v in base.items():
        for i in range(3):  # 3 identical members per label
            rows.append((lbl * 10 + i, [float(x) for x in v], lbl))
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label long"
    )
    got = {
        (r["label_a"], r["label_b"]): r
        for r in label_centroid_cosine(df).collect()
    }
    s = {
        lbl: np.array([round(float(np.float32(x)) * 1e6) for x in v],
                      dtype=np.int64) * 3
        for lbl, v in base.items()
    }
    for (a, b), r in got.items():
        # Dots are ~3.6e13 int64 scalars; their raw product (~1.3e27)
        # wraps int64 — convert each dot to float BEFORE multiplying.
        want = float(
            (s[a] @ s[b]) / np.sqrt(float(s[a] @ s[a]) * float(s[b] @ s[b]))
        )
        assert r["n_a"] == 3 and r["n_b"] == 3
        assert r["cos"] == want, (a, b, r["cos"], want)
    assert got[(0, 1)]["cos"] == 1.0
