"""Round-12 guard tests: the LSH band-bucket width cap (VERDICT r11
item 1 — the degenerate near-dup template-cluster hazard).

A template cluster of k near-identical docs (boilerplate pages
differing by one token — NOT exact duplicates, so stage-0 exact dedup
does not collapse them) shares band hashes, so the unguarded band
equi-join emits Theta(k^2) candidate rows from one bucket.
`bucket_cap` routes over-wide buckets to a rep-star (Theta(k)); these
tests pin the guard's contract:

- a cap no bucket exceeds is a byte-identical NO-OP (the driver-side
  guard receipt is the `dedup_minhash_capped_drop` query, whose drop
  policy makes the receipt output-divergent at sf0.01 — r13);
- with the cap ACTIVE on a planted template cluster, pair-level
  output shrinks but CLUSTER-level recall — what dedup consumes —
  is intact: connected components over the guarded pairs still
  recover the full cluster plus every background pair;
- `lsh_bucket_stats` reports the widths/overflow the cap decision
  needs.
"""

from __future__ import annotations

import hashlib

import pytest

from demo_flink_spark.operators import dedup as dd


def _letters(s: str) -> str:
    """Hex -> letters so the dedup canonicalizer (strips digits)
    keeps every token intact (same trick as tools/probe.py scale synth)."""
    return s.translate(str.maketrans("0123456789", "ghijklmnop"))


def _tok(seed: str) -> str:
    return _letters(hashlib.md5(seed.encode()).hexdigest()[:8])


def _template_corpus(spark, k: int = 8, n_background_pairs: int = 10):
    """k near-identical template docs (50 tokens, last token unique
    per doc -> pairwise shingle Jaccard 47/49 ~ 0.96) + background
    docs in identical pairs sharing no tokens with anything else.

    Closed-form truth at threshold 0.2: template pairs k(k-1)/2,
    background pairs n_background_pairs, nothing cross-group.
    """
    template = [_tok(f"tmpl_{i}") for i in range(49)]
    rows = []
    for d in range(k):
        rows.append((d, " ".join(template + [_tok(f"uniq_{d}")])))
    for p in range(n_background_pairs):
        toks = [_tok(f"bg_{p}_{i}") for i in range(25)]
        text = " ".join(toks)
        rows.append((1000 + 2 * p, text))
        rows.append((1000 + 2 * p + 1, text))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_lsh_bucket_cap_big_cap_is_noop(spark):
    """cap >= every bucket width => output identical to unguarded
    (both star and drop: the overflow branch never fires)."""
    docs = _template_corpus(spark, k=6, n_background_pairs=6)
    base = sorted(
        map(tuple, dd.minhash_lsh_pairs(docs, n=3, threshold=0.2).collect())
    )
    for policy in ("star", "drop"):
        capped = sorted(
            map(
                tuple,
                dd.minhash_lsh_pairs(
                    docs,
                    n=3,
                    threshold=0.2,
                    bucket_cap=10**6,
                    overflow=policy,
                ).collect(),
            )
        )
        assert capped == base, policy


def test_lsh_unguarded_finds_full_template_clique(spark):
    """Closed-form truth on the planted corpus: k(k-1)/2 template
    pairs + background pairs, nothing else (J ~ 0.96 sits far above
    the 16x4 banding's ~0.5 s-curve knee, so recall is lossless
    here — the deterministic seeded hashes make this exact)."""
    k, bg = 8, 10
    docs = _template_corpus(spark, k=k, n_background_pairs=bg)
    pairs = dd.minhash_lsh_pairs(docs, n=3, threshold=0.2).collect()
    assert len(pairs) == k * (k - 1) // 2 + bg
    tmpl = [r for r in pairs if r["doc_b"] < 1000]
    assert len(tmpl) == k * (k - 1) // 2
    assert all(r["jaccard"] >= 0.9 for r in tmpl)


def test_lsh_bucket_cap_star_preserves_cluster_recall(spark):
    """With the cap ACTIVE (cap < k), pair output narrows to the
    rep-star inside over-wide buckets, but connected components over
    the guarded pairs still recover the FULL template cluster and
    every background pair — cluster-level recall is the guard's
    contract."""
    k, bg = 8, 10
    docs = _template_corpus(spark, k=k, n_background_pairs=bg)
    base = {
        (r["doc_a"], r["doc_b"])
        for r in dd.minhash_lsh_pairs(docs, n=3, threshold=0.2).collect()
    }
    capped_rows = dd.minhash_lsh_pairs(
        docs, n=3, threshold=0.2, bucket_cap=2
    ).collect()
    capped = {(r["doc_a"], r["doc_b"]) for r in capped_rows}
    # precision 1 by construction (exact-Jaccard verification), so
    # the guard can only narrow:
    assert capped <= base
    assert len(capped) < len(base)  # the star actually fired
    comp = dd.connected_components(
        spark.createDataFrame(
            [(a, b) for a, b in capped], "doc_a long, doc_b long"
        )
    ).collect()
    clusters: dict[int, set[int]] = {}
    for r in comp:
        clusters.setdefault(r["comp"], set()).add(r["node"])
    sizes = sorted(len(v) for v in clusters.values())
    # one k-cluster + bg 2-clusters: the template cluster is intact
    assert sizes == [2] * bg + [k]


def test_lsh_bucket_cap_drop_policy_and_validation(spark):
    """'drop' excludes over-cap buckets entirely (subset of star,
    which is a subset of unguarded); unknown policies raise."""
    docs = _template_corpus(spark, k=8, n_background_pairs=6)
    base = {
        (r["doc_a"], r["doc_b"])
        for r in dd.minhash_lsh_pairs(docs, n=3, threshold=0.2).collect()
    }
    star = {
        (r["doc_a"], r["doc_b"])
        for r in dd.minhash_lsh_pairs(
            docs, n=3, threshold=0.2, bucket_cap=2
        ).collect()
    }
    drop = {
        (r["doc_a"], r["doc_b"])
        for r in dd.minhash_lsh_pairs(
            docs, n=3, threshold=0.2, bucket_cap=2, overflow="drop"
        ).collect()
    }
    assert drop <= star <= base
    # background docs land in width-2 buckets (under the cap), so the
    # drop policy keeps every background pair
    assert all((a, b) in drop for (a, b) in base if a >= 1000)
    with pytest.raises(ValueError, match="overflow"):
        dd.minhash_lsh_pairs(docs, bucket_cap=2, overflow="sample")


def test_lsh_bucket_stats_reports_overflow(spark):
    """Stats row: widths and over-cap counts sized to the planted
    cluster. Every band puts the k template docs in one bucket
    (pairwise J~0.96 still leaves per-band splits possible, so
    assert >= the certain bounds, == where determinism pins it)."""
    k, bg = 8, 6
    docs = _template_corpus(spark, k=k, n_background_pairs=bg)
    row = dd.lsh_bucket_stats(docs, n=3, bucket_cap=2).collect()[0]
    assert row["max_width"] >= k - 1  # modal template bucket
    assert row["n_over_cap"] >= 1
    assert row["docs_in_over_cap"] >= k - 1
    # candidate volume >= what the background alone contributes
    # (16 bands x bg buckets of width 2) plus one near-full clique
    assert row["candidate_pairs"] >= 16 * bg + (k - 1) * (k - 2) // 2
    # without a cap the overflow columns are absent
    row2 = dd.lsh_bucket_stats(docs, n=3).collect()[0]
    assert "n_over_cap" not in row2.asDict()


# --- run_stateful temp-dir contract (review findings r12) --------------------


def test_run_stateful_work_dir_branch(spark, tmp_path):
    """A caller-supplied work_dir owns the staging/checkpoint files:
    the helper stages under it, does NOT delete it, and never creates
    its own stateful_run_* mkdtemp."""
    import glob
    import os
    import tempfile

    from demo_flink_spark.streaming.harness import run_stateful
    from demo_flink_spark.streaming.stateful_ops import RUNNING_COUNTER

    # mkdtemp stages under tempfile.gettempdir(), not a literal /tmp —
    # a hardcoded /tmp glob passes vacuously under a custom TMPDIR
    leak_glob = os.path.join(tempfile.gettempdir(), "stateful_run_*")
    before = set(glob.glob(leak_glob))
    src = spark.createDataFrame(
        [(1, "u1", "click"), (2, "u1", "click")],
        "seq long, user_id string, action string",
    )
    out = run_stateful(
        spark, src, ["user_id"], RUNNING_COUNTER, work_dir=str(tmp_path)
    )
    assert {r["seq"]: r["clicks"] for r in out.collect()} == {1: 1, 2: 2}
    staged = list(tmp_path.iterdir())
    assert any(p.name.startswith("src_") for p in staged)
    assert any(p.name.startswith("ckpt_") for p in staged)
    assert set(glob.glob(leak_glob)) == before


def test_run_stateful_no_leak_on_error(spark):
    """Early validation errors leave no stateful_run_* dir behind
    (the review found the old structure mkdtemp'd before validating
    and only cleaned up around processAllAvailable)."""
    import glob
    import os
    import tempfile

    import pytest as _pytest
    from pyspark.sql.streaming.state import GroupStateTimeout

    from demo_flink_spark.streaming.harness import run_stateful
    from demo_flink_spark.streaming.stateful_ops import RUNNING_COUNTER

    leak_glob = os.path.join(tempfile.gettempdir(), "stateful_run_*")
    before = set(glob.glob(leak_glob))
    src = spark.createDataFrame(
        [(1, "u1", "x")], "seq long, user_id string, action string"
    )
    with _pytest.raises(ValueError, match="batch_col"):
        run_stateful(spark, src, ["user_id"], RUNNING_COUNTER, n_batches=2)
    with _pytest.raises(ValueError, match="watermark"):
        run_stateful(
            spark, src, ["user_id"], RUNNING_COUNTER,
            timeout_conf=GroupStateTimeout.EventTimeTimeout,
        )
    # a mid-build failure (bad column) must also clean its own root
    with _pytest.raises(Exception):
        run_stateful(spark, src, ["no_such_column"], RUNNING_COUNTER)
    assert set(glob.glob(leak_glob)) == before
