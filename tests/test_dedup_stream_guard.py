"""Streaming band-bucket width guard receipts (VERDICT r13 #1 and #3).

The batch LSH guard (operators/dedup.py:minhash_lsh_pairs bucket_cap)
never reached the streaming twin: `incremental_lsh_dedup` joined each
micro-batch's band keys against the FULL accumulated index and against
itself with no cap, so a template cluster arriving over a stream pays
the batch path's measured Theta(k^2) blow-up (SCALING.md r12: slope
1.95, 128M pairs from one 160k-doc cluster) incrementally and
unmonitored. These tests plant that cluster and measure it:

- the STREAMING hazard shape is a hot bucket that GROWS: because only
  novel docs are folded into the index, the bucket accumulates when
  template variants band-collide but verify BELOW threshold (a
  hash-collision crowd, or a high-threshold dedup pass) — each new
  arrival then joins against every prior member. The planted fixture
  drives exactly that (variants at jaccard ~0.93, threshold 0.95) and
  asserts per-batch candidate counts GROW unguarded and PLATEAU under
  `bucket_cap` (star and drop), via the per-epoch stats sidecar;
- cluster detection survives the star guard: identical-canonical
  template docs still all resolve to the bucket rep across batches;
- the batch/streaming twin discipline (VERDICT r13 #3): over a
  clique near-dup corpus split into micro-batches, the stream's
  verdicts equal batch `minhash_lsh_pairs` + keep-min resolution on
  the concatenated corpus — guarded and unguarded alike.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from demo_flink_spark.sources.streams import file_stream
from demo_flink_spark.streaming.dedup_stream import (
    incremental_lsh_dedup,
    process_dedup_batch,
    seed_index,
)
from demo_flink_spark.streaming.harness import stage_batches

WORDS = (
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet "
    "kilo lima mike november oscar papa quebec romeo sierra tango "
    "uniform victor whiskey xray yankee zulu anchor beacon candle"
).split()
TEMPLATE = " ".join(WORDS)  # 29 words -> 27 trigram shingles

N_BATCHES = 5
T_PER_BATCH = 12  # template variants per batch
U_PER_BATCH = 3  # unique fillers per batch


def _letters(i: int) -> str:
    # digit->letter id that SURVIVES canonicalization (the operator
    # strips digits/punctuation, so "variant0001" would collapse every
    # variant to the same canonical word and jaccard 1.0)
    return "".join(chr(ord("a") + int(d)) for d in str(i))


def _variant(i: int) -> str:
    # one unique word appended: adds a single trailing trigram, so
    # pairwise jaccard ~ 27/29 ~ 0.93 — band-colliding near-identical,
    # but BELOW a 0.95 verification threshold (never a dup, always
    # indexed: the hot bucket grows by T_PER_BATCH every batch)
    return f"{TEMPLATE} zz{_letters(i)}"


def _unique(i: int) -> str:
    # id-derived words at every other position: every trigram window
    # contains one, so distinct uniques share zero shingles
    ls = _letters(i)
    return (
        f"doc {ls}a unrelated {ls}b cooking {ls}c gardening {ls}d "
        f"astronomy {ls}e chess {ls}f pottery {ls}g sailing {ls}h"
    )


def _batches():
    """doc_ids monotone in stream order (greedy first-occurrence-wins
    == keep-min); each batch = template variants + unique fillers."""
    out, next_id, v = [], 100, 0
    for _b in range(N_BATCHES):
        rows = []
        for _ in range(T_PER_BATCH):
            rows.append((next_id, _variant(v)))
            next_id, v = next_id + 1, v + 1
        for _ in range(U_PER_BATCH):
            rows.append((next_id, _unique(next_id)))
            next_id += 1
        out.append(rows)
    return out


def _run_batches(spark, tmp_path, tag, **kwargs):
    """Drive the planted batches through the REAL process_dedup_batch
    (the exact foreachBatch body) with a per-epoch stats sidecar;
    return (verdicts_by_doc, stats_by_epoch)."""
    index_dir = str(tmp_path / f"idx_{tag}")
    verdict_dir = str(tmp_path / f"v_{tag}")
    stats_dir = str(tmp_path / f"s_{tag}")
    seed_index(
        spark.createDataFrame(
            [(1, "seed history document about nothing in particular here")],
            "doc_id long, text string",
        ),
        index_dir,
    )
    for epoch, rows in enumerate(_batches()):
        process_dedup_batch(
            spark.createDataFrame(rows, "doc_id long, text string"),
            epoch,
            index_dir,
            verdict_dir,
            stats_dir=stats_dir,
            **kwargs,
        )
    verdicts = {
        r.doc_id: r for r in spark.read.parquet(verdict_dir).collect()
    }
    stats = {
        r.epoch_id: r for r in spark.read.parquet(stats_dir).collect()
    }
    return verdicts, stats


def test_unguarded_per_batch_candidates_grow(spark, tmp_path):
    """The measured hazard: with no cap, per-batch candidate volume
    tracks the ACCUMULATED cluster size — batch b's template docs join
    against ~T*b indexed prior variants, so the series grows linearly
    (total over the cluster's life: Theta(k^2))."""
    _, stats = _run_batches(spark, tmp_path, "raw", threshold=0.95)
    series = [stats[e].n_candidates for e in range(N_BATCHES)]
    # linear growth: the last batch pays several times the first
    # (measured shape ~ [66, 210, 354, 498, 642] modulo band noise)
    assert series[-1] >= 3 * max(series[0], 1), series
    assert all(b >= a for a, b in zip(series, series[1:])), series
    # unguarded path reports no over-cap routing
    assert all(stats[e].n_over_cap == 0 for e in range(N_BATCHES))


@pytest.mark.parametrize("overflow", ["star", "drop"])
def test_guarded_per_batch_candidates_plateau(spark, tmp_path, overflow):
    """With bucket_cap the same stream's per-batch candidate count is
    Theta(cap * batch): flat across batches even as the hot bucket's
    membership grows T_PER_BATCH per batch. Both overflow policies
    bound it; the stats sidecar proves the guard actually routed
    (n_over_cap > 0 once the bucket exceeds the cap)."""
    _, stats = _run_batches(
        spark, tmp_path, f"cap_{overflow}",
        threshold=0.95, bucket_cap=4, overflow=overflow,
    )
    series = [stats[e].n_candidates for e in range(N_BATCHES)]
    # star: each new member pairs with the rep only -> ~T per batch;
    # drop: over-cap buckets emit nothing -> ~0. Either way the last
    # batch must NOT exceed a constant multiple of batch size, and
    # must show no growth over the first guarded batch.
    bound = 3 * (T_PER_BATCH + U_PER_BATCH)
    assert max(series) <= bound, series
    assert series[-1] <= max(2 * max(series[0], T_PER_BATCH), 1), series
    # the guard engaged: over-cap buckets were seen and routed
    assert stats[N_BATCHES - 1].n_over_cap > 0
    assert stats[N_BATCHES - 1].docs_in_over_cap >= T_PER_BATCH


def test_star_guard_preserves_template_detection(spark, tmp_path):
    """Cluster-level recall under the star guard: genuinely identical
    (after canonicalization) template docs must STILL all resolve as
    duplicates of the rep — across batches, against an over-cap
    bucket. This is the batch star policy's cluster-recall contract
    (operators/dedup.py docstring) carried into the stream."""
    index_dir = str(tmp_path / "idx")
    verdict_dir = str(tmp_path / "v")
    seed_index(
        spark.createDataFrame(
            [(1, "seed history document about nothing in particular here")],
            "doc_id long, text string",
        ),
        index_dir,
    )
    # identical canonical text (digits/punct are stripped by
    # _canonical, so "Page 7 of 9" boilerplate variants collapse)
    batches = [
        [(100 + i, f"{TEMPLATE} #{i}!") for i in range(8)],
        [(200 + i, f"{TEMPLATE} #{i + 8}?") for i in range(8)],
    ]
    for epoch, rows in enumerate(batches):
        process_dedup_batch(
            spark.createDataFrame(rows, "doc_id long, text string"),
            epoch,
            index_dir,
            verdict_dir,
            threshold=0.4,
            bucket_cap=3,
            overflow="star",
        )
    v = {r.doc_id: r for r in spark.read.parquet(verdict_dir).collect()}
    # batch 0: 100 is the bucket rep (novel); 101..107 all dup -> 100
    assert not v[100].is_dup
    for i in range(101, 108):
        assert v[i].is_dup and v[i].matched_id == 100, v[i]
    # batch 1: the indexed rep (100) anchors the over-cap bucket; all
    # of batch 1's members resolve to it — detection survived the cap
    for i in range(200, 208):
        assert v[i].is_dup and v[i].matched_id == 100, v[i]
    # index holds only the rep + seed: the template cluster never
    # bloats the index either
    indexed = {
        r.doc_id
        for r in spark.read.parquet(index_dir)
        .select("doc_id").distinct().collect()
    }
    assert indexed == {1, 100}


CLIQUE_A = "the quick brown fox jumps over the lazy dog near the river"
CLIQUE_B = (
    "distributed engines broadcast small dimension tables and push "
    "filters into columnar scans"
)


def _clique_corpus():
    """Three batches of clique near-dups (identical canonical text =>
    jaccard 1.0 => every pair verifies) + singletons, ids monotone in
    stream order. On cliques, greedy first-occurrence-wins equals
    pair-list + keep-min resolution, so the stream and the batch
    operator must agree exactly."""
    return [
        [(10, CLIQUE_A + "."), (11, CLIQUE_A + "!"), (12, _unique(12))],
        [(13, CLIQUE_B + "?"), (14, CLIQUE_A + ";"), (15, CLIQUE_B + ",")],
        [(16, _unique(16)), (17, CLIQUE_B + ":"), (18, CLIQUE_A)],
    ]


@pytest.mark.parametrize("cap", [None, 1])
def test_stream_matches_batch_keepmin_on_cliques(spark, tmp_path, cap):
    """VERDICT r13 #3 — the batch/streaming twin receipt: the stream's
    dup set over k micro-batches equals `minhash_lsh_pairs` + keep-min
    resolution over the concatenated corpus, with matched_id landing
    on the clique minimum. Runs unguarded AND with the star guard
    (cap=1 routes every multi-member bucket through the star),
    pinning that the guard refactor did not move the semantics."""
    from demo_flink_spark.operators.dedup import minhash_lsh_pairs

    batches = _clique_corpus()
    flat = [r for b in batches for r in b]
    corpus = spark.createDataFrame(flat, "doc_id long, text string")

    # batch side: pair list + keep-min (dup iff some lower-id match)
    kwargs = {} if cap is None else {"bucket_cap": cap, "overflow": "star"}
    pairs = minhash_lsh_pairs(corpus, threshold=0.4, **kwargs).collect()
    batch_dups = {p.doc_b for p in pairs}
    batch_match = {}
    for p in pairs:
        cur = batch_match.get(p.doc_b)
        if cur is None or p.doc_a < cur:
            batch_match[p.doc_b] = p.doc_a

    # stream side: same corpus in stream order (empty-ish seed)
    index_dir = str(tmp_path / f"idx{cap}")
    verdict_dir = str(tmp_path / f"v{cap}")
    seed_index(
        spark.createDataFrame(
            [(1, "seed history document about nothing in particular here")],
            "doc_id long, text string",
        ),
        index_dir,
    )
    stream_kwargs = dict(kwargs)
    for epoch, rows in enumerate(batches):
        process_dedup_batch(
            spark.createDataFrame(rows, "doc_id long, text string"),
            epoch, index_dir, verdict_dir, threshold=0.4, **stream_kwargs,
        )
    v = {r.doc_id: r for r in spark.read.parquet(verdict_dir).collect()}

    assert {d for d, r in v.items() if r.is_dup} == batch_dups
    for d in batch_dups:
        assert v[d].matched_id == batch_match[d], (d, v[d], batch_match[d])
    # kept set = clique minima + singletons, both engines
    assert {d for d, r in v.items() if not r.is_dup} == {10, 12, 13, 16}


def test_real_streaming_query_with_guard(spark, tmp_path):
    """The guard through the REAL streaming entry point (foreachBatch
    via incremental_lsh_dedup, file-drop source): same template
    detection and stats sidecar as the direct-batch receipts above."""
    index_dir = str(tmp_path / "idx")
    verdict_dir = str(tmp_path / "v")
    stats_dir = str(tmp_path / "s")
    seed_index(
        spark.createDataFrame(
            [(1, "seed history document about nothing in particular here")],
            "doc_id long, text string",
        ),
        index_dir,
    )
    batches = [
        [(100 + i, f"{TEMPLATE} #{i}!") for i in range(6)],
        [(200 + i, f"{TEMPLATE} #{i + 6}?") for i in range(6)],
    ]
    schema = "doc_id long, text string"
    frames = [spark.createDataFrame(rows, schema) for rows in batches]
    stream = file_stream(spark, stage_batches(frames, tmp_path / "src"), schema)
    q = incremental_lsh_dedup(
        stream, index_dir, verdict_dir, threshold=0.4,
        bucket_cap=3, overflow="star", stats_dir=stats_dir,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    v = {r.doc_id: r for r in spark.read.parquet(verdict_dir).collect()}
    assert not v[100].is_dup
    assert all(v[i].is_dup and v[i].matched_id == 100 for i in range(101, 106))
    assert all(v[i].is_dup and v[i].matched_id == 100 for i in range(200, 206))
    stats = {r.epoch_id: r for r in spark.read.parquet(stats_dir).collect()}
    assert set(stats) == {0, 1} and stats[1].n_over_cap > 0


def test_overflow_validation(spark, tmp_path):
    with pytest.raises(ValueError, match="overflow"):
        process_dedup_batch(
            spark.createDataFrame([(1, "x")], "doc_id long, text string"),
            0, str(tmp_path / "i"), str(tmp_path / "v"),
            bucket_cap=2, overflow="median",
        )


# --- index compaction (the maintenance half of the 100 TB story) ----------


def _run_epochs(spark, batches, index_dir, verdict_dir, **kwargs):
    from demo_flink_spark.streaming.dedup_stream import process_dedup_batch

    for epoch, rows in enumerate(batches):
        process_dedup_batch(
            spark.createDataFrame(rows, "doc_id long, text string"),
            epoch, index_dir, verdict_dir, threshold=0.4, **kwargs,
        )


def _verdict_rows(spark, verdict_dir):
    return sorted(
        (r.doc_id, r.is_dup, r.matched_id, r.epoch_id)
        for r in spark.read.parquet(verdict_dir).collect()
    )


def test_compact_index_preserves_semantics(spark, tmp_path):
    """compact_index folds closed epochs into one consolidated
    negative epoch: later batches must produce verdicts IDENTICAL to an
    uncompacted twin, the index doc set must be unchanged, and the
    epoch partition count must drop to (folded) + (live)."""
    import os

    from demo_flink_spark.streaming.dedup_stream import compact_index

    batches = _clique_corpus()
    seed = spark.createDataFrame(
        [(1, "seed history document about nothing in particular here")],
        "doc_id long, text string",
    )
    # twin A: no compaction
    seed_index(seed, str(tmp_path / "idxA"))
    _run_epochs(spark, batches, str(tmp_path / "idxA"), str(tmp_path / "vA"))
    # twin B: compact after epoch 1, then run epoch 2
    seed_index(seed, str(tmp_path / "idxB"))
    _run_epochs(spark, batches[:2], str(tmp_path / "idxB"), str(tmp_path / "vB"))
    folded = compact_index(spark, str(tmp_path / "idxB"), up_to_epoch=1)
    assert folded > 0
    epochs = {
        int(d.split("=", 1)[1])
        for d in os.listdir(str(tmp_path / "idxB"))
        if d.startswith("epoch_id=")
    }
    # exactly one partition left: the fresh consolidated negative
    # epoch (one below the pre-compaction minimum of -1)
    assert epochs == {-2}
    _run_epochs(
        spark, batches[2:], str(tmp_path / "idxB"), str(tmp_path / "vB2"),
    )
    # compaction changed NOTHING the stream can observe... except the
    # verdict epoch stamp of twin B's last batch (it processed the
    # same rows as twin A's epoch 2 but under epoch index 0 of the
    # continuation run), so compare modulo the stamp
    a = _verdict_rows(spark, str(tmp_path / "vA"))
    b = _verdict_rows(spark, str(tmp_path / "vB")) + _verdict_rows(
        spark, str(tmp_path / "vB2")
    )
    assert [(d, i, m) for d, i, m, _ in a] == sorted(
        (d, i, m) for d, i, m, _ in b
    )
    docs_a = {
        r.doc_id
        for r in spark.read.parquet(str(tmp_path / "idxA"))
        .select("doc_id").distinct().collect()
    }
    docs_b = {
        r.doc_id
        for r in spark.read.parquet(str(tmp_path / "idxB"))
        .select("doc_id").distinct().collect()
    }
    assert docs_a == docs_b


def test_replay_after_compaction_is_safe(spark, tmp_path):
    """foreachBatch is at-least-once: an epoch replayed AFTER its
    partition was folded into -1 re-creates the partition next to the
    folded copy. The doubled band rows must not change verdicts
    (candidates are dropDuplicates'd; the width guard only widens),
    and the next compaction must dedupe them away."""
    from demo_flink_spark.streaming.dedup_stream import (
        compact_index,
        process_dedup_batch,
    )

    batches = _clique_corpus()
    index_dir, verdict_dir = str(tmp_path / "idx"), str(tmp_path / "v")
    seed_index(
        spark.createDataFrame(
            [(1, "seed history document about nothing in particular here")],
            "doc_id long, text string",
        ),
        index_dir,
    )
    _run_epochs(spark, batches[:2], index_dir, verdict_dir)
    compact_index(spark, index_dir, up_to_epoch=1)
    # replay epoch 1 post-compaction (same rows, same epoch id)
    process_dedup_batch(
        spark.createDataFrame(batches[1], "doc_id long, text string"),
        1, index_dir, verdict_dir, threshold=0.4,
    )
    base = spark.read.parquet(index_dir)
    # novel doc 13's band rows now exist twice (folded -1 + replayed 1)
    per_doc = {
        r.doc_id: r.n
        for r in base.groupBy("doc_id").count().withColumnRenamed("count", "n")
        .collect()
    }
    assert per_doc[13] == 32  # 16 bands x 2 copies
    # epoch 2 still resolves exactly as the clique twin demands
    process_dedup_batch(
        spark.createDataFrame(batches[2], "doc_id long, text string"),
        2, index_dir, verdict_dir, threshold=0.4,
    )
    v = {r.doc_id: r for r in spark.read.parquet(verdict_dir).collect()}
    assert v[17].is_dup and v[17].matched_id == 13
    assert v[18].is_dup and v[18].matched_id == 10
    assert not v[16].is_dup
    # the next compaction folds the doubles away
    compact_index(spark, index_dir, up_to_epoch=2)
    per_doc2 = {
        r.doc_id: r.n
        for r in spark.read.parquet(index_dir).groupBy("doc_id").count()
        .withColumnRenamed("count", "n").collect()
    }
    assert all(n == 16 for n in per_doc2.values()), per_doc2


def test_compaction_crash_window_is_duplicate_tolerant(spark, tmp_path):
    """The compaction's documented crash contract: the consolidated
    partition is installed BEFORE the folded originals are deleted, so
    a crash mid-delete leaves folded rows present twice — never lost.
    Simulate that exact state (re-create a folded epoch dir after
    compaction) and pin that verdicts are unchanged and the next
    compaction dedupes the doubles."""
    import shutil

    from demo_flink_spark.streaming.dedup_stream import (
        compact_index,
        process_dedup_batch,
    )

    batches = _clique_corpus()
    index_dir, verdict_dir = str(tmp_path / "idx"), str(tmp_path / "v")
    seed_index(
        spark.createDataFrame(
            [(1, "seed history document about nothing in particular here")],
            "doc_id long, text string",
        ),
        index_dir,
    )
    _run_epochs(spark, batches[:2], index_dir, verdict_dir)
    # snapshot epoch 1's partition, compact, then restore it — the
    # on-disk state of a crash after install but mid-delete
    shutil.copytree(f"{index_dir}/epoch_id=1", str(tmp_path / "crashcopy"))
    compact_index(spark, index_dir, up_to_epoch=1)
    shutil.copytree(str(tmp_path / "crashcopy"), f"{index_dir}/epoch_id=1")
    # epoch 1's novel doc 13 now exists in -2 AND in the restored 1
    counts = {
        r.doc_id: r.n
        for r in spark.read.parquet(index_dir).groupBy("doc_id").count()
        .withColumnRenamed("count", "n").collect()
    }
    assert counts[13] == 32
    # the stream continues correctly through the duplicate state
    process_dedup_batch(
        spark.createDataFrame(batches[2], "doc_id long, text string"),
        2, index_dir, verdict_dir, threshold=0.4,
    )
    v = {r.doc_id: r for r in spark.read.parquet(verdict_dir).collect()}
    assert v[17].is_dup and v[17].matched_id == 13
    assert v[18].is_dup and v[18].matched_id == 10
    assert not v[16].is_dup
    # re-running the interrupted maintenance heals the duplicates
    compact_index(spark, index_dir, up_to_epoch=2)
    healed = {
        r.doc_id: r.n
        for r in spark.read.parquet(index_dir).groupBy("doc_id").count()
        .withColumnRenamed("count", "n").collect()
    }
    assert all(n == 16 for n in healed.values()), healed
