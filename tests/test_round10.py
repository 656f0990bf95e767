"""Round-10 additions.

1. The `components` trust-boundary guard on the keep-policy resolvers
   (ADVICE r9): a caller-supplied label frame that does not correspond
   to `pairs` used to silently produce a wrong keep/drop list; now the
   shape is always checked and full node coverage is checked under
   SPARK_GRAFT_VALIDATE_COMPONENTS.
2. Memo build/hit event log (VERDICT r9 item 6): session_memo times
   each materialized build and bench.py attributes the events to the
   query that triggered them (BENCH_DETAIL `memo_builds`).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_memo_events_build_then_hit(spark):
    from demo_flink_spark.plans import memo

    memo.clear_session_memos()
    memo.drain_memo_events()  # discard other tests' events
    df = memo.session_memo("t10ev", ("k",), lambda: spark.range(5))
    assert df.count() == 5
    memo.session_memo("t10ev", ("k",), lambda: spark.range(5))
    evs = memo.drain_memo_events()
    assert [(e["cache"], e["event"]) for e in evs] == [
        ("t10ev", "build"),
        ("t10ev", "hit"),
    ]
    # the build event owns a real (materialized) duration
    assert evs[0]["secs"] > 0
    assert "secs" not in evs[1]
    # drained means drained
    assert memo.drain_memo_events() == []
    # a cleared memo rebuilds — and the rebuild is a new build event
    memo.clear_session_memos()
    memo.session_memo("t10ev", ("k",), lambda: spark.range(5))
    assert [e["event"] for e in memo.drain_memo_events()] == ["build"]


def test_memo_nested_build_times_are_exclusive(spark):
    """A build that triggers a child build (ngram_pairs → shingles)
    must not double-count the child's seconds: the recorded durations
    are exclusive and sum to the true wall cost."""
    import time as _t

    from demo_flink_spark.plans import memo

    memo.clear_session_memos()
    memo.drain_memo_events()

    def child():
        _t.sleep(0.2)
        return spark.range(2)

    def parent():
        memo.session_memo("t10nest_child", ("c",), child)
        _t.sleep(0.1)
        return spark.range(3)

    t0 = _t.time()
    memo.session_memo("t10nest_parent", ("p",), parent)
    wall = _t.time() - t0
    evs = {e["cache"]: e for e in memo.drain_memo_events()}
    assert set(evs) == {"t10nest_child", "t10nest_parent"}
    # child owns its 0.2 s; parent's exclusive time excludes it
    assert evs["t10nest_child"]["secs"] >= 0.2
    assert evs["t10nest_parent"]["secs"] < wall - 0.15
    total = evs["t10nest_child"]["secs"] + evs["t10nest_parent"]["secs"]
    assert total <= wall + 0.05
    memo.clear_session_memos()


def test_components_guard_set_membership_not_cardinality(spark, monkeypatch):
    """The review-pass case: a label frame with the SAME cardinality
    over DIFFERENT nodes must fail the gated check (a count compare
    would pass it), as must extra labels for unpaired nodes and
    duplicate label rows."""
    from demo_flink_spark.operators import dedup as dd

    docs = spark.createDataFrame([(i,) for i in range(20)], "doc_id long")
    pairs = spark.createDataFrame([(0, 1), (2, 3)], "doc_a long, doc_b long")
    monkeypatch.setenv("SPARK_GRAFT_VALIDATE_COMPONENTS", "1")

    # same row count, disjoint node set: 4 labeled vs 4 paired
    wrong_nodes = spark.createDataFrame(
        [(10, 10), (11, 10), (12, 12), (13, 12)], "node long, comp long"
    )
    with pytest.raises(ValueError, match="4 paired nodes unlabeled"):
        dd.dedup_keep_list(docs, pairs, components=wrong_nodes)

    # a label for an UNPAIRED node (would wrongly drop doc 7)
    extra = spark.createDataFrame(
        [(0, 0), (1, 0), (2, 2), (3, 2), (7, 0)], "node long, comp long"
    )
    with pytest.raises(ValueError, match="1 labels for unpaired"):
        dd.dedup_keep_list(docs, pairs, components=extra)

    # duplicate label rows for one node
    dup = spark.createDataFrame(
        [(0, 0), (1, 0), (2, 2), (3, 2), (3, 0)], "node long, comp long"
    )
    with pytest.raises(ValueError, match="1 duplicate label rows"):
        dd.dedup_keep_list(docs, pairs, components=dup)


def test_memo_failed_build_unpersists_and_is_retryable(spark, monkeypatch):
    """A build whose materialization fails must not leak a persisted
    frame (nothing could ever unpersist it — it never enters the
    cache) and must leave the key retryable. Materialization inside
    session_memo is the EAGER path (bench mode) — r11 gated it behind
    SPARK_GRAFT_MEMO_EAGER, so this test opts in."""
    from demo_flink_spark.plans import memo

    monkeypatch.setenv("SPARK_GRAFT_MEMO_EAGER", "1")
    memo.clear_session_memos()
    memo.drain_memo_events()
    captured = {}

    def bad_build():
        df = spark.range(3).select(
            F.assert_true(F.col("id") < 0).alias("x")
        )
        captured["df"] = df
        return df

    with pytest.raises(Exception):
        memo.session_memo("t10fail", ("k",), bad_build)
    # the persisted-then-failed frame was unpersisted, not leaked
    assert captured["df"].storageLevel.useMemory is False
    # no cache entry, no build event recorded for the failure
    assert ("k",) not in memo._CACHES.get("t10fail", {})
    assert memo.drain_memo_events() == []
    # the key retries: a good build for the same key succeeds
    got = memo.session_memo("t10fail", ("k",), lambda: spark.range(4))
    assert got.count() == 4
    assert [e["event"] for e in memo.drain_memo_events()] == ["build"]
    memo.clear_session_memos()


def test_repetition_stream_default_checkpoint_resumes(spark, tmp_path):
    """The default checkpoint (<out_dir>/_checkpoint) is stable across
    restarts: a second run over the same source must resume from the
    offset log, not reprocess and duplicate — and the underscore dir
    must stay invisible to the parquet reader."""
    import os

    from demo_flink_spark.sources.streams import file_stream
    from demo_flink_spark.streaming.harness import stage_batches
    from demo_flink_spark.streaming.repetition_stream import (
        repetition_removal_stream,
    )

    schema = "doc_id long, text string"
    stage = str(tmp_path / "src")
    out_dir = str(tmp_path / "out")

    def run_once(rows):
        stage_batches([spark.createDataFrame(rows, schema)], stage)
        q = repetition_removal_stream(  # default ckpt
            file_stream(spark, stage, schema), out_dir
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    run_once([(1, "a b c d e X a b c d e Y"), (2, "clean text")])
    run_once([(3, "w w w w w w w w w w")])  # restart: must pick up ONLY doc 3

    rows = spark.read.parquet(out_dir).collect()
    assert sorted(r.doc_id for r in rows) == [1, 2, 3]  # no duplicates
    assert os.path.isdir(os.path.join(out_dir, "_checkpoint"))


def test_cc_star_raises_at_iteration_cap(spark):
    """Hitting the round cap must raise loudly, never return labels
    that are not component minima."""
    from demo_flink_spark.operators.dedup import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "doc_a long, doc_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge in 1"):
        connected_components(chain, max_iter=1)
    # and with the default cap the same chain converges exactly
    comp = connected_components(chain)
    assert {(r["node"], r["comp"]) for r in comp.collect()} == {
        (i, 0) for i in range(13)
    }


def test_components_guard_schema_and_coverage(spark, monkeypatch):
    from demo_flink_spark.operators import dedup as dd

    docs = spark.createDataFrame([(i,) for i in range(6)], "doc_id long")
    pairs = spark.createDataFrame([(0, 1), (2, 3)], "doc_a long, doc_b long")
    good = spark.createDataFrame(
        [(0, 0), (1, 0), (2, 2), (3, 2)], "node long, comp long"
    )

    # a correct frame passes both layers
    monkeypatch.setenv("SPARK_GRAFT_VALIDATE_COMPONENTS", "1")
    out = {
        r["doc_id"]: r
        for r in dd.dedup_keep_list(docs, pairs, components=good).collect()
    }
    assert out[1]["canonical_id"] == 0 and not out[1]["is_kept"]
    assert out[4]["is_kept"]  # unpaired doc keeps itself

    # wrong columns: rejected by the always-on schema layer
    bad_cols = good.select(F.col("node").alias("doc"), "comp")
    with pytest.raises(ValueError, match=r"exactly \(node, comp\)"):
        dd.dedup_keep_list(docs, pairs, components=bad_cols)

    # a label frame missing a paired node: caught under the env gate
    missing = good.filter(F.col("node") != 3)
    with pytest.raises(ValueError, match="paired nodes"):
        dd.dedup_keep_list(docs, pairs, components=missing)

    # ... and demonstrably the silent hazard without the gate — doc 3
    # is paired yet kept as its own canonical (the failure mode the
    # debug path exists to surface)
    monkeypatch.delenv("SPARK_GRAFT_VALIDATE_COMPONENTS")
    wrong = {
        r["doc_id"]: r
        for r in dd.dedup_keep_list(docs, pairs, components=missing).collect()
    }
    assert wrong[3]["is_kept"]

    # dedup_keep_best shares the guard
    monkeypatch.setenv("SPARK_GRAFT_VALIDATE_COMPONENTS", "1")
    score = F.col("doc_id").cast("double")
    with pytest.raises(ValueError, match=r"exactly \(node, comp\)"):
        dd.dedup_keep_best(docs, pairs, score, components=bad_cols)
    with pytest.raises(ValueError, match="paired nodes"):
        dd.dedup_keep_best(docs, pairs, score, components=missing)
