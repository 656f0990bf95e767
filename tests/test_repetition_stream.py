"""Streaming repetition cut (streaming/repetition_stream.py): a real
file-drop streaming query, multi-micro-batch, with EXACT row parity
against the batch operator — the twin runs one expression tree in two
execution modes, and this test proves the modes cannot diverge."""

from __future__ import annotations

from demo_flink_spark.operators.textstats import remove_repeated_ngrams
from demo_flink_spark.sources.streams import file_stream
from demo_flink_spark.streaming.harness import stage_batches
from demo_flink_spark.streaming.repetition_stream import (
    repetition_removal_stream,
)

# doc 1: 'a b c d e' repeats → tokens of the second window cut
REPEATY = "a b c d e X a b c d e Y"
CLEAN = "the quick brown fox jumps over the lazy dog tonight"
SHORT = "too few"  # < n tokens: nothing to window, nothing removed
DEGENERATE = "w w w w w w w w w w"  # every window repeats window 0
DOCS = "doc_id long, text string"


def test_repetition_stream_matches_batch_exactly(spark, tmp_path):
    batches = [
        [(1, REPEATY), (2, CLEAN)],
        [(3, SHORT), (4, DEGENERATE)],
    ]
    frames = [spark.createDataFrame(rows, DOCS) for rows in batches]
    stream = file_stream(spark, stage_batches(frames, tmp_path / "src"), DOCS)
    out_dir = str(tmp_path / "cleaned")
    q = repetition_removal_stream(
        stream, out_dir, checkpoint_dir=str(tmp_path / "ckpt")
    )
    try:
        q.processAllAvailable()
        # two source files picked up one per trigger → ≥2 micro-batches
        assert q.lastProgress["batchId"] >= 1
    finally:
        q.stop()

    got = sorted(map(tuple, spark.read.parquet(out_dir).collect()))
    all_rows = [r for b in batches for r in b]
    want_df = remove_repeated_ngrams(
        spark.createDataFrame(all_rows, DOCS)
    )
    want = sorted(map(tuple, want_df.collect()))
    assert got == want  # exact parity, not just counts

    # spot-check the semantics rode through the stream
    by_id = {r[0]: r for r in got}
    assert by_id[1][3] == "a b c d e x y"  # second window cut
    assert by_id[2][2] == 0  # clean doc: nothing removed
    assert by_id[3] == (3, 2, 0, "too few")
    # windows 1..5 all repeat window 0 → covered positions 1..9; only
    # token 0 survives
    assert by_id[4] == (4, 10, 9, "w")
