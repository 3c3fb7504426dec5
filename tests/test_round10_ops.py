"""Round-10 operator tests: hardening fixes (crash-recoverable MERGE
snapshot swap, bpe_train edge guards, embedding_psi probe edges) and
the round's new operators."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F


def _one_file_feed(df, tmp_path, name):
    feed = tmp_path / f"feed_{name}"
    feed.mkdir()
    bdir = tmp_path / f"b_{name}"
    df.coalesce(1).write.parquet(str(bdir))
    part = next(p for p in os.listdir(bdir) if p.startswith("part-"))
    os.rename(str(bdir / part), str(feed / "batch-0.parquet"))
    return str(feed)


def test_merge_swap_recovers_crash_between_retire_and_promote(spark, tmp_path):
    # the crash window: the old protocol rmtree'd the live snapshot before
    # moving the staged one in — a crash in between left NO snapshot and
    # the replayed batch silently re-bootstrapped, losing every
    # previously-merged key.  New protocol leaves a ``.old`` sibling;
    # recovery must promote the completed staged dir (or restore
    # ``.old``) instead of bootstrapping.
    from realtimechurnpredictiondataengineering_spark.streaming.pipelines import (
        streaming_merge_upserts,
    )

    snap = str(tmp_path / "snap")
    # simulate the crash layout: live snapshot retired to .old, staged
    # write COMPLETE, live dir absent
    spark.createDataFrame(
        [(1, 1.0), (9, 9.0)], "id long, val double"
    ).write.parquet(snap + ".old")
    spark.createDataFrame(
        [(1, 10.0), (9, 9.0)], "id long, val double"
    ).write.parquet(snap + ".merging")

    changes = spark.createDataFrame(
        [(2, 20.0, "c", 1)], "id long, val double, _op string, seq long"
    )
    stream = spark.readStream.schema(changes.schema).parquet(
        _one_file_feed(changes, tmp_path, "recov")
    )
    q = streaming_merge_upserts(
        stream, snap, str(tmp_path / "ck"), keys=["id"], seq_cols=["seq"]
    )
    q.awaitTermination()
    got = {(r["id"], r["val"]) for r in spark.read.parquet(snap).select("id", "val").collect()}
    # key 9 (merged in a previous batch, only present in the recovered
    # snapshot) must survive; key 1 carries the staged (post-merge) value
    assert got == {(1, 10.0), (9, 9.0), (2, 20.0)}
    assert not os.path.isdir(snap + ".old") and not os.path.isdir(snap + ".merging")


def test_merge_swap_discards_partial_stage_without_old(spark, tmp_path):
    # a staged dir with NO .old sibling means the staged write itself
    # was interrupted — it must be discarded, and the intact live
    # snapshot must drive the merge
    from realtimechurnpredictiondataengineering_spark.streaming.pipelines import (
        streaming_merge_upserts,
    )

    snap = str(tmp_path / "snap")
    spark.createDataFrame([(1, 1.0)], "id long, val double").write.parquet(snap)
    os.makedirs(snap + ".merging")
    with open(snap + ".merging/part-garbage.parquet", "w") as fh:
        fh.write("not parquet")

    changes = spark.createDataFrame(
        [(2, 20.0, "c", 1)], "id long, val double, _op string, seq long"
    )
    stream = spark.readStream.schema(changes.schema).parquet(
        _one_file_feed(changes, tmp_path, "partial")
    )
    q = streaming_merge_upserts(
        stream, snap, str(tmp_path / "ck"), keys=["id"], seq_cols=["seq"]
    )
    q.awaitTermination()
    got = {(r["id"], r["val"]) for r in spark.read.parquet(snap).select("id", "val").collect()}
    assert got == {(1, 1.0), (2, 20.0)}


def test_bpe_train_zero_merges_returns_empty_table(spark):
    from realtimechurnpredictiondataengineering_spark.operators.bpe import bpe_train

    corpus = spark.createDataFrame([("ab ab",)], ["text"])
    out = bpe_train(corpus, n_merges=0)
    assert out.count() == 0
    assert out.columns == ["merge_rank", "left_sym", "right_sym", "merged", "pair_count"]


def test_bpe_train_exhausted_corpus_ends_early(spark):
    # every word is a single character: no adjacent pair ever exists, so
    # the k==1 loop must break on the empty winner frame instead of
    # raising (and instead of burning n_merges no-op rounds)
    from realtimechurnpredictiondataengineering_spark.operators.bpe import bpe_train

    corpus = spark.createDataFrame([("a b c a",)], ["text"])
    out = bpe_train(corpus, n_merges=5)
    assert out.count() == 0
    # partially exhausted: one merge is learnable, then the corpus dries up
    corpus2 = spark.createDataFrame([("ab a b",)], ["text"])
    rows = bpe_train(corpus2, n_merges=5).collect()
    assert [(r["left_sym"], r["right_sym"]) for r in rows] == [("a", "b")]


def test_embedding_psi_tolerates_all_null_trailing_coordinate(spark):
    # if the LAST coordinate is NULL in every vector the old probe
    # (max(dim)+1 after the null-value filter) under-reported the size
    # and raised a spurious dims mismatch; the probe now reads
    # max(size(vec)) straight from the vectors
    from realtimechurnpredictiondataengineering_spark.operators.profiling import (
        embedding_psi,
    )

    rows = [([0.1, 0.2, None],) for _ in range(8)]
    df = spark.createDataFrame(rows, "embedding array<double>")
    out = embedding_psi(df, df, dims=3, lo=-0.6, hi=0.6).collect()
    assert {r["dim"] for r in out} == {0, 1, 2}
    assert all(r["psi"] == 0.0 for r in out)


def test_embedding_psi_empty_input_fails_readably(spark):
    from realtimechurnpredictiondataengineering_spark.operators.profiling import (
        embedding_psi,
    )

    empty = spark.createDataFrame([], "embedding array<double>")
    with pytest.raises(Exception) as ei:
        embedding_psi(empty, empty, dims=3, lo=-0.6, hi=0.6).collect()
    assert "embedding_psi" in str(ei.value)


def _sequential_bpe(text, pairs):
    out = []
    for w in text.split():
        sym = "  " + "  ".join(list(w)) + "  "
        for a, b in pairs:
            sym = sym.replace(f" {a}  {b} ", f" {a}{b} ")
        out += sym.strip().split("  ")
    return out


def test_bpe_serve_paths_bounded_at_512_merges(spark):
    # the round-9 weakness: one Replace per merge compiled a Catalyst
    # tree whose depth grew with the merge count — StackOverflowError at
    # ~512 merges, far below a production 32k-merge vocabulary.  Both
    # serve paths must now fold the merge table at RUNTIME: plan size
    # constant, results identical to the sequential reference.
    import string

    from realtimechurnpredictiondataengineering_spark.operators.bpe import (
        bpe_segment,
        bpe_segment_frame,
    )

    pairs = [(a, b) for a in string.ascii_lowercase for b in string.ascii_lowercase][:600]
    text = "hello world banana abacus lexicon"
    df = spark.createDataFrame([(text,)], ["text"])
    expected = _sequential_bpe(text, pairs)

    seg = bpe_segment(df, pairs)
    assert seg.collect()[0]["bpe_tokens"] == expected
    # width-only growth: the analyzed tree must not scale with merges
    # (the nested-replace spine was >512 levels deep; the fold plan is
    # a few hundred chars regardless of merge count)
    tree = seg._jdf.queryExecution().analyzed().treeString()
    assert len(tree) < 10_000, f"plan grew with merge count: {len(tree)} chars"

    mdf = spark.createDataFrame(
        [(i + 1, a, b, a + b) for i, (a, b) in enumerate(pairs)],
        "merge_rank int, left_sym string, right_sym string, merged string",
    )
    framed = bpe_segment_frame(df, mdf).collect()[0]
    assert framed["bpe_text"] == " ".join(expected)
    assert framed["n_bpe_tokens"] == len(expected)


def test_bpe_segment_zero_merges_is_char_split(spark):
    from realtimechurnpredictiondataengineering_spark.operators.bpe import bpe_segment

    df = spark.createDataFrame([("ab c",)], ["text"])
    assert bpe_segment(df, []).collect()[0]["bpe_tokens"] == ["a", "b", "c"]
