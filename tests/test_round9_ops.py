"""Round-9 operator tests: hardening fixes (completeness escaping,
embedding_psi dims guard) and the round's new operators."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F


def test_completeness_matrix_survives_hostile_column_names(spark):
    # a column named with an embedded quote, backslash, and space must
    # round-trip as a literal, not break (or rewrite) the stack() SQL
    from realtimechurnpredictiondataengineering_spark.operators.profiling import (
        completeness_matrix,
    )

    hostile = "o'brien\\rate x"
    df = spark.createDataFrame(
        [("a", 1.0), ("a", None), ("b", 2.0)], ["seg", "v"]
    ).withColumnRenamed("v", hostile)
    got = {
        (r["segment"], r["column"]): r["null_rate"]
        for r in completeness_matrix(df, "seg", [hostile]).collect()
    }
    assert got[("a", hostile)] == 0.5
    assert got[("b", hostile)] == 0.0


def _merge_change_rows():
    # keyed change log exercising every MERGE path across batch
    # boundaries: plain upsert, update-then-update, upsert-then-delete,
    # delete-then-reinsert, delete of an untouched target key
    return [
        # (id, val, _op, seq)   batch 1: seq 1-3, batch 2: seq 4-6
        (1, 10.0, "u", 1),   # update existing key 1
        (2, 20.0, "c", 2),   # insert new key 2
        (3, None, "d", 3),   # delete existing key 3
        (1, 11.0, "u", 4),   # second update of key 1 (later batch wins)
        (2, None, "d", 5),   # delete the key inserted in batch 1
        (3, 30.0, "c", 6),   # reinsert the key deleted in batch 1
    ]


def test_streaming_merge_matches_one_shot_merge(spark, tmp_path):
    # sequential per-batch MERGE over seq-ordered batches == one-shot
    # merge_frames over the concatenated change log
    from realtimechurnpredictiondataengineering_spark.operators import cdc
    from realtimechurnpredictiondataengineering_spark.streaming.pipelines import (
        streaming_merge_upserts,
    )

    target = spark.createDataFrame(
        [(1, 1.0), (3, 3.0), (4, 4.0)], "id long, val double"
    )
    changes = spark.createDataFrame(
        _merge_change_rows(), "id long, val double, _op string, seq long"
    )
    expected = {
        (r["id"], r["val"])
        for r in cdc.merge_frames(target, changes, ["id"], ["seq"]).collect()
    }
    assert expected == {(1, 11.0), (3, 30.0), (4, 4.0)}  # hand-checked

    snap = str(tmp_path / "snap")
    feed = tmp_path / "feed"
    feed.mkdir()
    target.write.parquet(snap)
    import os

    for i, lohi in enumerate([(1, 3), (4, 6)]):
        batch = changes.filter(
            (F.col("seq") >= lohi[0]) & (F.col("seq") <= lohi[1])
        )
        bdir = str(tmp_path / f"b{i}")
        batch.coalesce(1).write.parquet(bdir)
        part = next(p for p in os.listdir(bdir) if p.startswith("part-"))
        dst = str(feed / f"batch-{i}.parquet")
        os.rename(f"{bdir}/{part}", dst)
        os.utime(dst, (1_700_000_000 + 60 * i,) * 2)

    stream = (
        spark.readStream.schema(changes.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(feed))
    )
    q = streaming_merge_upserts(
        stream, snap, str(tmp_path / "ck"), keys=["id"], seq_cols=["seq"]
    )
    q.awaitTermination()
    got = {(r["id"], r["val"]) for r in spark.read.parquet(snap).collect()}
    assert got == expected


def test_merge_snapshot_batch_replay_is_idempotent(spark, tmp_path):
    # the crash-recovery contract: foreachBatch may redeliver a batch
    # (checkpoint committed after the sink ran) — re-applying the same
    # change batch to the already-merged snapshot must be a no-op
    from realtimechurnpredictiondataengineering_spark.operators import cdc

    target = spark.createDataFrame([(1, 1.0), (2, 2.0)], "id long, val double")
    tdir = str(tmp_path / "snap")
    target.write.parquet(tdir)
    batch = spark.createDataFrame(
        [(1, 10.0, "u", 5), (2, None, "d", 6), (3, 30.0, "c", 7)],
        "id long, val double, _op string, seq long",
    )
    once = cdc.merge_snapshot(spark, tdir, batch, ["id"], ["seq"])
    s2 = str(tmp_path / "snap2")
    once.write.parquet(s2)
    twice = cdc.merge_snapshot(spark, s2, batch, ["id"], ["seq"])
    assert {(r["id"], r["val"]) for r in twice.collect()} == {
        (r["id"], r["val"]) for r in spark.read.parquet(s2).collect()
    } == {(1, 10.0), (3, 30.0)}


def test_streaming_merge_bootstraps_absent_snapshot(spark, tmp_path):
    # first batch against a missing snapshot dir becomes the snapshot
    from realtimechurnpredictiondataengineering_spark.streaming.pipelines import (
        streaming_merge_upserts,
    )

    changes = spark.createDataFrame(
        [(1, 10.0, "c", 1), (2, 20.0, "c", 2), (2, None, "d", 3)],
        "id long, val double, _op string, seq long",
    )
    feed = tmp_path / "feed"
    feed.mkdir()
    changes.coalesce(1).write.parquet(str(tmp_path / "b"))
    import os

    part = next(p for p in os.listdir(tmp_path / "b") if p.startswith("part-"))
    os.rename(str(tmp_path / "b" / part), str(feed / "batch-0.parquet"))
    stream = spark.readStream.schema(changes.schema).parquet(str(feed))
    snap = str(tmp_path / "snap")
    q = streaming_merge_upserts(
        stream, snap, str(tmp_path / "ck"), keys=["id"], seq_cols=["seq"]
    )
    q.awaitTermination()
    got = {(r["id"], r["val"]) for r in spark.read.parquet(snap).select("id", "val").collect()}
    assert got == {(1, 10.0)}  # key 2's latest change is the delete


def _kn3_frames(spark):
    corpus = spark.createDataFrame(
        [(1, "a b c"), (2, "a b d"), (3, "x b c")], ["doc_id", "text"]
    )
    target = spark.createDataFrame(
        [(10, "a b c"), (11, "q b c"), (12, "a z c"), (13, "a b")],
        ["doc_id", "text"],
    )
    return corpus, target


def test_kn_trigram_all_paths_hand_checked(spark):
    # corpus trigrams: (a,b,c):1 (a,b,d):1 (x,b,c):1
    #   ctx3(a,b) = (nc3=2, n1f3=2); mid(b,c) = 2, mid(b,d) = 1;
    #   ctxm(b) = (ncm=3, n1fm=2); bigram types tt=4; V=5;
    #   bwd: b=2, c=1, d=1 → Pcont(c) = (1+1)/(4+5+1) = 0.2
    # doc 10 "a b c": full trigram path
    #   P2(c|b) = (2-.75)/3 + (.75*2/3)*0.2        = 0.5166667
    #   P3      = (1-.75)/2 + (.75*2/2)*P2         = 0.5125
    # doc 11 "q b c": (q,b) unseen → P2 alone      = 0.5166667
    # doc 12 "a z c": (a,z) and z unseen → Pcont   = 0.2
    # doc 13 "a b": fewer than 3 tokens → 0.0
    from realtimechurnpredictiondataengineering_spark.operators.corpus import (
        kneser_ney_trigram_logprob,
    )

    corpus, target = _kn3_frames(spark)
    got = {
        r["doc_id"]: r["mean_neg_log2p"]
        for r in kneser_ney_trigram_logprob(corpus, target).collect()
    }
    assert got[10] == pytest.approx(0.9644, abs=1e-4)  # -log2(0.5125)
    assert got[11] == pytest.approx(0.9527, abs=1e-4)  # -log2(0.5166667)
    assert got[12] == pytest.approx(2.3219, abs=1e-4)  # -log2(0.2)
    assert got[13] == 0.0


def test_kn_trigram_cap_matches_exact_when_vocab_fits(spark):
    from realtimechurnpredictiondataengineering_spark.operators.corpus import (
        kneser_ney_trigram_logprob,
    )

    corpus, target = _kn3_frames(spark)
    exact = {
        r["doc_id"]: r["mean_neg_log2p"]
        for r in kneser_ney_trigram_logprob(corpus, target).collect()
    }
    capped = {
        r["doc_id"]: r["mean_neg_log2p"]
        for r in kneser_ney_trigram_logprob(corpus, target, top_v=100).collect()
    }
    assert capped == exact


def test_kn_trigram_cap_is_live_at_small_v(spark):
    from realtimechurnpredictiondataengineering_spark.operators.corpus import (
        kneser_ney_trigram_logprob,
    )

    corpus, target = _kn3_frames(spark)
    exact = {
        r["doc_id"]: r["mean_neg_log2p"]
        for r in kneser_ney_trigram_logprob(corpus, target).collect()
    }
    capped = {
        r["doc_id"]: r["mean_neg_log2p"]
        for r in kneser_ney_trigram_logprob(corpus, target, top_v=1).collect()
    }
    assert capped != exact  # the valve actually drops tail n-grams


def _sequential_bpe(word_freqs: dict, n_merges: int, eow: bool = False):
    # the textbook Sennrich trainer: greedy top pair per round over
    # character sequences, ties by (left, right) ascending; ``eow``
    # appends the end-of-word marker symbol (the t34 variant)
    seqs = {
        tuple(w) + (("</w>",) if eow else ()): f for w, f in word_freqs.items()
    }
    merges = []
    for _ in range(n_merges):
        counts = {}
        for seq, f in seqs.items():
            for a, b in zip(seq, seq[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + f
        if not counts:
            break
        (a, b), cnt = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((a, b, a + b, cnt))
        new = {}
        for seq, f in seqs.items():
            out, i = [], 0
            while i < len(seq):
                if i + 1 < len(seq) and seq[i] == a and seq[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(seq[i])
                    i += 1
            new[tuple(out)] = new.get(tuple(out), 0) + f
        seqs = new
    return merges


def test_bpe_train_matches_sequential_reference(spark):
    from realtimechurnpredictiondataengineering_spark.operators.bpe import bpe_train

    docs = spark.createDataFrame(
        [
            (1, "low low low lower lowest"),
            (2, "new newer newest low"),
            (3, "wide wider widest new new"),
        ],
        ["doc_id", "text"],
    )
    freqs = {}
    for _, text in docs.collect():
        for w in text.split():
            freqs[w] = freqs.get(w, 0) + 1
    expected = _sequential_bpe(freqs, 5)
    got = [
        (r["left_sym"], r["right_sym"], r["merged"], r["pair_count"])
        for r in bpe_train(docs, n_merges=5).orderBy("merge_rank").collect()
    ]
    assert got == expected


def test_bpe_train_greedy_overlap_and_chaining(spark):
    # "a a a a" chains into two merges of (a,a); "aaa" within one word
    # merges greedily left-to-right: aa + a
    from realtimechurnpredictiondataengineering_spark.operators.bpe import bpe_train

    docs = spark.createDataFrame([(1, "aaaa aaa")], ["doc_id", "text"])
    rows = bpe_train(docs, n_merges=2).orderBy("merge_rank").collect()
    # round 1: pairs of chars within words: 'aaaa' has 3 (a,a), 'aaa' 2 → (a,a):5
    assert (rows[0]["left_sym"], rows[0]["right_sym"], rows[0]["pair_count"]) == ("a", "a", 5)
    # after merging: 'aaaa' → [aa, aa]; 'aaa' → [aa, a] (greedy, not [a, aa])
    # round 2 pairs: (aa,aa):1 and (aa,a):1 → tie → lexicographic: (aa,a)
    assert (rows[1]["left_sym"], rows[1]["right_sym"]) == ("aa", "a")


def test_bpe_batched_rounds_equal_sequential_when_disjoint(spark):
    # whole-word merges can't interact or mint hotter pairs, so one
    # k=3 round must equal three k=1 rounds
    from realtimechurnpredictiondataengineering_spark.operators.bpe import bpe_train

    docs = spark.createDataFrame(
        [(1, "ab ab ab ab ab cd cd cd cd ef ef ef")], ["doc_id", "text"]
    )
    seq = [tuple(r) for r in bpe_train(docs, n_merges=3).orderBy("merge_rank").collect()]
    bat = [
        tuple(r)
        for r in bpe_train(docs, n_merges=3, merges_per_round=3)
        .orderBy("merge_rank")
        .collect()
    ]
    assert bat == seq
    assert [(r[1], r[2]) for r in seq] == [("a", "b"), ("c", "d"), ("e", "f")]


def test_bpe_batched_defers_interacting_candidates(spark):
    # 'abc': (a,b) and (b,c) share b — the lower-ranked one must be
    # deferred, and the next round then merges (ab, c), matching exact
    # sequential BPE
    from realtimechurnpredictiondataengineering_spark.operators.bpe import bpe_train

    docs = spark.createDataFrame([(1, "abc abc abc")], ["doc_id", "text"])
    rows = bpe_train(docs, n_merges=2, merges_per_round=2).orderBy("merge_rank").collect()
    assert [(r["left_sym"], r["right_sym"]) for r in rows] == [("a", "b"), ("ab", "c")]


def test_bpe_segment_frame_matches_literal_segmenter(spark):
    # the frame-based serve path (merge TABLE on a broadcast) must equal
    # the literal-list segmenter, and empty docs yield (0, 0, '')
    from realtimechurnpredictiondataengineering_spark.operators.bpe import (
        bpe_segment,
        bpe_segment_frame,
    )

    merges = spark.createDataFrame(
        [(1, "l", "o"), (2, "lo", "w")],
        "merge_rank int, left_sym string, right_sym string",
    )
    df = spark.createDataFrame([(1, "lower low"), (2, "")], ["doc_id", "text"])
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_bpe_tokens"], r["bpe_text"])
        for r in bpe_segment_frame(df, merges).collect()
    }
    assert got[1] == (2, 4, "low e r low")
    assert got[2] == (0, 0, "")
    lit = bpe_segment(df, [("l", "o"), ("lo", "w")]).collect()
    lit_tokens = {r["doc_id"]: r["bpe_tokens"] for r in lit}
    assert " ".join(lit_tokens[1]) == got[1][2]


def test_bpe_segment_replays_merges_in_order(spark):
    from realtimechurnpredictiondataengineering_spark.operators.bpe import bpe_segment

    df = spark.createDataFrame([(1, "lower low")], ["doc_id", "text"])
    out = bpe_segment(df, [("l", "o"), ("lo", "w")]).collect()[0]["bpe_tokens"]
    assert out == ["low", "e", "r", "low"]


def test_ll11_gate_equals_t31_keep_flag(spark, sf_dir):
    # composition consistency: the documents ll11's inline gate keeps
    # must be exactly the doc_ids t31 scores keep = 1
    from realtimechurnpredictiondataengineering_spark import ml
    from realtimechurnpredictiondataengineering_spark.functions.scalar import snap

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    gate_kept = {
        r["doc_id"]
        for r in docs.filter(
            snap(
                ml.doc_quality_expression(
                    ml.DOC_QUALITY_V1["coefficients"], ml.DOC_QUALITY_V1["intercept"]
                ),
                6,
            )
            > 0
        ).select("doc_id").collect()
    }
    score_kept = {
        r["doc_id"]
        for r in ml.doc_quality_scores(
            docs, ml.DOC_QUALITY_V1["coefficients"], ml.DOC_QUALITY_V1["intercept"]
        )
        .filter(F.col("keep") == 1)
        .select("doc_id")
        .collect()
    }
    assert gate_kept == score_kept and gate_kept


def test_cluster_quality_report_hand_checked(spark):
    from realtimechurnpredictiondataengineering_spark.operators.similarity import (
        cluster_quality_report,
    )

    cents = [[1.0, 0.0], [0.0, 1.0]]
    vecs = spark.createDataFrame(
        [
            (1, [1.0, 0.0]),   # cluster 0: cohesion 1.0, margin 1.0
            (2, [0.8, 0.2]),   # cluster 0: cohesion 0.8, margin 0.6
            (3, [0.1, 0.9]),   # cluster 1: cohesion 0.9, margin 0.8
        ],
        "vec_id long, embedding array<double>",
    )
    got = {
        r["cluster_id"]: (r["n"], r["mean_cohesion"], r["mean_margin"])
        for r in cluster_quality_report(vecs, cents).collect()
    }
    assert got[0] == (2, pytest.approx(0.9), pytest.approx(0.8))
    assert got[1] == (1, pytest.approx(0.9), pytest.approx(0.8))
    with pytest.raises(ValueError, match=">= 2 centroids"):
        cluster_quality_report(vecs, [[1.0, 0.0]])


def test_embedding_psi_dims_mismatch_fails_loudly(spark):
    # a dims/encoder mismatch must raise, not report psi = 0.0 "no drift"
    from realtimechurnpredictiondataengineering_spark.operators.profiling import (
        embedding_psi,
    )

    df = spark.createDataFrame(
        [Row(embedding=[0.1, -0.2, 0.3]), Row(embedding=[0.0, 0.1, -0.1])]
    )
    with pytest.raises(Exception, match="configured dims=8"):
        embedding_psi(df, df, dims=8, lo=-0.6, hi=0.6).collect()
    # matching dims still work
    out = embedding_psi(df, df, dims=3, lo=-0.6, hi=0.6).collect()
    assert len(out) == 3 and all(abs(r["psi"]) < 1e-9 for r in out)
