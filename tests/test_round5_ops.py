"""Round-5 unit tests: unigram_logprob's top-V vocabulary cap, the
LSH-backed knn_label_accuracy candidate path, gopher_rules' NULL-text
reject, and the sessionize property test vs a brute-force reference.

One hypothesis example = one Spark job, so example counts stay small
(the JVM round-trip, not the property, is the cost).
"""

import datetime
import math

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from realtimechurnpredictiondataengineering_spark.functions import text as tx
from realtimechurnpredictiondataengineering_spark.operators import corpus, rollup, similarity

PROP_SETTINGS = settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


# ---------------------------------------------------------------------------
# unigram_logprob vocab_top_v
# ---------------------------------------------------------------------------


def test_unigram_logprob_cap_matches_exact_when_vocab_fits(spark):
    # true vocabulary (4 tokens) < V=10 -> the tail is empty and the
    # capped model must be IDENTICAL to the exact join
    df = _docs(
        spark,
        [(1, "alpha alpha beta"), (2, "beta gamma delta alpha"), (3, "")],
    )
    exact = {r["doc_id"]: r.asDict() for r in corpus.unigram_logprob(df).collect()}
    capped = {
        r["doc_id"]: r.asDict()
        for r in corpus.unigram_logprob(df, vocab_top_v=10).collect()
    }
    assert exact == capped


def test_unigram_logprob_cap_smooths_tail_into_oov(spark):
    # counts: a=3, b=2, c=1, total=6.  V=2 keeps {a, b}; the tail (c)
    # smooths to p_oov = 1/6.
    df = _docs(spark, [(1, "a a a"), (2, "b b c")])
    out = {
        r["doc_id"]: r["mean_neg_log2p"]
        for r in corpus.unigram_logprob(df, vocab_top_v=2).collect()
    }
    assert out[1] == round(-math.log2(3 / 6), 4)
    want2 = -(math.log2(2 / 6) + math.log2(2 / 6) + math.log2(1 / 6)) / 3
    assert out[2] == round(want2, 4)


def test_unigram_logprob_cap_tiebreak_is_deterministic(spark):
    # b and c tie at count 2; V=2 must keep {a, b} (count desc, token
    # asc), never {a, c} -> c scores as OOV with tail mass 2/7
    df = _docs(spark, [(1, "a a a b b c c")])
    out = corpus.unigram_logprob(df, vocab_top_v=2).collect()[0]
    want = -(
        3 * math.log2(3 / 7) + 2 * math.log2(2 / 7) + 2 * math.log2(2 / 7)
    ) / 7
    assert out["mean_neg_log2p"] == round(want, 4)


# ---------------------------------------------------------------------------
# knn_label_accuracy with LSH candidates
# ---------------------------------------------------------------------------


def _clustered_vectors(spark):
    # two tight axis-aligned clusters + one planted mislabeled point
    rows = []
    for i in range(6):
        rows.append((i, [10.0 + 0.01 * i, 0.0], 0))
    for i in range(6, 12):
        rows.append((i, [0.0, 10.0 + 0.01 * i], 1))
    rows.append((99, [10.0, 0.05], 9))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")


def test_knn_label_accuracy_lsh_matches_exact_on_clusters(spark):
    df = _clustered_vectors(spark)
    # two hash tables whose planes separate the axis clusters cleanly:
    # every same-cluster pair shares a bucket, so LSH recall is 1 here
    # and the LSH path must reproduce the exact path's accuracy table
    plane_sets = [
        [[1.0, -1.0], [1.0, 1.0]],
        [[0.3, -1.0], [1.0, 0.2]],
    ]
    exact = {r["label"]: r.asDict() for r in similarity.knn_label_accuracy(df, k=3).collect()}
    lsh = {
        r["label"]: r.asDict()
        for r in similarity.knn_label_accuracy(
            df, k=3, candidates_fn=similarity.lsh_knn_candidates(plane_sets)
        ).collect()
    }
    assert lsh == exact
    assert lsh[0]["accuracy"] == 1.0 and lsh[1]["accuracy"] == 1.0
    assert lsh[9]["accuracy"] == 0.0


# ---------------------------------------------------------------------------
# bigram_logprob
# ---------------------------------------------------------------------------


def test_bigram_logprob_exact_small_corpus(spark):
    # corpus: "a b", "a b", "a c" -> bigrams: (a,b)x2, (a,c)x1; ctx a=3
    # unigrams over ALL docs (incl. "solo"): a=3, b=2, c=1, solo=1 -> 7
    df = _docs(spark, [(1, "a b"), (2, "a b"), (3, "a c"), (4, "solo"), (5, "")])
    lam = 0.8
    out = {r["doc_id"]: r for r in corpus.bigram_logprob(df, lam=lam).collect()}
    p_ab = lam * 2 / 3 + (1 - lam) * 2 / 7
    p_ac = lam * 1 / 3 + (1 - lam) * 1 / 7
    assert out[1]["mean_neg_log2p"] == round(-math.log2(p_ab), 4)
    assert out[2]["mean_neg_log2p"] == out[1]["mean_neg_log2p"]
    assert out[3]["mean_neg_log2p"] == round(-math.log2(p_ac), 4)
    # docs with < 2 tokens have no bigrams -> 0.0
    assert out[4]["mean_neg_log2p"] == 0.0 and out[4]["n_tokens"] == 1
    assert out[5]["mean_neg_log2p"] == 0.0 and out[5]["n_tokens"] == 0


def test_bigram_logprob_common_sequence_scores_lower(spark):
    df = _docs(
        spark,
        [(i, "the quick brown fox") for i in range(5)] + [(99, "zebra quick the brown")],
    )
    out = {r["doc_id"]: r["mean_neg_log2p"] for r in corpus.bigram_logprob(df).collect()}
    # the repeated phrase's bigrams dominate the model; the scrambled
    # doc's unseen-order bigrams cost more bits
    assert out[0] < out[99]


# ---------------------------------------------------------------------------
# token_budget_select
# ---------------------------------------------------------------------------


def test_token_budget_select_takes_quality_prefix(spark):
    from realtimechurnpredictiondataengineering_spark.operators import packing

    rows = [
        (1, "w " * 10, 0.9),   # 10 tokens, best
        (2, "w " * 10, 0.8),
        (3, "w " * 10, 0.7),
        (4, "w " * 10, 0.6),   # straddles the 35-token budget -> dropped
        (5, "w " * 10, 0.5),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, quality double")
    out = {r["doc_id"]: r for r in packing.token_budget_select(df, budget=35).collect()}
    assert set(out) == {1, 2, 3}
    assert out[3]["cum_tokens"] == 30
    assert out[1]["cum_tokens"] == 10


def test_token_budget_select_ties_break_by_id(spark):
    from realtimechurnpredictiondataengineering_spark.operators import packing

    rows = [(i, "w " * 10, 0.5) for i in (3, 1, 2)]
    df = spark.createDataFrame(rows, "doc_id long, text string, quality double")
    out = {r["doc_id"]: r["cum_tokens"] for r in packing.token_budget_select(df, budget=25).collect()}
    # equal quality -> id order decides the prefix: docs 1 and 2 fit
    assert out == {1: 10, 2: 20}


# ---------------------------------------------------------------------------
# cluster_representatives
# ---------------------------------------------------------------------------


def test_cluster_representatives_picks_best_quality(spark):
    from realtimechurnpredictiondataengineering_spark.operators import dedup

    comps = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)], "id long, component long"
    )
    scores = spark.createDataFrame(
        [(1, 0.2), (2, 0.9), (3, 0.9), (10, 0.5), (11, 0.1)], "id long, quality double"
    )
    out = {r["component"]: r for r in dedup.cluster_representatives(comps, scores).collect()}
    # cluster 1: quality tie between 2 and 3 -> smaller id wins
    assert out[1]["rep_id"] == 2 and out[1]["cluster_size"] == 3
    assert out[10]["rep_id"] == 10 and out[10]["cluster_size"] == 2


# ---------------------------------------------------------------------------
# product quantization
# ---------------------------------------------------------------------------


def test_pq_topk_recovers_exact_on_clustered_vectors(spark):
    import numpy as np

    # 3 tight clusters in 16-d: PQ codes collapse each cluster onto its
    # centroids, so ADC ranking must put same-cluster vectors on top
    rng = np.random.default_rng(11)
    centers = rng.standard_normal((3, 16)) * 5
    rows = []
    for i in range(60):
        c = i % 3
        rows.append((i, (centers[c] + rng.standard_normal(16) * 0.05).tolist()))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    books = similarity.train_pq_codebooks([v for _, v in rows], m=4, ksub=8)
    qs = df.filter("vec_id < 3").selectExpr(
        "vec_id as query_id", "embedding as query_vec"
    )
    approx = similarity.pq_topk(df, qs, books, k=10).collect()
    assert len(approx) == 30
    # within a tight cluster all members share codes, so ranking among
    # them is tie-break order — the property PQ guarantees is that every
    # retrieved vector comes from the QUERY'S OWN cluster
    for r in approx:
        assert r["vec_id"] % 3 == r["query_id"] % 3, r


def test_ivf_pq_topk_retrieves_from_own_cluster(spark):
    import numpy as np

    rng = np.random.default_rng(23)
    centers = rng.standard_normal((4, 16)) * 5
    rows = [
        (i, (centers[i % 4] + rng.standard_normal(16) * 0.05).tolist())
        for i in range(80)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents, books = similarity.train_ivf_pq(
        [v for _, v in rows], nlist=4, m=4, ksub=8
    )
    qs = df.filter("vec_id < 4").selectExpr(
        "vec_id as query_id", "embedding as query_vec"
    )
    out = similarity.ivf_pq_topk(df, qs, cents, books, k=8, nprobe=2).collect()
    assert len(out) == 32
    # coarse pruning + residual codes must keep retrieval inside the
    # query's own cluster
    for r in out:
        assert r["vec_id"] % 4 == r["query_id"] % 4, r


def test_pq_encode_streams_identically_to_batch(spark, tmp_path):
    # pq_encode is a scan-local projection, so it must run unchanged on
    # a stream — the ingest-time indexing pass of a streaming vector
    # store.  AvailableNow over a parquet dir vs the batch path.
    import numpy as np

    from realtimechurnpredictiondataengineering_spark.sources.sinks import memory_sink

    rng = np.random.default_rng(5)
    vecs = rng.standard_normal((30, 8)).tolist()
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "vec_id long, embedding array<double>"
    )
    src = str(tmp_path / "vecs")
    df.coalesce(1).write.parquet(src)
    books = similarity.train_pq_codebooks(vecs, m=2, ksub=4)
    stream = spark.readStream.schema("vec_id long, embedding array<double>").parquet(src)
    q = memory_sink(similarity.pq_encode(stream, books), "pq_stream")
    q.awaitTermination(60)
    got = {
        r["vec_id"]: r["pq_codes"]
        for r in spark.table("pq_stream").select("vec_id", "pq_codes").collect()
    }
    want = {r["vec_id"]: r["pq_codes"] for r in similarity.pq_encode(df, books).collect()}
    assert got == want


def test_ivf_pq_rescore_equals_exact_on_clustered(spark):
    import numpy as np

    rng = np.random.default_rng(31)
    # orthogonal axis-aligned clusters, unit-normalized, so exact MIPS
    # equals cosine and cross-cluster dots are ~0: the exact top-5 is
    # guaranteed within-cluster and the query's single IVF list covers it
    centers = np.zeros((3, 16))
    for c in range(3):
        centers[c, c * 5] = 5.0
    raw = [centers[i % 3] + rng.standard_normal(16) * 0.05 for i in range(60)]
    rows = [(i, (v / np.linalg.norm(v)).tolist()) for i, v in enumerate(raw)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents, books = similarity.train_ivf_pq([v for _, v in rows], nlist=3, m=4, ksub=8)
    qs = df.filter("vec_id < 3").selectExpr("vec_id as query_id", "embedding as query_vec")
    # the rescore stage repairs within-cluster ties the raw ADC ranking
    # cannot break: with the pool covering the whole cluster, the final
    # top-5 must EQUAL the exact MIPS top-5
    got = {
        (r["query_id"], r["rank"]): r["vec_id"]
        for r in similarity.ivf_pq_rescore_topk(
            df, qs, cents, books, k=5, nprobe=1, rescore_factor=4
        ).collect()
    }
    want = {
        (r["query_id"], r["rank"]): r["vec_id"]
        for r in similarity.mips_topk(df, qs, k=5).collect()
    }
    assert got == want


def test_trigram_logprob_exact_small_corpus(spark):
    # corpus: "a b c" x2, "a b d" -> trigram (a,b,c) n=2 of ctx(a,b)=3;
    # bigrams from pairs; unigrams over all tokens
    df = _docs(spark, [(1, "a b c"), (2, "a b c"), (3, "a b d"), (4, "x y")])
    out = {r["doc_id"]: r for r in corpus.trigram_logprob(df).collect()}
    # counts: tri (a,b,c)=2, (a,b,d)=1, ctx3 (a,b)=3
    # big: (a,b)=3, (b,c)=2, (b,d)=1, (x,y)=1; ctx2: a=3, b=3, x=1
    # uni: a=3, b=3, c=2, d=1, x=1, y=1 -> total=11
    p_abc = 0.6 * 2 / 3 + 0.3 * 2 / 3 + (1.0 - 0.6 - 0.3) * 2 / 11
    p_abd = 0.6 * 1 / 3 + 0.3 * 1 / 3 + (1.0 - 0.6 - 0.3) * 1 / 11
    assert out[1]["mean_neg_log2p"] == round(-math.log2(p_abc), 4)
    assert out[2]["mean_neg_log2p"] == out[1]["mean_neg_log2p"]
    assert out[3]["mean_neg_log2p"] == round(-math.log2(p_abd), 4)
    # doc 4 has only 2 tokens -> no trigrams -> 0.0
    assert out[4]["mean_neg_log2p"] == 0.0 and out[4]["n_tokens"] == 2


def test_pq_encode_is_deterministic_and_bounded(spark):
    import numpy as np

    rng = np.random.default_rng(3)
    vecs = rng.standard_normal((40, 8)).tolist()
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "vec_id long, embedding array<double>"
    )
    books = similarity.train_pq_codebooks(vecs, m=2, ksub=4)
    a = {r["vec_id"]: r["pq_codes"] for r in similarity.pq_encode(df, books).collect()}
    b = {r["vec_id"]: r["pq_codes"] for r in similarity.pq_encode(df, books).collect()}
    assert a == b
    for codes in a.values():
        assert len(codes) == 2 and all(0 <= c < 4 for c in codes)


# ---------------------------------------------------------------------------
# tf_cosine_pairs
# ---------------------------------------------------------------------------


def test_tf_cosine_pairs_catches_reordering(spark):
    from realtimechurnpredictiondataengineering_spark.operators import dedup

    df = _docs(
        spark,
        [
            (1, "alpha beta gamma delta"),
            (2, "delta gamma beta alpha"),   # same bag, reordered -> cosine 1
            (3, "alpha beta gamma zzz"),     # 3 of 4 terms shared
            (4, "totally different words here"),
        ],
    )
    # absolute cap: on a 4-doc corpus the fractional default would drop
    # the shared terms themselves
    out = {(r["id_a"], r["id_b"]): r["cosine"] for r in
           dedup.tf_cosine_pairs(df, threshold=0.7, max_doc_freq=10).collect()}
    assert out[(1, 2)] == 1.0
    assert (1, 3) in out and out[(1, 3)] == 0.75
    assert not any(4 in p for p in out)


def test_tf_cosine_pairs_df_cap_drops_boilerplate(spark):
    from realtimechurnpredictiondataengineering_spark.operators import dedup

    # "common" appears in every doc; with the cap at 2 it is dropped, so
    # docs sharing ONLY the boilerplate term never pair up
    df = _docs(
        spark,
        [(i, f"common unique{i}a unique{i}b") for i in range(5)],
    )
    assert dedup.tf_cosine_pairs(df, threshold=0.1, max_doc_freq=2).count() == 0


# ---------------------------------------------------------------------------
# expectations_report
# ---------------------------------------------------------------------------


def test_expectations_report_counts_violations(spark):
    from pyspark.sql import functions as F

    from realtimechurnpredictiondataengineering_spark.operators import profiling

    df = spark.createDataFrame(
        [(1, 10.0), (2, -5.0), (3, None), (4, 50.0)], "id long, v double"
    )
    out = {
        r["rule"]: r
        for r in profiling.expectations_report(
            df,
            {
                "id_not_null": F.col("id").isNotNull(),
                "v_positive": F.col("v") > 0,
                "v_below_100": F.col("v") < 100,
            },
        ).collect()
    }
    assert out["id_not_null"]["passed"] is True
    # NULL v counts as a violation on BOTH v rules (an expectation that
    # cannot be affirmed is not met), plus the -5 row on v_positive
    assert out["v_positive"]["n_violations"] == 2
    assert out["v_below_100"]["n_violations"] == 1
    assert out["v_positive"]["passed"] is False
    assert out["v_positive"]["n_rows"] == 4
    assert out["v_positive"]["violation_rate"] == 0.5


def test_weighted_hash_sample_rates_track_weights(spark):
    from pyspark.sql import functions as F

    from realtimechurnpredictiondataengineering_spark.operators import sampling

    df = spark.range(0, 4000).withColumn(
        "w", F.when(F.col("id") % 2 == 0, F.lit(0.9)).otherwise(F.lit(0.1))
    )
    kept = sampling.weighted_hash_sample(df, "id", "w")
    rates = {
        r["grp"]: r["rate"]
        for r in kept.groupBy((F.col("id") % 2).alias("grp"))
        .agg((F.count("*") / 2000).alias("rate"))
        .collect()
    }
    # hash is uniform: realized keep rates land near the weights
    assert 0.85 <= rates[0] <= 0.95
    assert 0.05 <= rates[1] <= 0.15
    # deterministic: the same call keeps exactly the same rows
    a = {r["id"] for r in kept.collect()}
    b = {r["id"] for r in sampling.weighted_hash_sample(df, "id", "w").collect()}
    assert a == b


def test_ccnet_buckets_splits_into_terciles(spark):
    # 6 scorable docs with clearly ordered fluency + 1 empty: common
    # phrases land in 'head', rare-token docs in 'tail', empty labeled
    rows = [(i, "the quick brown fox jumps") for i in range(4)]
    rows += [(10, "the quick brown fox leaps"), (11, "zxqj wvut kplm ohgf nbdc")]
    rows.append((99, ""))
    df = _docs(spark, rows)
    out = {r["doc_id"]: r["bucket"] for r in corpus.ccnet_buckets(df).collect()}
    assert out[99] == "empty"
    assert out[11] == "tail"          # all-singleton tokens: worst score
    assert all(out[i] == "head" for i in range(4))  # the repeated phrase
    buckets = set(out.values())
    assert buckets <= {"head", "middle", "tail", "empty"}


def test_ccnet_buckets_same_rows_behind_a_hash_repartition(spark):
    # thresholds and rows read one materialized scoring pass, so the
    # buckets never overlap and repeat runs give the same rows
    from pyspark.sql import functions as F

    from realtimechurnpredictiondataengineering_spark.cache import release_caches

    words = F.array(*[F.lit(w) for w in "the a of fox dog cat tree sky run zq".split()])

    def word(salt):
        return F.element_at(words, (F.abs(F.hash("id", F.lit(salt))) % 10 + 1).cast("int"))

    df = spark.range(2000).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(" ", *[word(k) for k in range(6)]).alias("text"),
    ).repartition(8, "doc_id")
    runs = []
    try:
        for _ in range(3):
            out = corpus.ccnet_buckets(df).collect()
            runs.append(sorted(tuple(r) for r in out))
            by_bucket = {}
            for r in out:
                by_bucket.setdefault(r["bucket"], []).append(r["mean_neg_log2p"])
            tiers = [by_bucket[b] for b in ("head", "middle", "tail")]
            assert max(tiers[0]) < min(tiers[1]) and max(tiers[1]) < min(tiers[2])
    finally:
        release_caches()
    assert runs[1] == runs[0] and runs[2] == runs[0] and len(runs[0]) == 2000


def test_dsir_importance_ranks_target_like_docs_higher(spark):
    # target domain: medical-ish vocabulary; raw corpus: mixed — the
    # doc sharing the target vocabulary must outscore the off-domain one
    target = _docs(spark, [(100, "dose patient trial dose patient"),
                           (101, "trial dose clinical patient")])
    raw = _docs(
        spark,
        [
            (1, "dose patient trial clinical notes"),   # target-like
            (2, "football match score goal referee"),   # off-domain
            (3, ""),                                     # empty -> 0.0
        ],
    )
    out = {r["doc_id"]: r for r in corpus.dsir_importance(raw, target).collect()}
    assert out[1]["importance"] > out[2]["importance"]
    assert out[3]["importance"] == 0.0 and out[3]["n_tokens"] == 0
    # ratio signs: target-like positive, off-domain negative
    assert out[1]["importance"] > 0 > out[2]["importance"]


def test_weighted_hash_sample_extreme_weights(spark):
    from pyspark.sql import functions as F

    from realtimechurnpredictiondataengineering_spark.operators import sampling

    df = spark.range(0, 500)
    assert sampling.weighted_hash_sample(df.withColumn("w", F.lit(0.0)), "id", "w").count() == 0
    assert sampling.weighted_hash_sample(df.withColumn("w", F.lit(1.0)), "id", "w").count() == 500


def test_expectations_report_rejects_empty_rules(spark):
    import pytest as _pytest

    from realtimechurnpredictiondataengineering_spark.operators import profiling

    df = spark.range(3)
    with _pytest.raises(ValueError):
        profiling.expectations_report(df, {})


# ---------------------------------------------------------------------------
# gopher_rules NULL text
# ---------------------------------------------------------------------------


def test_gopher_rules_null_text_is_explicit_reject(spark):
    df = _docs(spark, [(1, None), (2, "")])
    rules = tx.gopher_rules("text")
    out = {
        r["doc_id"]: r
        for r in df.select("doc_id", *[c.alias(n) for n, c in rules.items()]).collect()
    }
    # NULL text must never produce a NULL flag (three-valued logic would
    # drop the row from BOTH filter(keep) and filter(~keep)): every gate
    # is a real boolean and the conjunction is an explicit reject
    for flag in ("tokens_ok", "word_len_ok", "alpha_ok", "symbol_ok",
                 "stopwords_ok", "repetition_ok", "dup_gram_ok", "keep"):
        assert out[1][flag] is not None, flag
    assert out[1]["keep"] is False and out[2]["keep"] is False


# ---------------------------------------------------------------------------
# sessionize vs brute force (round-4 verdict task 7)
# ---------------------------------------------------------------------------

# (user, offset in half-seconds): offsets cluster around multiples of the
# 30 s gap so boundary-exact and sub-second-near-boundary cases are common
EVENTS = st.lists(
    st.tuples(st.integers(0, 2), st.integers(0, 240)),
    min_size=1,
    max_size=40,
)


def _brute_force_sessions(rows, gap_seconds):
    byuser = {}
    for eid, user, ts in rows:
        byuser.setdefault(user, []).append((ts, eid))
    want = []
    for user, evs in sorted(byuser.items()):
        evs.sort()
        sessions = []  # [start, end, n]
        prev = None
        for ts, _eid in evs:
            if prev is None or (ts - prev).total_seconds() >= gap_seconds:
                sessions.append([ts, ts, 0])
            cur = sessions[-1]
            cur[1] = max(cur[1], ts)
            cur[2] += 1
            prev = ts
        for sid, (start, end, n) in enumerate(sessions, 1):
            want.append((user, sid, start, end, n))
    return sorted(want)


@PROP_SETTINGS
@given(events=EVENTS)
def test_sessionize_matches_brute_force(spark, events):
    base = datetime.datetime(2024, 1, 1)
    rows = [
        (eid, user, base + datetime.timedelta(seconds=off * 0.5))
        for eid, (user, off) in enumerate(events)
    ]
    df = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp")
    got = sorted(
        (r["user_id"], r["session_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in rollup.sessionize(df, gap_seconds=30).collect()
    )
    # the reference is the definition itself: a gap of >= gap_seconds
    # (sub-second precise) starts a new session; sessions numbered in
    # time order per user
    assert got == _brute_force_sessions(rows, 30)
