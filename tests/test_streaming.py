"""Structured Streaming tests (SURVEY §5.4): file-source streams with
Trigger.AvailableNow + memory/parquet sinks, watermarked dedup semantics,
windowed aggregation, foreachBatch dual sink, checkpoint restart."""

import json
import re
import sys
import threading

import pytest
from pyspark.sql import functions as F

from realtimechurnpredictiondataengineering_spark.session import stream_session, stream_state_partitions
from realtimechurnpredictiondataengineering_spark.sources.generator import TOPICS, synthetic_topic_feed
from realtimechurnpredictiondataengineering_spark.sources.sinks import (
    foreach_batch_dual_sink,
    keyed_json,
    memory_sink,
)
from realtimechurnpredictiondataengineering_spark.streaming import pipelines


@pytest.fixture(scope="module")
def feed_dir(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("feed"))
    synthetic_topic_feed(spark, 300).coalesce(2).write.mode("overwrite").json(path)
    return path


def _drain(query):
    query.awaitTermination(120)


@pytest.mark.parametrize("entity", list(pipelines.SILVER_PIPELINES))
def test_silver_stream_matches_batch(spark, feed_dir, entity):
    stream = pipelines.silver_stream(spark, entity, feed_dir)
    assert stream.isStreaming
    q = memory_sink(stream, f"{entity}_stream")
    _drain(q)
    streamed = spark.sql(f"SELECT count(*) AS n FROM {entity}_stream").collect()[0]["n"]

    from realtimechurnpredictiondataengineering_spark.plans.silver import silver_tables_from_feed

    batch = silver_tables_from_feed(synthetic_topic_feed(spark, 300))[entity].count()
    assert streamed == batch > 0


def _dedup_operators(df):
    """(operator, key names) of every dedup node in the analyzed plan."""
    plan = df._jdf.queryExecution().analyzed().toString()
    return [
        (op, [k.split("#")[0] for k in keys.split(", ")])
        for op, keys in re.findall(r"(Deduplicate(?:WithinWatermark)?) \[([^\]]*)\]", plan)
    ]


@pytest.mark.parametrize("entity", list(pipelines.SILVER_PIPELINES))
def test_silver_stream_has_one_dedup_on_table_keys(spark, feed_dir, entity):
    keys = list(pipelines.SILVER_PIPELINES[entity].keys)
    stream = pipelines.silver_stream(spark, entity, feed_dir)
    assert _dedup_operators(stream) == [("Deduplicate", keys)]


@pytest.mark.parametrize("entity", ["usage", "transactions"])
def test_watermarked_silver_stream_replaces_unbounded_dedup(spark, feed_dir, entity):
    # the watermarked dedup is the only dedup, keyed on the entity's own
    # keys — not stacked on an unbounded one, not narrowed to one *_id
    keys = list(pipelines.SILVER_PIPELINES[entity].keys)
    stream = pipelines.silver_stream(spark, entity, feed_dir, dedup_event_time="event_time")
    assert _dedup_operators(stream) == [("DeduplicateWithinWatermark", keys)]


def test_watermarked_dedup_bounds_state_and_dedups(spark, tmp_path):
    src = str(tmp_path / "dups")
    rows = [
        {"value": json.dumps({"customer_id": "1", "event_type": "purchase", "value": 5.0,
                              "event_time": "2024-01-01T00:00:00Z"}), "topic": TOPICS[2]},
    ] * 3 + [
        {"value": json.dumps({"customer_id": "2", "event_type": "purchase", "value": 7.0,
                              "event_time": "2024-01-01T00:01:00Z"}), "topic": TOPICS[2]},
    ]
    spark.createDataFrame([(r["value"], r["topic"]) for r in rows], "value string, topic string") \
        .coalesce(1).write.mode("overwrite").json(src)

    stream = pipelines.silver_stream(spark, "transactions", src, dedup_event_time="event_time")
    q = memory_sink(stream, "dedup_stream")
    _drain(q)
    out = spark.sql("SELECT customer_id FROM dedup_stream").collect()
    assert sorted(r["customer_id"] for r in out) == ["1", "2"]
    # the plan must carry a watermark + within-watermark dedup operator
    plan = stream._jdf.queryExecution().analyzed().toString()
    assert "EventTimeWatermark" in plan


def test_tumbling_counts_watermarked(spark, tmp_path):
    # Append mode only emits a window once the watermark (advanced BETWEEN
    # micro-batches) passes its end — so drive two batches: batch 1 holds
    # the windows under test, batch 2 an event far enough ahead that the
    # 10-minute watermark closes them.  maxFilesPerTrigger=1 → 1 file/batch.
    import time

    src = str(tmp_path / "ev")

    def _write(rows):
        spark.createDataFrame(rows, "ts_s string, event_type string, value double") \
            .select(F.to_timestamp("ts_s").alias("ts"), "event_type", "value") \
            .coalesce(1).write.mode("append").parquet(src)

    _write([
        ("2024-01-01 00:10:00", "click", 1.0),
        ("2024-01-01 00:40:00", "click", 2.0),
        ("2024-01-01 01:10:00", "view", 3.0),
    ])
    time.sleep(1.1)  # distinct mtimes so the file source orders the batches
    _write([("2024-01-01 03:00:00", "view", 4.0)])

    stream = (
        spark.readStream.schema("ts timestamp, event_type string, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = memory_sink(
        pipelines.tumbling_counts(stream, window="1 hour", watermark="10 minutes"),
        "win_counts",
        output_mode="append",
    )
    _drain(q)
    got = {
        (str(r["window_start"]), r["event_type"]): r["n"]
        for r in spark.sql("SELECT * FROM win_counts").collect()
    }
    # batch-2 watermark = 03:00 - 10 min = 02:50 → both batch-1 windows closed
    assert got.get(("2024-01-01 00:00:00", "click")) == 2
    assert got.get(("2024-01-01 01:00:00", "view")) == 1
    # the 03:00 window is still open → not emitted in append mode
    assert ("2024-01-01 03:00:00", "view") not in got


def test_foreach_batch_dual_sink_writes_both(spark, feed_dir, tmp_path):
    out = str(tmp_path / "silver")
    ckpt = str(tmp_path / "ckpt")
    width = spark.conf.get("spark.sql.shuffle.partitions")
    q = pipelines.run_silver_dual_sink(spark, "profiles", feed_dir, out, ckpt)
    _drain(q)
    # a drain runs one query per entity, so each gets its share of the
    # cores, without touching the caller's session
    state = q.lastProgress["stateOperators"][0]
    n_entities = len(pipelines.SILVER_PIPELINES)
    assert state["numShufflePartitions"] == stream_state_partitions(spark, n_entities)
    assert spark.conf.get("spark.sql.shuffle.partitions") == width
    table = spark.read.parquet(f"{out}/table")
    wire = spark.read.parquet(f"{out}/wire")
    assert table.count() == wire.count() > 0
    assert set(wire.columns) == {"key", "value"}  # Kafka wire shape (K2)
    # dual sink, single source read: restart with same checkpoint is a no-op
    q2 = pipelines.run_silver_dual_sink(spark, "profiles", feed_dir, out, ckpt)
    _drain(q2)
    assert spark.read.parquet(f"{out}/table").count() == table.count()


def test_single_stream_state_keeps_all_cores(spark, feed_dir):
    stream = pipelines.silver_stream(stream_session(spark), "profiles", feed_dir)
    q = memory_sink(stream, "profiles_cores_wide")
    _drain(q)
    state = q.lastProgress["stateOperators"][0]
    assert state["numShufflePartitions"] == spark.sparkContext.defaultParallelism


def test_silver_drain_resumes_a_cores_wide_checkpoint(spark, tmp_path):
    # a checkpoint written at cores width (before Silver shared the cores
    # among its entities) keeps that width, and the drain neither loses
    # nor repeats a row: the second feed repeats the first one's keys
    # and adds new ones
    land, out, ckpt = (str(tmp_path / d) for d in ("land", "silver", "ckpt"))
    feeds = [synthetic_topic_feed(spark, n, seed) for n, seed in ((150, "1"), (200, "2"))]
    feeds[0].coalesce(2).write.json(land)
    key = pipelines.SILVER_PIPELINES["profiles"].keys[0]
    old = pipelines.silver_stream(stream_session(spark), "profiles", land)
    _drain(foreach_batch_dual_sink(
        old,
        ckpt,
        lambda df, i: df.write.mode("append").parquet(f"{out}/table"),
        lambda df, i: keyed_json(df, key).write.mode("append").parquet(f"{out}/wire"),
    ))
    feeds[1].coalesce(2).write.mode("append").json(land)

    q = pipelines.run_silver_dual_sink(spark, "profiles", land, out, ckpt)
    _drain(q)
    cores = stream_state_partitions(spark)
    assert q.lastProgress["stateOperators"][0]["numShufflePartitions"] == cores

    from realtimechurnpredictiondataengineering_spark.plans.silver import silver_tables_from_feed

    want = silver_tables_from_feed(feeds[0].unionByName(feeds[1]))["profiles"].count()
    table = spark.read.parquet(f"{out}/table")
    assert table.count() == spark.read.parquet(f"{out}/wire").count() == want > 0
    assert table.select(key).distinct().count() == want


def test_repeated_silver_drains_leave_no_listener_behind(spark, feed_dir, tmp_path):
    # every session that starts a query adds a listener to the context's
    # bus for good; repeated drains of every entity plus a cores-wide
    # stream must not add one each: one child per (parent, width)
    from realtimechurnpredictiondataengineering_spark import session

    bus = spark.sparkContext._jsc.sc().listenerBus()
    counts = []
    for _ in range(3):
        queries = [
            pipelines.run_silver_dual_sink(
                spark, e, feed_dir, str(tmp_path / "silver" / e), str(tmp_path / "ckpt" / e)
            )
            for e in pipelines.SILVER_PIPELINES
        ]
        stream = pipelines.silver_stream(stream_session(spark), "usage", feed_dir)
        queries.append(foreach_batch_dual_sink(
            stream,
            str(tmp_path / "ckpt" / "cores"),
            lambda df, i: df.write.mode("append").parquet(str(tmp_path / "silver" / "cores")),
        ))
        for q in queries:
            _drain(q)
        counts.append(bus.listeners().size())
    assert counts[1:] == counts[:1] * 2
    widths = {stream_state_partitions(spark, n) for n in (1, len(pipelines.SILVER_PIPELINES))}
    assert set(session._STREAM_SESSIONS[spark]) == widths


def test_stream_session_follows_parent_conf_except_width(spark):
    tz, width = "spark.sql.session.timeZone", "spark.sql.shuffle.partitions"
    probe = "spark.graft.test.stream_session_probe"
    saved_tz, parent_width = spark.conf.get(tz), spark.conf.get(width)
    try:
        # newSession() alone drops runtime-set conf such as the timezone
        spark.conf.set(tz, "America/New_York")
        spark.conf.set(probe, "on")
        child = stream_session(spark)
        assert child is not spark
        assert child.conf.get(tz) == "America/New_York"
        assert child.conf.get(probe) == "on"
        assert child.conf.get(width) == str(stream_state_partitions(spark))
        assert spark.conf.get(width) == parent_width
        # one child per parent, brought level with parent changes
        spark.conf.set(tz, "Asia/Tokyo")
        spark.conf.unset(probe)
        assert stream_session(spark) is child
        assert child.conf.get(tz) == "Asia/Tokyo"
        assert child.conf.get(probe, None) is None
        assert child.conf.get(width) == str(stream_state_partitions(spark))
    finally:
        spark.conf.set(tz, saved_tz)
        spark.conf.unset(probe)
    assert stream_session(spark).conf.get(tz) == saved_tz


def test_stream_session_is_one_child_under_concurrent_callers(spark):
    # no child yet: every thread races to create one, half of them for a
    # single stream's width and half for a Silver entity's
    parent = spark.newSession()
    widths = (1, len(pipelines.SILVER_PIPELINES))
    children, errors = {q: [] for q in widths}, []

    def call(queries):
        try:
            children[queries].append(stream_session(parent, queries))
        except Exception as exc:  # re-raised by the assertion below
            errors.append(exc)

    saved = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=call, args=(widths[i % 2],)) for i in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(60)
    finally:
        sys.setswitchinterval(saved)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    for queries, got in children.items():
        assert len(got) == 8 and len({id(c) for c in got}) == 1
        width = got[0].conf.get("spark.sql.shuffle.partitions")
        assert width == str(stream_state_partitions(parent, queries))


def test_stream_stream_join_time_bounded(spark, tmp_path):
    # ST6 stream-stream inner join: both sides watermarked, join condition
    # bounds event-time skew so state is prunable.
    left_src, right_src = str(tmp_path / "l"), str(tmp_path / "r")
    spark.createDataFrame(
        [(1, "2024-01-01 00:00:10"), (2, "2024-01-01 00:05:00")], "k int, ts_s string"
    ).select("k", F.to_timestamp("ts_s").alias("lts")).coalesce(1).write.mode("overwrite").parquet(left_src)
    spark.createDataFrame(
        [(1, "2024-01-01 00:00:30"), (2, "2024-01-01 02:00:00")], "k int, ts_s string"
    ).select("k", F.to_timestamp("ts_s").alias("rts")).coalesce(1).write.mode("overwrite").parquet(right_src)

    left = spark.readStream.schema("k int, lts timestamp").parquet(left_src).withWatermark("lts", "10 minutes")
    right = spark.readStream.schema("k int, rts timestamp").parquet(right_src).withWatermark("rts", "10 minutes")
    joined = left.alias("l").join(
        right.alias("r"),
        F.expr("l.k = r.k AND r.rts BETWEEN l.lts AND l.lts + INTERVAL 30 MINUTES"),
        "inner",
    )
    q = memory_sink(joined.select("l.k"), "ss_join", output_mode="append")
    _drain(q)
    ks = [r["k"] for r in spark.sql("SELECT * FROM ss_join").collect()]
    # k=1 joins (20 s apart); k=2 does not (2 h apart > 30 min bound)
    assert ks == [1]


def test_session_windows_streaming(spark, tmp_path):
    # Two bursts for user 1 separated by > 30 min, one burst for user 2;
    # a far-future batch-2 event advances the watermark so append mode
    # emits the closed sessions.
    import time

    src = str(tmp_path / "sess")

    def _write(rows):
        spark.createDataFrame(rows, "ts_s string, user_id long") \
            .select(F.to_timestamp("ts_s").alias("ts"), "user_id") \
            .coalesce(1).write.mode("append").parquet(src)

    _write([
        ("2024-01-01 00:00:00", 1), ("2024-01-01 00:10:00", 1),  # session A (2 events)
        ("2024-01-01 01:00:00", 1),                              # session B (1 event)
        ("2024-01-01 00:05:00", 2),                              # session C (1 event)
    ])
    time.sleep(1.1)
    _write([("2024-01-01 06:00:00", 9)])

    stream = (
        spark.readStream.schema("ts timestamp, user_id long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = memory_sink(
        pipelines.session_windows(stream, gap="30 minutes", watermark="10 minutes"),
        "sess_win",
        output_mode="append",
    )
    _drain(q)
    got = {
        (r["user_id"], str(r["session_start"])): r["n_events"]
        for r in spark.sql("SELECT * FROM sess_win").collect()
    }
    assert got[(1, "2024-01-01 00:00:00")] == 2
    assert got[(1, "2024-01-01 01:00:00")] == 1
    assert got[(2, "2024-01-01 00:05:00")] == 1


def test_complete_output_mode_recomputes_totals(spark, tmp_path):
    # ST2 complete mode: every trigger emits the FULL aggregate state —
    # after two batches the totals reflect both.
    import time

    src = str(tmp_path / "cm")

    def _write(rows):
        spark.createDataFrame(rows, "event_type string, value double") \
            .coalesce(1).write.mode("append").parquet(src)

    _write([("click", 1.0), ("click", 2.0)])
    time.sleep(1.1)
    _write([("click", 4.0), ("view", 10.0)])

    stream = (
        spark.readStream.schema("event_type string, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    agg = stream.groupBy("event_type").agg(F.sum("value").alias("total"))
    q = memory_sink(agg, "complete_totals", output_mode="complete")
    _drain(q)
    got = {r["event_type"]: r["total"] for r in spark.sql("SELECT * FROM complete_totals").collect()}
    assert got == {"click": 7.0, "view": 10.0}


def test_transform_with_state_deviation_flags(spark, tmp_path):
    # transformWithStateInPandas speaks protobuf to the JVM state server;
    # the container has no google.protobuf, so the operator is gated the
    # same way as the Kafka/Delta formats: real code, env-dependent test.
    pytest.importorskip("google.protobuf")
    from realtimechurnpredictiondataengineering_spark.streaming.stateful import deviation_flags

    src = str(tmp_path / "tws")
    base = [("a", 10.0 + (i % 3), f"2024-01-01 00:0{i}:00") for i in range(6)]
    rows = base + [("a", 99.0, "2024-01-01 00:07:00"),  # clear outlier
                   ("b", 1.0, "2024-01-01 00:08:00")]   # too little history
    spark.createDataFrame(rows, "key string, value double, ts_s string") \
        .select("key", "value", F.to_timestamp("ts_s").alias("ts")) \
        .coalesce(1).write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema("key string, value double, ts timestamp").parquet(src)
    q = memory_sink(deviation_flags(stream, min_history=5), "tws_flags", output_mode="append")
    _drain(q)
    got = spark.sql("SELECT * FROM tws_flags").collect()
    assert len(got) == 8
    flagged = [r for r in got if r["is_anomaly"]]
    assert [(r["key"], r["value"]) for r in flagged] == [("a", 99.0)]
    assert all(not r["is_anomaly"] for r in got if r["key"] == "b")


def test_deviation_processor_fold_logic():
    # Unit-test the TWS handler against a stub handle (the streaming
    # runtime's protobuf bridge is absent in this container).
    import pandas as pd

    from realtimechurnpredictiondataengineering_spark.streaming.stateful import DeviationProcessor

    class StubListState:
        def __init__(self):
            self.rows = []
        def exists(self):
            return bool(self.rows)
        def get(self):
            return iter(self.rows)
        def put(self, rows):
            self.rows = list(rows)
        def clear(self):
            self.rows = []

    class StubHandle:
        def __init__(self):
            self.state = StubListState()
            self.ttl = None
        def getListState(self, name, schema, ttlDurationMs=None):
            self.ttl = ttlDurationMs
            return self.state

    p = DeviationProcessor("key", "value", "ts", z_threshold=3.0,
                           min_history=5, max_history=6, state_ttl_ms=1234)
    h = StubHandle()
    p.init(h)
    assert h.ttl == 1234

    def batch(vals, t0=0):
        return pd.DataFrame({"key": ["a"] * len(vals), "ts": range(t0, t0 + len(vals)),
                             "value": vals})

    out1 = pd.concat(p.handleInputRows(("a",), iter([batch([10.0, 11.0, 10.0, 11.0, 10.0])]), None))
    assert not out1["is_anomaly"].any()  # below min_history while folding
    out2 = pd.concat(p.handleInputRows(("a",), iter([batch([10.5, 99.0], t0=5)]), None))
    assert list(out2["is_anomaly"]) == [False, True]  # outlier flagged vs prior history
    # history capped at max_history=6 and persisted through the stub state
    assert len(h.state.rows) == 6
    assert [r[0] for r in h.state.rows][-2:] == [10.5, 99.0]


def test_streaming_incremental_dedup(spark, tmp_path):
    from realtimechurnpredictiondataengineering_spark.functions.text import fingerprint_md5

    # docs feed: d1 duplicates the corpus, d2/d3 duplicate each other
    # (different ids, same content), d4 is fresh
    feed = str(tmp_path / "docs_feed")
    spark.createDataFrame(
        [
            (1, "already in the corpus", "2024-01-01 00:00:00"),
            (2, "new doc twice on stream", "2024-01-01 00:00:10"),
            (3, "new doc twice on stream", "2024-01-01 00:00:20"),
            (4, "genuinely fresh content", "2024-01-01 00:00:30"),
        ],
        "doc_id long, text string, ts string",
    ).selectExpr("doc_id", "text", "CAST(ts AS TIMESTAMP) AS ts").coalesce(1).write.json(feed)

    corpus = spark.createDataFrame(
        [("already in the corpus",)], "text string"
    ).select(fingerprint_md5("text").alias("fingerprint"))

    stream = (
        spark.readStream.schema("doc_id long, text string, ts timestamp").json(feed)
    )
    q = memory_sink(
        pipelines.streaming_incremental_dedup(stream, corpus), "stream_dedup"
    )
    _drain(q)
    rows = spark.sql("SELECT doc_id FROM stream_dedup ORDER BY doc_id").collect()
    kept = [r["doc_id"] for r in rows]
    # corpus dup dropped; one of (2,3) survives; 4 survives
    assert 1 not in kept
    assert 4 in kept
    assert len([d for d in kept if d in (2, 3)]) == 1
    assert set(spark.sql("SELECT * FROM stream_dedup").columns) == {"doc_id", "text", "ts"}


def test_streaming_corpus_ingest_gates_then_dedups(spark, tmp_path):
    from realtimechurnpredictiondataengineering_spark.functions.text import fingerprint_md5

    # good = passes every Gopher gate (50+ distinct alpha tokens, 2+
    # stopwords); variants: corpus dup, stream dup, junk (too short)
    good = "the quick brown fox jumps over and beside certain lazy dogs " + " ".join(
        f"word{i:02d}x" for i in range(53)
    )
    good2 = good.replace("word00x", "fresh00x")
    feed = str(tmp_path / "ingest_feed")
    spark.createDataFrame(
        [
            (1, good, "2024-01-01 00:00:00"),        # duplicates the corpus
            (2, good2, "2024-01-01 00:00:10"),       # fresh, kept
            (3, good2, "2024-01-01 00:00:20"),       # stream dup of 2
            (4, "junk doc", "2024-01-01 00:00:30"),  # fails the token gate
        ],
        "doc_id long, text string, ts string",
    ).selectExpr("doc_id", "text", "CAST(ts AS TIMESTAMP) AS ts").coalesce(1).write.json(feed)

    corpus = spark.createDataFrame([(good,)], "text string").select(
        fingerprint_md5("text").alias("fingerprint")
    )
    stream = spark.readStream.schema("doc_id long, text string, ts timestamp").json(feed)
    q = memory_sink(
        pipelines.streaming_corpus_ingest(stream, corpus), "corpus_ingest"
    )
    _drain(q)
    kept = [r["doc_id"] for r in spark.sql("SELECT doc_id FROM corpus_ingest").collect()]
    assert 1 not in kept and 4 not in kept
    assert len([d for d in kept if d in (2, 3)]) == 1


def test_streaming_ingest_segmentation_matches_batch(spark, tmp_path):
    # the optional tokenizer stage: admitted documents are segmented
    # under a frozen bpe_train merge table riding a 1-row static
    # broadcast — stateless and scan-local, so the streaming output
    # must equal the batch serve path applied to the same survivors
    # (the t32 stateless-stage doctrine), which is what this replays
    from realtimechurnpredictiondataengineering_spark.functions.text import (
        fingerprint_md5,
    )
    from realtimechurnpredictiondataengineering_spark.operators.bpe import (
        bpe_segment_frame,
        bpe_train,
    )

    good = "the quick brown fox jumps over and beside certain lazy dogs " + " ".join(
        f"word{i:02d}x" for i in range(53)
    )
    good2 = good.replace("word00x", "fresh00x")
    feed = str(tmp_path / "seg_feed")
    spark.createDataFrame(
        [
            (1, good, "2024-01-01 00:00:00"),        # corpus dup → dropped
            (2, good2, "2024-01-01 00:00:10"),       # fresh, kept + segmented
            (4, "junk doc", "2024-01-01 00:00:30"),  # gated out
        ],
        "doc_id long, text string, ts string",
    ).selectExpr("doc_id", "text", "CAST(ts AS TIMESTAMP) AS ts").coalesce(1).write.json(feed)

    corpus = spark.createDataFrame([(good,)], "text string").select(
        fingerprint_md5("text").alias("fingerprint")
    )
    merges = bpe_train(
        spark.createDataFrame([(good,)], ["text"]), n_merges=4, end_of_word=True
    )
    stream = spark.readStream.schema("doc_id long, text string, ts timestamp").json(feed)
    q = memory_sink(
        pipelines.streaming_corpus_ingest(
            stream, corpus, segmentation_merges=merges, end_of_word=True
        ),
        "seg_ingest",
    )
    _drain(q)
    got = spark.sql(
        "SELECT doc_id, n_tokens, n_bpe_tokens, bpe_text FROM seg_ingest"
    ).collect()
    assert [r["doc_id"] for r in got] == [2]
    expected = (
        bpe_segment_frame(
            spark.createDataFrame([(2, good2)], ["doc_id", "text"]),
            merges,
            end_of_word=True,
        )
        .select("doc_id", "n_tokens", "n_bpe_tokens", "bpe_text")
        .collect()
    )
    assert [tuple(r) for r in got] == [tuple(r) for r in expected]
    # the segmentation genuinely applied at least one learned merge:
    # some emitted subword is longer than a single character
    assert any(len(t.replace("</w>", "x")) > 1 for t in got[0]["bpe_text"].split())


def test_streaming_media_header_decode_matches_batch(spark, tmp_path):
    # the m03 header kernel on a live media feed: a pure scan-local
    # projection (no state, no shuffle), so streaming output must equal
    # the batch decode of the same fixture bytes — the ingest shape for
    # header-metadata extraction over a crawl's binary payload stream
    import shutil

    from realtimechurnpredictiondataengineering_spark.operators.multimodal import (
        media_header_dims,
    )

    fixture = "/root/repo/fixtures/media_headers.parquet"
    feed = tmp_path / "media_feed"
    feed.mkdir()
    shutil.copy(fixture, feed / "batch-000.parquet")
    batch_df = spark.read.parquet(fixture)
    stream = spark.readStream.schema(batch_df.schema).parquet(str(feed))
    q = memory_sink(media_header_dims(stream), "media_headers_stream")
    _drain(q)
    got = sorted(
        map(tuple, spark.sql("SELECT * FROM media_headers_stream").collect())
    )
    expected = sorted(map(tuple, media_header_dims(batch_df).collect()))
    assert got == expected and len(got) == batch_df.count()


def test_delta_stream_sink_restart_recovers_exactly_once(spark, tmp_path):
    # ST4 beyond single-run: drain batch A through a checkpointed sink,
    # terminate the query, add batch B to the source, restart a NEW query
    # from the SAME checkpoint — recovery must emit B exactly once and
    # must NOT re-emit A (a broken checkpoint would re-ingest the whole
    # source and duplicate A; a too-eager one would skip B).
    from pyspark.sql import types as T

    from realtimechurnpredictiondataengineering_spark.sources.sinks import delta_stream_sink
    from realtimechurnpredictiondataengineering_spark.sources.streaming import file_stream

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("v", T.StringType())]
    )

    def _append(lo, hi):
        spark.createDataFrame(
            [(i, f"row_{i}") for i in range(lo, hi)], schema
        ).coalesce(1).write.mode("append").json(src)

    _append(0, 10)
    q1 = delta_stream_sink(file_stream(spark, src, schema), out, ckpt)
    _drain(q1)
    assert not q1.isActive
    first = {r["id"] for r in spark.read.parquet(out).collect()}
    assert first == set(range(10))

    _append(10, 20)
    q2 = delta_stream_sink(file_stream(spark, src, schema), out, ckpt)
    _drain(q2)
    rows = [r["id"] for r in spark.read.parquet(out).collect()]
    # no gaps AND no dupes: batch A appears exactly once across both runs
    assert sorted(rows) == list(range(20))


def test_streaming_semantic_dedup_matches_batch(spark, tmp_path):
    # the streamed survivor set must EQUAL the batch anti-join with the
    # same centroids/threshold: near-duplicates of accepted corpus
    # vectors are rejected, novel vectors pass
    import json as _json
    import os

    from pyspark.sql import types as T

    from realtimechurnpredictiondataengineering_spark.operators.similarity import train_ivf_centroids
    from realtimechurnpredictiondataengineering_spark.sources.sinks import memory_sink
    from realtimechurnpredictiondataengineering_spark.sources.streaming import file_stream
    from realtimechurnpredictiondataengineering_spark.streaming.pipelines import (
        streaming_semantic_dedup,
    )

    def vec(axis, dim=8, scale=1.0):
        v = [0.0] * dim
        v[axis] = scale
        return v

    corpus_rows = [(i, vec(i % 4)) for i in range(8)]
    corpus = spark.createDataFrame(corpus_rows, "vec_id long, embedding array<double>")
    cents = train_ivf_centroids([r[1] for r in corpus_rows], nlist=4)
    arrivals = [
        (100, vec(0, scale=2.0)),   # scaled copy of axis 0 -> cosine 1.0 -> reject
        (101, vec(1, scale=0.5)),   # scaled copy of axis 1 -> reject
        (102, [1.0] * 8),           # diagonal, cosine ~0.35 to any axis -> keep
        (103, [1.0, -1.0] * 4),     # another novel direction -> keep
    ]
    src = str(tmp_path / "vecstream")
    os.makedirs(src)
    with open(os.path.join(src, "part.json"), "w") as fh:
        for i, v in arrivals:
            fh.write(_json.dumps({"vec_id": i, "embedding": v}) + "\n")
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.DoubleType())),
        ]
    )
    stream = file_stream(spark, src, schema)
    q = memory_sink(
        streaming_semantic_dedup(stream, corpus, cents, threshold=0.95),
        "sem_dedup_out",
    )
    q.awaitTermination(120)
    streamed = {r["vec_id"] for r in spark.sql("SELECT * FROM sem_dedup_out").collect()}
    batch_in = spark.createDataFrame(arrivals, schema)
    batch = {
        r["vec_id"]
        for r in streaming_semantic_dedup(batch_in, corpus, cents, threshold=0.95).collect()
    }
    assert streamed == batch == {102, 103}

