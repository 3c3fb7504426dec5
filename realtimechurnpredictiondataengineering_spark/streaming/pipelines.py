"""Streaming pipelines (SURVEY §2.8 ST1-ST6, §3.1-3.2 lifecycle).

The reference runs 12+ independent streaming queries (one per
entity × sink, each its own Kafka consumer, Silver1.py:45-52,133-155),
uses stateful ``dropDuplicates`` with **no watermark** (unbounded state,
Silver1.py:41), and drives Gold with a 60 s sleep loop (Gold1.py:144-146).

This module keeps the semantics and fixes the shapes:
- one source read per entity, ``foreachBatch`` fanning out to N sinks;
- ``dedup_event_time`` swaps the unbounded dedup for ``withWatermark`` +
  ``dropDuplicatesWithinWatermark``, which bounds dedup state;
- ``Trigger.AvailableNow`` replaces the sleep loop: drain everything,
  checkpoint, exit — rerunnable on any cadence with exactly-once sinks.

All transformation logic is the SAME pure functions the batch plans use:
``operators.filters.SILVER_PIPELINES`` is the per-entity wiring and
``silver_frame`` builds an entity from it — streaming here only adds
sources and sinks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from realtimechurnpredictiondataengineering_spark.operators.filters import (
    SILVER_PIPELINES,
    silver_frame,
)
from realtimechurnpredictiondataengineering_spark.session import stream_frame
from realtimechurnpredictiondataengineering_spark.sources.sinks import foreach_batch_dual_sink
from realtimechurnpredictiondataengineering_spark.sources.streaming import json_topic_stream


def silver_stream(
    spark: SparkSession,
    entity: str,
    source_path: str,
    dedup_event_time: str | None = None,
) -> DataFrame:
    """Bronze→Silver for one entity as an unstarted streaming DataFrame:
    file-source stand-in for Kafka (same (value, topic) contract) →
    demux → JSON parse → validation chain → dedup on the entity's keys
    (watermarked on ``dedup_event_time`` when given, ST3)."""
    return silver_frame(
        json_topic_stream(spark, source_path), entity, dedup_event_time=dedup_event_time
    )


def run_silver_dual_sink(
    spark: SparkSession,
    entity: str,
    source_path: str,
    out_path: str,
    checkpoint: str,
) -> StreamingQuery:
    """One streaming query, two sinks (parquet 'Delta' table + keyed-JSON
    'Kafka' shape written as parquet) via foreachBatch — the fixed
    1-consumer shape of Silver1.py:45-52/133-137 (SURVEY §3.2).  The wire
    key is the entity's first dedup key.

    A Silver drain runs one such query per entity at once, so the query
    runs on ``session.stream_session(spark, len(SILVER_PIPELINES))``:
    its dedup state has ``stream_state_partitions`` partitions = the
    cores shared among the four entities (1 on 4 cores, 8 on 32), not
    the batch width (3× cores) nor all the cores.  Every state partition
    is a state-store task with its own delta file and one parquet file
    per sink per micro-batch, a cost that does not depend on its rows.
    ``spark``'s own conf is not changed.  A checkpoint created at
    another width keeps that width (the offset log pins it at batch 0),
    so a checkpoint written at cores width drains on at cores width.

    The reference's Silver queries run for good and build their plans
    once; a drain here starts its queries anew.  So the built
    ``silver_stream`` frame is kept with the child session
    (``session.stream_frame``), one per entity, and only rebuilt when
    ``source_path`` changes or a conf change on ``spark`` reaches the
    child: a repeated drain costs a query start and no plan build."""
    from realtimechurnpredictiondataengineering_spark.sources.sinks import keyed_json

    cleaned = stream_frame(
        spark,
        len(SILVER_PIPELINES),
        entity,
        source_path,
        lambda child: silver_stream(child, entity, source_path),
    )
    key_col = SILVER_PIPELINES[entity].keys[0]

    def table_sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("append").parquet(f"{out_path}/table")

    def wire_sink(batch_df: DataFrame, batch_id: int) -> None:
        keyed_json(batch_df, key_col).write.mode("append").parquet(f"{out_path}/wire")

    return foreach_batch_dual_sink(cleaned, checkpoint, table_sink, wire_sink)


def tumbling_counts(
    events: DataFrame,
    ts_col: str = "ts",
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """ST5 — watermarked tumbling-window aggregation (late rows beyond
    the watermark are dropped; within it, windows update)."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("w"), F.col("event_type"))
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n",
            "total_value",
        )
    )


def streaming_incremental_dedup(
    docs_stream: DataFrame,
    corpus_fingerprints: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ts_col: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming flavor of ``operators.dedup.incremental_dedup`` stage
    1+2: the Kafka→corpus ingest path where every arriving document must
    be new against (a) everything already accepted into the corpus and
    (b) everything seen earlier on the stream itself.

    (a) is a stream-static LEFT ANTI join on the content fingerprint —
    the corpus side is its precomputed 8-byte/32-char fingerprint table
    (never the text), small enough to broadcast per micro-batch, and
    re-resolved each batch so a corpus refresh is picked up without
    restarting the query.  (b) is watermarked
    ``dropDuplicatesWithinWatermark`` on the fingerprint, so stream
    state stays bounded by the watermark horizon instead of growing with
    corpus size — the unbounded-state trap (Silver1.py:41) does not
    scale to a crawl feed.  Near-dup (stage 3) stays a batch job over
    the accepted snapshot: shingle indexes are not per-microbatch state.

    Returns the deduplicated streaming DataFrame (original columns).
    """
    from realtimechurnpredictiondataengineering_spark.functions.text import fingerprint_md5

    fp = docs_stream.withColumn("_fp", fingerprint_md5(text_col))
    fresh = fp.join(
        F.broadcast(corpus_fingerprints.withColumnRenamed("fingerprint", "_fp")),
        "_fp",
        "left_anti",
    )
    return (
        fresh.withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["_fp"])
        .drop("_fp")
    )


def streaming_corpus_ingest(
    docs_stream: DataFrame,
    corpus_fingerprints: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ts_col: str = "ts",
    watermark: str = "10 minutes",
    segmentation_merges: DataFrame | None = None,
    end_of_word: bool = False,
) -> DataFrame:
    """The full streaming crawl-ingest shape: Gopher quality gates, then
    incremental dedup, then (optionally) tokenizer segmentation — the
    production pipeline a crawl feed runs before anything reaches the
    training corpus.

    Gate order is the cost order (same principle as the batch
    ``plans.corpus_prep`` chain): the quality rules are stateless
    scan-local expressions, so they prune junk BEFORE the dedup stage
    pays fingerprint state and the per-batch corpus anti-join for it,
    and segmentation — the most expensive per-byte step — runs LAST,
    only on admitted documents.  All stages are streaming-safe: the
    gates add no state at all, dedup state stays bounded by the
    watermark horizon (``streaming_incremental_dedup``), and the
    segmentation stage is a stateless scan-local fold under a frozen
    merge table riding a 1-row static broadcast (stream-static join —
    the t32 doctrine: a stateless stage makes streaming == batch by
    construction, which is exactly what the parity test replays).

    With ``segmentation_merges`` (a ``bpe_train`` merge table; pass the
    matching ``end_of_word``) the admitted documents additionally carry
    (n_tokens, n_bpe_tokens, bpe_text); otherwise original columns
    unchanged.
    """
    from realtimechurnpredictiondataengineering_spark.functions.text import gopher_rules
    from realtimechurnpredictiondataengineering_spark.operators.bpe import (
        bpe_segment_frame,
    )

    gated = docs_stream.filter(gopher_rules(text_col)["keep"])
    admitted = streaming_incremental_dedup(
        gated, corpus_fingerprints, id_col, text_col, ts_col, watermark
    )
    if segmentation_merges is None:
        return admitted
    return bpe_segment_frame(admitted, segmentation_merges, text_col, end_of_word)


def streaming_merge_upserts(
    changes_stream: DataFrame,
    snapshot_dir: str,
    checkpoint_dir: str,
    keys: list[str],
    seq_cols: list[str],
    op_col: str = "_op",
) -> StreamingQuery:
    """The production CDC loop (Debezium topic → continuous table
    maintenance, ref DezbeiumConnetor.py:23-44): a keyed change stream
    applies MERGE-INTO semantics to a stored snapshot once per
    micro-batch via ``foreachBatch`` + ``operators.cdc.merge_snapshot``
    — on Delta this body is literally ``MERGE INTO`` per batch; on the
    sandbox's parquet it is the staged rewrite-on-merge
    (write-to-sibling, swap), since Spark cannot overwrite a path a
    live plan still reads.

    Semantics: per batch, target keys untouched by the batch are kept
    (anti-join on the distinct change-key set — AQE broadcasts it for
    normal-sized batches, the target scan never shuffles), per-key
    batch winners by ``seq_cols`` are upserted, winner-is-delete keys
    drop.  Applied to batches arriving in per-key sequence order (what
    a Kafka CDC topic guarantees per key within a partition), the
    sequential result EQUALS the one-shot ``merge_frames`` over the
    concatenated change log — pytest-pinned, and the c07 registry twin
    value-checks it against the one-shot SQL.  A replayed batch (crash
    between write and swap) re-merges idempotently: replacing a key
    with the same winner is a no-op, so exactly-once lands on
    at-least-once delivery.  A first batch against an absent snapshot
    bootstraps it (``merge_snapshot``'s PATH_NOT_FOUND branch) with the
    change-batch schema; callers wanting a narrower snapshot schema
    pre-seed ``snapshot_dir``.

    The swap itself is crash-RECOVERABLE, not just replay-idempotent:
    write to the ``.merging`` sibling, rename the live snapshot to a
    ``.old`` sibling, promote ``.merging``, delete ``.old`` (two
    renames, never a window with zero copies on disk).  Recovery runs
    at start and before every merge: a ``.old`` left by a crash proves
    a completed staged write, so the swap is finished (or, absent the
    staged dir, the old snapshot restored); a staged dir WITHOUT a
    ``.old`` is an incomplete write and is discarded.  The previous
    delete-then-move protocol had a window where a crash left NO
    snapshot and the replayed batch silently re-bootstrapped from the
    batch alone, dropping every previously-merged key.  The protocol's
    atomicity leans on POSIX ``os.rename``; object stores have no
    atomic directory rename, so a real deployment delegates the swap to
    the table format's transactional commit (Delta/Iceberg MERGE — the
    branch this sandbox body stands in for) rather than porting the
    rename dance to S3 semantics.

    Scale: per-batch cost is one snapshot scan + one batch-sized window
    + the anti-join — no streaming state store at all (state lives in
    the table, which is the point of MERGE); a backfill-sized batch
    degrades to a shuffle join instead of OOMing under a broadcast
    hint (see ``merge_frames``).  Returns the started query; callers
    ``awaitTermination`` then read ``snapshot_dir``.
    """
    import os
    import shutil

    from realtimechurnpredictiondataengineering_spark.operators import cdc

    spark = changes_stream.sparkSession
    live = snapshot_dir.rstrip("/")
    staged = live + ".merging"
    old = live + ".old"

    def recover() -> None:
        # A ``.old`` sibling exists only between steps 2 and 4 of the
        # swap, i.e. AFTER the staged write completed — so if the live
        # snapshot is gone, promoting the staged dir (or restoring
        # ``.old`` when staged is also gone) is always safe; the
        # checkpoint replays the interrupted batch and the merge is
        # idempotent.  A staged dir with NO ``.old`` is an interrupted
        # write — discard it.
        if os.path.isdir(old):
            if not os.path.isdir(live):
                if os.path.isdir(staged):
                    shutil.move(staged, live)
                else:
                    shutil.move(old, live)
            shutil.rmtree(old, ignore_errors=True)
        if os.path.isdir(staged):
            shutil.rmtree(staged, ignore_errors=True)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        recover()
        if batch_df.isEmpty():
            return
        merged = cdc.merge_snapshot(
            spark, snapshot_dir, batch_df, keys, seq_cols, op_col=op_col
        )
        merged.write.mode("overwrite").parquet(staged)  # 1. stage
        if os.path.isdir(live):
            os.rename(live, old)                        # 2. retire live
        os.rename(staged, live)                         # 3. promote
        shutil.rmtree(old, ignore_errors=True)          # 4. drop retired

    recover()
    return (
        changes_stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )

