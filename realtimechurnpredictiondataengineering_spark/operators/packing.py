"""Sequence packing for pretraining batches (north star; SURVEY §2.10).

Packing concatenates documents in a deterministic order and slices the
token stream into fixed-budget training sequences.  The primitive it
needs — a GLOBAL running total of token counts — is exactly the
operation a naive window (``Window.orderBy`` with no partition key)
serializes onto one task.  ``global_prefix_sum`` is the scale-correct
form: a two-phase distributed scan (range-partition on the order key,
per-partition local cumsum in parallel, materialized once, then a
broadcast of the tiny per-partition exclusive offsets).  Wall-clock is
one range exchange, one pass that fills the cache, and two reads of it
plus an O(partitions) side table — the same shape at 32 partitions and
at 100k.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from realtimechurnpredictiondataengineering_spark.cache import eager_persist
from realtimechurnpredictiondataengineering_spark.functions import text as tx


def global_prefix_sum(
    df: DataFrame,
    order_cols: list[str],
    value_col: str,
    out_col: str = "prefix_sum",
) -> DataFrame:
    """Inclusive running sum of ``value_col`` over the TOTAL order given
    by ``order_cols`` (must be a unique key for a deterministic result),
    without a single-task global window.

    Phase 1: ``repartitionByRange`` on the order key at the session's
    default parallelism, local cumsum per partition (a window keyed by
    the partition id, in parallel).  Phase 2: per-partition totals (one
    tiny row per partition) get their own exclusive prefix via a window
    over the partition ids — O(partitions) rows, not O(rows) — and
    broadcast-join back.  Exact same result as ``Window.orderBy(...)``
    with no partition key, minus the scale cliff.

    The local frame is materialized once (``cache.eager_persist``)
    before both phases read it.  Left lazy, each branch re-runs the
    range exchange, and its sampled bounds depend on the input's row
    order, which is not fixed behind a shuffle; the offsets branch also
    prunes the other columns, so Spark does not reuse the exchange.  The
    two branches then put rows in different partitions and most sums
    come out wrong, with the row count still right.
    """
    n = df.sparkSession.sparkContext.defaultParallelism
    ranged = df.repartitionByRange(n, *order_cols).withColumn(
        "_pid", F.spark_partition_id()
    )
    local_w = (
        Window.partitionBy("_pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = eager_persist(
        ranged.withColumn("_local_cum", F.sum(value_col).over(local_w))
    )
    offsets_w = (
        Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        local.groupBy("_pid")
        .agg(F.sum(value_col).alias("_part_total"))
        .withColumn("_offset", F.coalesce(F.sum("_part_total").over(offsets_w), F.lit(0)))
        .select("_pid", "_offset")
    )
    return (
        local.join(F.broadcast(offsets), "_pid")
        .withColumn(out_col, F.col("_local_cum") + F.col("_offset"))
        .drop("_pid", "_local_cum", "_offset")
    )


def pack_sequences(
    docs: DataFrame,
    budget: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    count_col: str | None = None,
) -> DataFrame:
    """Assign each document to a training sequence: documents are
    concatenated in ``id_col`` order and a document belongs to the
    sequence containing its START token offset (token-level chunking of
    stragglers happens downstream at tensorization).  Returns the input
    plus ``n_tokens``, ``start_offset``, ``seq_id``.

    ``count_col`` packs by a PRECOMPUTED per-document token count
    (e.g. the real tokenizer's ``n_bpe_tokens`` from the BPE serve
    paths) instead of the whitespace heuristic — the production budget
    is model tokens, not words; the column is standardized to
    ``n_tokens`` in the output so every downstream consumer
    (``sequence_stats``, the budget cut) is count-source-agnostic.
    """
    if count_col is not None:
        with_tc = docs.withColumn("n_tokens", F.col(count_col).cast("int"))
    else:
        with_tc = docs.withColumn("n_tokens", tx.token_count(text_col))
    cum = global_prefix_sum(with_tc, [id_col], "n_tokens", out_col="_cum")
    return (
        cum.withColumn("start_offset", (F.col("_cum") - F.col("n_tokens")).cast("long"))
        .withColumn("seq_id", F.floor(F.col("start_offset") / budget))
        .drop("_cum")
    )


def sequence_stats(packed: DataFrame) -> DataFrame:
    """Per-sequence packing report: document count and token fill."""
    return packed.groupBy("seq_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("seq_tokens"),
    )


def token_budget_select(
    docs: DataFrame,
    budget: int,
    quality_col: str = "quality",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Quality-ordered corpus selection under a global token budget —
    "take the best B tokens": rank documents by ``quality_col`` (desc,
    id tie-break) and keep the prefix whose cumulative token count fits
    ``budget``.  This is the final cut of classifier-filtered corpus
    construction (the DCLM/FineWeb-style "select top documents until the
    token target is hit"), where an absolute quality threshold would
    over- or under-shoot the target as the crawl mix changes.

    The cumulative count is ``global_prefix_sum`` over the
    (-quality, id) range partition — the same two-narrow-pass
    distributed scan as sequence packing, no single-task global window.
    A document is kept when its INCLUSIVE running total is within
    budget, so the output never exceeds ``budget`` tokens (the first
    straddling document is dropped, not truncated — token-level
    truncation belongs to packing).

    If ``docs`` already carries an ``n_tokens`` column (the corpus
    pipelines compute it in their first, persisted scan), it is used
    as-is — re-running the normalize+split regexes over every cached
    survivor was pure duplicated scan work.
    Returns (id, quality, n_tokens, cum_tokens) for the kept prefix.
    """
    with_tc = (
        docs
        if "n_tokens" in docs.columns
        else docs.withColumn("n_tokens", tx.token_count(text_col))
    ).withColumn("__negq", -F.col(quality_col))
    cum = global_prefix_sum(with_tc, ["__negq", id_col], "n_tokens", out_col="cum_tokens")
    return (
        cum.filter(F.col("cum_tokens") <= budget)
        .select(
            F.col(id_col),
            F.col(quality_col),
            F.col("n_tokens").cast("int").alias("n_tokens"),
            F.col("cum_tokens").cast("long").alias("cum_tokens"),
        )
    )


def corpus_shuffle(
    df: DataFrame,
    key: str,
    seed: str = "42",
    out_col: str = "position",
) -> DataFrame:
    """Deterministic global permutation for training order: every row
    gets a ``position`` in 1..N ordered by ``md5(seed || key)`` — the
    pre-training shuffle that decorrelates document order from crawl
    order, reproducible on any cluster/partitioning/engine (same
    hash-order trick as ``operators.sampling``; change ``seed`` for a
    fresh epoch permutation).

    The position assignment is ``global_prefix_sum`` of 1s over the
    hash order — two narrow passes, no single-task global window, no
    ``zipWithIndex`` RDD round-trip.  Ties are impossible in practice
    (md5) but ``key`` rides in the order spec so the order is total by
    construction."""
    hashed = df.withColumn(
        "_sk", F.md5(F.concat(F.lit(seed), F.col(key).cast("string")))
    ).withColumn("_one", F.lit(1))
    out = global_prefix_sum(hashed, ["_sk", key], "_one", out_col=out_col)
    return out.withColumn(out_col, F.col(out_col).cast("long")).drop("_sk", "_one")


def zigzag_pack(
    docs: DataFrame,
    n_bins: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Balanced fixed-bin packing by the serpentine (boustrophedon) deal
    — the distributable approximation of LPT/first-fit-decreasing for
    "spread these documents across n_bins workers/batches with near-equal
    token loads": rank documents by token count desc (id tie-break),
    then deal rank r to bin ``r % n_bins`` on even rounds and the
    mirrored bin on odd rounds, so each round pairs the heaviest
    remainder with the lightest bins and loads converge without any
    sequential least-loaded-bin state.

    True LPT assigns each item to the currently lightest bin — an
    inherently sequential scan.  The serpentine deal needs only the
    GLOBAL RANK, which is ``global_prefix_sum`` of 1s over the
    (-tokens, id) order: two narrow passes, no single-task window, no
    driver loop — the same machinery as ``corpus_shuffle``, so the
    assignment is identical on any cluster/partitioning/engine.
    Returns (id, n_tokens, bin_id).
    """
    sized = docs.select(
        F.col(id_col), tx.token_count(text_col).alias("n_tokens")
    ).withColumn("_negt", -F.col("n_tokens")).withColumn("_one", F.lit(1))
    ranked = global_prefix_sum(sized, ["_negt", id_col], "_one", out_col="__pos")
    r = F.col("__pos") - 1  # 0-based rank
    rnd = F.floor(r / n_bins)
    p = r % n_bins
    bin_id = F.when(rnd % 2 == 0, p).otherwise(n_bins - 1 - p)
    return ranked.select(
        F.col(id_col),
        F.col("n_tokens").cast("int").alias("n_tokens"),
        bin_id.cast("int").alias("bin_id"),
    )
