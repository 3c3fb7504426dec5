"""Sequence packing / global prefix sum (operators.packing).

The oracle harness value-checks ll02 end-to-end; these tests lock the
operator's contract directly: exact equivalence with the naive global
window on adversarial inputs, and the plan property that makes it
scale — range partitioning instead of a single-task window over the
whole input.
"""

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from realtimechurnpredictiondataengineering_spark.operators import packing


@pytest.fixture()
def values(spark):
    # keys deliberately unsorted and non-contiguous; includes zeros
    rows = [(k, float(v)) for k, v in zip([7, 1, 30, 2, 19, 5, 11, 3, 23, 13], [4, 0, 7, 1, 3, 0, 9, 2, 5, 8])]
    return spark.createDataFrame(rows, "k long, v double").repartition(6)


def test_matches_naive_global_window(spark, values):
    got = packing.global_prefix_sum(values, ["k"], "v", out_col="ps")
    w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    want = values.withColumn("ps", F.sum("v").over(w))
    assert sorted(got.collect()) == sorted(want.collect())


def test_single_partition_and_empty_inputs(spark, values):
    one = values.filter("k = 7")
    assert [tuple(r) for r in packing.global_prefix_sum(one, ["k"], "v").collect()] == [
        (7, 4.0, 4.0)
    ]
    empty = values.filter("k < 0")
    assert packing.global_prefix_sum(empty, ["k"], "v").count() == 0


def test_plan_range_partitions_instead_of_global_window(spark, values):
    df = packing.global_prefix_sum(values, ["k"], "v")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" in plan.lower()
    # the only no-partition-key window runs over the per-partition totals
    # (one row per partition), never over the full input: every full-input
    # window carries the _pid partition key
    for line in plan.splitlines():
        if "Window [" in line and "partitionspec" not in line.lower():
            assert "_pid" in line or "_part_total" in line


def test_matches_naive_window_behind_hash_shuffle_with_extra_column(spark):
    # A hash shuffle leaves the row order different on every run, and the
    # extra column makes the offsets branch prune to a different exchange
    # than the rows branch.  Two unmaterialized range exchanges sample
    # their bounds apart and disagree about rows' partitions; the row count
    # stays right, so only a value comparison shows it.
    base = (
        spark.range(2000)
        .select(
            F.col("id").alias("k"),
            ((F.col("id") * 37) % 11 + 1).cast("long").alias("v"),
            F.sha2(F.col("id").cast("string"), 256).alias("payload"),
        )
        .repartition(8, "payload")
    )
    w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    want = {r["k"]: r["ps"] for r in base.withColumn("ps", F.sum("v").over(w)).collect()}
    for _ in range(3):
        got = {
            r["k"]: r["ps"]
            for r in packing.global_prefix_sum(base, ["k"], "v", out_col="ps").collect()
        }
        assert got == want


def test_pack_sequences_fills_budget(spark):
    rows = [(i, "word " * 40) for i in range(50)]  # 40 tokens each
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    packed = packing.pack_sequences(docs, budget=100)
    stats = {r["seq_id"]: r for r in packing.sequence_stats(packed).collect()}
    # 40-token docs in a 100-token budget: sequences hold 2-3 starts
    assert all(2 <= r["n_docs"] <= 3 for r in stats.values())
    total = packed.agg(F.sum("n_tokens")).first()[0]
    assert total == 50 * 40
    # start offsets are the exclusive prefix sum in doc_id order
    first = packed.filter("doc_id = 0").first()
    assert first["start_offset"] == 0 and first["seq_id"] == 0


def test_corpus_shuffle_is_reproducible_permutation(spark):
    from realtimechurnpredictiondataengineering_spark.operators import packing

    df = spark.createDataFrame([(i,) for i in range(500)], "doc_id long")
    out = packing.corpus_shuffle(df, "doc_id").collect()
    positions = sorted(r["position"] for r in out)
    assert positions == list(range(1, 501))  # exact permutation of 1..N
    by_id = {r["doc_id"]: r["position"] for r in out}
    # same assignment under a different partitioning
    out2 = packing.corpus_shuffle(df.repartition(17), "doc_id").collect()
    assert {r["doc_id"]: r["position"] for r in out2} == by_id
    # a different seed is a different permutation
    out3 = packing.corpus_shuffle(df, "doc_id", seed="7").collect()
    assert {r["doc_id"]: r["position"] for r in out3} != by_id


def test_corpus_shuffle_no_single_task_window(spark):
    from realtimechurnpredictiondataengineering_spark.operators import packing

    df = spark.createDataFrame([(i,) for i in range(100)], "doc_id long")
    plan = (
        packing.corpus_shuffle(df, "doc_id")
        ._jdf.queryExecution().executedPlan().toString()
    )
    # the order exchange must be a range partitioning, never a
    # SinglePartition gather for the window
    assert "rangepartitioning" in plan.lower()
