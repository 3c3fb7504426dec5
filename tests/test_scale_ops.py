"""Scale-posture operators: salting equivalence, stable splits and
layout, asserted at the plan level (the property that matters at 100 TB).
"""

import pytest
from pyspark.sql import functions as F

from realtimechurnpredictiondataengineering_spark.operators import skew


@pytest.fixture()
def skewed_df(spark):
    # key 'hot' carries 90% of rows — the hash-partition worst case.
    return spark.range(1000).select(
        F.when(F.col("id") % 10 < 9, "hot").otherwise(F.concat(F.lit("k"), F.col("id"))).alias("k"),
        F.col("id").alias("rowid"),
        (F.col("id") % 97).cast("double").alias("v"),
    )


def test_salted_agg_matches_plain(spark, skewed_df):
    plain = {
        (r["k"],): (r["s"], r["c"], r["mn"], r["mx"], round(r["a"], 9))
        for r in skewed_df.groupBy("k")
        .agg(F.sum("v").alias("s"), F.count("v").alias("c"),
             F.min("v").alias("mn"), F.max("v").alias("mx"), F.avg("v").alias("a"))
        .collect()
    }
    salted = {
        (r["k"],): (r["s"], r["c"], r["mn"], r["mx"], round(r["a"], 9))
        for r in skew.salted_agg(
            skewed_df, ["k"],
            {"s": ("sum", "v"), "c": ("count", "v"), "mn": ("min", "v"),
             "mx": ("max", "v"), "a": ("avg", "v")},
            distributor="rowid",
        ).collect()
    }
    assert salted == plain


def test_salted_agg_spreads_hot_key(spark, skewed_df):
    staged = skewed_df.withColumn("__salt", skew._salt("rowid", 16)).groupBy("k", "__salt").count()
    hot_buckets = staged.filter(F.col("k") == "hot").count()
    assert hot_buckets > 8  # hot key split over most of the 16 salt buckets


def test_non_algebraic_aggregate_rejected(spark, skewed_df):
    with pytest.raises(ValueError, match="non-algebraic"):
        skew.salted_agg(skewed_df, ["k"], {"d": ("countDistinct", "v")}, "rowid")




def test_train_test_split_is_stable_and_disjoint(spark):
    from realtimechurnpredictiondataengineering_spark.operators import sampling

    df = spark.range(1000).select(F.col("id").alias("k"))
    tr1, te1 = sampling.train_test_split(df, "k", test_percent=20)
    # repartitioning must not move any row across the split
    tr2, te2 = sampling.train_test_split(df.repartition(7), "k", test_percent=20)
    t1 = {r["k"] for r in te1.collect()}
    t2 = {r["k"] for r in te2.collect()}
    assert t1 == t2
    assert t1.isdisjoint({r["k"] for r in tr1.collect()})
    assert len(t1) + tr1.count() == 1000
    assert 100 < len(t1) < 300  # ~20% of 1000


def _file_spans(path, cols):
    """Per-parquet-file (min, max) span of each column, via footer stats —
    exactly what a scan's file/row-group pruning reads."""
    import glob

    import pyarrow.parquet as pq

    spans = {c: [] for c in cols}
    for f in glob.glob(f"{path}/*.parquet"):
        md = pq.ParquetFile(f).metadata
        lo = {c: None for c in cols}
        hi = {c: None for c in cols}
        for rg in range(md.num_row_groups):
            row_group = md.row_group(rg)
            for i in range(row_group.num_columns):
                col = row_group.column(i)
                name = col.path_in_schema
                if name in cols and col.statistics is not None:
                    st = col.statistics
                    lo[name] = st.min if lo[name] is None else min(lo[name], st.min)
                    hi[name] = st.max if hi[name] is None else max(hi[name], st.max)
        for c in cols:
            if lo[c] is not None:
                spans[c].append(hi[c] - lo[c])
    return spans


def test_zorder_layout_tightens_file_spans_on_both_columns(spark, tmp_path):
    from realtimechurnpredictiondataengineering_spark.operators.partitioning import zorder_layout

    # two independent uniform dimensions — the case single-column sort
    # cannot help: sorting by x leaves every file spanning all of y.
    df = spark.range(40_000).select(
        (F.hash("id") % 10_000).alias("x"),
        (F.hash(F.col("id") + 1) % 10_000).alias("y"),
        F.col("id").alias("payload"),
    )
    naive, zpath = str(tmp_path / "naive"), str(tmp_path / "zorder")
    df.repartition(16).write.mode("overwrite").parquet(naive)
    zorder_layout(df, ["x", "y"], bits=12, num_partitions=16).write.mode(
        "overwrite"
    ).parquet(zpath)

    full = 20_000  # hash%10000 spans ~[-9999, 9999]
    for c in ("x", "y"):
        naive_avg = sum(_file_spans(naive, [c])[c]) / 16
        z_avg = sum(_file_spans(zpath, [c])[c]) / 16
        # random layout: every file spans ~the whole domain.  Z-order:
        # each file covers a contiguous curve segment, so BOTH columns'
        # per-file spans shrink to a fraction of the domain.
        assert naive_avg > 0.8 * full
        assert z_avg < 0.5 * naive_avg, f"{c}: z={z_avg} naive={naive_avg}"

    # layout is a re-ordering only: same rows survive
    assert spark.read.parquet(zpath).count() == 40_000
