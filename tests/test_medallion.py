"""End-to-end medallion topology (MainProcess parity, SURVEY §3)."""

from realtimechurnpredictiondataengineering_spark.plans import medallion


def test_run_medallion_end_to_end(spark, tmp_path, sf_dir):
    gold = medallion.run_medallion(
        spark, str(tmp_path), sf_dir, n_per_topic=200, entities=("transactions",)
    )
    # silver leg: dual sink wrote table + wire
    table = spark.read.parquet(str(tmp_path / "silver/transactions/table"))
    wire = spark.read.parquet(str(tmp_path / "silver/transactions/wire"))
    assert table.count() == wire.count() > 0
    # gold leg: features landed and returned
    rows = gold.collect()
    assert len(rows) > 0
    assert spark.read.parquet(str(tmp_path / "gold")).count() == len(rows)
    # rerun with same workdir: checkpoints mean silver appends nothing new
    medallion.run_medallion(
        spark, str(tmp_path), sf_dir, n_per_topic=200, entities=("transactions",)
    )
    assert spark.read.parquet(str(tmp_path / "silver/transactions/table")).count() == table.count()
    # gold is append-mode: second run doubles the feature table (the
    # reference's Gold1.py:112 mode("append") cadence behavior)
    assert spark.read.parquet(str(tmp_path / "gold")).count() == 2 * len(rows)


def test_gold_report_frames_shapes(spark, sf_dir):
    from realtimechurnpredictiondataengineering_spark.plans.gold import churn_features

    gold = churn_features(spark, sf_dir)
    frames = medallion.gold_report_frames(gold, max_rows=50)
    assert set(frames) == {
        "app_usage_features",
        "revenue_features",
        "decline_features",
        "support_features",
        "churn_flags",
    }
    assert all(len(f) > 0 for f in frames.values())
    assert list(frames["churn_flags"].columns) == ["segment", "n", "n_at_risk"]
    # the four per-customer frames hold the same capped set of customers
    ids = [
        set(frames[name]["customer_id"])
        for name in ("app_usage_features", "revenue_features", "decline_features", "support_features")
    ]
    assert len(ids[0]) == 50
    assert all(s == ids[0] for s in ids)
