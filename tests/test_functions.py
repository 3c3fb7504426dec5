"""Unit tests for the column-expression library (functions/)."""

import math

import pytest
from pyspark.sql import functions as F

from realtimechurnpredictiondataengineering_spark.functions import scalar, text, vectors


def _one(spark, col, **data):
    """Evaluate an expression against a single in-memory row."""
    row = spark.createDataFrame([data]).select(col.alias("out")).collect()[0]
    return row["out"]


class TestText:
    def test_token_count_basic(self, spark):
        assert _one(spark, text.token_count("t"), t="a b  c") == 3

    def test_token_count_empty_and_whitespace(self, spark):
        assert _one(spark, text.token_count("t"), t="") == 0
        assert _one(spark, text.token_count("t"), t="   ") == 0

    def test_bpe_count_mixed(self, spark):
        # "ab", "12", "c", "!" → 4 BPE-ish tokens
        assert _one(spark, text.bpe_token_count("t"), t="ab 12 c!") == 4

    def test_language_id(self, spark):
        assert _one(spark, text.language_id("t"), t="the cat and the hat is here") == "en"
        assert _one(spark, text.language_id("t"), t="der Hund und die Katze ist da") == "de"
        assert _one(spark, text.language_id("t"), t="xyzzy qwerty") == "und"
        # CJK markers match without \b word boundaries
        assert _one(spark, text.language_id("t"), t="我是谁 这是的") == "zh"

    def test_quality_score_bounds(self, spark):
        good = "the quick brown fox jumps over the lazy dog and " * 10
        assert _one(spark, text.quality_score("t"), t=good) == 1.0
        assert _one(spark, text.quality_score("t"), t="!!!") <= 0.5

    def test_fingerprint_normalization(self, spark):
        a = _one(spark, text.fingerprint_md5("t"), t="Hello   World")
        b = _one(spark, text.fingerprint_md5("t"), t="hello world")
        assert a == b

    def test_shingles_short_doc(self, spark):
        out = _one(spark, text.shingles("t", 5), t="only three words")
        assert out == ["only three words"]

    def test_shingles_k3(self, spark):
        out = _one(spark, text.shingles("t", 3), t="a b c d")
        assert sorted(out) == ["a b c", "b c d"]


class TestVectors:
    def test_dot_and_norm(self, spark):
        df = spark.createDataFrame([([1.0, 2.0], [3.0, 4.0])], "a array<double>, b array<double>")
        row = df.select(
            vectors.dot(F.col("a"), F.col("b")).alias("d"),
            vectors.norm(F.col("a")).alias("n"),
        ).collect()[0]
        assert row["d"] == 11.0
        assert math.isclose(row["n"], math.sqrt(5))

    def test_cosine_zero_vector(self, spark):
        df = spark.createDataFrame([([0.0, 0.0], [1.0, 0.0])], "a array<double>, b array<double>")
        assert df.select(vectors.cosine(F.col("a"), F.col("b")).alias("c")).collect()[0]["c"] == 0.0

    def test_cosine_parallel(self, spark):
        df = spark.createDataFrame([([1.0, 2.0], [2.0, 4.0])], "a array<double>, b array<double>")
        c = df.select(vectors.cosine(F.col("a"), F.col("b")).alias("c")).collect()[0]["c"]
        assert math.isclose(c, 1.0)

    def test_hyperplane_bits_deterministic(self, spark):
        planes = [[1.0, 0.0], [0.0, -1.0]]
        df = spark.createDataFrame([([2.0, 3.0],)], "v array<double>")
        b = df.select(vectors.hyperplane_sign_bits(F.col("v"), planes).alias("b")).collect()[0]["b"]
        # plane0: dot=2>=0 → 1; plane1: dot=-3<0 → 0 ⇒ 0b10 = 2
        assert b == 2


class TestScalar:
    def test_pseudo_score_range_and_determinism(self, spark, sf_dir):
        df = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(50)
        rows = df.select(scalar.pseudo_score("text").alias("s")).collect()
        assert all(0.0 <= r["s"] <= 0.9 for r in rows)

    def test_arpu_zero_sessions(self, spark):
        assert _one(spark, scalar.arpu(F.lit(100.0), F.lit(0)), x=1) == 100.0

    def test_days_since(self, spark):
        out = _one(
            spark,
            scalar.days_since(F.to_timestamp(F.lit("2024-01-01")), F.to_timestamp(F.lit("2024-01-31"))),
            x=1,
        )
        assert out == 30

    def test_interval_cutoff(self, spark, tmp_path):
        # P9 is inlined in inventory p09: an event survives only when it
        # is strictly after 2024-01-30 00:00:00 - INTERVAL 5 MINUTES.
        from realtimechurnpredictiondataengineering_spark.plans.inventory import p09

        spark.createDataFrame(
            [(1, 1, "2024-01-29 23:54:59"), (2, 1, "2024-01-29 23:55:00"),
             (3, 2, "2024-01-29 23:55:01")],
            "event_id long, user_id long, ts_s string",
        ).select("event_id", "user_id", F.to_timestamp("ts_s").alias("ts")) \
            .write.parquet(str(tmp_path / "events.parquet"))
        assert [r["event_id"] for r in p09(spark, str(tmp_path)).collect()] == [3]


class TestRepetitionMetrics:
    def test_repetition_ratio_values(self, spark):
        from realtimechurnpredictiondataengineering_spark.functions import text as tx

        df = spark.createDataFrame(
            [(0, "a b c d"), (1, "a a a a"), (2, "a b a b"), (3, "")],
            "id long, text string",
        )
        rows = {
            r["id"]: r
            for r in df.select(
                "id",
                F.round(tx.repetition_ratio("text"), 4).alias("rep"),
                F.round(tx.top_bigram_fraction("text"), 4).alias("big"),
            ).collect()
        }
        assert rows[0]["rep"] == 0.0          # all distinct
        assert rows[1]["rep"] == 0.75         # 1 distinct of 4
        assert rows[1]["big"] == 1.0          # "a a" is every bigram
        assert rows[2]["rep"] == 0.5
        # bigrams of "a b a b": [a b, b a, a b] -> top frac 2/3
        assert rows[2]["big"] == round(2 / 3, 4)
        assert rows[3]["rep"] == 0.0 and rows[3]["big"] == 0.0

    def test_single_token_doc(self, spark):
        from realtimechurnpredictiondataengineering_spark.functions import text as tx

        [r] = spark.createDataFrame([("word",)], "text string").select(
            tx.top_bigram_fraction("text").alias("big")
        ).collect()
        assert r["big"] == 0.0
