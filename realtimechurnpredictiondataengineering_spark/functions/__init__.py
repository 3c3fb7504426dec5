"""Column-expression library.

- ``scalar``  : SURVEY §2.3 P5-P12 (date cast and math, rounding,
                pseudo-score, ARPU)
- ``text``    : north-star text analysis (tokenize, language-ID, quality
                score, token counts, fingerprints, shingles)
- ``vectors`` : north-star embedding math (dot/norm/cosine, hyperplane
                LSH buckets, literal matrices) on ``array<float>``
                columns, JVM-side via higher-order functions — no
                Python in the hot path.

Everything here returns Column expressions built from
``pyspark.sql.functions`` so plans stay inside WholeStageCodegen.
"""

from realtimechurnpredictiondataengineering_spark.functions import scalar, text, vectors

__all__ = ["scalar", "text", "vectors"]
