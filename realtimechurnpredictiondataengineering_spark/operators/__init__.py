"""Relational + LLM-pipeline operators.

- ``filters``    : Bronze demux + Silver validation chains (F1-F8, P1-P3)
- ``joins``      : enrichment joins (J1/J2) + inner/semi/anti/as-of
- ``dedup``      : exact, MinHash-LSH, SimHash, n-gram Jaccard,
                   embedding-cosine near-dup (north star §2.10)
- ``similarity`` : brute-force, LSH-bucketed, and IVF cosine top-k ANN
- ``cdc``        : Debezium envelope unwrap + log-to-state compaction (S5)
- ``skew``       : explicit salted aggregation/join for known hot keys
- ``sampling``   : deterministic content-hash Bernoulli + stratified draws
- ``partitioning``: under-split-input guard for CPU-heavy kernels

All pure DataFrame -> DataFrame, sink-free, unit-testable.
"""

from realtimechurnpredictiondataengineering_spark.operators import (  # noqa: F401
    cdc,
    corpus,
    dedup,
    filters,
    joins,
    multimodal,
    partitioning,
    rollup,
    sampling,
    similarity,
    skew,
)

__all__ = [
    "cdc",
    "corpus",
    "dedup",
    "filters",
    "joins",
    "multimodal",
    "partitioning",
    "rollup",
    "sampling",
    "similarity",
    "skew",
]
