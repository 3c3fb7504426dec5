"""Embedding vector math on ``array<float>`` columns (north star).

All expressions use Spark's higher-order functions (``zip_with`` +
``aggregate``) so the similarity hot path runs vectorized JVM code —
no Python UDF, no serialization of 100 TB of vectors through Arrow.
``operators.similarity`` builds brute-force and LSH-bucketed top-k on
these primitives.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _sum_array(arr: Column) -> Column:
    return F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x)


def dot(a: Column, b: Column) -> Column:
    """Dot product of two equal-length float arrays."""
    return _sum_array(F.zip_with(a, b, lambda x, y: x * y))


def norm(a: Column) -> Column:
    """L2 norm."""
    return F.sqrt(_sum_array(F.transform(a, lambda x: x * x)))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity; 0.0 when either vector has zero norm."""
    denom = norm(a) * norm(b)
    return F.when(denom == 0, F.lit(0.0)).otherwise(dot(a, b) / denom)


def _sql_doubles(values) -> str:
    """Render a (possibly nested) float list as one SQL ``array(...)``
    expression string.  Parsed JVM-side in a single call — both
    ``F.lit(nested_list)`` (element-wise py4j, ~6 s for a 3k-element
    plane tensor) and ``F.array(*[F.lit(v) ...])`` (per-scalar Catalyst
    nodes, seconds of analysis) are plan-build traps at this size."""
    if isinstance(values, (list, tuple)):
        return "array(" + ",".join(_sql_doubles(v) for v in values) + ")"
    v = float(values)
    if v != v:
        return "cast('NaN' as double)"
    if v == float("inf"):
        return "cast('Infinity' as double)"
    if v == float("-inf"):
        return "cast('-Infinity' as double)"
    return repr(v) + "D"


def lit_matrix(rows: list[list[float]]) -> Column:
    """A literal matrix as ONE nested array<array<double>> literal — a
    single expression parsed JVM-side regardless of size (see
    ``_sql_doubles`` on why per-element literals are a plan-build trap)."""
    return F.expr(_sql_doubles([list(r) for r in rows]))


def hyperplane_sign_bits(vec: Column, planes: list[list[float]]) -> Column:
    """Random-hyperplane LSH bucket id: one sign bit per plane, packed
    into a bigint.  ``planes`` are driver-side constants (deterministic,
    seeded) so the expression is pure JVM arithmetic — the standard
    SimHash-for-vectors bucketing used by the ANN scale path.

    The plane matrix is a single nested array *literal* folded with
    ``aggregate`` — one expression node, not bits×dims scalar literals.
    An earlier per-element-literal version cost multiple seconds of
    Catalyst analysis/codegen per query before any data moved."""
    planes_lit = lit_matrix(planes)
    return F.aggregate(
        planes_lit,
        F.lit(0).cast("long"),
        lambda acc, plane: acc * 2 + (dot(vec, plane) >= 0).cast("long"),
    )


def hyperplane_table_buckets(vec: Column, plane_sets: list[list[list[float]]]) -> Column:
    """All multi-probe LSH table buckets in ONE pass: returns
    ``array<long>`` with one packed sign-bucket per plane set.  Lets the
    ANN path scan the corpus once and ``posexplode`` into
    (table_id, bucket) rows instead of re-scanning per table."""
    sets_lit = F.expr(_sql_doubles([[list(p) for p in ps] for ps in plane_sets]))
    return F.transform(
        sets_lit,
        lambda ps: F.aggregate(
            ps,
            F.lit(0).cast("long"),
            lambda acc, plane: acc * 2 + (dot(vec, plane) >= 0).cast("long"),
        ),
    )


def quantize_int8(df, id_col: str = "vec_id", vec_col: str = "embedding"):
    """Per-vector symmetric int8 quantization via ``mapInArrow`` — the
    compression step in front of a large-scale ANN index (4x smaller
    vectors, SIMD-friendly dot products downstream).

    ``q_i = floor(127 * v_i / scale + 0.5)`` with ``scale = max|v|``
    (floor(x+0.5) instead of round() so the result is reproducible
    across engines regardless of banker's-rounding conventions; all-zero
    vectors quantize to zeros with scale 0).

    This kernel is the sanctioned Arrow path: record batches cross the
    JVM/Python boundary zero-copy, the per-row reduction is one
    ``np.maximum.reduceat`` over the list array's flattened values —
    no per-row Python, no pandas materialization — and output batches
    rebuild the list structure from the SAME offsets buffer.  Returns
    (id, qvec array<byte>, scale double).
    """
    import numpy as np
    import pyarrow as pa

    def kernel(batches):
        for batch in batches:
            ids = batch.column(0)
            emb = batch.column(1)
            offsets = emb.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
            vals = emb.flatten().to_numpy(zero_copy_only=False).astype(np.float64)
            lens = np.diff(offsets)
            scales = np.zeros(len(lens), dtype=np.float64)
            nonempty = lens > 0
            if nonempty.any():
                absmax = np.maximum.reduceat(np.abs(vals), offsets[:-1][nonempty])
                scales[nonempty] = absmax
            safe = np.where(scales == 0.0, 1.0, scales)
            q = np.floor(127.0 * vals / np.repeat(safe, lens) + 0.5).astype(np.int8)
            qvec = pa.ListArray.from_arrays(pa.array(offsets, type=pa.int32()), pa.array(q))
            yield pa.RecordBatch.from_arrays(
                [ids, qvec, pa.array(scales)], names=[id_col, "qvec", "scale"]
            )

    out_schema = f"{id_col} long, qvec array<byte>, scale double"
    return df.select(id_col, vec_col).mapInArrow(kernel, out_schema)
