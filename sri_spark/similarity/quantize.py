"""Embedding vector hygiene: L2 normalization and int8 quantization.

Both are per-row array expressions (transform/aggregate over
array<float>) — zero shuffles, whole-stage codegen, linear scans. At
100 TB this is the cheapest stage of an embedding pipeline; the point of
implementing it relationally is that it fuses into whatever scan feeds the
ANN index build instead of round-tripping through Python.

Quantization contract (symmetric, per-vector scale): scale = max|x|/127,
q_i = round(x_i / scale) ∈ [-127, 127], dequantized x̂_i = q_i·scale. The
reconstruction MAE column is the end-to-end check the DuckDB oracle
reproduces bit-for-bit (same fold order, double math on both sides).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from sri_spark.similarity.cosine import _as_double

INT8_MAX = 127


def l2_norm(arr: Column) -> Column:
    """sqrt(sum(x²)) over the vector, double math."""
    return F.sqrt(
        F.aggregate(_as_double(arr), F.lit(0.0), lambda acc, x: acc + x * x)
    )


def l2_normalize(arr: Column) -> Column:
    """Unit-norm copy of the vector (NULL-safe: zero vectors stay zero)."""
    n = l2_norm(arr)
    return F.when(n > 0, F.transform(_as_double(arr), lambda x: x / n)).otherwise(
        _as_double(arr)
    )


def max_abs(arr: Column) -> Column:
    return F.array_max(F.transform(_as_double(arr), F.abs))


def quantize_int8(arr: Column) -> Column:
    """Symmetric per-vector int8 codes; zero vector quantizes to zeros."""
    scale = max_abs(arr) / F.lit(float(INT8_MAX))
    return F.when(
        scale > 0,
        F.transform(_as_double(arr), lambda x: F.round(x / scale).cast("int")),
    ).otherwise(F.transform(arr, lambda x: F.lit(0)))


def dequantize_error_mae(arr: Column) -> Column:
    """Mean |x - q·scale| over the vector — the end-to-end quantization
    fidelity metric (≤ scale/2 by construction)."""
    scale = max_abs(arr) / F.lit(float(INT8_MAX))
    err = F.zip_with(
        _as_double(arr),
        quantize_int8(arr),
        lambda x, q: F.abs(x - q.cast("double") * scale),
    )
    return F.when(
        scale > 0,
        F.aggregate(err, F.lit(0.0), lambda acc, x: acc + x) / F.size(arr),
    ).otherwise(F.lit(0.0))
