"""Vector / embedding column functions.

Embeddings live as ``array<float>`` columns (the ``embeddings`` table:
vec_id, embedding, label).  All math is higher-order-function Column
expressions (``aggregate``/``zip_with``) — JVM-side, no Python, no UDF.
Cast to double before accumulating so results are engine-portable.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity; null where a vector is all zeros (the
    division is a ``try_divide``, which ANSI mode would otherwise turn
    into a DIVIDE_BY_ZERO error) and where the quotient is NaN (a NaN
    element, or inf arithmetic).  NaN sorts above every double and
    passes ``sim >= threshold``, so an unmasked NaN would rank a
    corrupt vector first; null sorts last and fails every comparison.
    ``similarity/knn.pair_cosine`` (the Arrow path) yields null for
    the same rows, so a row's sim does not depend on the execution
    path."""
    return F.nanvl(F.try_divide(dot(a, b), norm(a) * norm(b)),
                   F.lit(None).cast("double"))


def normalize(a: Column) -> Column:
    """Unit-normalize; with pre-normalized vectors cosine = dot, halving
    the per-pair cost of a similarity join."""
    n = norm(a)
    return F.transform(a, lambda x: x.cast("double") / n)


def quantize_int8(a: Column) -> Column:
    """Symmetric per-vector int8 quantization (the 4x storage/ANN
    compression step of an embedding store): scale = max|x| / 127,
    q_i = round(x_i / scale).  Returns struct(scale double,
    q array<int>); zero vectors get scale 0 and all-zero codes.
    Pure HOFs — quantization fuses into the scan."""
    absmax = F.aggregate(
        a, F.lit(0.0),
        lambda acc, v: F.greatest(acc, F.abs(v.cast("double"))))
    scale = absmax / F.lit(127.0)
    q = F.when(absmax > 0, F.transform(
        a, lambda v: F.round(v.cast("double") / scale).cast("int"))
    ).otherwise(F.transform(a, lambda v: F.lit(0)))
    return F.struct(scale.alias("scale"), q.alias("q"))


def dequantize(qstruct: Column) -> Column:
    """Inverse map: x_i ~ q_i * scale (array<double>)."""
    return F.transform(qstruct.getField("q"),
                       lambda v: v.cast("double") * qstruct.getField("scale"))
