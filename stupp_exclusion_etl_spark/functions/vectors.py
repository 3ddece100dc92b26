"""Vector (embedding) column functions for similarity search (B13).

Embeddings are `array<float>` columns. All math is expressed with
higher-order Catalyst functions (zip_with / aggregate) upcast to double
— JVM-side, codegen'd, no Python. The IVF index's numpy kernel
(operators/ann_index.py) sums in the same order as ``cosine``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Dot product with left-to-right double accumulation (deterministic)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm2(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity; try_divide so a ZERO vector (all-zeros padding
    row — crawls contain them) scores NULL instead of killing the whole
    query with an ANSI DIVIDE_BY_ZERO (Spark 4 ANSI throws even for
    double division). NULL sorts last under desc ordering, so zero
    vectors simply never rank."""
    return F.try_divide(dot(a, b), norm2(a) * norm2(b))
