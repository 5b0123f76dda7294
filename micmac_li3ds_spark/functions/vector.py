"""Vector column algebra for embedding operators (SURVEY.md §2.11).

All pure JVM-side higher-order functions — no UDF in the similarity hot
path. Embeddings are float32 on disk; every op casts to double first
(oracle parity: DuckDB's list functions promote to double too).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def as_double(vec: Column | str) -> Column:
    v = F.col(vec) if isinstance(vec, str) else vec
    return F.transform(v, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x)
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def l2_normalize(a: Column) -> Column:
    n = l2_norm(a)
    return F.transform(a, lambda x: x / n)


# DuckDB spellings (embedding list<float> → double first).
DUCK_VEC = "list_transform(embedding, x -> CAST(x AS DOUBLE))"
